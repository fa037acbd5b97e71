"""End-to-end KG plan on real testdata (flagship pipeline)."""

from pyspark.sql import functions as F

from glinerswift_spark.plans.kg_pipeline import build_kg
from glinerswift_spark.scoring.backends import FLAGSHIP_LABELS, flagship_gazetteer
from glinerswift_spark.sources.pages import read_documents, read_embeddings


def test_build_kg_end_to_end(spark, sf_dir):
    docs = read_documents(spark, sf_dir).limit(100)
    emb = read_embeddings(spark, sf_dir)
    kg = build_kg(docs, emb, FLAGSHIP_LABELS, flagship_gazetteer(), threshold=0.5)

    entities = kg["entities"].cache()
    assert entities.count() > 0
    assert set(r.label for r in entities.select("label").distinct().collect()) <= {
        "operator",
        "object",
    }

    triples = kg["triples"].cache()
    assert triples.count() > 0
    assert triples.where(~F.col("pred").isin("acts_on", "consumed_by")).count() == 0

    # every entity mention resolves to a canonical id
    mm = kg["mention_map"]
    assert mm.where(F.col("canonical_id").isNull()).count() == 0

    # same surface form always resolves to one canonical node
    nodes = kg["nodes"].cache()
    assert nodes.count() > 0
    exploded = nodes.select(F.explode("surface_forms").alias("s"), "canonical_id")
    dup_surfaces = (
        exploded.groupBy("s").agg(F.countDistinct("canonical_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup_surfaces == 0

    edges = kg["edges"].cache()
    assert edges.count() > 0
    assert edges.where(F.col("weight") <= 0).count() == 0


def test_incremental_update_equals_full_rebuild(spark, sf_dir):
    """update_kg over (prior batch, new batch) must reproduce the full
    build's nodes AND edges exactly — extraction never re-runs on old
    docs, yet the global re-link lands on identical canonical ids
    (min-id determinism), the idempotent-resume property the north rule
    demands of incremental materialization."""
    from glinerswift_spark.plans.kg_pipeline import update_kg

    docs = read_documents(spark, sf_dir).limit(120).cache()
    emb = read_embeddings(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)

    full = build_kg(docs, emb, FLAGSHIP_LABELS, flagship_gazetteer(), threshold=0.5)
    prior = build_kg(old, emb, FLAGSHIP_LABELS, flagship_gazetteer(), threshold=0.5)
    upd = update_kg(
        prior["mentions"], prior["triples"], new, emb,
        FLAGSHIP_LABELS, flagship_gazetteer(), threshold=0.5,
    )

    def node_set(kg):
        return {
            (r["canonical_id"], r["label"], tuple(sorted(r["surface_forms"])),
             r["n_mentions"])
            for r in kg["nodes"].collect()
        }

    def edge_set(kg):
        return {
            (r["src_id"], r["pred"], r["dst_id"], r["weight"])
            for r in kg["edges"].select("src_id", "pred", "dst_id", "weight").collect()
        }

    assert node_set(upd) == node_set(full)
    assert edge_set(upd) == edge_set(full)
    # and the incremental result is non-trivial (new docs contributed)
    assert edge_set(prior) != edge_set(full)
