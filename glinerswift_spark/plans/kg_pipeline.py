"""Flagship KG-construction pipeline compositions.

Extraction feeds one KG tail:

``extract_triples_fused``
    documents -> mapInPandas(chunk + score + NMS + merge + relation
    templating) -> triples. ZERO shuffles from scan to triples — the whole
    per-document dataflow runs inside one task (the shared extraction
    kernel of operators/extract.py with a triple emitter). This is the
    100 TB path: at a trillion documents, any per-stage
    materialization/shuffle of entity rows would dominate; fusing keeps
    the only shuffles in the (much smaller) downstream graph stages.

``link_and_materialize``
    the one KG tail: mentions + triples -> linking (LSH blocking, cosine
    verify, connected components) -> surface canonicalization -> nodes and
    edges. ``build_kg`` (full build), ``update_kg`` (incremental: prior
    snapshot unioned with a new batch) and ``jobs/run_kg.py`` all end in
    it. Each stage is a pure DataFrame -> DataFrame transform
    (foreachBatch-compatible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.config import (
    Configuration,
    DEFAULT_CONFIG,
    LinkingConfig,
    RelationConfig,
)
from glinerswift_spark.operators.extract import (
    _extraction_kernel,
    _one_request,
    _widen_for_backend,
    extract_entities,
)
from glinerswift_spark.operators.graph import (
    materialize_edges,
    mentions_from_entities,
    surface_to_canonical,
)
from glinerswift_spark.operators.linking import link_mentions
from glinerswift_spark.operators.relations import (
    build_pred_codes,
    emit_triples_coded,
    entities_to_triples,
)


def triple_output_schema(df: DataFrame, doc_col: str) -> StructType:
    (doc_field,) = [f for f in df.schema.fields if f.name == doc_col]
    return StructType(
        [
            StructField("subj", StringType()),
            StructField("pred", StringType()),
            StructField("obj", StringType()),
            doc_field,
            StructField("score", DoubleType()),
        ]
    )


def extract_triples_fused(
    df: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
) -> DataFrame:
    """documents -> triples with zero shuffles (single mapInPandas stage)."""
    rcfg = relation_cfg or RelationConfig()
    out_schema = triple_output_schema(df, doc_col)
    cols = out_schema.fieldNames()
    pred_cats, tmap = build_pred_codes(rcfg)

    def emit(pdf: pd.DataFrame, ents_per_row: list) -> pd.DataFrame:
        # dictionary-encode the (heavily repeated) string columns AS
        # codes while emitting: surface/pred appends are small cached
        # ints, not strings, and Categorical.from_codes skips the
        # factorization pass. Arrow then ships int codes + a small
        # per-batch dictionary — at ~100 triples/doc this cuts both
        # the python->JVM IPC volume and the per-triple Python object
        # churn (the measured scaling bottleneck: allocator/kernel
        # time, not compute).
        surf_code: dict[str, int] = {}
        subj_c: list[int] = []
        pred_c: list[int] = []
        obj_c: list[int] = []
        scores: list[float] = []
        counts = np.zeros(len(pdf), dtype=np.int64)
        for i, ents in enumerate(ents_per_row):
            counts[i] = emit_triples_coded(
                ents, tmap, rcfg.window_chars, surf_code,
                subj_c, pred_c, obj_c, scores,
            )
        cats = list(surf_code)
        return pd.DataFrame(
            {
                cols[0]: pd.Categorical.from_codes(subj_c, cats),
                cols[1]: pd.Categorical.from_codes(pred_c, pred_cats),
                cols[2]: pd.Categorical.from_codes(obj_c, cats),
                cols[3]: np.repeat(pdf[doc_col].to_numpy(), counts),
                cols[4]: scores,
            }
        )

    run = _extraction_kernel(
        backend_spec, text_col, _one_request(list(labels), threshold), emit,
        config,
    )
    # the triple OUTPUT is never shuffled — zero exchanges above the UDF
    return _widen_for_backend(
        df.select(doc_col, text_col), doc_col, backend_spec
    ).mapInPandas(run, schema=out_schema)


def extract_and_link(
    documents: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
    entities: DataFrame | None = None,
):
    """Composable flagship: returns (entities, triples) DataFrames.

    ``entities`` injects a precomputed (possibly persisted) extraction
    relation — extraction is per-document, so a caller holding one
    session-cached pass can fan out N downstream analytics without
    paying N extraction re-runs (Spark shares no common subexpressions
    across separately-built DataFrames)."""
    if entities is None:
        entities = extract_entities(
            documents,
            labels,
            backend_spec,
            text_col=text_col,
            id_cols=[doc_col],
            threshold=threshold,
            config=config,
        )
    triples = entities_to_triples(entities, relation_cfg, doc_col=doc_col)
    return entities, triples


def attach_embeddings(
    mentions: DataFrame, embeddings: DataFrame, n_vecs: int | None = None
) -> DataFrame:
    """Deterministic surface->embedding assignment (FIXTURES.md §5): each
    distinct lowercased surface maps to
    embeddings[int(md5(surface)[:8], 16) % N]. Same surface => identical
    vector => cosine 1.0, so linking clusters same-surface mentions across
    documents; distinct surfaces get pseudo-random vectors. md5 (not
    xxhash64) so the DuckDB oracle replays the assignment exactly:
    CAST(concat('0x', substring(md5(surface), 1, 8)) AS BIGINT) % N.
    The embeddings side is broadcast (it is the small dimension table)."""
    if n_vecs is None:
        n_vecs = embeddings.count()
    keyed = mentions.withColumn(
        "vec_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.lower(F.col("text"))), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(n_vecs),
        ),
    )
    emb = embeddings.select("vec_id", "embedding")
    return keyed.join(F.broadcast(emb), "vec_id", "left").drop("vec_id")


def link_and_materialize(
    mentions: DataFrame,
    triples: DataFrame,
    doc_col: str = "doc_id",
    linking_cfg: LinkingConfig | None = None,
) -> dict:
    """The KG tail shared by full and incremental builds: link the
    embedded mentions (operators/linking.link_mentions), map every
    surface to its canonical node, and materialize the triples as
    canonical edges. Returns the inputs alongside the outputs
    (mentions, triples, mention_map, nodes, edges, verified_pairs)."""
    mention_map, nodes, verified = link_mentions(mentions, linking_cfg)
    surface_map = surface_to_canonical(mentions.join(mention_map, "mention_id"))
    return {
        "mentions": mentions,
        "triples": triples,
        "mention_map": mention_map,
        "nodes": nodes,
        "edges": materialize_edges(triples, surface_map, doc_col),
        "verified_pairs": verified,
    }


def build_kg(
    documents: DataFrame,
    embeddings: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
    linking_cfg=None,
    entities: DataFrame | None = None,
) -> dict:
    """Full north-rule pipeline: documents -> entities -> triples ->
    linking -> connected components -> nodes/edges. Returns every
    intermediate as a DataFrame (each a pure transform; see
    operators/checkpoint.py for the resumable materialization wrapper).
    ``entities`` (optional) skips the extraction stage — see
    extract_and_link."""
    entities, triples = extract_and_link(
        documents, labels, backend_spec,
        text_col=text_col, doc_col=doc_col, threshold=threshold,
        config=config, relation_cfg=relation_cfg, entities=entities,
    )
    mentions = attach_embeddings(
        mentions_from_entities(entities, doc_col), embeddings
    )
    return {
        "entities": entities,
        **link_and_materialize(mentions, triples, doc_col, linking_cfg),
    }


def update_kg(
    prior_mentions: DataFrame,
    prior_triples: DataFrame,
    new_documents: DataFrame,
    embeddings: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
    linking_cfg=None,
) -> dict:
    """Incremental KG maintenance: a new crawl batch arrives AFTER a full
    build. Extraction — the dominant cost, mapInPandas over every page —
    runs ONLY on the new documents; the prior run's materialized
    `mentions` / `triples` relations (parquet from the checkpointed
    stages) are unioned in as they are (the prior mentions already carry
    their embeddings), and the comparatively cheap GLOBAL stages
    (LSH blocking + cosine verify + connected components + node/edge
    aggregation) re-run over the union, because linking is inherently
    corpus-global (a new mention can merge two old clusters).

    Equivalence to a full rebuild is structural, and pinned by test
    (tests/test_kg_pipeline.py::test_incremental_update_equals_full_rebuild):
    extraction is per-document (old docs' mentions/triples are identical
    either way) and every downstream stage is a pure function of the
    union. Deterministic ids (mention_id = 'doc:start:end:label',
    canonical = min id) make the re-link reproduce the full build's ids
    exactly — re-running a batch is idempotent, per the north rule.
    """
    new_entities, new_triples = extract_and_link(
        new_documents, labels, backend_spec,
        text_col=text_col, doc_col=doc_col, threshold=threshold,
        config=config, relation_cfg=relation_cfg,
    )
    new_mentions = attach_embeddings(
        mentions_from_entities(new_entities, doc_col), embeddings
    )
    return link_and_materialize(
        prior_mentions.unionByName(new_mentions),
        prior_triples.unionByName(new_triples),
        doc_col, linking_cfg,
    )


def top_relations(triples: DataFrame) -> DataFrame:
    """Headline aggregate: most frequent (subj, pred, obj) edges."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("score"), 4).alias("avg_score"))
        .orderBy(F.desc("n"), "subj", "pred", "obj")
    )
