"""Flagship KG-construction pipeline compositions.

Every KG build is extraction followed by one tail:

``kg_from_entities``
    entities -> triples (operators/relations.entities_to_triples) and
    embedded mentions, optionally unioned with a prior snapshot's
    mentions/triples -> linking (LSH blocking, cosine verify, connected
    components) -> surface canonicalization -> nodes and edges. Each
    stage is a pure DataFrame -> DataFrame transform
    (foreachBatch-compatible).

``build_kg`` / ``update_kg``
    ``extract_entities`` over all documents (full build) or only a new
    batch (incremental: the prior snapshot rides in as ``prior``), then
    ``kg_from_entities``.

``publish_kg``
    the resumable job behind jobs/run_kg.py: 1. entities (checkpointed
    per bucket) 2. ``kg_from_entities`` over the checkpoint, publishing
    mentions/triples/nodes/edges.

``extract_triples_fused``
    documents -> mapInPandas(chunk + score + NMS + merge + relation
    templating) -> triples with ZERO shuffles — the whole per-document
    dataflow runs inside one task (the shared extraction kernel of
    operators/extract.py with a dictionary-coded triple emitter). Used
    where only triples are wanted: streaming micro-batches
    (streaming/foreach_batch.py), the ``kg_triples`` driver query and the
    extraction benchmarks.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
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
from glinerswift_spark.operators.checkpoint import run_stage_with_checkpoint
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
from glinerswift_spark.sources.pages import write_table


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


def attach_embeddings(mentions: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Deterministic surface->embedding assignment (FIXTURES.md §5): each
    distinct lowercased surface maps to
    embeddings[int(md5(surface)[:8], 16) % N]. Same surface => identical
    vector => cosine 1.0, so linking clusters same-surface mentions across
    documents; distinct surfaces get pseudo-random vectors. md5 (not
    xxhash64) so the DuckDB oracle replays the assignment exactly:
    CAST(concat('0x', substring(md5(surface), 1, 8)) AS BIGINT) % N.
    The embeddings side is broadcast (it is the small dimension table)."""
    keyed = mentions.withColumn(
        "vec_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.lower(F.col("text"))), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(embeddings.count()),
        ),
    )
    emb = embeddings.select("vec_id", "embedding")
    return keyed.join(F.broadcast(emb), "vec_id", "left").drop("vec_id")


def kg_from_entities(
    entities: DataFrame,
    embeddings: DataFrame,
    doc_col: str = "doc_id",
    relation_cfg: RelationConfig | None = None,
    linking_cfg: LinkingConfig | None = None,
    prior: tuple[DataFrame, DataFrame] | None = None,
) -> dict:
    """The one KG tail: entities -> triples and embedded mentions, unioned
    with the ``prior`` snapshot's ``(mentions, triples)`` if given (prior
    mentions already carry their embeddings and pass through unchanged),
    then linking (LSH blocking, cosine verify, connected components) ->
    surface canonicalization -> canonical edges. Returns every
    intermediate (entities, mentions, triples, mention_map, nodes, edges,
    verified_pairs)."""
    triples = entities_to_triples(entities, relation_cfg, doc_col=doc_col)
    mentions = attach_embeddings(
        mentions_from_entities(entities, doc_col), embeddings
    )
    if prior is not None:
        prior_mentions, prior_triples = prior
        mentions = prior_mentions.unionByName(mentions)
        triples = prior_triples.unionByName(triples)
    mention_map, nodes, verified = link_mentions(mentions, linking_cfg)
    surface_map = surface_to_canonical(mentions.join(mention_map, "mention_id"))
    return {
        "entities": entities,
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
) -> dict:
    """Full north-rule pipeline: documents -> entities -> triples ->
    linking -> connected components -> nodes/edges. Returns every
    intermediate as a DataFrame (each a pure transform; ``publish_kg`` is
    the checkpointed, resumable form)."""
    entities = extract_entities(
        documents, labels, backend_spec, text_col=text_col,
        id_cols=[doc_col], threshold=threshold, config=config,
    )
    return kg_from_entities(
        entities, embeddings, doc_col, relation_cfg, linking_cfg
    )


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
    `mentions` / `triples` relations are unioned in as they are, and the
    comparatively cheap GLOBAL stages (LSH blocking + cosine verify +
    connected components + node/edge aggregation) re-run over the union,
    because linking is inherently corpus-global (a new mention can merge
    two old clusters).

    Equivalence to a full rebuild is structural, and pinned by test
    (tests/test_kg_pipeline.py::test_incremental_update_equals_full_rebuild):
    extraction is per-document (old docs' mentions/triples are identical
    either way) and every downstream stage is a pure function of the
    union. Deterministic ids (mention_id = 'doc:start:end:label',
    canonical = min id) make the re-link reproduce the full build's ids
    exactly — re-running a batch is idempotent, per the north rule.
    """
    new_entities = extract_entities(
        new_documents, labels, backend_spec, text_col=text_col,
        id_cols=[doc_col], threshold=threshold, config=config,
    )
    return kg_from_entities(
        new_entities, embeddings, doc_col, relation_cfg, linking_cfg,
        prior=(prior_mentions, prior_triples),
    )


PUBLISHED_TABLES = ("mentions", "triples", "nodes", "edges")


def publish_kg(
    spark: SparkSession,
    docs: DataFrame,
    embeddings: DataFrame,
    out: str,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    buckets: int = 64,
    lineage: str = "",
    prior: str | None = None,
) -> None:
    """The resumable KG job (jobs/run_kg.py):

    1. ``entities`` — extraction, checkpointed per bucket under ``out``
       (operators/checkpoint.py); a resume extracts only the buckets not
       yet marked done, so past this stage it extracts nothing;
    2. ``kg_from_entities`` over the checkpoint, with the ``prior``
       output directory's ``mentions``/``triples`` unioned in when given
       (incremental update, equal to a full rebuild), then publish
       ``mentions``, ``triples`` (always the cumulative set, so the next
       incremental run can chain on this output), ``nodes`` and
       ``edges``. Each publish is an idempotent overwrite.
    """
    # part_bucket rides through extraction as an id column, so the
    # checkpoint needs no join back to the bucketed input
    entities = run_stage_with_checkpoint(
        spark, docs,
        lambda d: extract_entities(
            d, labels, backend_spec, text_col=text_col,
            id_cols=[doc_col, "part_bucket"], threshold=threshold,
        ),
        out, "entities", doc_col, num_buckets=buckets, lineage=lineage,
    ).drop("part_bucket")
    if prior is not None:
        prior = tuple(
            spark.read.parquet(os.path.join(prior, name))
            for name in ("mentions", "triples")
        )
    kg = kg_from_entities(entities, embeddings, doc_col, prior=prior)
    for name in PUBLISHED_TABLES:
        write_table(kg[name], os.path.join(out, name))
