"""Batched NER extraction over a DataFrame of documents.

The single biggest capability upgrade over the reference: GLiNERSwift
processes one document at a time on-device (explicit TODO at ref
GLiNERModel.swift:179); here extraction is an Arrow-batched
``mapInPandas`` over micro-batches of the text column — never per-row
Python, never a driver loop.

Scale design (100 TB / 1000 executors):
  * Only ``id_cols + [text_col]`` are selected before the UDF — Catalyst
    prunes every other column at the parquet/Iceberg scan.
  * Chunking of long pages, per-chunk scoring, greedy NMS, and cross-chunk
    merge all happen INSIDE one task (see scoring/pipeline.py) — chunk
    reassembly costs zero shuffles.
  * The scoring backend is built once per Python worker
    (scoring/backends.get_backend); the spec travels with the closure
    (tiny, picklable) — the Spark analogue of broadcast model weights.
  * Every extraction entry point (here, plans/kg_pipeline.py,
    operators/metrics.py) runs one per-partition kernel behind one
    widening decision; entry points differ only in their emitters.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG
from glinerswift_spark.scoring.backends import get_backend
from glinerswift_spark.scoring.pipeline import extract_documents_batch

ENTITY_FIELDS = [
    StructField("label", StringType()),
    StructField("entity", StringType()),
    StructField("score", DoubleType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
]


def entity_output_schema(df: DataFrame, id_cols: list[str]) -> StructType:
    id_fields = [f for f in df.schema.fields if f.name in set(id_cols)]
    return StructType(id_fields + ENTITY_FIELDS)


def _widen_for_backend(df: DataFrame, key: str, backend_spec) -> DataFrame:
    """widen_small_scan with the task-wave count this backend wants.

    Parallelizes the inference pass when the scan is narrower than core
    count (single-row-group test parquet) — a no-op at real scale, and
    never a shuffle of the (much larger) output. A hidden_states_provider
    means a real encoder: ~0.1-0.2 s/doc, so several task waves smooth
    doc-length stragglers; the hash and gazetteer backends are scan-speed
    and want exactly one wave (measured both ways — see
    sources/pages.widen_small_scan)."""
    from glinerswift_spark.sources.pages import (
        STRAGGLER_WAVES,
        widen_small_scan,
    )

    waves = (
        STRAGGLER_WAVES
        if getattr(backend_spec, "hidden_states_provider", None) is not None
        else 1
    )
    return widen_small_scan(df, key, waves)


def _extraction_kernel(
    backend_spec,
    text_col: str,
    requests: Callable[[pd.DataFrame], list],
    emit: Callable[[pd.DataFrame, list], object],
    config: Configuration = DEFAULT_CONFIG,
    label_groups: list[int] | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator]:
    """The per-partition extraction loop shared by every entry point.

    ``requests(pdf)`` splits an Arrow batch into request groups
    ``[(labels, threshold, row indices)]``; each group scores through
    ``extract_documents_batch`` (cross-document batching on backends that
    support it). ``emit(pdf, ents_per_row)`` turns the batch's per-row
    entity lists into what the kernel yields."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator:
        backend = get_backend(backend_spec)  # per-worker singleton
        for pdf in batches:
            texts = pdf[text_col].tolist()
            ents_per_row: list = [None] * len(texts)
            for labels, threshold, idxs in requests(pdf):
                got = extract_documents_batch(
                    [texts[i] for i in idxs], labels, backend,
                    threshold=threshold, config=config,
                    label_groups=label_groups,
                )
                for i, ents in zip(idxs, got):
                    ents_per_row[i] = ents
            yield emit(pdf, ents_per_row)

    return run


def _one_request(labels: list[str], threshold: float | None):
    """``requests`` for a pass where every row asks the same question."""
    return lambda pdf: [(labels, threshold, range(len(pdf)))]


def _entity_rows(id_cols: list[str], out_cols: list[str]):
    def emit(pdf: pd.DataFrame, ents_per_row: list) -> pd.DataFrame:
        rows: dict[str, list] = {c: [] for c in out_cols}
        ids = {c: pdf[c] for c in id_cols}
        for i, ents in enumerate(ents_per_row):
            for e in ents:
                for c in id_cols:
                    rows[c].append(ids[c].iat[i])
                rows["label"].append(e.label)
                rows["entity"].append(e.text)
                rows["score"].append(e.score)
                rows["start"].append(e.start)
                rows["end"].append(e.end)
        return pd.DataFrame(rows, columns=out_cols)

    return emit


def extract_entities(
    df: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    label_groups: list[int] | None = None,
) -> DataFrame:
    """documents -> long-format entities(id..., label, entity, score, start, end).

    ``label_groups``: per-label task-group ids — scoring stays one pass,
    greedy NMS runs per group (task isolation for fused multi-task runs;
    see scoring/pipeline.extract_document)."""
    id_cols = list(id_cols or ["doc_id"])
    out_schema = entity_output_schema(df, id_cols)
    run = _extraction_kernel(
        backend_spec, text_col, _one_request(list(labels), threshold),
        _entity_rows(id_cols, out_schema.fieldNames()), config, label_groups,
    )
    # explicit narrow projection => column pruning reaches the scan
    return _widen_for_backend(
        df.select(*id_cols, text_col), id_cols[0], backend_spec
    ).mapInPandas(run, schema=out_schema)


def extract_entities_per_request(
    df: DataFrame,
    backend_spec,
    text_col: str = "text",
    labels_col: str = "labels",
    threshold_col: str = "threshold",
    id_cols: list[str] | None = None,
    config: Configuration = DEFAULT_CONFIG,
) -> DataFrame:
    """Extraction where EACH ROW carries its own labels (+ threshold) —
    the reference's benchmark-fixture shape {id, text, labels, threshold}
    (ref Scripts/test_fixtures.jsonl, BenchmarkCLI decodeFixtures).

    Same fused per-task dataflow; the backend sees the row's label list.
    Rows with IDENTICAL (labels, threshold) inside an Arrow batch are
    grouped and scored through the backend's cross-document batch path
    (extract_documents_batch) — the common benchmark shape is one label
    set repeated across every request, which then costs one batched
    scoring call per 64 rows instead of one per row.
    """
    id_cols = list(id_cols or ["id"])
    out_schema = entity_output_schema(df, id_cols)

    def requests(pdf: pd.DataFrame) -> list:
        has_thr = threshold_col in pdf.columns
        groups: dict = {}
        for i, raw_labels in enumerate(pdf[labels_col]):
            labels = () if raw_labels is None else tuple(raw_labels)
            thr = float(pdf[threshold_col].iat[i]) if has_thr else None
            groups.setdefault((labels, thr), []).append(i)
        return [(list(lb), thr, idxs) for (lb, thr), idxs in groups.items()]

    run = _extraction_kernel(
        backend_spec, text_col, requests,
        _entity_rows(id_cols, out_schema.fieldNames()), config,
    )
    keep = [*id_cols, text_col, labels_col]
    if threshold_col in df.columns:
        keep.append(threshold_col)
    return _widen_for_backend(
        df.select(*keep), id_cols[0], backend_spec
    ).mapInPandas(run, schema=out_schema)
