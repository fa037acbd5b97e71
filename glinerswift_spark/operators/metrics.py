"""Per-stage timing metrics for the extraction pipeline.

The reference prints a per-request stage split —
"Tokenize: Xms | Encode: Xms | Score: Xms | Decode: Xms"
(ref GLiNERModel.swift:388-392). The Spark analogue: the shared
extraction kernel (operators/extract.py) runs with the scoring pipeline's
step functions wrapped in self-timers, and each partition emits one row
per stage with the accumulated seconds and doc count; aggregating those
rows gives the cluster-wide stage split. Used by bench.py; cheap enough
to run on a sample in production (it re-runs extraction, so it is a
PROFILING op, not a hook on the hot path)."""

from __future__ import annotations

import time
from contextlib import ExitStack
from typing import Iterator
from unittest import mock

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG
from glinerswift_spark.operators.extract import (
    _extraction_kernel,
    _one_request,
    _widen_for_backend,
)
from glinerswift_spark.scoring import pipeline
from glinerswift_spark.scoring.backends import get_backend

STAGES = ("split", "chunk", "score", "decode", "merge")

# stage -> the callables extraction reaches it through: names in
# scoring.pipeline's namespace, and methods of the backend (an encoding
# backend's encode runs inside its score call and counts as score)
_STAGE_CALLS = {
    "split": (("pipeline", "word_spans"),),
    "chunk": (("pipeline", "chunk_text"),),
    "score": (("backend", "score_document"), ("backend", "score_document_sparse"),
              ("backend", "score_documents")),
    "decode": (("pipeline", "decode_spans"), ("pipeline", "decode_candidates"),
               ("pipeline", "decode_document_logits")),
    "merge": (("pipeline", "shift_entities"), ("pipeline", "merge_chunk_entities")),
}

TIMING_SCHEMA = StructType(
    [
        StructField("stage", StringType()),
        StructField("seconds", DoubleType()),
        StructField("docs", LongType()),
        StructField("entities", LongType()),
    ]
)


class _SelfTimer:
    """Self seconds per stage of wrapped callables: a call's duration
    minus the duration of the wrapped calls nested inside it."""

    def __init__(self):
        self.seconds = dict.fromkeys(STAGES, 0.0)
        self._nested: list = []  # per open call: time of its wrapped children

    def wrap(self, stage: str, fn):
        def timed(*args, **kwargs):
            self._nested.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.seconds[stage] += dt - self._nested.pop()
                if self._nested:
                    self._nested[-1] += dt
        return timed


def stage_timing_report(
    df: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
) -> DataFrame:
    """-> (stage, seconds, docs, entities): cluster-wide stage split."""
    kernel = _extraction_kernel(
        backend_spec, text_col, _one_request(list(labels), threshold),
        lambda pdf, ents: (sum(map(bool, pdf[text_col])), sum(map(len, ents))),
        config,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        owners = {"pipeline": pipeline, "backend": get_backend(backend_spec)}
        timer = _SelfTimer()
        # a Python worker runs one task at a time, and every patch is
        # undone when the partition ends
        with ExitStack() as patches:
            for stage, targets in _STAGE_CALLS.items():
                for owner, name in targets:
                    fn = getattr(owners[owner], name, None)
                    if fn is not None:
                        patches.enter_context(mock.patch.object(
                            owners[owner], name, timer.wrap(stage, fn)))
            counts = list(kernel(batches))
        yield pd.DataFrame(
            {
                "stage": list(STAGES),
                "seconds": [timer.seconds[s] for s in STAGES],
                "docs": [sum(d for d, _ in counts)] * len(STAGES),
                "entities": [sum(e for _, e in counts)] * len(STAGES),
            }
        )

    # keyed on the text itself — the only column this pass ships. Stage
    # sums/doc counts are invariant to partitioning.
    per_partition = _widen_for_backend(
        df.select(text_col), text_col, backend_spec
    ).mapInPandas(run, TIMING_SCHEMA)
    return per_partition.groupBy("stage").agg(
        F.round(F.sum("seconds"), 4).alias("seconds"),
        F.sum("docs").alias("docs"),
        F.sum("entities").alias("entities"),
    )


def span_prf(
    pred: DataFrame,
    gold: DataFrame,
    keys: tuple = ("doc_id", "label", "entity", "start", "end"),
    label_col: str = "label",
) -> DataFrame:
    """Per-label span precision / recall / F1 under EXACT-match scoring —
    the north rule's own acceptance criterion (triple/entity P/R >= 0.95
    vs reference fixtures) as a distributed operator, so a production
    run can score a candidate extraction config against a gold slice
    without collecting either side.

    Exact match = equality on ``keys`` (doc, label, surface, offsets);
    both sides are de-duplicated to set semantics first. tp is one
    equi-join on the full key; per-label counts are map-side-combined
    aggregates of the three relations; precision/recall/F1 divide
    BIGINT counts (IEEE division + round — deterministic; no libm).
    Labels with zero predictions or zero gold report 0.0, not null.

    Scale shape: the join shuffles on the full composite key (high
    cardinality, evenly distributed); per-label aggregation is tiny.
    """
    p = pred.select(*keys).distinct()
    g = gold.select(*keys).distinct()
    tp = (
        p.join(g, list(keys))
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    np_ = p.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_pred"))
    ng = g.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_gold"))
    out = (
        ng.join(np_, label_col, "full")
        .join(tp, label_col, "left")
        .select(
            label_col,
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("n_gold", F.lit(0)).cast("long").alias("n_gold"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(0.0)
    f1 = F.when(
        (prec + rec) > 0, F.lit(2.0) * prec * rec / (prec + rec)
    ).otherwise(0.0)
    return out.select(
        label_col,
        "n_pred",
        "n_gold",
        "tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
