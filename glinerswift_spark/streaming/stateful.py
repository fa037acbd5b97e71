"""Structured Streaming operators: watermarked windows + stateful sessions.

Two streaming twins of the batch event queries:

  * ``windowed_event_counts`` — tumbling 1-day windows per event_type
    with a watermark bounding late data (the streaming form of the
    events_windowed driver query; late rows beyond the watermark are
    dropped and the window state is eventually evicted — bounded state
    at any scale).
  * ``sessionize_stream`` — gap-based sessionization as a CUSTOM
    STATEFUL operator via ``applyInPandasWithState``: per-user open
    -session state carries (start, end, n_events, sum_value) across
    micro-batches; an event with gap > threshold CLOSES the open
    session (emitting it) and opens a new one. State is one tiny tuple
    per active user — the 100 TB shape is state ∝ active keys, never
    ∝ events seen.

Ordering contract: events are sorted by timestamp WITHIN each
micro-batch; cross-batch reordering is bounded by the upstream
watermark (same contract Spark's own session_window holds). An open
session is emitted only when a later event closes it — pair with an
event-time timeout if idle-session flushing is needed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_DDL = (
    "event_id long, user_id long, ts timestamp_ntz, event_type string, "
    "value double, props string"
)


def stream_events(
    spark: SparkSession, input_dir: str, schema: str = EVENTS_DDL
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def windowed_event_counts(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Tumbling 1-day windows per event_type, late data bounded by the
    watermark (streaming twin of the events_windowed driver query).
    Watermarks require TIMESTAMP (not NTZ): the cast reads NTZ wall time
    in the session timezone — UTC in this deployment."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("day"), "event_type", "n_events", "sum_value")
    )


SESSION_OUTPUT_DDL = (
    "user_id long, session_start timestamp_ntz, session_end timestamp_ntz, "
    "n_events long, sum_value double"
)
_SESSION_STATE_DDL = "start long, end long, n long, s double"


def _session_fn(gap_us: int, flush_on_timeout: bool = False):
    def fn(key, pdfs, state):
        user_id = key[0]
        if flush_on_timeout and state.hasTimedOut:
            # the watermark passed this user's session-end + gap with no
            # new events: the open session can never be extended — flush
            # it and clear the state (idle keys hold ZERO state after
            # this, the bounded-state property at web scale)
            start_us, end_us, n, s = state.get
            state.remove()
            out = pd.DataFrame(
                [(user_id, start_us, end_us, n, s)],
                columns=["user_id", "session_start", "session_end",
                         "n_events", "sum_value"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out
            return
        if state.exists:
            start_us, end_us, n, s = state.get
        else:
            start_us = end_us = n = 0
            s = 0.0
        closed = []
        # the iterator yields the group's rows in arbitrary Arrow chunks;
        # concatenate and sort ONCE — sorting per chunk would break the
        # time order at chunk boundaries
        chunks = list(pdfs)
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        ts = pdf["ts"]
        if getattr(ts.dtype, "tz", None) is not None:
            ts = ts.dt.tz_localize(None)
        # state keeps MICROSECONDS — the source precision; ms would
        # silently truncate session_start/end
        ts_us = ts.astype("datetime64[us]").astype("int64").tolist()
        vals = pdf["value"].tolist()
        for t, v in zip(ts_us, vals):
            if n > 0 and t - end_us > gap_us:
                closed.append((user_id, start_us, end_us, n, s))
                start_us, n, s = t, 0, 0.0
            elif n == 0:
                start_us = t
            end_us = max(end_us, t) if n > 0 else t
            n += 1
            s += float(v)
        state.update((start_us, end_us, n, s))
        if flush_on_timeout and n > 0:
            # fire once the watermark proves no event can extend this
            # session (event-time timeouts take epoch MILLISECONDS);
            # clamp to watermark+1 — a session already past the
            # watermark (late-zone data) expires on the next batch
            ts_ms = end_us // 1000 + gap_us // 1000
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(ts_ms, wm + 1))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end",
                         "n_events", "sum_value"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    return fn


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    flush_on_timeout: bool = False,
) -> DataFrame:
    """Gap-based sessionization with explicit per-user state
    (applyInPandasWithState). Emits a session row when a later event of
    the same user arrives more than ``gap_minutes`` after the session's
    last event; the still-open session stays in state. With
    ``flush_on_timeout``, an EVENT-TIME timeout also emits the open
    session once the watermark passes session_end + gap (no event can
    extend it anymore) and clears the key's state — idle users hold
    zero state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_minutes * 60 * 1_000_000, flush_on_timeout),
            outputStructType=SESSION_OUTPUT_DDL,
            stateStructType=_SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if flush_on_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


DEDUP_OUTPUT_DDL = "text_hash string, doc_id long"
_DEDUP_STATE_DDL = "keeper long"


def _dedup_fn(key, pdfs, state):
    """First-seen-wins streaming exact dedup: emit the hash's keeper row
    on the FIRST micro-batch that carries it (min doc id within that
    batch), swallow every later duplicate. Append-mode discipline: an
    emitted keeper is never retracted, so cross-batch "a smaller id
    arrived later" keeps the original keeper — equal to batch
    exact_dedup whenever arrival order follows id order (the
    monotonic-ingest contract a crawl pipeline provides), pinned by the
    stream==batch twin test."""
    text_hash = key[0]
    batch_min = None
    for pdf in pdfs:
        m = int(pdf["doc_id"].min())
        batch_min = m if batch_min is None else min(batch_min, m)
    if not state.exists:
        state.update((batch_min,))
        yield pd.DataFrame({"text_hash": [text_hash], "doc_id": [batch_min]})
    # else: duplicate of an already-emitted keeper — state unchanged


def dedup_stream(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup as a CUSTOM STATEFUL operator: state is ONE
    long per distinct text hash (the irreducible memory of exact
    streaming dedup — near-dup families needing less state go through
    the batch MinHash path per landing batch instead). Spark's built-in
    streaming dropDuplicates holds the same per-key state but keeps an
    ARBITRARY intra-batch survivor; the explicit state function pins
    min-id semantics so the result is deterministic and comparable to
    the batch exact_dedup oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    hashed = docs.select(
        F.md5(F.col(text_col)).alias("text_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUTPUT_DDL,
        stateStructType=_DEDUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
