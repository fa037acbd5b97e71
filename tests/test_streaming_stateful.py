"""Streaming operators: watermarked windows + applyInPandasWithState
sessionization, checked against their batch twins on the same events."""

import pytest
from pyspark.sql import functions as F

from glinerswift_spark.streaming.stateful import (
    sessionize_stream,
    stream_events,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # time-ordered files so micro-batches replay the stream in order
    # (the operator's documented arrival contract)
    out = str(tmp_path_factory.mktemp("events_stream"))
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events.orderBy("ts", "event_id").coalesce(1).write.mode("overwrite").parquet(out)
    return out


def _run_to_memory(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_windowed_counts_match_batch(spark, events_dir):
    stream = stream_events(spark, events_dir)
    _run_to_memory(windowed_event_counts(stream), "win_out", "complete")
    got = {
        (r.day, r.event_type, r.n_events, r.sum_value)
        for r in spark.sql("select * from win_out").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("day"), "event_type", "n_events", "sum_value")
    )
    want = {(r.day, r.event_type, r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want


def test_sessionize_stream_closed_sessions_match_batch(spark, events_dir):
    from pyspark.sql import Window

    stream = stream_events(spark, events_dir)
    _run_to_memory(sessionize_stream(stream, gap_minutes=30), "sess_out", "append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.sum_value, 6))
        for r in spark.sql("select * from sess_out").collect()
    }

    # batch twin: gap-based sessions; the stream emits every CLOSED
    # session (a later event arrived), i.e. all but each user's last
    events = spark.read.parquet(events_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w)
    sess = (
        events.withColumn(
            "session_idx",
            F.sum(
                F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    last = sess.groupBy("user_id").agg(F.max("session_idx").alias("last_idx"))
    closed = sess.join(last, "user_id").where(
        F.col("session_idx") < F.col("last_idx")
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.sum_value, 6))
        for r in closed.collect()
    }
    assert got == want
    assert got, "no closed sessions emitted — gap threshold never fired"


def test_sessionize_timeout_flushes_idle_sessions(spark, tmp_path):
    import numpy as np
    from pyspark.sql import functions as F

    from glinerswift_spark.streaming.stateful import sessionize_stream

    # file 1: real users' events; file 2: a single sentinel event 3 days
    # later — its watermark proves every earlier open session can never
    # be extended, so the event-time timeout must flush ALL of them
    d = tmp_path / "in"
    d.mkdir()
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events.orderBy("ts", "event_id").coalesce(1).write.mode("overwrite").parquet(
        str(d / "f1.parquet")
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    # TWO sentinels: the first advances the watermark past every real
    # session's end+gap; the second guarantees a batch AFTER that
    # advance, where the event-time timeouts actually fire (a timeout
    # set in batch N is evaluated from batch N+1 on)
    for idx, (uid, days) in enumerate([(999_999, 3), (999_998, 6)]):
        sentinel = spark.createDataFrame(
            [(10_000_000 + idx, uid, max_ts, "tick", 0.0, "{}")],
            "event_id long, user_id long, ts timestamp_ntz, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            str(d / f"f{idx + 2}.parquet")
        )
    # one dir for the file stream; PIN modification times so the source
    # processes files in order (it sorts by modTime — equal stamps made
    # this test order-dependent)
    import glob
    import os
    import shutil
    import time as _time

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    now = _time.time()
    for i, (src, name) in enumerate([
        ("f1.parquet", "a.parquet"),
        ("f2.parquet", "b.parquet"),
        ("f3.parquet", "c.parquet"),
    ]):
        dst = stream_dir / name
        shutil.copy(glob.glob(str(d / src / "part-*"))[0], dst)
        os.utime(dst, (now - 300 + i * 60, now - 300 + i * 60))

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp_ntz, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, flush_on_timeout=True)
        .writeStream.format("memory").queryName("sess_flush")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from sess_flush")
    n_users = events.select("user_id").distinct().count()
    # every session of every real user is now emitted (closed by gap OR
    # flushed by timeout); total must equal the batch session count
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w)
    total_sessions = (
        events.withColumn(
            "s",
            F.sum(F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "s").count().count()
    )
    got_real = got.where(~F.col("user_id").isin(999_999, 999_998))
    assert got_real.count() == total_sessions
    assert got_real.select("user_id").distinct().count() == n_users


def test_streaming_triple_extraction_matches_batch(spark, tmp_path):
    """The fused extraction transform is stateless per-document, so the
    streaming run over file-landed micro-batches must produce EXACTLY the
    batch row set — the kg_construct arrival story (crawl files land,
    each triggers extraction; global linking then folds in per batch via
    update_kg)."""
    from glinerswift_spark.plans.kg_pipeline import extract_triples_fused
    from glinerswift_spark.scoring.backends import (
        FLAGSHIP_LABELS,
        flagship_gazetteer,
    )
    from glinerswift_spark.streaming.foreach_batch import stream_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
    src = str(tmp_path / "docs_stream")
    # several files so the stream actually runs multiple micro-batches
    docs.repartition(5).write.mode("overwrite").parquet(src)

    stream = stream_documents(spark, src)
    out = extract_triples_fused(
        stream, FLAGSHIP_LABELS, flagship_gazetteer(), threshold=0.5
    )
    _run_to_memory(out, "triples_stream_out", "append")
    got = {
        tuple(r) for r in spark.sql("select * from triples_stream_out").collect()
    }

    batch = extract_triples_fused(
        spark.read.parquet(src), FLAGSHIP_LABELS, flagship_gazetteer(),
        threshold=0.5,
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_dedup_stream_matches_batch_exact_dedup(spark, tmp_path):
    """Streaming exact dedup (one long of state per distinct hash) must
    emit exactly the batch exact_dedup keepers under the monotonic-
    ingest contract: file A (lower ids, written first) then file B
    (duplicates of A's texts + new ones). Parity holds under ANY batch
    split because every hash's min id arrives no later than its first
    occurrence."""
    import time as _time

    from glinerswift_spark.operators.dedup import exact_dedup
    from glinerswift_spark.streaming.foreach_batch import stream_documents
    from glinerswift_spark.streaming.stateful import dedup_stream

    texts_a = [f"unique text number {i} with words" for i in range(20)]
    rows_a = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts_a)]
    # B: ids 100+; half duplicate A's texts, half new
    rows_b = [
        (100 + i, texts_a[i] if i < 10 else f"fresh b text {i} here", "en",
         "web", 20)
        for i in range(20)
    ]
    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "docs_arrivals")
    spark.createDataFrame(rows_a, ddl).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(rows_b, ddl).coalesce(1).write.mode("append").parquet(src)

    out = dedup_stream(stream_documents(spark, src))
    _run_to_memory(out, "dedup_stream_out", "append")
    got = {
        (r["text_hash"], r["doc_id"])
        for r in spark.sql("select * from dedup_stream_out").collect()
    }
    want = {
        (r["text_hash"], r["keeper"])
        for r in exact_dedup(spark.read.parquet(src)).collect()
    }
    assert got == want and len(want) == 30  # 20 A + 10 new B
