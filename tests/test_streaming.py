"""§2.8 Structured Streaming surface: the stateful gap sessionizer must
agree with the batch lag-window sessionization over the same files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.streaming import events as SE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    # small deterministic slice, written as several files (multi-batch)
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .orderBy("event_id")
        .limit(2000)
    )
    # range-partition by ts so the file stream's path-ordered batches
    # arrive in event-time order — the arrival contract the stateful
    # sessionizer documents (a watermarked production source provides it)
    df.repartitionByRange(8, "ts").sortWithinPartitions(
        "ts", "event_id"
    ).write.mode("overwrite").parquet(out)
    return out


def test_stateful_sessionization_matches_batch(spark, events_dir):
    # single batch: the gap sessionizer needs event-time-ordered arrival,
    # which a multi-batch file stream does not guarantee
    stream = SE.stream_events(spark, events_dir, max_files=None)
    SE.run_to_memory(SE.sessionize_stream(stream), "sessions_mem", "update")
    rows = spark.sql("SELECT * FROM sessions_mem").collect()
    # keep each user's latest emission set: closed sessions accumulate,
    # the open session is re-emitted per batch — dedupe on session_start
    latest: dict[tuple, tuple] = {}
    for r in rows:
        k = (r["user_id"], str(r["session_start"]))
        v = (r["n_events"], str(r["session_end"]), r["closed"])
        prev = latest.get(k)
        if prev is None or v[0] >= prev[0]:
            latest[k] = v
    got = {}
    for (uid, _start), (n, _end, _closed) in latest.items():
        a, b = got.get(uid, (0, 0))
        got[uid] = (a + 1, b + n)

    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want_events = {r["user_id"]: r["n_events"] for r in batch.collect()}
    from pyspark.sql import Window

    e = spark.read.parquet(events_dir).withColumn(
        "ts_ntz", F.col("ts").cast("timestamp_ntz")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ntz", "event_id")
    e = e.withColumn("prev_ts", F.lag("ts_ntz").over(w))
    gap = F.expr("timestampdiff(MICROSECOND, prev_ts, ts_ntz)")
    new_s = F.when(F.col("prev_ts").isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    want_sessions = {
        r["user_id"]: r["n"]
        for r in e.withColumn("s", new_s).groupBy("user_id").agg(F.sum("s").alias("n")).collect()
    }
    for uid, n in want_events.items():
        assert got[uid][1] == n, (uid, got[uid], n)
        assert got[uid][0] == want_sessions[uid], (uid, got[uid], want_sessions[uid])


def test_sessionize_variants_leaves_no_stream_copy(spark, tmp_path, monkeypatch):
    # the streaming arm copies events.parquet into a scratch source dir;
    # the memory sink holds every emitted row once the availableNow run
    # returns, so the copy must not outlive the call
    import tempfile

    from web_crawler_spark.analytics import queries as Q

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = Q.q_sessionize_variants(spark, "/root/testdata/sf0.001")
    assert not list(tmp_path.glob("wcs_sess_stream_*"))
    assert df.filter(F.col("variant") == "streaming").count() > 0
