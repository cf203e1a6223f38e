"""§2.8: Structured Streaming twin of the engine's stream-shaped machinery.

The reference is not a streaming system — its "streams" are SSE progress
pushes (progress-tracker.service.js:100-153) and the stateful crawl loop.
The north_rule's crawl is our iterative batch driver (plans/crawl.py);
this module provides the Structured Streaming surface a production
deployment of the same engine would run for its event firehose:

- file-source readStream over the events table layout,
- a custom stateful operator via ``applyInPandasWithState``: the gap
  sessionizer, the streaming twin of the batch ``sessionize`` query
  (certified through the ``sessionize_variants`` registry entry).

Scale notes: the sessionizer partitions by user_id (state store keyed by
group), with Arrow-batched pandas state updates.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        # TIMESTAMP_NTZ: the parquet column is wall-clock
        # (isAdjustedToUTC=false); reading it as NTZ keeps every downstream
        # gap/window computation session-timezone invariant (a TimestampType
        # read would interpret the wall values in spark.sql.session.timeZone
        # and shift 30-min-gap classification across DST transitions)
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(
    spark: SparkSession, path: str, max_files: int | None = 4
) -> DataFrame:
    """File-source stream over the events layout. ``max_files`` bounds
    per-microbatch work; None = all available files in one batch (order-
    sensitive stateful consumers need per-key event-time-ordered arrival,
    which multi-batch file streams do not guarantee by themselves)."""
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files is not None:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.parquet(path)


def run_to_memory(
    query_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """availableNow one-shot into an in-memory sink table ``name``."""
    (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# -------------------------------------------------- gap sessionization -----
SESSION_STATE = T.StructType(
    [
        # wall-clock micros since epoch (int64): the state tuple round-trips
        # through the JVM state store, and longs are immune to the session-tz
        # re-localization a TimestampType state field would undergo
        T.StructField("open_start_us", T.LongType()),
        T.StructField("open_last_us", T.LongType()),
        T.StructField("open_n", T.LongType()),
    ]
)
SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampNTZType()),
        T.StructField("session_end", T.TimestampNTZType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

GAP_SECONDS = 1800  # 30 min (performance-optimizer/session semantics)


def _sessionize_group(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful gap sessionizer: rows arrive per micro-batch, state carries
    the open session across batches; a >30 min gap closes a session. The
    last session stays open (closed=false) until more data or timeout.

    Vectorized within each batch: gaps via ``Series.diff`` and session ids
    via ``cumsum`` over the boolean gap mask — Python touches only the
    batch-boundary state merge, never individual rows. Timestamps are NTZ
    (naive) wall-clock values end-to-end; state carries int64 micros.
    """
    open_start, open_last, open_n = (
        state.get if state.exists else (None, None, 0)
    )
    if open_start is not None:
        open_start = pd.Timestamp(open_start * 1000)  # us → ns
        open_last = pd.Timestamp(open_last * 1000)
    gap = pd.Timedelta(seconds=GAP_SECONDS)
    out = []
    for pdf in batches:
        if pdf.empty:
            continue
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        ts = pdf["ts"].reset_index(drop=True)
        cont = False
        if open_last is not None:
            cont = (ts.iloc[0] - open_last) <= gap
            if not cont:
                out.append((key[0], open_start, open_last, open_n, True))
                open_start, open_last, open_n = None, None, 0
        is_new = ts.diff() > gap
        is_new.iloc[0] = not cont
        sid = is_new.cumsum()
        g = ts.groupby(sid)
        starts, ends, counts = g.min(), g.max(), g.size()
        last_id = counts.index[-1]
        for j in counts.index:
            s, e, c = starts[j], ends[j], int(counts[j])
            if cont and j == counts.index[0]:
                s, c = open_start, c + open_n
            if j != last_id:
                out.append((key[0], s, e, c, True))
            else:
                open_start, open_last, open_n = s, e, c
    state.update(
        (
            None if open_start is None else open_start.value // 1000,
            None if open_last is None else open_last.value // 1000,
            open_n,
        )
    )
    if open_start is not None:
        out.append((key[0], open_start, open_last, open_n, False))
    res = pd.DataFrame(out, columns=[f.name for f in SESSION_OUT.fields])
    if not out:  # keep dtypes stable for Arrow when a group emits nothing
        res = res.astype(
            {
                "user_id": "int64",
                "session_start": "datetime64[ns]",
                "session_end": "datetime64[ns]",
                "n_events": "int64",
                "closed": "bool",
            }
        )
    yield res


def sessionize_stream(stream: DataFrame) -> DataFrame:
    """applyInPandasWithState per user_id — the streaming twin of the
    batch lag-window sessionize query (same gap rule, same counts)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUT,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
