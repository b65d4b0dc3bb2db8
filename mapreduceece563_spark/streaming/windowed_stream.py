"""Windowed streaming aggregation with a batch-readable hard signal.

``streaming_events_hourly`` is the windowed counterpart of the
``streaming_wordcount`` registry entry: the tumbling-hour event
aggregation (batch form: ``relational.events_hourly``) computed
through an ACTUAL incremental Structured Streaming run, then
materialized so the external driver can oracle-check it against the
identical batch SQL.

Update-mode merge semantics: each micro-batch emits the CURRENT
value of every (hour, event_type) group the batch touched; a group
spanning several micro-batches is emitted several times, and the
last emission holds the complete aggregate. The sink writes each
batch's updates under a batch_id-keyed path (idempotent on replay —
a retried batch overwrites its own directory, never double-counts),
and the final merge keeps, per group, the row from the highest
batch_id. That last-writer-wins merge is exactly the upsert a
key-value sink (Delta MERGE, HBase put) performs at scale.

No watermark here, deliberately: this is a finite availableNow drain
where dropping "late" rows would diverge from the batch oracle, and
the file source gives no cross-file time ordering. The
watermark/late-data path is exercised by the parity tests over
``wordcount_stream.windowed_event_counts``, where arrival order is
controlled. Unbounded-state posture for a true 24/7 stream is the
same as SCALE.md documents: watermark + update mode bounds state to
open windows.

Aggregation state is int64 cents (``round(value*100)``) — partial
sums stay exact and order-free across micro-batches, so the stream
result is bit-identical to the batch plan's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The update-mode hourly windowed aggregation runs through the
    # shared concurrent drain (shared_drain.drain_event_streams):
    # same operator graph, same per-batch_id idempotent sink — the
    # drain just overlaps the sibling profile/dedup streams so one
    # registry pass pays max(drain) instead of sum(drain).
    from .shared_drain import drain_event_streams
    from .wordcount_stream import _partial_files

    updates_dir = drain_event_streams(spark, sf_dir)["hourly"]
    if not _partial_files(updates_dir):
        # empty source: no foreachBatch invocation ever ran
        return spark.createDataFrame(
            [],
            "hour TIMESTAMP, event_type STRING, n_events BIGINT,"
            " value_sum DOUBLE",
        )
    # reading the root dir (not a batch_id=* glob) lets partition
    # discovery surface batch_id as a column for the merge
    updates = spark.read.parquet(updates_dir)
    w = Window.partitionBy("hour", "event_type").orderBy(
        F.col("batch_id").desc()
    )
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("hour", "event_type", "n_events", "value_sum")
    )


# ----------------------------------------------------------------------
# Streaming SESSION windows — the append-mode/watermark shape.
#
# Unlike the update-mode entries above, sessions are emitted exactly
# once, when the watermark passes session_end: that requires (a) a
# source whose replay is time-ordered ACROSS micro-batches, so the
# watermark only ever moves forward past data that is fully ingested,
# and (b) something to push the final watermark past the last real
# session. This harness builds both: the event table is written as
# strictly time-ranged chunk files in mtime order (the file source
# replays them oldest-first), and two far-future SENTINEL files (a
# user_id=-1 row each) land in their own final micro-batches — the
# first advances the watermark past every real session, the second
# triggers the batch in which that eviction is emitted. Sentinels are
# filtered from the read-back. The watermark delay (1 hour) exceeds
# the session gap, and chunk ranges are disjoint, so no real event
# can ever arrive behind the watermark — the stream is lossless by
# construction and must equal the batch session_window oracle.
# ----------------------------------------------------------------------

import os
import shutil

from ..cachemgr import session_memo
from ..sources.catalog import load_table

SESSION_SENTINELS = ("2030-01-01 00:00:00", "2030-01-02 00:00:00")
N_SESSION_CHUNKS = 4


# The src chunk layout is not a drain memo: it is deterministic input
# data (like spill_chunks), so a bench pass re-times the DRAIN, not the
# fixture write (~6 s of scans at sf0.1).
@session_memo
def _session_window_src(spark: SparkSession, sf_dir: str) -> str:
    from .wordcount_stream import _fresh_workdir

    src = os.path.join(_fresh_workdir("session_win_src", sf_dir), "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # Harness setup (not a query path): one 1-row min/max action
    # to derive the chunk boundaries for the time-ordered replay.
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("lo"),
        F.unix_micros(F.max("ts")).alias("hi"),
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    # Replay order is load-bearing for the watermark (see
    # join_stream's module docstring); assign strictly increasing
    # mtimes per chunk so coarse filesystem timestamps can't tie
    # and reorder the sequential writes.
    from .wordcount_stream import ReplayOrder

    order = ReplayOrder(src)
    if lo is not None:
        span = max(1, (hi - lo) + 1)
        us = F.unix_micros(F.col("ts"))
        for k in range(N_SESSION_CHUNKS):
            a = lo + (span * k) // N_SESSION_CHUNKS
            b = lo + (span * (k + 1)) // N_SESSION_CHUNKS
            (
                ev.filter((us >= a) & (us < b))
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            order.mark(src)
    for s_ts in SESSION_SENTINELS:
        (
            spark.createDataFrame(
                [(-1, s_ts)], "user_id BIGINT, ts STRING"
            )
            .select(
                "user_id", F.col("ts").cast("timestamp").alias("ts")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        order.mark(src)
    return src


@session_memo(drain=True)
def _session_window_drain(spark: SparkSession, sf_dir: str) -> str:
    """Drain the session-window stream; returns the finalized-sessions
    partials dir."""
    from .wordcount_stream import _fresh_workdir

    work = _fresh_workdir("session_win", sf_dir)
    sink = os.path.join(work, "sessions")
    os.makedirs(sink, exist_ok=True)
    src = _session_window_src(spark, sf_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = (
            spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sess = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
        )

        def sink_fn(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            ).write.mode("overwrite").parquet(
                os.path.join(sink, f"batch_id={batch_id}")
            )

        q = (
            sess.writeStream.foreachBatch(sink_fn)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    return sink


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows computed by an actual append-mode
    Structured Streaming run (native ``session_window`` + watermark,
    sessions emitted exactly once on finalization), oracle-checked
    against the batch lag/cumsum SQL. See the drain docstring for why
    this is lossless."""
    from .wordcount_stream import _partial_files

    sink = _session_window_drain(spark, sf_dir)
    if not _partial_files(sink):
        return spark.createDataFrame(
            [],
            "user_id BIGINT, session_start TIMESTAMP,"
            " session_end TIMESTAMP, n_events BIGINT",
        )
    return (
        spark.read.parquet(sink)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
    )


# ----------------------------------------------------------------------
# Streaming SLIDING windows — the overlapping-window shape.
#
# Tumbling (streaming_events_hourly), session (above), and now
# sliding: window("4 hours", slide "2 hours") assigns every event to
# exactly TWO open windows, so the state store carries overlapping
# aggregates and every update-mode emission reflects a partial of two
# window groups per event. Same idempotent batch_id-keyed sink +
# last-writer-wins merge as the hourly entry; same no-watermark
# finite-drain posture (SCALE.md documents the 24/7 watermark story).
# The oracle replays window assignment arithmetically: with duration
# 2x slide, the two starts are floor(ts/slide)*slide and that minus
# one slide — integer epoch math both engines compute identically.
# ----------------------------------------------------------------------

SLIDE_US = 7200 * 1_000_000  # 2 hours in microseconds

def _start_sliding(spark: SparkSession, sf_dir: str):
    """Fixture + START (no await): see shared_drain.
    drain_round7_streams. Returns (query, work dir, sink dir)."""
    from .wordcount_stream import _fresh_workdir, spill_chunks

    # identical fixture tag as the shared event drain: whichever
    # event-stream entry runs first in a pass writes the layout once
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    src = spill_chunks(ev, sf_dir, "events_shared")
    work = _fresh_workdir("sliding_win", sf_dir)
    sink = os.path.join(work, "updates")
    os.makedirs(sink, exist_ok=True)

    stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    agg = (
        stream.groupBy(
            F.window("ts", "4 hours", "2 hours").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("long")
            ).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )

    q = (
        agg.writeStream.foreachBatch(sink_batch)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q, work, sink


@session_memo(drain=True)
def _sliding_drain(spark: SparkSession, sf_dir: str) -> str:
    q, work, sink = _start_sliding(spark, sf_dir)
    q.awaitTermination()
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    return sink


def streaming_sliding_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .shared_drain import drain_round7_streams
    from .wordcount_stream import _partial_files

    drain_round7_streams(spark, sf_dir)
    updates_dir = _sliding_drain(spark, sf_dir)
    if not _partial_files(updates_dir):
        return spark.createDataFrame(
            [],
            "window_start TIMESTAMP, event_type STRING,"
            " n_events BIGINT, value_cents BIGINT",
        )
    updates = spark.read.parquet(updates_dir)
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("batch_id").desc()
    )
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start", "event_type", "n_events", "value_cents")
    )


STREAMING_SLIDING_SQL = f"""
WITH starts AS (
  SELECT event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS vc,
         make_timestamp(
           (epoch_us(ts) // {SLIDE_US}) * {SLIDE_US}) AS s0
  FROM events
),
expanded AS (
  SELECT event_type, vc, s0 AS window_start FROM starts
  UNION ALL
  SELECT event_type, vc, s0 - INTERVAL 2 HOUR FROM starts
)
SELECT window_start, event_type,
       count(*) AS n_events,
       CAST(sum(vc) AS BIGINT) AS value_cents
FROM expanded GROUP BY window_start, event_type
"""
