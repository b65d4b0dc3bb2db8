"""Stream-stream interval join with watermarked state cleanup — the
last of the stateful streaming shapes (aggregation, arbitrary state,
dedup, session windows live in the sibling modules), run as a REAL
two-source Structured Streaming drain and oracle-checked against the
identical batch join.

Shape: purchases ⋈ views on the same user with the view in the 30
minutes before the purchase — the attribution join every event
pipeline runs. Both sides carry a watermark and the join condition
is event-time-bounded, so Spark derives finite state retention: a
view's state row is dropped once the watermark passes view_ts +
30min; matches for an inner join emit as soon as the later side
arrives (no sentinel flush needed, unlike append-mode session
windows).

Losslessness argument (why stream == batch here): both sources
replay as the SAME time-ranged chunk boundaries written in mtime
order (the session-window harness's layout), so the two sides
advance through event time together and the query watermark — the
min across sources, lagging the newest data by 1 hour > the 30-min
join window — can never pass a row whose partner has not arrived.
A hash-partitioned replay (spill_chunks) would NOT be safe: the
watermark would jump to max-ts after the first batch and evict
state with partners still unread. That distinction — replay order
as a correctness precondition for watermarked joins — is exactly
what this entry pins.

At 100 TB the same plan holds: state is bounded by 30 minutes of
views per user partition, both inputs shuffle once on user_id, and
the foreachBatch sink appends matches idempotently by batch_id.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import session_memo
from ..sources.catalog import load_table

JOIN_WINDOW_MIN = 30
N_JOIN_CHUNKS = 4

def _write_time_ordered_chunks(
    df: DataFrame, dest: str, lo: int, hi: int, n_chunks: int
) -> None:
    """Sequential time-ranged chunk writes; the file source's
    mtime-ordered listing then replays them oldest range first.
    Replay order is a CORRECTNESS precondition here (see module
    docstring), so each chunk's mtime is assigned explicitly and
    strictly increasing — never left to filesystem timestamp
    resolution, where sub-second writes can tie and reorder."""
    from .wordcount_stream import ReplayOrder

    order = ReplayOrder(dest)
    span = max(1, (hi - lo) + 1)
    us = F.unix_micros(F.col("ts"))
    for k in range(n_chunks):
        a = lo + (span * k) // n_chunks
        b = lo + (span * (k + 1)) // n_chunks
        (
            df.filter((us >= a) & (us < b))
            .coalesce(1)
            .write.mode("append")
            .parquet(dest)
        )
        order.mark(dest)


# The layouts are deterministic input fixtures, not drain memos, so a
# bench pass re-times the drain, not the chunk writes.
@session_memo
def _join_sources(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the time-ordered (purchases dir, views dir) chunk layouts."""
    from .wordcount_stream import _fresh_workdir

    src_work = _fresh_workdir("stream_join_src", sf_dir)
    p_src = os.path.join(src_work, "purchases")
    v_src = os.path.join(src_work, "views")
    for d in (p_src, v_src):
        os.makedirs(d, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # Harness setup: shared chunk boundaries for BOTH sources,
    # from one 1-row min/max action over the whole stream.
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("lo"),
        F.unix_micros(F.max("ts")).alias("hi"),
    ).first()
    if bounds["lo"] is not None:
        _write_time_ordered_chunks(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts", "event_id"
            ),
            p_src, bounds["lo"], bounds["hi"], N_JOIN_CHUNKS,
        )
        _write_time_ordered_chunks(
            ev.filter(F.col("event_type") == "view").select(
                "user_id", "ts", "event_id"
            ),
            v_src, bounds["lo"], bounds["hi"], N_JOIN_CHUNKS,
        )
    return p_src, v_src


def _start_join(spark: SparkSession, sf_dir: str):
    """Fixture + START (no await, no conf fiddling — the caller pins
    spark.sql.shuffle.partitions around the start, because a
    streaming query captures its state partitioning when it starts).
    Returns (query, work dir, sink dir). See shared_drain.
    drain_round7_streams for the concurrent-drain consolidation."""
    from .wordcount_stream import _fresh_workdir

    work = _fresh_workdir("stream_join", sf_dir)
    sink = os.path.join(work, "pairs")
    os.makedirs(sink, exist_ok=True)

    p_src, v_src = _join_sources(spark, sf_dir)

    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT"
    p = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(p_src)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event_id"),
        )
    )
    v = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(v_src)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_event_id"),
        )
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (
            F.col("v_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
        )
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_user", "p_event_id", "v_event_id")

    def sink_fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )

    q = (
        joined.writeStream.foreachBatch(sink_fn)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q, work, sink


@session_memo(drain=True)
def _join_drain(spark: SparkSession, sf_dir: str) -> str:
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, work, sink = _start_join(spark, sf_dir)
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    return sink


def streaming_purchase_view_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user attribution counts off the REAL stream-stream
    interval join drain (see module docstring): matched
    (purchase, view-within-30min) pairs and the distinct purchases
    they cover, hash-checked against the identical batch join."""
    from .shared_drain import drain_round7_streams
    from .wordcount_stream import _partial_files

    drain_round7_streams(spark, sf_dir)
    sink = _join_drain(spark, sf_dir)
    if not _partial_files(sink):
        return spark.createDataFrame(
            [],
            "user_id BIGINT, n_pairs BIGINT, n_matched_purchases BIGINT",
        )
    pairs = spark.read.parquet(sink)
    return (
        pairs.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("p_event_id").alias("n_matched_purchases"),
        )
    )


STREAMING_JOIN_SQL = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'view'
)
SELECT p.user_id, count(*) AS n_pairs,
       count(DISTINCT p.event_id) AS n_matched_purchases
FROM p JOIN v
  ON v.user_id = p.user_id
 AND v.us >= p.us - {JOIN_WINDOW_MIN} * 60 * 1000000
 AND v.us <= p.us
GROUP BY p.user_id
"""
