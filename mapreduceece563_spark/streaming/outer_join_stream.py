"""Stream-stream LEFT OUTER interval join — the eviction-emission
shape the inner join (join_stream.py) never exercises.

An inner interval join emits a pair the moment the later side
arrives. A LEFT OUTER join additionally owes a null-padded row for
every unmatched left row, and that row can only be emitted when the
WATERMARK proves no matching right row can still arrive — i.e. the
null results are produced by STATE EVICTION, not by data. That makes
outer stream-stream joins the strictest test of watermark plumbing:
a watermark that advances too early emits spurious nulls (rows whose
partner was still unread), one that never advances past the data
loses the tail of unmatched rows forever.

Harness: both sources replay the session-window fixture's
time-ranged chunk layout in explicit mtime order, and BOTH receive
two far-future sentinel rows (user_id = -1) in their own final
micro-batches — the first advances the min-across-sources watermark
past every real purchase's join window, the second triggers the
micro-batch in which those evictions are emitted (outer-join nulls
flush on the batch AFTER the watermark moves). Sentinels are
filtered from the read-back. The drained result must then equal the
batch LEFT JOIN bit-for-bit — which is the losslessness claim.

At 100 TB the plan is the inner join's: state bounded by the
30-minute window per user partition, one shuffle per side on
user_id, append-mode idempotent sink keyed by batch_id. Citing the
reference: its termination sentinel (`reducer_q_empty=999`,
mpi_mapreduce.c:502-504) plays exactly this role — an in-band signal
that no more input exists, converted here into watermark advances.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import session_memo
from ..sources.catalog import load_table
from .join_stream import JOIN_WINDOW_MIN, N_JOIN_CHUNKS, _write_time_ordered_chunks

OUTER_SENTINELS = ("2030-01-01 00:00:00", "2030-01-02 00:00:00")

def _append_sentinels(spark: SparkSession, dest: str) -> None:
    from .wordcount_stream import ReplayOrder

    order = ReplayOrder(dest)
    for s_ts in OUTER_SENTINELS:
        (
            spark.createDataFrame(
                [(-1, s_ts, -1)], "user_id BIGINT, ts STRING, event_id BIGINT"
            )
            .select(
                "user_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "event_id",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(dest)
        )
        order.mark(dest)


# Fixture layout, not a drain memo, like the sibling drains.
@session_memo
def _outer_join_sources(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the (purchases dir, views dir) chunk layouts, sentinels
    appended."""
    from .wordcount_stream import _fresh_workdir

    src_work = _fresh_workdir("stream_outer_src", sf_dir)
    p_src = os.path.join(src_work, "purchases")
    v_src = os.path.join(src_work, "views")
    for d in (p_src, v_src):
        os.makedirs(d, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
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
    _append_sentinels(spark, p_src)
    _append_sentinels(spark, v_src)
    return p_src, v_src


def _start_outer_join(spark: SparkSession, sf_dir: str):
    """Fixture + START (no await, no conf fiddling — caller pins
    spark.sql.shuffle.partitions around the start). Returns
    (query, work dir, sink dir). See shared_drain.
    drain_round7_streams for the concurrent-drain consolidation."""
    from .wordcount_stream import _fresh_workdir

    work = _fresh_workdir("stream_outer_join", sf_dir)
    sink = os.path.join(work, "rows")
    os.makedirs(sink, exist_ok=True)

    p_src, v_src = _outer_join_sources(spark, sf_dir)

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
            >= F.col("p_ts")
            - F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
        )
        & (F.col("v_ts") <= F.col("p_ts")),
        "left_outer",
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
def _outer_join_drain(spark: SparkSession, sf_dir: str) -> str:
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, work, sink = _start_outer_join(spark, sf_dir)
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    return sink


def streaming_outer_join_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user attribution WITH the unmatched tail: purchase count,
    matched (purchase, view-within-30min) pairs, and the purchases no
    view preceded — the rows only a correct watermark eviction can
    produce (see module docstring). Sentinels filtered here."""
    from .shared_drain import drain_round7_streams
    from .wordcount_stream import _partial_files

    drain_round7_streams(spark, sf_dir)
    sink = _outer_join_drain(spark, sf_dir)
    if not _partial_files(sink):
        return spark.createDataFrame(
            [],
            "user_id BIGINT, n_purchases BIGINT, n_pairs BIGINT,"
            " n_unmatched BIGINT",
        )
    rows = spark.read.parquet(sink).filter(F.col("p_user") >= 0)
    return (
        rows.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count_distinct("p_event_id").alias("n_purchases"),
            F.sum(
                F.col("v_event_id").isNotNull().cast("long")
            ).alias("n_pairs"),
            F.count_distinct(
                F.when(F.col("v_event_id").isNull(), F.col("p_event_id"))
            ).alias("n_unmatched"),
        )
    )


STREAMING_OUTER_JOIN_SQL = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'view'
),
j AS (
  SELECT p.user_id, p.event_id AS p_event_id, v.event_id AS v_event_id
  FROM p LEFT JOIN v
    ON v.user_id = p.user_id
   AND v.us >= p.us - {JOIN_WINDOW_MIN} * 60 * 1000000
   AND v.us <= p.us
)
SELECT user_id,
       count(DISTINCT p_event_id) AS n_purchases,
       CAST(sum(CASE WHEN v_event_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs,
       count(DISTINCT CASE WHEN v_event_id IS NULL THEN p_event_id END)
         AS n_unmatched
FROM j GROUP BY user_id
"""
