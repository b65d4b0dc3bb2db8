"""One shared multi-micro-batch drain for the three event-based
streaming entries (VERDICT r3 ask #7).

streaming_user_profile / streaming_events_hourly / streaming_dedup
are three DIFFERENT stateful operators (applyInPandasWithState,
update-mode windowed agg, dropDuplicatesWithinWatermark), so they
cannot be one streaming query — but nothing forces them to drain the
source serially. This module starts all three queries CONCURRENTLY
on the session and awaits them together, so one registry pass pays
max(drain) instead of sum(drain) (~16 s -> ~7 s per bench pass at
sf0.1). Each query keeps its own checkpoint, sink dir, and the exact
operator graph it had as a standalone run — the hard streaming
signal is unchanged, only the wall-clock overlap is new.

The drain is memoized per (application, sf_dir): the first of the
three entries to run in a pass executes it, the other two find their
sinks already written. ``reset()`` clears every drain memo; bench.py
calls it between passes so every pass re-measures a real drain.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import clear_drain_memos, session_memo
from ..operators.relational import _cents
from ..sources.catalog import load_table
from .stateful import running_user_profile
from .wordcount_stream import _fresh_workdir, spill_chunks

# True while pin_shuffle_partitions() holds the session conf. The two
# pool-drain helpers each save/set/restore shuffle.partitions around
# their query starts; when bench.py runs both helpers in concurrent
# threads, one helper's finally-restore could flip the conf while the
# other was still starting queries, and a helper could capture the
# other's transient "8" as its prev (ADVICE r12). With the pin held
# the helpers skip their own conf mutation entirely, so there is one
# save/set/restore for the whole block, on one thread.
_PARTS_PINNED = False


@contextlib.contextmanager
def pin_shuffle_partitions(spark: SparkSession, n: str = "8"):
    """Pin spark.sql.shuffle.partitions for the duration of the block
    and mark the pin so nested drain helpers — possibly running on
    other threads — skip their own save/set/restore."""
    global _PARTS_PINNED
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    _PARTS_PINNED = True
    try:
        yield
    finally:
        _PARTS_PINNED = False
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def reset() -> None:
    """Forget completed drains (bench.py calls this between passes so
    each pass times a real concurrent drain, not a sink read-back)."""
    clear_drain_memos()


def drain_round7_streams(spark: SparkSession, sf_dir: str) -> None:
    """Concurrent drain for the four round-7 streaming entries
    (VERDICT r9 ask #3): streaming_static_enrichment,
    streaming_sliding_windows, streaming_purchase_view_join, and
    streaming_outer_join_attribution each used to pay a solo drain
    (2.0 + 2.3 + 5.0 + 6.9 s per bench pass at sf0.1). Like
    drain_event_streams, they are four different operator graphs that
    cannot be one streaming query — but nothing forces their drains
    to run serially. Start whichever are still undrained
    CONCURRENTLY and await them together, populating each module's
    own memo, so a registry pass pays max(drain) instead of
    sum(drain). Each query keeps the exact operator graph, fixture,
    checkpoint, and sink it had as a standalone run — the hard
    streaming signal is unchanged, only the wall-clock overlap is
    new. reset() clears the same memos it always did, so bench.py
    still re-measures a real (now concurrent) drain per pass."""
    from . import (
        enrich_stream,
        join_stream,
        outer_join_stream,
        psi_stream,
        windowed_stream,
    )

    # the pool grew in round 10: the PSI monitor drains concurrently
    # with the four round-7 entries (same memo/reset discipline)
    starters = [
        (start, memo)
        for start, memo in (
            (psi_stream._start_psi, psi_stream._psi_drain),
            (enrich_stream._start_enrich, enrich_stream._enrich_drain),
            (windowed_stream._start_sliding, windowed_stream._sliding_drain),
            (join_stream._start_join, join_stream._join_drain),
            (
                outer_join_stream._start_outer_join,
                outer_join_stream._outer_join_drain,
            ),
        )
        if memo.peek(spark, sf_dir) is None
    ]
    if not starters:
        return

    # Same state-partitioning note as drain_event_streams: pin 8
    # around the starts (a query captures its state partitioning when
    # it starts), restore only after every drain finished. Skipped
    # when bench.py already holds pin_shuffle_partitions() around the
    # whole concurrent-drain block (see _PARTS_PINNED).
    pinned = _PARTS_PINNED
    prev_parts = None
    if not pinned:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    started = []
    try:
        for start, memo in starters:
            started.append((start(spark, sf_dir), memo))
        for (q, _work, _sink), _memo in started:
            q.awaitTermination()
    finally:
        if not pinned:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    for (q, work, sink), memo in started:
        shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
        memo.seed(spark, sf_dir, value=sink)


@session_memo(drain=True)
def drain_event_streams(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Drain the three event streams concurrently; returns
    {"profile": dir, "hourly": dir, "dedup": dir}."""
    work = _fresh_workdir("shared_events", sf_dir)
    dirs = {
        name: os.path.join(work, name)
        for name in ("profile", "hourly", "dedup")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    # A streaming query pins its state partitioning from the session
    # conf at START. The fixture state (users/windows/event ids at
    # test SF) doesn't need 32 state-store instances per operator per
    # micro-batch — 8 quarters the per-batch checkpoint+commit I/O the
    # three concurrent queries contend on. Restored right after start;
    # a real deployment sizes this to key cardinality instead.
    pinned = _PARTS_PINNED
    prev_parts = None
    if not pinned:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    src = spill_chunks(ev, sf_dir, "events_shared")
    dd = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    src_doubled = spill_chunks(dd.union(dd), sf_dir, "ev_doubled")

    queries = []

    # 1) custom stateful per-user profile (applyInPandasWithState),
    #    update-mode emissions tagged by batch_id.
    profile_stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    profile = running_user_profile(profile_stream)
    prof_dir = dirs["profile"]

    def prof_sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(prof_dir, f"batch_id={batch_id}")
        )

    queries.append(
        profile.writeStream.foreachBatch(prof_sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt_profile"))
        .trigger(availableNow=True)
        .start()
    )

    # 2) update-mode hourly windowed aggregation.
    hourly_stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    hourly = (
        hourly_stream.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("_vc"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            (F.col("_vc") / 100.0).alias("value_sum"),
        )
    )
    hourly_dir = dirs["hourly"]

    def hourly_sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(hourly_dir, f"batch_id={batch_id}")
        )

    queries.append(
        hourly.writeStream.foreachBatch(hourly_sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt_hourly"))
        .trigger(availableNow=True)
        .start()
    )

    # 3) watermarked exact dedup of the deliberately doubled stream.
    dedup_stream = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, event_type STRING"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src_doubled)
    )
    deduped = dedup_stream.withWatermark(
        "ts", "3650 days"
    ).dropDuplicatesWithinWatermark(["event_id"])
    dedup_dir = dirs["dedup"]

    def dedup_sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .write.mode("overwrite")
            .parquet(os.path.join(dedup_dir, f"batch_id={batch_id}"))
        )

    queries.append(
        deduped.writeStream.foreachBatch(dedup_sink)
        .option("checkpointLocation", os.path.join(work, "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )

    try:
        for q in queries:
            q.awaitTermination()
    finally:
        # restore only after the drain: a query plans its first
        # micro-batch lazily, so flipping the conf back any earlier
        # could race the state-partitioning capture
        if not pinned:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    for name in ("profile", "hourly", "dedup"):
        shutil.rmtree(os.path.join(work, f"ckpt_{name}"), ignore_errors=True)
    return dirs
