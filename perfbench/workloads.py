"""The benchmark workloads and the loop that measures them.

Each workload is a closed loop with one client: the next op starts
when the previous one has finished. A run is

1. set-up: the driver JVM is launched and the session started, as a
   user of ``get_spark`` would (``setup_s``);
2. the cold round: the first pass over the workload's ops;
3. warm rounds until ``--seconds`` have passed since the cold round
   started, and at least ``min_warm`` of them;
4. the check, outside every timer: one result per op is compared with
   its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import bench
from harness import (
    BatchListener,
    RssSampler,
    SparkProbe,
    Tracer,
    percentile,
    retained_mb,
    set_up_session,
    wait_for_listeners,
)

# One bench.HEADLINE entry per operator family, chosen so that every
# layer is reached: scan and tokenize (wordcount), joins and planning
# (q3, q9, sql), shared-stage builds and hits (ngram, tfidf),
# the pandas/Arrow boundary (multimodal_features, in bench.PY_BOUNDARY),
# vectors (knn) and windows (sessionize). All 27 entries, or the slower
# ones, would not fit 22 runs of each workload into the time budget.
# The count is odd: the op median then falls inside the middle entry's
# samples, not in the gap between two entries of different cost.
SESSION_ENTRIES = (
    "wordcount",
    "q3_top_unshipped",
    "q9_profit_by_nation",
    "sql_supplier_argmax",
    "ngram_jaccard_pairs",
    "tfidf_top_terms",
    "multimodal_features",
    "knn_brute_force",
    "sessionize",
)

# The slowest registry entry (ROADMAP A.4): a transformWithStateInPandas
# drain over RocksDB state, with checkpoints, a write-ahead log and a
# sink, re-planned on every micro-batch. At ~17 s per first drain on a
# slow 4-core box it runs once per run, last in the cold round.
STREAM_ENTRY = "streaming_tws_user_profile"

# The paper's reference workload: 130 chunk files, ~13 MB in all.
WC_FILES = 130
WC_BYTES = 13_400_000
# traced runs also time the scan and scan+tokenize prefixes this often
WC_PREFIX_ROUNDS = 5


@dataclass
class RunConfig:
    seed: int
    seconds: float
    trace: bool
    cpus: int
    tables_dir: str  # parquet tables the registry entries read
    docs_path: str  # documents table the word-count corpus is sampled from
    work_dir: str  # temporary space for generated inputs
    corpus_bytes: int = WC_BYTES


@dataclass
class OpResult:
    name: str
    round: int
    ok: bool
    op_s: float = 0.0
    build_s: float = 0.0
    layers: dict = field(default_factory=dict)


# ----------------------------------------------------------- workloads


class Workload:
    """One workload: its ops, how many warm rounds it needs and how its
    results are checked."""

    name = ""
    min_warm = 1
    # op_tail_s percentile over the warm ops, fixed per workload so that
    # a faster program (more ops in a run) is judged at the same
    # percentile; each is the highest with >= 10 samples beyond it at
    # the minimum sample count (22 word counts, 3 x 9 registry entries)
    tail_q = 50

    def __init__(self, cfg: RunConfig):
        self.cfg = cfg
        self.rng = random.Random(cfg.seed)

    def prepare(self) -> None:
        """Generate seeded inputs (untimed, before set-up)."""

    def ops(self, spark, round_no: int) -> list[tuple[str, object]]:
        """(name, build callable) for every op of one round."""
        raise NotImplementedError

    def after_round(self, spark, round_no: int) -> bool:
        """Extra traced measurements after a round, outside its timer;
        True when they ran Spark jobs."""
        return False

    def finish(self, name: str, df) -> None:
        """The op's action: run the query to completion."""
        bench.materialize(df)

    def check(self, spark) -> list[tuple[str, str | None]]:
        """(op name, mismatch message or None) for every checked op."""
        raise NotImplementedError


class WordCount(Workload):
    """read.text -> tokenize_lines -> groupBy(word).count() -> noop over
    130 seeded chunk files, like the reference's file_chunks_130."""

    name = "wordcount_13mb"
    min_warm = 22
    tail_q = 54

    def __init__(self, cfg):
        super().__init__(cfg)
        self.prefixes: dict[str, list[float]] = {"scan": [], "tokenize": []}

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        texts = pq.read_table(self.cfg.docs_path, columns=["text"]).column(0)
        # Hadoop's line reader splits on \n, \r and \r\n; sample whole
        # lines so Spark reads back exactly the lines the oracle sees.
        pool = [
            line
            for t in texts.to_pylist()
            if t
            for line in re.split(r"\r\n|\r|\n", t)
        ]
        lines, size = [], 0
        while size < self.cfg.corpus_bytes:
            line = self.rng.choice(pool)
            lines.append(line)
            size += len(line.encode()) + 1
        self.lines = lines
        self.corpus_mb = size / 1e6
        self.corpus_dir = os.path.join(self.cfg.work_dir, "wc_corpus")
        os.makedirs(self.corpus_dir)
        per = -(-len(lines) // WC_FILES)
        for i in range(WC_FILES):
            chunk = lines[i * per : (i + 1) * per]
            with open(os.path.join(self.corpus_dir, f"chunk_{i:03d}.txt"), "w") as fh:
                fh.write("".join(line + "\n" for line in chunk))

    def pipeline(self, spark, stop: str = "aggregate"):
        from pyspark.sql import functions as F

        from mapreduceece563_spark.functions.text import tokenize_lines

        df = spark.read.text(self.corpus_dir)
        if stop == "scan":
            return df
        words = tokenize_lines(df.withColumnRenamed("value", "text"))
        if stop == "tokenize":
            return words
        return words.groupBy("word").agg(F.count("*").alias("cnt"))

    def ops(self, spark, round_no):
        return [("wordcount_13mb", lambda: self.pipeline(spark))]

    def after_round(self, spark, round_no):
        """Traced runs time the scan and scan+tokenize prefixes of the
        pipeline after the first few warm rounds."""
        if not (self.cfg.trace and 0 < round_no <= WC_PREFIX_ROUNDS):
            return False
        for stop in ("scan", "tokenize"):
            t0 = time.perf_counter()
            bench.materialize(self.pipeline(spark, stop))
            self.prefixes[stop].append(time.perf_counter() - t0)
        return True

    def check(self, spark):
        import duckdb
        import pyarrow as pa

        from mapreduceece563_spark.functions.text import words_cte_sql

        got = {(r["word"], r["cnt"]) for r in self.pipeline(spark).collect()}
        lines = pa.table({"text": self.lines})
        # several record batches, so that DuckDB scans them in parallel
        lines = pa.Table.from_batches(lines.to_batches(max_chunksize=8192))
        con = duckdb.connect()
        try:
            con.register("lines", lines)
            want = set(
                con.execute(
                    "WITH "
                    + words_cte_sql("lines")
                    + " SELECT word, count(*) AS cnt FROM words_f GROUP BY word"
                ).fetchall()
            )
        finally:
            con.close()
        msg = None
        if got != want:
            msg = f"{len(got ^ want)} (word, cnt) pairs differ"
        return [("wordcount_13mb", msg)]


class AnalyticsSession(Workload):
    """``SESSION_ENTRIES`` called through ``registry.queries()``; each
    round runs every entry once in a seeded order. Round 1 is cold and
    builds the shared stages; later rounds hit them. The cold round ends
    with the streaming entry, whose drain is real in a fresh process
    (nothing memoized yet)."""

    name = "analytics_session"
    min_warm = 3
    tail_q = 62

    def __init__(self, cfg):
        super().__init__(cfg)
        from mapreduceece563_spark import registry

        self.entries = (*SESSION_ENTRIES, STREAM_ENTRY)
        self.py_boundary = set(bench.PY_BOUNDARY)
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.results: dict[str, tuple[list[str], list]] = {}

    def ops(self, spark, round_no):
        order = list(SESSION_ENTRIES)
        self.rng.shuffle(order)
        if round_no == 0:
            order.append(STREAM_ENTRY)
        fns = self.queries
        sf = self.cfg.tables_dir
        return [(n, (lambda fn=fns[n]: fn(spark, sf))) for n in order]

    def finish(self, name, df):
        """The client fetches the result; the latest one is checked."""
        self.results[name] = (df.columns, df.collect())

    def check(self, spark):
        from oracle import compare, duck_results

        want = duck_results(self.cfg.tables_dir, {n: self.oracles[n] for n in self.entries})
        out = []
        for name in self.entries:
            if name not in self.results:
                out.append((name, "no successful op to check"))
            elif isinstance(want[name], Exception):
                out.append((name, f"oracle failed: {want[name]!r}"))
            else:
                out.append((name, compare(*self.results[name], want[name])))
        return out


WORKLOADS = {w.name: w for w in (WordCount, AnalyticsSession)}


# --------------------------------------------------------------- runner


def run_op(spark, tracer: Tracer, probe, name, build, finish, round_no, parent) -> OpResult:
    trace = tracer.enabled
    span = tracer.start("op", name, parent)
    res = OpResult(name, round_no, ok=False)
    try:
        if trace:
            spark.sparkContext.setJobGroup(span["span_id"], name)
            rdds_before = set(probe.cached_rdds())
        b = tracer.start("build", name, span["span_id"])
        df = build()
        res.build_s = tracer.end(b)
        if trace:
            p = tracer.start("plan", name, span["span_id"])
            res.layers.update(SparkProbe.plan_phases(df))
            tracer.end(p)
        m = tracer.start("materialize", name, span["span_id"])
        finish(name, df)
        tracer.end(m)
        res.ok = True
    except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
    res.op_s = tracer.end(span, ok=res.ok)
    if trace:
        counters = probe.jobs_since_last()
        counters.update(probe.plans_since_last())
        counters["stage_builds"] = len(set(probe.cached_rdds()) - rdds_before)
        res.layers.update(counters)
        span["attrs"].update(res.layers)
    return res


@dataclass
class RunOutcome:
    setup: dict
    rounds: list[float]
    ops: list[OpResult]
    batches: list[dict]  # micro-batch records of the whole run
    checks: list[tuple[str, str | None]]
    peak_rss_mb: float
    retained_mb: float
    cached_bytes: int
    phases_s: dict[str, float]


def run_workload(wl: Workload, tracer: Tracer) -> RunOutcome:
    cfg = wl.cfg
    root = tracer.start("workload", wl.name, None)
    clock = [time.perf_counter()]
    phases = {}

    def lap(name):
        clock.append(time.perf_counter())
        phases[name] = clock[-1] - clock[-2]

    wl.prepare()
    lap("prepare")
    with RssSampler() as rss:
        spark, setup = set_up_session(cfg.cpus, tracer, root["span_id"])
        lap("setup")
        listener = BatchListener(spark, detailed=cfg.trace)
        probe = SparkProbe(spark) if cfg.trace else None
        if probe:  # skip the set-up jobs
            probe.jobs_since_last()
            probe.plans_since_last()
        rounds, ops = [], []
        t_start = time.perf_counter()
        round_no = 0
        while (
            round_no < 1 + wl.min_warm
            or time.perf_counter() - t_start < cfg.seconds
        ):
            rspan = tracer.start("round", f"round-{round_no}", root["span_id"])
            for name, build in wl.ops(spark, round_no):
                ops.append(run_op(spark, tracer, probe, name, build, wl.finish, round_no, rspan["span_id"]))
            rounds.append(tracer.end(rspan))
            if probe and wl.after_round(spark, round_no):
                probe.jobs_since_last()  # not an op's work
                probe.plans_since_last()
            round_no += 1
        wait_for_listeners(spark.sparkContext)  # all micro-batch events
        batches = listener.take()
        cached = sum(probe.cached_rdds().values()) if probe else 0
        peak = rss.peak_mb
        retained = retained_mb(spark)
    tracer.end(root)
    lap("measure")
    checks = wl.check(spark)
    listener.remove()
    lap("check")
    return RunOutcome(
        setup, rounds, ops, batches, checks, peak, retained, cached, phases
    )


# -------------------------------------------------------------- metrics


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(wl: Workload, out: RunOutcome) -> tuple[dict, dict]:
    """The end-to-end metrics and the extra figures the doc names."""
    lat = [o.op_s for o in out.ops if o.ok and o.round > 0]
    q = wl.tail_q
    attempted = len(out.ops) + len(out.checks)
    failed = sum(not o.ok for o in out.ops) + sum(m is not None for _, m in out.checks)
    metrics = {
        "setup_s": out.setup["total_s"],
        "cold_round_s": out.rounds[0],
        "round_p50_s": _median(out.rounds[1:]),
        "op_p50_s": _median(lat),
        "op_tail_s": percentile(lat, q),
        "retained_mb": out.retained_mb,
    }
    extra = {
        "attempted": attempted,
        "failed": failed,
        "ops_failed_frac": failed / attempted,
        "op_samples": len(lat),
        "op_tail_percentile": q,
        "op_samples_beyond_tail": sum(x > percentile(lat, q) for x in lat),
        "rounds": len(out.rounds),
        "peak_rss_mb": out.peak_rss_mb,
    }
    if isinstance(wl, WordCount):
        extra["corpus_mb"] = wl.corpus_mb
        extra["wc_mb_per_s"] = wl.corpus_mb / metrics["op_p50_s"]
    if isinstance(wl, AnalyticsSession):
        # micro-batch input rows over the streaming entry's op time
        drain = [o.op_s for o in out.ops if o.ok and o.name == STREAM_ENTRY]
        if drain:
            extra["stream_rows_per_s"] = sum(b["input_rows"] for b in out.batches) / drain[0]
    return metrics, extra


E2E_UNITS = {
    "setup_s": "s",
    "cold_round_s": "s",
    "round_p50_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "retained_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.ship_s": "s",
    "session.warmup_s": "s",
    "registry.build_s": "s",
    "registry.build_share": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plan.exchanges": "count",
    "plan.codegen_stages": "count",
    "wc.scan_s": "s",
    "wc.tokenize_s": "s",
    "wc.aggregate_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.failed_tasks": "count",
    "cachemgr.stage_builds": "count",
    "cachemgr.stage_hits": "count",
    "cachemgr.cached_bytes": "B",
    "arrow.exec_s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "B",
}


def per_layer(wl: Workload, out: RunOutcome) -> dict:
    """Per-layer figures of a traced run; a layer the workload does not
    reach reads 0."""
    ok = [o for o in out.ops if o.ok]

    def mean(key):
        vals = [o.layers.get(key, 0) for o in ok]
        return sum(vals) / len(vals) if vals else 0.0

    def med(key):
        return _median([o.layers[key] for o in ok if key in o.layers])

    total_op = sum(o.op_s for o in ok)
    prefixes = getattr(wl, "prefixes", {})
    v = {
        "session.start_s": out.setup["start_s"],
        "session.ship_s": out.setup["ship_s"],
        "session.warmup_s": out.setup["warmup_s"],
        "registry.build_s": _median([o.build_s for o in ok]),
        "registry.build_share": sum(o.build_s for o in ok) / total_op if total_op else 0.0,
        "catalyst.analysis_s": med("analysis_s"),
        "catalyst.optimization_s": med("optimization_s"),
        "catalyst.planning_s": med("planning_s"),
        "plan.exchanges": mean("exchanges"),
        "plan.codegen_stages": mean("codegen_stages"),
        "wc.scan_s": _median(prefixes.get("scan", [])),
        "wc.tokenize_s": _median(prefixes.get("tokenize", [])),
        "wc.aggregate_s": _median([o.op_s for o in ok]) if isinstance(wl, WordCount) else 0.0,
        "exec.s": mean("job_s"),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.spill_bytes": mean("spill_bytes"),
        "exec.failed_tasks": mean("failed_tasks"),
        "cachemgr.stage_builds": sum(o.layers.get("stage_builds", 0) for o in ok),
        "cachemgr.stage_hits": sum(o.layers.get("stage_hits", 0) for o in ok) / len(out.rounds),
        "cachemgr.cached_bytes": out.cached_bytes,
        "arrow.exec_s": _median(
            [o.op_s for o in ok if o.name in getattr(wl, "py_boundary", ())]
        ),
    }
    batches = out.batches  # the run's one drain, in the cold round

    def phase_ms(key):
        return sum(b["duration_ms"].get(key, 0) for b in batches)

    def level(key):
        # state size is a level, not a flow: the largest seen
        return max((sum(s[key] for s in b["state"]) for b in batches), default=0)

    v.update(
        {
            "stream.batches": len(batches),
            "stream.input_rows": sum(b["input_rows"] for b in batches),
            "stream.addBatch_ms": phase_ms("addBatch"),
            "stream.queryPlanning_ms": phase_ms("queryPlanning"),
            "stream.walCommit_ms": phase_ms("walCommit"),
            "stream.commitOffsets_ms": phase_ms("commitOffsets"),
            "stream.state_commit_ms": sum(s["commit_ms"] for b in batches for s in b["state"]),
            "stream.state_rows": level("rows"),
            "stream.state_mem_bytes": level("mem_bytes"),
        }
    )
    return v
