"""Measurement plumbing shared by the workloads: session set-up, spans,
Spark tracker readers, the RSS sampler and the statistics.

Everything here observes the engine from outside. It calls the
package's public functions (``session.get_spark``,
``session.ship_package``) and reads Spark's own trackers (status
store, query-planning tracker, ``StreamingQueryListener``); it never
patches the package.
"""

from __future__ import annotations

import math
import os
import re
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field

SPAN_KEYS = ("span_id", "parent_id", "kind", "name", "start_s", "end_s", "attrs")
SPAN_KINDS = ("workload", "setup", "round", "op", "build", "plan", "materialize")


# ---------------------------------------------------------------- stats


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# ---------------------------------------------------------------- spans


@dataclass
class Tracer:
    """In-memory spans, written out once at the end of a traced run.

    With ``enabled=False`` every call is a no-op apart from the clock
    read, so the untraced run pays nothing for the span tree."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _next: int = 0
    _t0: float = field(default_factory=time.perf_counter)

    def start(self, kind: str, name: str, parent: str | None) -> dict:
        if kind not in SPAN_KINDS:
            raise ValueError(f"unknown span kind {kind!r}")
        self._next += 1
        span = {
            "span_id": f"s{self._next}",
            "parent_id": parent,
            "kind": kind,
            "name": name,
            "start_s": time.perf_counter() - self._t0,
            "end_s": None,
            "attrs": {},
        }
        if self.enabled:
            self.spans.append(span)
        return span

    def end(self, span: dict, **attrs) -> float:
        span["end_s"] = time.perf_counter() - self._t0
        span["attrs"].update(attrs)
        return span["end_s"] - span["start_s"]


# ----------------------------------------------------------- resources


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _mem_kb(pid: int, path: str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def cpu_times() -> dict[str, float]:
    """Box-wide CPU seconds from /proc/stat. ``steal`` is time this VM
    wanted to run but its host ran something else: a run with a lot of
    it was measured on a contended box."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / hz,
        "idle": (f[3] + f[4]) / hz,
        "steal": f[7] / hz,
    }


class RssSampler:
    """Peak resident memory of this process plus its whole process tree
    (the driver JVM and its Python workers), sampled on a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_mem_kb(p, "status", "VmRSS:") for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- session


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def warmup(spark) -> None:
    """One tiny JVM-side job, so the first measured op does not pay for
    task-launch threads and the first codegen of the session."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 100_000, numPartitions=n).selectExpr("sum(id)").collect()


def set_up_session(cpus: int, tracer: Tracer, parent: str):
    """Launch the driver JVM and start the session, as a user of
    ``get_spark`` would: ``get_spark`` (which launches the JVM) +
    ``ship_package`` + :func:`warmup`. Returns the session and the
    layer timings."""
    from mapreduceece563_spark.session import get_spark, ship_package

    span = tracer.start("setup", "setup", parent)
    spark, start_s = _timed(get_spark, "perfbench", cpus)
    _, ship_s = _timed(ship_package, spark)
    _, warm_s = _timed(warmup, spark)
    total = tracer.end(span, start_s=start_s, ship_s=ship_s, warmup_s=warm_s)
    return spark, {"total_s": total, "start_s": start_s, "ship_s": ship_s, "warmup_s": warm_s}


def stop_session() -> None:
    """Stop the active session, end the py4j gateway JVM and wait for
    it, so no process this run started outlives it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM's Python workers exit once their JVM has gone
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


# ------------------------------------------------------ spark trackers


def wait_for_listeners(sc) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store and the streaming listener are up to date."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def plan_shape(description: str) -> dict:
    """Exchanges, whole-stage-codegen stages and cached-stage scans in
    one formatted physical plan (only its final plan, under AQE)."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return {
        "exchanges": len(re.findall(r"Exchange \(\d+\)", tree)),
        "codegen_stages": len(set(re.findall(r"\[codegen id : (\d+)\]", description))),
        "stage_hits": len(re.findall(r"InMemoryTableScan \(\d+\)", tree)),
    }


def retained_mb(spark) -> float:
    """Memory the session holds after its work: the driver JVM's heap
    in use after a full GC plus its non-heap in use, plus the
    proportional set size of every Python process in the tree (the
    driver and the workers, whose forked pages count once).

    Unlike peak RSS, which follows the collector's heap-growth
    decisions, this follows what the program keeps: cached stages,
    memos, state stores and idle workers."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    me = os.getpid()
    py_kb = sum(
        _mem_kb(p, "smaps_rollup", "Pss:") for p in [me, *descendants(me)] if not _is_jvm(p)
    )
    return jvm_bytes / 2**20 + py_kb / 1024


class SparkProbe:
    """Reads Spark's own trackers around one op.

    Jobs are attributed to an op by job id: ops run one at a time, so
    the jobs submitted between the op's start and end are its jobs.
    That also covers micro-batch jobs, which run under the streaming
    query's own job group rather than the op's."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.next_execution = 0


    def _job(self, job_id: int):
        try:
            return self.store.job(job_id)
        except Exception:  # NoSuchElementException across py4j
            return None

    def jobs_since_last(self) -> dict:
        """Counters of the jobs submitted since the previous call."""
        wait_for_listeners(self.sc)
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "job_s": 0.0,
        }
        while True:
            jd = self._job(self.next_job)
            if jd is None:
                break
            self.next_job += 1
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1000
            ids = jd.stageIds()
            for i in range(ids.length()):
                try:
                    sd = self.store.lastStageAttempt(ids.apply(i))
                except Exception:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def plans_since_last(self) -> dict:
        """Shape of the final physical plans of the SQL executions since
        the previous call, as Spark's SQL status store keeps them (with
        AQE, the plan that actually ran, including noop writes and
        micro-batches, whose plans a DataFrame handle never shows)."""
        out = {"executions": 0, "exchanges": 0, "codegen_stages": 0, "stage_hits": 0}
        n = self.sql_store.executionsCount()
        if n > self.next_execution:
            execs = self.sql_store.executionsList(self.next_execution, n - self.next_execution)
            for i in range(execs.length()):
                shape = plan_shape(execs.apply(i).physicalPlanDescription())
                out["executions"] += 1
                for key, value in shape.items():
                    out[key] += value
        self.next_execution = n
        return out

    def cached_rdds(self) -> dict[int, int]:
        """rdd id -> cached bytes (memory + disk) for every persisted RDD."""
        return {
            r.id(): r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo()
        }

    @staticmethod
    def plan_phases(df) -> dict:
        """Optimise and plan ``df`` and read the phase durations that
        Spark's QueryPlanningTracker recorded (analysis ran eagerly when
        the DataFrame was built)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            ph = phases.get(name)
            out[name + "_s"] = ph.get().durationMs() / 1000 if ph.isDefined() else 0.0
        return out


class BatchListener:
    """Collects every micro-batch progress event of the session.

    Untraced runs keep only what the end-to-end metrics need (batch
    latency and input rows); traced runs also keep the per-phase
    ``durationMs`` and the ``stateOperators``."""

    def __init__(self, spark, detailed: bool):
        from pyspark.sql.streaming import StreamingQueryListener

        batches: list[dict] = []
        lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch_s": p.durationMs.get("triggerExecution", 0) / 1000,
                    "input_rows": p.numInputRows,
                }
                if detailed:
                    rec["duration_ms"] = dict(p.durationMs)
                    rec["state"] = [
                        {
                            "commit_ms": s.commitTimeMs,
                            "rows": s.numRowsTotal,
                            "mem_bytes": s.memoryUsedBytes,
                        }
                        for s in p.stateOperators
                    ]
                with lock:
                    batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.batches = batches
        self._lock = lock
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches[:] = list(self.batches), []
        return out

    def remove(self) -> None:
        self.spark.streams.removeListener(self._listener)
