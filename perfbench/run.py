#!/usr/bin/env python3
"""Benchmark entry point: run one workload, check its outputs against
DuckDB, and print one JSON line of metrics as the last line of stdout.

    python3 perfbench/run.py --workload analytics_session --seed 7 \
        --seconds 20 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is the traced run and prints the per-layer
metrics. Both write a detail file (and the traced run its spans) under
``.perfbench_out/``. The exit code is 0 only when every op ran and
every output matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALES = {
    # tables the registry entries read, and the word-count corpus size
    "sf0.01": ("sf0.01", 13_400_000),
    "sf0.001": ("sf0.001", 1_340_000),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--driver-memory",
        default="4g",
        help="driver JVM heap; keep it well below physical RAM",
    )
    ap.add_argument(
        "--scale",
        choices=sorted(SCALES),
        default="sf0.01",
        help="sf0.001 is the smoke-test scale",
    )
    return ap.parse_args(argv)


def configure_env(work_dir: str, driver_memory: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout, and size the
    session to this box. Must run before pyspark starts the JVM."""
    os.environ["TMPDIR"] = work_dir
    os.environ["SPARK_LOCAL_DIRS"] = work_dir
    # JVM-spawned Python runners (transformWithState, Python data
    # sources) import the package through the JVM's PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work_dir} -XX:-UsePerfData'"
        " pyspark-shell"
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreduceece563_spark")):
        print(f"no engine package next to {HERE}", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    # neither module imports pyspark, so the JVM is not started yet
    from harness import Tracer, cpu_times, stop_session
    from workloads import (
        E2E_UNITS,
        PER_LAYER_UNITS,
        WORKLOADS,
        RunConfig,
        end_to_end,
        per_layer,
        run_workload,
    )

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # local[N] with N = the cores this process may use (what
    # `env -u OMP_NUM_THREADS nproc` prints)
    cpus = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    configure_env(work_dir, args.driver_memory, cpus)

    # Anything the JVM prints on fd 1 would break the last-line
    # contract: point fd 1 at stderr and keep the real stdout aside.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf, corpus_bytes = SCALES[args.scale]
    cfg = RunConfig(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cpus=cpus,
        tables_dir=os.path.join(HERE, "data", sf),
        docs_path=os.path.join(HERE, "data", "documents_sf0.1.parquet"),
        work_dir=work_dir,
        corpus_bytes=corpus_bytes,
    )
    tracer = Tracer(enabled=cfg.trace)
    wl = WORKLOADS[args.workload](cfg)
    cpu0 = cpu_times()
    try:
        out = run_workload(wl, tracer)
        e2e, extra = end_to_end(wl, out)
        layers = per_layer(wl, out) if cfg.trace else {}
    finally:
        t_stop = time.perf_counter()
        stop_session()
        shutil.rmtree(work_dir, ignore_errors=True)
    out.phases_s["stop"] = time.perf_counter() - t_stop
    cpu = {k: v - cpu0[k] for k, v in cpu_times().items()}

    mismatches = {n: m for n, m in out.checks if m is not None}
    for name, msg in mismatches.items():
        print(f"oracle mismatch: {name}: {msg}", file=sys.stderr)
    correct = extra["failed"] == 0
    shown = (
        {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
        if cfg.trace
        else {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": {
            "master": f"local[{cpus}]",
            "driver_memory": args.driver_memory,
            "scale": args.scale,
        },
        "end_to_end": e2e,
        "extra": extra,
        "per_layer": layers,
        "phases_s": out.phases_s,
        "box_cpu_s": cpu,
        "rounds_s": out.rounds,
        "ops": [
            {"name": o.name, "round": o.round, "ok": o.ok, "op_s": o.op_s, "build_s": o.build_s}
            for o in out.ops
        ],
        "mismatches": mismatches,
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if cfg.trace:
        with open(os.path.join(out_dir, stem + ".spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    line = {
        "correct": correct,
        "attempted": extra["attempted"],
        "failed": extra["failed"],
        "metrics": shown,
    }
    os.write(real_stdout, (json.dumps(line) + "\n").encode())
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
