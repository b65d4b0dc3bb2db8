"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (one traced run per workload at sf0.001,
about a minute each); the rest are pure Python.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from harness import SPAN_KEYS, SPAN_KINDS, Tracer, percentile, plan_shape, spread  # noqa: E402
from oracle import canon  # noqa: E402
from workloads import (  # noqa: E402
    E2E_UNITS,
    PER_LAYER_UNITS,
    SESSION_ENTRIES,
    AnalyticsSession,
    WordCount,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_every_named_metric_has_its_unit():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in SPEC["workloads"]} == {WordCount.name, AnalyticsSession.name}


def test_span_schema_is_pinned():
    assert SPAN_KEYS == ("span_id", "parent_id", "kind", "name", "start_s", "end_s", "attrs")
    assert SPAN_KINDS == ("workload", "setup", "round", "op", "build", "plan", "materialize")
    t = Tracer(enabled=True)
    root = t.start("workload", "w", None)
    op = t.start("op", "q", root["span_id"])
    t.end(op, ok=True)
    t.end(root)
    assert [tuple(s) for s in t.spans] == [SPAN_KEYS, SPAN_KEYS]
    assert t.spans[1]["parent_id"] == t.spans[0]["span_id"]
    assert t.spans[1]["attrs"] == {"ok": True}
    assert all(s["end_s"] >= s["start_s"] for s in t.spans)
    with pytest.raises(ValueError):
        t.start("query", "q", None)


def test_untraced_tracer_keeps_no_spans():
    t = Tracer(enabled=False)
    t.end(t.start("op", "q", None))
    assert t.spans == []


def test_percentile_and_spread():
    xs = [float(x) for x in range(1, 11)]
    assert percentile(xs, 50) == 5.5
    assert percentile(xs, 100) == 10.0
    assert percentile(xs, 0) == 1.0
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert spread(xs) == pytest.approx((8.25 - 2.75) / 5.5)


@pytest.mark.parametrize(
    "wl, n_min",
    [
        (WordCount, WordCount.min_warm),
        (AnalyticsSession, AnalyticsSession.min_warm * len(SESSION_ENTRIES)),
    ],
)
def test_tail_percentile_has_ten_samples_beyond_it(wl, n_min):
    # at the workload's minimum sample count, >= 10 samples lie beyond
    assert n_min * (100 - wl.tail_q) / 100 >= 10


def test_plan_shape_reads_the_final_plan_only():
    desc = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (9)\n"
        "+- == Final Plan ==\n"
        "   * HashAggregate (4)\n"
        "   +- ShuffleQueryStage (3)\n"
        "      +- Exchange (2)\n"
        "         +- InMemoryTableScan (1)\n"
        "+- == Initial Plan ==\n"
        "   HashAggregate (6)\n"
        "   +- Exchange (5)\n"
        "\n\n"
        "(4) HashAggregate [codegen id : 2]\n"
        "(7) Project [codegen id : 1]\n"
    )
    assert plan_shape(desc) == {"exchanges": 1, "codegen_stages": 2, "stage_hits": 1}


def test_canon_is_type_strict():
    assert canon(1) != canon(decimal.Decimal(1))
    assert canon(1) != canon(1.0)
    assert canon(0.1 + 0.2) == canon(0.3)
    assert canon(datetime.datetime(2020, 1, 1)) == "t:2020-01-01T00:00:00"
    assert canon(None) < canon("a")


def _run(workload, trace, cwd=ROOT, extra=()):
    cmd = [
        sys.executable,
        os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--scale", "sf0.001", *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_refuses_to_run_without_the_engine(tmp_path):
    # a directory holding only the benchmark: no engine to measure
    (tmp_path / "perfbench").symlink_to(BENCH, target_is_directory=True)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics_session",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.parametrize("workload", [WordCount.name, AnalyticsSession.name])
def test_seeded_smoke_run(workload):
    proc = _run(workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    assert {k: v["unit"] for k, v in line["metrics"].items()} == PER_LAYER_UNITS
    out = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed5-trace1")
    with open(out + ".json") as fh:
        detail = json.load(fh)
    assert detail["extra"]["ops_failed_frac"] == 0
    assert set(detail["end_to_end"]) == set(E2E_UNITS)
    assert all(v > 0 for v in detail["end_to_end"].values())
    with open(out + ".spans.json") as fh:
        spans = json.load(fh)
    assert spans and all(tuple(s) == SPAN_KEYS for s in spans)
    kinds = {s["kind"] for s in spans}
    assert {"workload", "setup", "round", "op", "build", "plan", "materialize"} <= kinds
