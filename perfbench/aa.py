#!/usr/bin/env python3
"""A/A mode: run the same code twice and judge each end-to-end metric
against its bound in BENCHMARK.json.

    python3 perfbench/aa.py --workload analytics_session

Each of the two sets runs ``run.py`` once per seed, 1 .. 10, for
``run_seconds``. For every metric it prints each set's median and spread
(inter-quartile distance over median), and whether

- each spread is within the bound, and below a third of it (the target
  the benchmark is tuned to);
- the two medians differ by no more than the bound, in either
  direction: in an A/A comparison any larger gap is noise.

``--overhead`` also makes one traced run per seed and reports the
tracing overhead: the traced run's end-to-end figures (from its detail
file) against the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import spread  # noqa: E402

RUN_TIMEOUT_S = 180
SEEDS = range(1, 11)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec, workload, seed, seconds, trace) -> dict:
    cmd = [sys.executable, *spec["command"][1:]]
    cmd += ["--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    detail = os.path.join(
        ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json"
    )
    with open(detail) as fh:
        result["detail"] = json.load(fh)
    return result


def judge(spec, first: list[dict], second: list[dict]) -> list[dict]:
    rows = []
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        vals = [[r["metrics"][name]["value"] for r in runs] for runs in (first, second)]
        meds = [statistics.median(v) for v in vals]
        spreads = [spread(v) for v in vals]
        drift = abs(meds[1] - meds[0]) / meds[0]
        rows.append(
            {
                "metric": name,
                "unit": m["unit"],
                "bound": bound,
                "medians": meds,
                "spreads": spreads,
                "drift": drift,
                "spread_ok": max(spreads) <= bound,
                "spread_under_third": max(spreads) < bound / 3,
                "drift_ok": drift <= bound,
            }
        )
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    spec = load_spec()
    seconds = spec["run_seconds"]
    ok = True
    summary = {}
    for wl in args.workload:
        first, second = (
            [run_once(spec, wl, s, seconds, 0) for s in SEEDS] for _ in range(2)
        )
        rows = judge(spec, first, second)
        print(f"== {wl}: 2 sets x {len(SEEDS)} seeds")
        for r in rows:
            meds = " ".join(f"{x:.4g}" for x in r["medians"])
            sprs = " ".join(f"{x:.3f}" for x in r["spreads"])
            flags = "ok" if r["spread_ok"] and r["drift_ok"] else "FAIL"
            if not r["spread_under_third"]:
                flags += " (spread above bound/3)"
            print(
                f"  {r['metric']:<13} {r['unit']:<3} median {meds}  spread {sprs}"
                f"  drift {r['drift']:.3f}  bound {r['bound']}  {flags}"
            )
            ok &= r["spread_ok"] and r["drift_ok"]
        summary[wl] = {
            "rows": rows,
            "runs": [[r["metrics"] for r in runs] for runs in (first, second)],
        }
        if args.overhead:
            traced = [run_once(spec, wl, s, seconds, 1) for s in SEEDS]
            over = {}
            for m in spec["end_to_end"]:
                name = m["name"]
                base = statistics.median(r["metrics"][name]["value"] for r in first)
                tr = statistics.median(t["detail"]["end_to_end"][name] for t in traced)
                over[name] = {"untraced": base, "traced": tr, "overhead": tr - base}
                print(
                    f"  trace overhead {name:<13} {tr - base:+.4g} {m['unit']}"
                    f" ({(tr - base) / base:+.1%})"
                )
            summary[wl]["trace_overhead"] = over
    out = os.path.join(ROOT, ".perfbench_out", "aa-summary.json")
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"summary: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
