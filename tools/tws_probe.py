#!/usr/bin/env python
"""Per-micro-batch breakdown of the transformWithState drain
(VERDICT r13 ask #8): where do streaming_tws_user_profile's ~6 s go —
Arrow/state-server work, RocksDB commits, or micro-batch machinery?

Instruments the drain with the structured progress Spark already
emits (query.recentProgress: durationMs phases + stateOperators
commit/checkpoint times) instead of guessing from wall clocks.
Optionally applies extra session confs (--conf k=v) so state-store
knobs can be A/B'd with the same harness.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreduceece563_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("tws-probe")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)

    from mapreduceece563_spark.streaming import stateful

    # monkey-wrap the drain's awaitTermination point: easiest is to
    # run the drain, then read progress off the LAST query via the
    # active listener-free API — but the query ends inside _tws_drain,
    # so capture progress with a listener instead.
    progresses: list[dict] = []

    from pyspark.sql.streaming import StreamingQueryListener

    class Cap(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progresses.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Cap())

    for i in range(args.runs):
        stateful._tws_drain.clear()
        t0 = time.perf_counter()
        sink = stateful._tws_drain(spark, args.sf_dir)
        wall = round(time.perf_counter() - t0, 3)
        print(f"run {i}: drain wall {wall} s -> {sink}", file=sys.stderr)

    # settle the async listener bus before reading captures
    time.sleep(2)
    out = []
    for p in progresses:
        so = (p.get("stateOperators") or [{}])[0]
        out.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p.get("durationMs"),
                "state_commitTimeMs": so.get("commitTimeMs"),
                "state_timeToUpdateMs": so.get("allUpdatesTimeMs"),
                "state_numKeys": so.get("numRowsTotal"),
                "state_customMetrics": {
                    k: v
                    for k, v in (so.get("customMetrics") or {}).items()
                    if "Time" in k or "time" in k or "Duration" in k
                },
            }
        )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
