"""Round-14 registration queue, built and oracle-tested in round 10.

A streaming hard-signal entry (PSI monitor: the streamed current
epoch's binned counts must reproduce the closed-epoch histogram bit
for bit), MRR@k for the ANN tuning tripod, the event chain's
conditional entropy (the ceiling on any next-event predictor), and
customer-value concentration (Gini over lifetime cents).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_frames_match


# --- streaming_psi_monitor ----------------------------------------------


def test_streaming_psi_matches_batch_oracle(spark, duck):
    from mapreduceece563_spark.streaming import psi_stream as ps

    assert_frames_match(
        ps.streaming_psi_monitor(spark, SF_DIR),
        duck.execute(ps.STREAMING_PSI_SQL),
        ctx="streaming_psi_monitor",
    )


def test_streaming_psi_equals_batch_entry(spark):
    """The stream and the batch entry are the SAME function of the
    events table — row-for-row equality, not just hash parity."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.streaming import psi_stream as ps

    batch = {
        r["event_type"]: tuple(r)
        for r in an.psi_drift_by_type(spark, SF_DIR).collect()
    }
    stream = {
        r["event_type"]: tuple(r)
        for r in ps.streaming_psi_monitor(spark, SF_DIR).collect()
    }
    assert stream == batch


def test_streaming_psi_ran_multiple_batches(spark):
    """The hard-signal premise: the drain actually accumulated state
    across MULTIPLE micro-batches (otherwise the parity is a single
    batch-mode pass in disguise)."""
    import os

    from mapreduceece563_spark.streaming import psi_stream as ps

    ps.streaming_psi_monitor(spark, SF_DIR).collect()
    sink = ps._psi_drain.peek(spark, SF_DIR)
    batches = [d for d in os.listdir(sink) if d.startswith("batch_id=")]
    assert len(batches) >= 2, batches


# --- mrr_at_k -------------------------------------------------------------


def test_mrr_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import similarity as sim

    assert_frames_match(
        sim.mrr_at_k(spark, SF_DIR),
        duck.execute(sim.MRR_AT_K_SQL),
        ctx="mrr_at_k",
    )


def test_mrr_python_model(spark):
    """Recompute MRR from the scaffold's own frames: per (nprobe,
    query) the reciprocal of the first ground-truth hit's rank,
    missing queries contributing zero; and the tuning physics —
    MRR is monotone non-decreasing in nprobe."""
    from mapreduceece563_spark.operators import similarity as sim

    gt, ann, nprobes = sim._ivf_tuning_frames(spark, SF_DIR)
    gtset = {(r["query_id"], r["neighbor_id"]) for r in gt.collect()}
    per = {}
    for r in ann.collect():
        if (r["query_id"], r["neighbor_id"]) in gtset:
            key = (r["nprobe"], r["query_id"])
            per[key] = min(per.get(key, 10**9), r["_rk"])
    probes = [r["nprobe"] for r in nprobes.collect()]
    got = {r["nprobe"]: r for r in sim.mrr_at_k(spark, SF_DIR).collect()}
    assert set(got) == set(probes)
    for p in probes:
        hits = {q: rk for (np_, q), rk in per.items() if np_ == p}
        r = got[p]
        assert r["n_queries_hit"] == len(hits)
        want = sum(1_000_000 // rk for rk in hits.values()) // sim.N_QUERIES
        assert r["mean_rr_ppm"] == want, p
    mrrs = [got[p]["mean_rr_ppm"] for p in sorted(probes)]
    assert mrrs == sorted(mrrs)


# --- event_entropy_rate -----------------------------------------------


def test_entropy_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import mining as mn

    assert_frames_match(
        mn.event_entropy_rate(spark, SF_DIR),
        duck.execute(mn.EVENT_ENTROPY_SQL),
        ctx="event_entropy_rate",
    )


def test_entropy_python_model(spark):
    """Replay the transition histogram and the quantized-term entropy
    in Python; H must sit in [0, ln(n_dests)] + quantization slack,
    and a from_type's predictability_ppm must be consistent with the
    markov accuracy ordering intuition (purely structural checks —
    the exact values are pinned by the oracle hash)."""
    from mapreduceece563_spark.operators import mining as mn
    from mapreduceece563_spark.sources.catalog import load_table

    rows = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    seqs: dict = {}
    for r in rows:
        seqs.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    cells: dict = {}
    for evs in seqs.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            cells[(a, b)] = cells.get((a, b), 0) + 1
    row_n: dict = {}
    for (a, _), n in cells.items():
        row_n[a] = row_n.get(a, 0) + n
    n_types = len({b for _, b in cells})
    got = {
        r["from_type"]: r
        for r in mn.event_entropy_rate(spark, SF_DIR).collect()
    }
    assert set(got) == set(row_n)
    for a, tot in row_n.items():
        h = 0
        dests = 0
        for (x, _b), n in cells.items():
            if x != a:
                continue
            dests += 1
            p = n / tot
            h += int(round(-p * math.log(p) * 1000))
        r = got[a]
        assert (r["n_transitions"], r["n_destinations"]) == (tot, dests)
        assert r["h_millinat"] == h
        if n_types >= 2:
            want = 1_000_000 - int(
                round(h / (math.log(n_types) * 1000) * 1_000_000)
            )
            assert r["predictability_ppm"] == want
        # entropy is bounded by the log of the destination count
        # (quantization adds at most 1 milli-nat per cell)
        assert 0 <= h <= int(math.log(max(dests, 2)) * 1000) + dests


def test_entropy_single_user_window(spark):
    """Invariant pin: the only window is the per-user lead()."""
    import re

    from mapreduceece563_spark.operators import mining as mn
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(mn.event_entropy_rate(spark, SF_DIR), "simple")
    wspecs = re.findall(r"windowspecdefinition\(([^,#]*)", p)
    assert wspecs and all(k == "user_id" for k in wspecs), wspecs


# --- customer_value_gini -----------------------------------------------


def test_value_gini_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import lifecycle as lc

    assert_frames_match(
        lc.customer_value_gini(spark, SF_DIR),
        duck.execute(lc.CUSTOMER_VALUE_GINI_SQL),
        ctx="customer_value_gini",
    )


def test_value_gini_python_model(spark):
    """Definitional replay: sort each segment's lifetime values and
    use gini = (2*sum(i*x_i) - (n+1)*s) / (n*s) directly — the
    histogram identity must agree exactly, and gini must sit in
    [0, 1e6)."""
    from mapreduceece563_spark.operators import lifecycle as lc
    from mapreduceece563_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("c"),
    ).collect()
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF_DIR, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    ltv: dict = {}
    for r in orders:
        ltv[r["o_custkey"]] = ltv.get(r["o_custkey"], 0) + r["c"]
    by_seg: dict = {}
    for ck, v in ltv.items():
        by_seg.setdefault(seg[ck], []).append(v)
    got = {
        r["segment"]: r
        for r in lc.customer_value_gini(spark, SF_DIR).collect()
    }
    assert set(got) == set(by_seg)
    for s, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        tot = sum(vals)
        w2 = 2 * sum((i + 1) * x for i, x in enumerate(vals))
        want = (w2 - (n + 1) * tot) * 1_000_000 // max(n * tot, 1)
        r = got[s]
        assert (r["n_customers"], r["total_cents"]) == (n, tot)
        assert r["gini_ppm"] == want, s
        assert 0 <= r["gini_ppm"] < 1_000_000


def test_value_gini_is_histogram_granular(spark):
    """Invariant pin: windows slide over the (segment, value)
    histogram only."""
    import re

    from mapreduceece563_spark.operators import lifecycle as lc
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(lc.customer_value_gini(spark, SF_DIR), "simple")
    wspecs = re.findall(r"windowspecdefinition\(([^,#]*)", p)
    assert wspecs and all(k == "segment" for k in wspecs), wspecs


# --- empty-table behavior, all four --------------------------------------


def test_queue_r14_on_empty_tables(spark, tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    from mapreduceece563_spark.operators import lifecycle as lc
    from mapreduceece563_spark.operators import mining as mn
    from mapreduceece563_spark.operators import similarity as sim
    from mapreduceece563_spark.sources.catalog import TABLES
    from mapreduceece563_spark.streaming import psi_stream as ps

    d = tmp_path / "empty_sf"
    d.mkdir()
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

    for name, fn, sql in [
        (
            "streaming_psi_monitor",
            ps.streaming_psi_monitor,
            ps.STREAMING_PSI_SQL,
        ),
        ("mrr_at_k", sim.mrr_at_k, sim.MRR_AT_K_SQL),
        ("event_entropy_rate", mn.event_entropy_rate, mn.EVENT_ENTROPY_SQL),
        (
            "customer_value_gini",
            lc.customer_value_gini,
            lc.CUSTOMER_VALUE_GINI_SQL,
        ),
    ]:
        assert_frames_match(
            fn(spark, str(d)), con.execute(sql), ctx=f"empty:{name}"
        )
