"""Session cache lifecycle (mapreduceece563_spark/cachemgr.py): the
release path frees every cached stage, concurrent callers build a
memo once, stale applications are pruned, and no module keeps a memo
or a persist of its own."""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

from mapreduceece563_spark import cachemgr
from mapreduceece563_spark.operators import dedup, ngrams
from tests.conftest import SF_DIR


def _cached_rdd_ids(spark) -> list[int]:
    return [i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()]


def _start_empty(spark) -> None:
    """Release every tracked frame, then unpersist what earlier tests'
    iterative loops left behind (local checkpoints that no memo holds
    once the release has run), so each test starts with no cached
    RDD whatever ran before it."""
    cachemgr.release_session_caches()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    assert _cached_rdd_ids(spark) == []


def test_release_leaves_no_cached_rdd(spark):
    _start_empty(spark)
    for stage in (
        dedup.doc_shingle_hashes,
        dedup.minhash_signatures,
        dedup.df_capped_pair_stats,
        ngrams._tf_stage,
    ):
        stage(spark, SF_DIR).count()
    assert len(_cached_rdd_ids(spark)) >= 4
    assert cachemgr.release_session_caches() >= 4
    assert _cached_rdd_ids(spark) == []


def test_concurrent_callers_build_once(spark, monkeypatch):
    _start_empty(spark)
    builds = []
    load_table = dedup.load_table

    def slow_load_table(*args, **kwargs):
        builds.append(args[2])
        time.sleep(0.2)  # widen the check-then-build window
        return load_table(*args, **kwargs)

    monkeypatch.setattr(dedup, "load_table", slow_load_table)
    with ThreadPoolExecutor(6) as pool:
        frames = list(
            pool.map(lambda _: dedup.doc_shingle_hashes(spark, SF_DIR), range(6))
        )
    assert builds == ["documents"]
    assert all(f is frames[0] for f in frames)
    frames[0].count()
    assert len(_cached_rdd_ids(spark)) == 1
    cachemgr.release_session_caches()


def test_stale_app_entries_pruned_on_insert(spark, monkeypatch):
    @cachemgr.session_memo
    def probe(session, x):
        return f"built {x}"

    stale = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stale"))
    probe(stale, 1)
    assert probe.peek(stale, 1) == "built 1"
    probe(spark, 1)
    assert probe.peek(stale, 1) is None
    assert probe.peek(spark, 1) == "built 1"

    # stage() prunes the same way
    monkeypatch.setattr(cachemgr, "_app_id", lambda df: "stale")
    old = cachemgr.stage(spark.range(3))
    monkeypatch.undo()
    cachemgr.stage(spark.range(4))
    app = spark.sparkContext.applicationId
    assert [a for a, _ in cachemgr._STAGED] == [app] * len(cachemgr._STAGED)
    old.unpersist()
    cachemgr.release_session_caches()


def test_memos_and_persists_only_in_cachemgr():
    """Every session memo goes through cachemgr.session_memo: no
    module-level _*_CACHE dict, raw .persist( or track_memo elsewhere
    in the package."""
    pkg = Path(__file__).resolve().parents[1] / "mapreduceece563_spark"
    pattern = re.compile(r"^_[A-Z_]*CACHE\b|\.persist\(|track_memo")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "cachemgr.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
