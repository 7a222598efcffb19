"""Kill/resume determinism (north rule): a crawl interrupted after k
rounds and resumed by a fresh engine converges to tables identical to
an uninterrupted run."""

from __future__ import annotations

import tempfile

import pytest

from pygeodatacrawler_spark.fixtures import load_pages
from pygeodatacrawler_spark.plans.crawl import CrawlEngine

N_PAGES = 400
N_HOSTS = 6
BUDGET = 20


def _final_state(spark, pages, seeds, robots, interrupt: bool, resume_levels=1):
    """Final (visits, frontier, records) and committed lineage rounds."""
    with tempfile.TemporaryDirectory() as tmp:
        eng = CrawlEngine(spark, tmp, pages, robots, host_budget=BUDGET)
        eng.init_from_seeds(seeds)
        if interrupt:
            eng.run(max_rounds=2)  # "killed" after 2 committed rounds
            eng2 = CrawlEngine(
                spark, tmp, pages, robots, host_budget=BUDGET,
                levels_per_commit=resume_levels,
            )
            eng2.run(max_rounds=50)
            final = eng2
        else:
            eng.run(max_rounds=50)
            final = eng
        return _collect_state(final), _lineage_rounds(final)


def _lineage_rounds(eng):
    return [l["round"] for l in eng._read_lineage() if l["round"] >= 0]


@pytest.fixture(scope="module")
def inputs(spark):
    return load_pages(spark, n_pages=N_PAGES, n_hosts=N_HOSTS)


@pytest.fixture(scope="module")
def full(spark, inputs):
    return _final_state(spark, *inputs, interrupt=False)


def test_resume_is_deterministic(spark, inputs, full):
    # levels_per_commit=2 is what older callers pass; it is accepted and
    # ignored, so a resumed crawl still commits one round per line
    for levels in (1, 2):
        resumed, rounds = _final_state(
            spark, *inputs, interrupt=True, resume_levels=levels
        )
        assert full[0][0] == resumed[0], levels  # visit order
        assert full[0][1] == resumed[1], levels  # frontier states
        assert full[0][2] == resumed[2], levels  # records + text hashes
        assert rounds == list(range(len(rounds))), levels


def test_reseed_restarts_crawl(spark, inputs, full):
    """Re-seeding a used workdir starts a new crawl from round 0: its
    tables equal a crawl in a fresh workdir."""
    pages, seeds, robots = inputs
    with tempfile.TemporaryDirectory() as tmp:
        eng = CrawlEngine(spark, tmp, pages, robots, host_budget=BUDGET)
        eng.init_from_seeds(seeds)
        eng.run(max_rounds=2)
        eng.init_from_seeds(seeds)
        stats = eng.run(max_rounds=50)
        assert _collect_state(eng) == full[0]
        assert _lineage_rounds(eng) == full[1]
        assert stats.rounds == len(full[1])
        assert stats.urls_fetched == len(full[0][2])


def test_resume_round_honours_legacy_levels(spark, inputs, tmp_path):
    """Lineage lines that earlier versions wrote for rounds fusing N BFS
    levels carry ``levels``; resume continues after all N of them."""
    pages, _, robots = inputs
    eng = CrawlEngine(spark, str(tmp_path), pages, robots, host_budget=BUDGET)
    (tmp_path / "lineage.jsonl").write_text(
        '{"round": -1, "frontier_v": 1, "records_v": 1}\n'
        '{"round": 0, "levels": 2, "frontier_v": 2, "records_v": 2}\n'
    )
    assert eng.resume_round() == 2


class _Boom(RuntimeError):
    pass


def _crash_mid_round(spark, pages, seeds, robots, tmp, crash_point: str):
    """Run 1 clean round, then crash round 2 mid-commit: either after
    the records append but before the frontier merge ('after_records')
    or after both table writes but before the lineage line
    ('before_lineage') — the two non-atomic windows ADVICE.md flags."""
    eng = CrawlEngine(spark, tmp, pages, robots, host_budget=BUDGET)
    eng.init_from_seeds(seeds)
    eng.run(max_rounds=1)

    crasher = CrawlEngine(spark, tmp, pages, robots, host_budget=BUDGET)
    if crash_point == "after_records":
        crasher.frontier.merge_upsert = lambda *a, **k: (_ for _ in ()).throw(
            _Boom()
        )
    else:
        orig = crasher._append_lineage

        def _boom(line):
            if line["round"] >= 1:
                raise _Boom()
            orig(line)

        crasher._append_lineage = _boom
    try:
        crasher.run(max_rounds=5)
    except _Boom:
        pass
    else:  # pragma: no cover
        raise AssertionError("crash did not fire")


def _collect_state(eng):
    vis = sorted(
        (r["round"], r["rank_in_round"], r["canon_url"])
        for r in eng.visits_view().collect()
    )
    fro = sorted((r["url_hash"], r["state"]) for r in eng.frontier.read().collect())
    rec = sorted(
        (r["canon_url"], r["text_sha2"]) for r in eng.records.read().collect()
    )
    return vis, fro, rec


def test_mid_round_crash_replays_identically(spark, inputs, full):
    """A crash between the frontier merge, the records append, and the
    lineage commit must not double-append records or advance frontier
    state for an uncommitted round: reconcile() rolls the partial writes
    back and the replay converges to the uninterrupted run."""
    pages, seeds, robots = inputs
    for crash_point in ("after_records", "before_lineage"):
        with tempfile.TemporaryDirectory() as tmp:
            _crash_mid_round(spark, pages, seeds, robots, tmp, crash_point)
            fresh = CrawlEngine(spark, tmp, pages, robots, host_budget=BUDGET)
            fresh.run(max_rounds=50)
            assert _collect_state(fresh) == full[0], crash_point


def test_incremental_frontier_cache_matches_disk_resolve(spark, inputs):
    # The engine maintains the resolved frontier incrementally
    # (broadcast state-flip + delta union) instead of re-running the
    # merge-on-read window every round; the invariant is that the
    # cached state ALWAYS equals what SnapshotTable.read() resolves
    # from disk — checked here mid-run (between compactions) and at
    # convergence (after at least one compaction refresh).
    pages, seeds, robots = inputs
    with tempfile.TemporaryDirectory() as tmp:
        eng = CrawlEngine(spark, tmp, pages, robots, host_budget=BUDGET)
        eng.frontier.compact_every = 4  # force a compaction mid-run
        eng.init_from_seeds(seeds)
        eng.run(max_rounds=3)
        mid_cache = sorted(map(tuple, eng._frontier_df.collect()))
        mid_disk = sorted(map(tuple, eng.frontier.read().collect()))
        assert mid_cache == mid_disk and len(mid_cache) > 0
        stats = eng.run(max_rounds=50)
        assert stats.rounds > 4  # crossed a compaction refresh
        end_cache = sorted(map(tuple, eng._frontier_df.collect()))
        end_disk = sorted(map(tuple, eng.frontier.read().collect()))
        assert end_cache == end_disk
