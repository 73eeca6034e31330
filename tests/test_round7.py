"""Round-7 optimization pins: round double-buffering (speculative fused
stage) equivalence + invalidation, and the compact-cadence frontier_rows
re-sync driven through a FULL crawl (VERDICT r06 next #5)."""

from __future__ import annotations

import os

import pytest
from conftest import make_engine, with_retryables

from board_game_scraper_spark import schemas, synth
from board_game_scraper_spark.plans.crawl import CrawlEngine


# ------------------------------------------- double-buffering equivalence

def _crawl_all(spark, pages_pd, seeds_pd, tmp, spec_off, monkeypatch,
               rounds=8, **kw):
    if spec_off:
        # the reference run never launches a speculative fused stage
        monkeypatch.setattr(CrawlEngine, "_launch_speculation",
                            lambda *a, **k: None)
    eng = make_engine(spark, pages_pd, tmp, window_sec=1e6, **kw)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    metrics = eng.crawl(rounds)
    frontier_rows = eng.frontier.read().count()
    items_rows = eng.items.read().count()
    return eng, metrics, frontier_rows, items_rows


def test_double_buffer_rounds_identical(spark, tmp_path, monkeypatch):
    """A crawl with the speculative fused stage produces byte-identical
    round metrics and table row counts to one without it — the
    speculation is the SAME expression run earlier, never a different
    computation."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
    pages_pd = with_retryables(pages_pd)
    eng_on, m_on, f_on, i_on = _crawl_all(
        spark, pages_pd, seeds_pd, tmp_path / "on", False, monkeypatch)
    eng_off, m_off, f_off, i_off = _crawl_all(
        spark, pages_pd, seeds_pd, tmp_path / "off", True, monkeypatch)
    assert m_on == m_off
    assert (f_on, i_on) == (f_off, i_off)
    # the run with speculation enabled actually exercised it (the corpus
    # has retryable statuses, so the crawl has retry-only tail rounds)
    assert eng_on._spec_hits > 0
    assert eng_off._spec_hits == 0


def test_requeue_cancels_speculation(spark, tmp_path):
    """An out-of-band frontier insert between rounds invalidates the
    in-flight speculation (its frontier is missing the new row); the
    next round falls back to the table read and schedules the insert.
    Manifest arithmetic stays exact throughout."""
    import pandas as pd

    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
    pages_pd = with_retryables(pages_pd)
    eng = make_engine(spark, pages_pd, tmp_path / "c", window_sec=1e6,
                      track_last_scraped=True)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    # drive rounds manually inside an artificial window so speculation
    # can launch exactly as crawl() would allow
    eng._round_window_end = 100
    r = 1
    spec_round = None
    for _ in range(12):
        m = eng.run_round(r)
        if eng._spec is not None:
            spec_round = eng._spec["round"]
            break
        if m.get("done") or m.get("pending") == 0:
            pytest.skip("corpus produced no retry tail to speculate on")
        r = max(m.get("next_eligible_round") or r + 1, r + 1)
    assert spec_round is not None
    # out-of-band requeue of one successfully-crawled URL (index past
    # the flipped-503 block: a 503 URL is still pending as a retry and
    # the requeue's frontier anti-join would drop it) -> must cancel
    url = pages_pd.iloc[10]["url_canon"]
    n = eng.requeue(
        spark.createDataFrame(pd.DataFrame({"url": [url]})), r,
        window_rounds=0,
    )
    assert n == 1
    assert eng._spec is None, "speculation must be invalidated by requeue"
    m2 = eng.run_round(spec_round)
    eng._round_window_end = None
    # the requeued row was actually scheduled by the fallback path
    assert m2["scheduled"] >= 1
    assert eng.frontier_rows() == eng.frontier.read().count()


# ------------------------- compact-cadence re-sync through a full crawl

def test_compact_resync_mid_crawl_converges(spark, tmp_path):
    """VERDICT r06 next #5: corrupt the tracked frontier_rows MID-CRAWL
    and assert the crawl converges anyway — the compact cadence re-syncs
    the arithmetic from the exact count observed on the rewrite job
    within one cadence, and the final state matches the table."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
    eng = make_engine(spark, pages_pd, tmp_path / "c", window_sec=1e6,
                      compact_every=2)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    m1 = eng.run_round(1)
    assert m1["scheduled"] > 0
    # corrupt the arithmetic (the ADVICE r05 #1 failure class: a delete
    # tuple matching several rows under a non-unique key)
    eng._frontier_rows = eng.frontier_rows() + 13
    with pytest.warns(UserWarning, match="arithmetic drift"):
        out = eng.crawl(6, start_round=2)
    # converged: tracked == exact, and the crawl ran to quiescence
    assert eng.frontier_rows() == eng.frontier.read().count()
    assert out, "crawl ran no rounds"


# ------------------------------- scan spreading (_par) result identity

def test_par_spreads_unsplittable_scan_and_keeps_results(spark, monkeypatch):
    """Round-7 _par (guide §2.5 one-huge-unsplittable-file): single-file
    single-row-group scans are hash-spread to the session's parallelism,
    results bit-identical with and without, and _par is the identity when
    the input already has enough partitions (no shuffle added at scale)."""
    import board_game_scraper_spark.queries as q

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip(f"needs the {sf} single-row-group dataset")
    docs = q._t(spark, sf, "documents")
    n = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < n  # the premise: unsplittable
    spread = q._par(docs, "doc_id")
    assert spread.rdd.getNumPartitions() == n
    # identity when already parallel enough: no second exchange on top
    assert q._par(spread, "doc_id") is spread

    def rows(df):
        return sorted(map(tuple, df.collect()))

    with_par = {name: rows(q.QUERIES[name](spark, sf))
                for name in ("minhash_band", "near_dup_pairs",
                             "language_id", "rankings_extract")}
    monkeypatch.setattr(q, "_par", lambda df, *k: df)
    for name, expect in with_par.items():
        assert rows(q.QUERIES[name](spark, sf)) == expect, name
