"""Round-4 regressions: scale-safe pagination plan, bounded
connected-components lineage, stranded-retry resume, batch-safe
seed-request ack, resume-marker isolation."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from board_game_scraper_spark import schemas, synth
from board_game_scraper_spark.plans.crawl import CrawlEngine


def _mk(spark, pages_pd, tmp, **kw):
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    return CrawlEngine(spark, tmp, pages, **kw)


def _seed_one(spark, eng):
    seeds_pd = pd.DataFrame(
        [{"url": synth.browse_url(1), "source": "bgg", "priority": 0}])
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))


# --------------------------------------------------------------- pagination

def test_pagination_plan_has_no_global_window(spark):
    """S11 at scale: every WindowExec in the paged plan must be
    partitioned (the old plan moved the whole table to ONE task —
    VERDICT r03 'wrong' #2)."""
    from board_game_scraper_spark.operators.split import page_rows

    df = spark.range(1000).select(F.col("id").alias("k"))
    paged = page_rows(df, size=40, order_keys=["k"])
    plan = paged._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window [" in line:
            assert "_pid" in line, f"unpartitioned window: {line[:160]}"
    rows = {r["k"]: r for r in paged.collect()}
    assert len(rows) == 1000
    # global ids identical to the single-window semantics
    assert rows[0]["page"] == 0 and rows[0]["previous"] is None
    assert rows[39]["page"] == 0 and rows[40]["page"] == 1
    assert rows[999]["page"] == 24 and rows[999]["next"] is None
    assert all(r["count"] == 1000 for r in rows.values())


# ------------------------------------------------------ connected components

def test_connected_components_bounded_plan_depth(spark):
    """A chain needing >=4 propagation iterations converges AND the
    returned frame's plan does not grow with iteration count
    (localCheckpoint truncation — VERDICT r03 'wrong' #3)."""
    from board_game_scraper_spark.operators.cluster import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(50, 51)], "a long, b long")
    labels = connected_components(edges, max_iter=20)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert all(got[i] == 0 for i in range(13))
    assert got[50] == 50 and got[51] == 50
    plan = labels._jdf.queryExecution().executedPlan().toString()
    # a truncated final plan is a bare RDD scan, not an O(iterations)
    # join/window chain
    assert len(plan.strip().splitlines()) <= 3, plan


# ----------------------------------------------------------- retry stranding

def test_future_retries_not_stranded(spark, tmp_path):
    """A round whose frontier holds ONLY future-dated backoff retries
    must not report done: crawl() fast-forwards to their eligibility
    round and fetches them (ADVICE r03 #2)."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = _mk(spark, pages_pd, tmp_path / "fr", use_bloom=False)
    _seed_one(spark, eng)
    # Push the seeded row's eligibility to round 5 (a backoff retry shape).
    delayed = eng.frontier.read().withColumn(
        "not_before_round", F.lit(5))
    eng.frontier.overwrite(delayed, lineage={"round": 0, "stage": "seed"})

    m = eng.run_round(1)
    assert m["done"] is False
    assert m["pending"] == 1
    assert m["next_eligible_round"] == 5
    # resume still points before round 1 (nothing committed)
    ms = eng.crawl(10)
    fetched = sum(x["fetched"] for x in ms)
    assert fetched >= 1, ms
    assert any(x["round"] == 5 and x["scheduled"] == 1 for x in ms), ms


# ------------------------------------------------------- seed-request ack

def test_seed_request_enqueued_mid_consume_survives_ack(spark, tmp_path):
    """A request enqueued between the consuming read and the ack stays
    pending (the old ack truncated the whole queue — ADVICE r03 #3)."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = _mk(spark, pages_pd, tmp_path / "sr", use_bloom=False)
    _seed_one(spark, eng)
    eng.crawl(6)  # drain the frontier so folds aren't anti-joined away

    # already-crawled URLs: dont_filter semantics admit them regardless
    url_a = str(pages_pd.url_canon.iloc[0])
    url_b = str(pages_pd.url_canon.iloc[1])
    urls_a = spark.createDataFrame(pd.DataFrame({"url": [url_a]}))
    urls_b = spark.createDataFrame(pd.DataFrame({"url": [url_b]}))
    assert eng.enqueue_requests(urls_a) == 1

    fired = {"done": False}
    # the fold commits via commit_prepared_delta (prepare/commit split)
    orig = eng.frontier.commit_prepared_delta

    def racy(*a, **k):
        out = orig(*a, **k)
        if not fired["done"]:
            fired["done"] = True
            eng.enqueue_requests(urls_b)  # lands between fold and ack
        return out

    eng.frontier.commit_prepared_delta = racy
    try:
        n = eng._consume_seed_requests(eng.last_round() + 1)
    finally:
        eng.frontier.commit_prepared_delta = orig
    assert n == 1  # batch A folded
    snap = eng.seed_requests.current_snapshot()
    assert snap["metrics"]["pending"] == 1  # B survived the ack
    left = eng.seed_requests.read().collect()
    assert [r["url"] for r in left] == [url_b]


def test_requeue_does_not_advance_resume_marker(spark, tmp_path):
    """requeue/seed-request folds are out-of-band commits: last_round()
    must keep pointing at the last fully-committed round (ADVICE r03 #4)."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = _mk(spark, pages_pd, tmp_path / "rm", use_bloom=False,
              track_last_scraped=True)
    _seed_one(spark, eng)
    eng.crawl(2)
    last = eng.last_round()
    urls = spark.createDataFrame(
        pd.DataFrame({"url": [synth.browse_url(1)]}))
    eng.requeue(urls, last + 1, window_rounds=0)
    assert eng.last_round() == last
