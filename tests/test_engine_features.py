"""Opt-in engine features: robots obedience (F5), adaptive politeness
(F4), and the out-of-band frontier inserts — rescrape/requeue (F11) and
seed requests (S10) — with their ack and resume-marker invariants."""

import os

import pandas as pd
from conftest import make_engine, seed_one
from pyspark.sql import functions as F

from board_game_scraper_spark import schemas, synth


def test_robots_blocks_disallowed(spark, tmp_path):
    """A host whose robots.txt disallows the crawl path gets dropped."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    # rewrite the luding robots to disallow everything under /cgi-bin/
    mask = pages_pd.url_canon == "https://www.luding.org/robots.txt"
    pages_pd.loc[mask, "body"] = synth.robots_body(
        "www.luding.org", ("/cgi-bin/",))
    seeds_pd = pd.DataFrame(
        [{"url": synth.browse_url(1), "source": "bgg", "priority": 0},
         {"url": synth.luding_url(1), "source": "luding", "priority": 0},
         {"url": synth.luding_url(2), "source": "luding", "priority": 0}])
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    eng = make_engine(spark, pages_pd, tmp_path / "rb", obey_robots=True,
                      record_schedule=True)
    eng.seed(seeds)
    eng.crawl(2)
    scheduled_hosts = {
        h for log in eng.schedule_log.values() for h in log
    }
    assert "www.luding.org" not in scheduled_hosts
    assert "boardgamegeek.com" in scheduled_hosts
    # robots table has rows for every frontier host (incl. allowed ones)
    robots_hosts = {r["host"] for r in eng.robots.read().collect()}
    assert {"www.luding.org", "boardgamegeek.com"} <= robots_hosts


def test_robots_allows_by_default(spark, tmp_path):
    """Default corpus robots (disallow /private/ only) changes nothing."""
    seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    a = make_engine(spark, pages_pd, tmp_path / "a", obey_robots=True)
    a.seed(seeds)
    ra = a.crawl(2)
    b = make_engine(spark, pages_pd, tmp_path / "b", obey_robots=False)
    b.seed(seeds)
    rb = b.crawl(2)
    assert [m["scheduled"] for m in ra] == [m["scheduled"] for m in rb]


def test_adaptive_politeness_backoff(spark, tmp_path):
    """429-heavy host doubles its delay → smaller budget next round."""
    seeds_pd, pages_pd = synth.corpus(n_browse=5, n_users=8, n_other=3)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    eng = make_engine(spark, pages_pd, tmp_path / "ap",
                      adaptive_politeness=True)
    eng.seed(seeds)
    eng.run_round(1)
    state = {r["host"]: r for r in eng.host_state.read().collect()}
    assert "boardgamegeek.com" in state
    # synthetic corpus always contains some 429/503 on bgg at this size
    bgg = state["boardgamegeek.com"]
    assert bgg["delay_sec"] >= 5.0
    assert bgg["ewma_latency_ms"] is not None
    # budgets for the next round reflect the table
    budgets = eng._current_budgets()
    assert budgets["boardgamegeek.com"][0] == bgg["delay_sec"]


def test_requeue_respects_rescrape_window(spark, tmp_path):
    seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=2)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    eng = make_engine(spark, pages_pd, tmp_path / "rq")
    eng.seed(seeds)
    eng.crawl(3)
    last = eng.last_round()
    # successful fetches are the items table's status-200 fetch rows
    ok_urls = [r["url_canon"] for r in eng.items.read().where(
        (F.col("item_kind") == "fetch") & (F.col("fetch.status") == 200)
    ).limit(3).collect()]
    assert ok_urls
    urls = spark.createDataFrame([(u,) for u in ok_urls], "url string")
    # within the window → suppressed (extensions.py:137-145)
    assert eng.requeue(urls, last + 1, window_rounds=10) == 0
    # window elapsed → re-inserted despite being in the seen set
    n = eng.requeue(urls, last + 1, window_rounds=0)
    assert n == len(ok_urls)
    pending = {r["url_canon"] for r in eng.frontier.read().collect()}
    assert set(ok_urls) <= pending
    # and they get scheduled + fetched again on the next round
    m = eng.run_round(last + 1)
    assert m["scheduled"] >= len(ok_urls)


def test_requeue_same_round_survives_pending_deletes(spark, tmp_path):
    """ADVICE r02: a URL discovered in round r-1 (discovery_round = r),
    scheduled in round r, then requeued in round r must NOT be shadowed
    by round r's pending equality-delete tuple (url_hash, 0, r).
    Requeued rows take discovery_round = r+1 — a distinct generation —
    so they survive read-time delete application and compaction."""
    seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=2)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    eng = make_engine(spark, pages_pd, tmp_path / "rqs", compact_every=0)
    eng.seed(seeds)
    eng.run_round(1)   # fetches seeds, discovers rows w/ discovery_round=2
    eng.run_round(2)   # schedules them → pending deletes (hash, 0, 2)
    # round 2's items dir: its status-200 fetch rows
    round2 = eng.items.current_snapshot()["added"]
    ok2 = [r["url_canon"] for r in eng.items.read_files(round2).where(
        (F.col("item_kind") == "fetch") & (F.col("fetch.status") == 200)
    ).limit(2).collect()]
    assert ok2
    urls = spark.createDataFrame([(u,) for u in ok2], "url string")
    n = eng.requeue(urls, 2, window_rounds=0)
    assert n == len(ok2)
    # visible through the merge-on-read delete mask…
    pending = {r["url_canon"] for r in eng.frontier.read().collect()}
    assert set(ok2) <= pending
    # …and still there after deletes are folded in
    eng.frontier.compact()
    pending = {r["url_canon"] for r in eng.frontier.read().collect()}
    assert set(ok2) <= pending


def test_crawl_fast_forwards_empty_rounds(spark, tmp_path):
    """When only backoff retries remain, rounds before their earliest
    not_before_round are provably empty — crawl() jumps over them
    instead of paying a no-op superstep each (serial-floor item)."""
    import pandas as pd

    rows = pd.DataFrame([
        {"url_canon": "https://a.example/ok", "status": 200,
         "content_type": "text/html",
         "body": "<html><body><p>hi</p></body></html>", "latency_ms": 5},
        {"url_canon": "https://a.example/busy", "status": 503,
         "content_type": "text/html", "body": "", "latency_ms": 5},
    ])
    seeds = spark.createDataFrame(
        pd.DataFrame({"url": rows.url_canon, "source": "t",
                      "priority": 0}), schemas.SEEDS)
    eng = make_engine(spark, rows, tmp_path / "ff")
    eng.seed(seeds)
    ms = eng.crawl(6)
    rounds = [m["round"] for m in ms]
    # round 1 fetches both; the 503 re-queues with not_before = 3
    # (attempt 1, backoff 2); round 2 is provably empty and skipped
    assert rounds[0] == 1
    assert 2 not in rounds
    assert 3 in rounds
    r3 = ms[rounds.index(3)]
    assert r3["scheduled"] == 1  # the retry actually ran


def test_seed_requests_consumed_with_ack(spark, tmp_path):
    """S10 (Pub/Sub pull analog): an externally-enqueued URL is folded
    into the frontier at the next round (bypassing the seen set, like
    the reference's dont_filter), crawled exactly once, acked, and the
    ack survives resume."""
    seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=6, n_other=2)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    eng = make_engine(spark, pages_pd, tmp_path / "sr", record_schedule=True)
    eng.seed(seeds)
    eng.crawl(3)
    last = eng.last_round()
    url = str(pages_pd.url_canon.iloc[0])  # already crawled => seen
    assert eng.enqueue_requests(
        spark.createDataFrame([(url,)], "url string")) == 1
    assert (eng.seed_requests.current_snapshot()["metrics"]["pending"]
            == 1)
    m = eng.run_round(last + 1)
    assert m["scheduled"] >= 1
    sched = [u for urls in eng.schedule_log[last + 1].values()
             for u in urls]
    assert sched.count(url) == 1  # crawled exactly once despite seen
    # acked atomically: queue empty by manifest AND by read
    assert (eng.seed_requests.current_snapshot()["metrics"]["pending"]
            == 0)
    assert eng.seed_requests.read().count() == 0
    # consumed from the frontier too (not re-scheduled next round)
    m2 = eng.run_round(last + 2)
    sched2 = [u for urls in eng.schedule_log.get(last + 2, {}).values()
              for u in urls]
    assert url not in sched2
    # resume: a fresh engine over the same root sees the ack
    eng2 = make_engine(spark, pages_pd, tmp_path / "sr")
    assert (eng2.seed_requests.current_snapshot()["metrics"]["pending"]
            == 0)
    assert eng2._consume_seed_requests(eng2.last_round() + 1) == 0


def test_ids_seen_rebatches_overlapping_discoveries(spark, tmp_path):
    """F7 (bgg.py:229-242,256-261): game ids discovered on two
    overlapping browse pages are fetched exactly once — engine-level
    re-batching against the ids_seen table, not URL-level dedup (the
    page-local batch URLs differ, so URL dedup alone double-fetches)."""
    import pandas as pd

    from board_game_scraper_spark.plans.crawl import CrawlEngine

    def browse(ids):
        links = "".join(
            f'<td><a href="/boardgame/{g}/game-{g}">Game {g}</a></td>'
            for g in ids
        )
        return f"<html><body><table>{links}</table></body></html>"

    rows = [
        ("https://boardgamegeek.com/browse/boardgame/page/1",
         browse(range(1, 11))),
        ("https://boardgamegeek.com/browse/boardgame/page/2",
         browse(range(6, 16))),
        # corpus thing pages for the REBATCHED id sets (1-10, 11-15)
        (synth.thing_url(list(range(1, 11))),
         synth.thing_body(list(range(1, 11)), n_users=3)),
        (synth.thing_url(list(range(11, 16))),
         synth.thing_body(list(range(11, 16)), n_users=3)),
    ]
    pages = spark.createDataFrame(
        pd.DataFrame(
            [{"url_canon": u, "status": 200, "content_type": "text/xml",
              "body": b, "latency_ms": 10} for u, b in rows]
        ),
        schemas.PAGES,
    )
    seeds = spark.createDataFrame(
        pd.DataFrame({
            "url": [rows[0][0], rows[1][0]],
            "source": ["bgg", "bgg"], "priority": [0, 0],
        }),
        schemas.SEEDS,
    )
    eng = CrawlEngine(spark, tmp_path / "ids", pages, window_sec=3600.0,
                      use_ids_seen=True)
    eng.seed(seeds)
    eng.crawl(2)
    games = eng.games.read()
    # 15 distinct ids, each parsed exactly once (no 6-10 double fetch)
    assert games.count() == 15
    assert games.select("bgg_id").distinct().count() == 15
    ids_seen = {r["bgg_id"] for r in eng.ids_seen.read().collect()}
    assert ids_seen == set(range(1, 16))


def test_seed_request_enqueued_mid_consume_survives_ack(spark, tmp_path):
    """A request enqueued between the consuming read and the ack stays
    pending (the old ack truncated the whole queue — ADVICE r03 #3)."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = make_engine(spark, pages_pd, tmp_path / "sr")
    seed_one(spark, eng)
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


def test_enqueue_between_ack_read_and_replace_survives(
    spark, tmp_path, monkeypatch
):
    """The ack CAS: an enqueue landing inside the ack's manifest-IO
    window must survive (ADVICE r04 #4)."""
    _seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = make_engine(spark, pages_pd, tmp_path / "c")
    seeds_pd = pd.DataFrame(
        [{"url": synth.browse_url(1), "source": "bgg", "priority": 0}])
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    eng.enqueue_requests(spark.createDataFrame(
        pd.DataFrame([{"url": synth.browse_url(2)}])))

    orig = type(eng.seed_requests).replace_files
    fired = {"n": 0}

    def racy(self, files, lineage=None, metrics=None,
             expected_parent=None):
        if fired["n"] == 0:
            fired["n"] = 1
            # producer lands between the ack's read and its replace
            eng.enqueue_requests(spark.createDataFrame(
                pd.DataFrame([{"url": synth.browse_url(3)}])))
        return orig(self, files, lineage=lineage, metrics=metrics,
                    expected_parent=expected_parent)

    monkeypatch.setattr(type(eng.seed_requests), "replace_files", racy)
    eng._consume_seed_requests(1)
    monkeypatch.undo()
    snap = eng.seed_requests.current_snapshot()
    # the late enqueue's file is still pending, not clobbered
    assert ((snap.get("metrics") or {}).get("pending", 0)) == 1
    assert len(snap["files"]) == 1


def test_requeue_does_not_advance_resume_marker(spark, tmp_path):
    """requeue/seed-request folds are out-of-band commits: last_round()
    must keep pointing at the last fully-committed round (ADVICE r03 #4)."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = make_engine(spark, pages_pd, tmp_path / "rm")
    seed_one(spark, eng)
    eng.crawl(2)
    last = eng.last_round()
    urls = spark.createDataFrame(
        pd.DataFrame({"url": [synth.browse_url(1)]}))
    eng.requeue(urls, last + 1, window_rounds=0)
    assert eng.last_round() == last


def test_noop_requeue_does_not_grow_frontier_manifest(spark, tmp_path):
    _seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = make_engine(spark, pages_pd, tmp_path / "c")
    seeds_pd = pd.DataFrame(
        [{"url": synth.browse_url(1), "source": "bgg", "priority": 0}])
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    eng.crawl(2)
    before = list(eng.frontier.current_snapshot()["files"])
    data_before = set(os.listdir(eng.frontier.path / "data"))
    # requeue URLs that are all already pending/recent → n == 0
    dup = spark.createDataFrame(
        pd.DataFrame([{"url": synth.browse_url(1)}]))
    for _ in range(3):
        n = eng.requeue(dup, eng.last_round(), window_rounds=10_000)
        assert n == 0
    after = eng.frontier.current_snapshot()["files"]
    assert after == before
    # nor left an uncommitted data dir behind on disk
    assert set(os.listdir(eng.frontier.path / "data")) == data_before
    # and the resume marker did not move
    assert "round" in (eng.frontier.current_snapshot()["lineage"] or {}) \
        or eng.last_round() >= 0
