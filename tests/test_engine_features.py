"""Opt-in engine features: robots obedience (F5), adaptive politeness
(F4), the retry fast-forward and item-level id dedup (F7)."""

import pandas as pd
from conftest import make_engine

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
