"""bgg_rankings (4 historical layouts + wayback nav) and bgg_geeklist
parsers — reference contracts bgg_rankings.py:184-188 (100 items / 12
requests) and bgg_geeklist.py:101-106, plus crawl-loop integration."""

from datetime import datetime

from board_game_scraper_spark import schemas, synth
from board_game_scraper_spark.plans.parse import (
    parse_bgg_geeklist,
    parse_bgg_rankings,
    parse_page,
)

ARCHIVE_URL = synth.archive_url(
    "20100315000000", "http://boardgamegeek.com/browse/boardgame"
)


def test_modern_layout_contract_100_items_12_requests():
    # bgg_rankings.py:184-188: @returns items 100 100 / requests 12 12
    body = synth.rankings_modern_body(
        "20100315000000", page=1, n_pages=13, per_page=100, archived=False
    )
    r = parse_bgg_rankings("https://boardgamegeek.com/browse/boardgame", body)
    assert len(r["games"]) == 100
    assert len(r["discovered"]) == 12
    assert all(d["callback_kind"] == "bgg_rankings" for d in r["discovered"])
    assert all(d["priority"] == 1 for d in r["discovered"])
    g = r["games"][0]
    assert g["rank"] == 1 and g["bgg_id"] and g["name"]
    assert g["year"] and g["bayes_rating"] and g["avg_rating"]
    assert g["num_votes"] and g["image_url"]


def test_archived_page_date_and_wayback_navigation():
    body = synth.rankings_modern_body(
        "20100315000000", page=1, n_pages=1, per_page=5
    )
    r = parse_bgg_rankings(ARCHIVE_URL, body)
    # published_at comes from the wayback timestamp in the URL (E14)
    assert all(
        g["published_at"] == datetime(2010, 3, 15) for g in r["games"]
    )
    # only the two date-titled toolbar anchors are followed, at prio -1
    # (bgg_rankings.py:345-354); the "not a date" anchor is skipped
    assert len(r["discovered"]) == 2
    assert all(d["priority"] == -1 for d in r["discovered"])
    assert {d["url"] for d in r["discovered"]} == {
        synth.archive_url("20100215000000",
                          "http://boardgamegeek.com/browse/boardgame"),
        synth.archive_url("20100415000000",
                          "http://boardgamegeek.com/browse/boardgame"),
    }


def test_legacy_layouts_extract_rank_id_rating():
    d = "20100315000000"
    cases = {
        "simplebox": (synth.rankings_simplebox_body(d, 10), False),
        "gamebrowser": (synth.rankings_gamebrowser_body(d, 10), True),
        "top50": (synth.rankings_top50_body(d, 10), True),
    }
    for name, (body, has_votes) in cases.items():
        r = parse_bgg_rankings("https://boardgamegeek.com/legacy", body)
        assert len(r["games"]) == 10, name
        assert [g["rank"] for g in r["games"]] == list(range(1, 11)), name
        for g in r["games"]:
            assert g["bgg_id"] and g["name"] and g["bayes_rating"], name
            if has_votes:
                assert g["num_votes"] is not None, name


def test_rankings_dispatch_and_spans_interleaved():
    body = synth.rankings_modern_body("20100315000000", per_page=3,
                                      n_pages=1)
    r = parse_page(ARCHIVE_URL, "bgg_rankings", body)
    kinds = [s["kind"] for s in r["spans"]]
    # text (name) and image spans interleave per game (input_hint shape)
    assert kinds == ["text", "image"] * 3
    assert [s["offset"] for s in r["spans"]] == list(range(6))


def test_geeklist_items_children_pagination():
    body = synth.geeklist_body(30543, 1, 3, 8)
    r = parse_bgg_geeklist(synth.geeklist_url(30543), body)
    # ranks 1-8 minus the rank-7 child-list item
    assert [g["rank"] for g in r["games"]] == [1, 2, 3, 4, 5, 6, 8]
    # published_at from the title date range END (bgg_geeklist.py:118-130)
    assert all(
        g["published_at"] == datetime(2010, 3, 31) for g in r["games"]
    )
    urls = {d["url"] for d in r["discovered"]}
    assert synth.geeklist_url(30543, 2) in urls
    assert synth.geeklist_url(30543, 3) in urls
    assert any("/geeklist/30550/" in u for u in urls)
    assert all(d["callback_kind"] == "bgg_geeklist"
               for d in r["discovered"])


def test_geeklist_excluded_ids_skipped():
    # bgg_geeklist.py:34-35: Hall of Fame + The Thing from the Future
    body = (
        '<html><body>'
        '<div data-objecttype="listitem"><div class="geeklist_item_title">'
        '<a href="/item/1">1:</a>'
        '<a href="/boardgame/197551/hof">Hall of Fame</a></div></div>'
        '<div data-objecttype="listitem"><div class="geeklist_item_title">'
        '<a href="/item/2">2:</a>'
        '<a href="/boardgame/42/real">Real Game</a></div></div>'
        "</body></html>"
    )
    r = parse_bgg_geeklist(synth.geeklist_url(1), body)
    assert [g["bgg_id"] for g in r["games"]] == [42]


def test_rankings_crawl_integration(spark, tmp_path):
    """Seeding the middle archive snapshot + geeklist page 1 walks the
    wayback chain and the geeklist pagination through the BSP loop."""
    import pandas as pd
    from pyspark.sql import functions as F

    from board_game_scraper_spark.plans.crawl import (
        CrawlEngine,
        callback_kind_col,
    )

    pages_pd = synth.rankings_corpus()
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    seeds = spark.createDataFrame(
        pd.DataFrame({
            "url": [ARCHIVE_URL, synth.geeklist_url(30543)],
            "source": ["rankings", "geeklist"],
            "priority": [1, 1],
        }),
        schemas.SEEDS,
    )
    eng = CrawlEngine(spark, tmp_path / "rk", pages, window_sec=3600.0)
    eng.seed(seeds)
    metrics = eng.crawl(4)
    games = eng.games.read()
    kinds = {
        r["url_canon"]: r["callback_kind"]
        for r in eng.seen.read()
        .join(pages.select("url_canon"), "url_canon")
        .withColumn("callback_kind", callback_kind_col(F.col("url_canon")))
        .collect()
    }
    # all three archive snapshots crawled (nav chain), plus geeklist pages
    assert sum(1 for k in kinds.values() if k == "bgg_rankings") >= 3
    assert sum(1 for k in kinds.values() if k == "bgg_geeklist") >= 3
    # ranked games extracted from archived snapshots carry the snapshot
    # date as published_at
    pub = {r["published_at"] for r in games.select("published_at")
           .distinct().collect()}
    assert datetime(2010, 3, 15) in pub
    assert games.where("rank is not null").count() > 0
    assert sum(m.get("parsed_items", 0) for m in metrics) >= 30
