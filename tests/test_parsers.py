"""Extended extractors: polls (E6/E7), add_rank (E9), wikidata (E3),
SPARQL (E5/S8), rank history (E16), hotness pages (E14),
autothrottle (F4), label resolution (C13)."""

import statistics
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from board_game_scraper_spark import synth
from board_game_scraper_spark.plans.parse import (
    _fold_player_poll,
    _poll_stat,
    parse_page,
    parse_rank_history,
    parse_sparql,
    parse_thing,
    parse_wikidata_entity,
)

POLL_XML = """<item id="7">
<poll name="suggested_numplayers" totalvotes="100">
 <results numplayers="1"><result value="Best" numvotes="1"/>
  <result value="Recommended" numvotes="2"/>
  <result value="Not Recommended" numvotes="30"/></results>
 <results numplayers="2"><result value="Best" numvotes="20"/>
  <result value="Recommended" numvotes="15"/>
  <result value="Not Recommended" numvotes="5"/></results>
 <results numplayers="3"><result value="Best" numvotes="5"/>
  <result value="Recommended" numvotes="25"/>
  <result value="Not Recommended" numvotes="8"/></results>
 <results numplayers="4+"><result value="Best" numvotes="2"/>
  <result value="Recommended" numvotes="3"/>
  <result value="Not Recommended" numvotes="2"/></results>
</poll>
<poll name="suggested_playerage" totalvotes="60">
 <results><result value="6" numvotes="10"/>
  <result value="8" numvotes="30"/>
  <result value="10" numvotes="20"/></results>
</poll>
</item>"""


def test_fold_player_poll_reference_semantics():
    item = ET.fromstring(POLL_XML)
    min_rec, max_rec, min_best, max_best = _fold_player_poll(item, 1, 6)
    # oracle: reference rules (bgg.py:323-357)
    # players=1: 1+2 vs 30 → not rec; best 1 vs 32 → no
    # players=2: 35 vs 5 → rec; best 20 vs 20 → NOT (strict >)
    # players=3: 30 vs 8 → rec; best 5 vs 33 → no
    # players=5 ('4+'): total 7 < 100/2? 7 < 10 → filtered out entirely
    assert (min_rec, max_rec) == (2, 3)
    assert (min_best, max_best) == (1, 6)  # best empty → defaults


def test_fold_player_poll_below_min_votes_uses_defaults():
    xml = POLL_XML.replace('totalvotes="100"', 'totalvotes="10"', 1)
    item = ET.fromstring(xml)
    assert _fold_player_poll(item, 2, 5) == (2, 5, 2, 5)


def test_poll_stat_median_grouped():
    item = ET.fromstring(POLL_XML)
    got = _poll_stat(item, "suggested_playerage")
    expected = statistics.median_grouped(
        [6] * 10 + [8] * 30 + [10] * 20)
    assert got == pytest.approx(expected)


def test_parse_thing_polls_and_add_rank():
    body = synth.thing_body([42], n_users=10, comments_per_game=2)
    out = parse_thing("u", body)
    g = out["games"][0]
    assert g["min_players_rec"] is not None
    assert g["min_age_rec"] is None or 0 <= g["min_age_rec"] <= 21
    assert g["language_dependency"] is None or 1 <= g["language_dependency"] <= 5
    assert g["add_rank"] and g["add_rank"][0]["game_type"] == "strategygames"
    # friendlyname " Rank" suffix stripped (bgg.py:92-98)
    assert g["add_rank"][0]["name"] == "Strategy Game"
    assert g["add_rank"][0]["rank"] >= 1


def test_parse_wikidata_entity():
    body = synth.wikidata_entity_body(200, n_games=300)
    out = parse_wikidata_entity("u", body)
    g = out["games"][0]
    assert g["name"] == "WD Game 200"
    assert "WD Spiel 200" in (g["alt_name"] or [])
    assert g["bgg_id"] == 1 + 200 % 300
    assert g["designer"] == [f"Q{9000 + 200 % 50}"]
    assert g["min_players"] == 1 + 200 % 3
    kinds = [s["kind"] for s in out["spans"]]
    assert kinds == ["text", "image"]


def test_parse_sparql_discovers_entities():
    body = synth.sparql_body(1, 5)
    out = parse_sparql("u", body)
    assert len(out["discovered"]) == 5
    assert all(d["callback_kind"] == "wikidata_entity"
               for d in out["discovered"])
    assert out["discovered"][0]["url"].endswith("Q200.json")


def test_parse_rank_history():
    body = synth.rank_history_body(5, n_points=12)
    url = synth.canonicalize_one(synth.rank_history_url(5))
    out = parse_rank_history(url, body)
    assert len(out["games"]) == 12
    assert all(g["bgg_id"] == 5 for g in out["games"])
    assert all(g["published_at"] is not None for g in out["games"])
    assert out["games"][0]["published_at"].year == 2020


def test_parse_hotness_contract():
    # bgg_hotness.py:77-82 contract: 50 items
    body = synth.hotness_body("20240101000000")
    out = parse_page("u", "bgg_hotness", body)
    assert len(out["games"]) == 50
    assert out["games"][0]["rank"] == 1


def test_malformed_bodies_dropped():
    for kind in ("bgg_thing", "wikidata_entity", "bgg_rank_history"):
        out = parse_page("u", kind, "{{{not parseable <<<")
        assert out["games"] == [] and out["discovered"] == []


def test_nameless_game_pages_yield_no_null_text_span():
    """A game row without a name gets no text span: a thing item
    without <name type="primary"> and a luding page without an <h1>
    keep their description and media spans, numbered by position.  A
    browse link with empty anchor text gets no text span either, and an
    empty <image/> is no image."""
    body = synth.thing_body([42, 43], n_users=10).replace(
        'type="primary"', 'type="alternate"', 1)
    thing = parse_page("u", "bgg_thing", body)
    assert [g["name"] for g in thing["games"]] == [None, "Game 43"]
    luding = parse_page(synth.luding_url(7), "luding_game",
                        synth.luding_body(7).replace(
                            "<h1>Luding Game 7</h1>", ""))
    assert luding["games"][0]["name"] is None
    assert [s["kind"] for s in luding["spans"]] == ["text", "image"]
    browse = parse_page(synth.browse_url(1), "bgg_browse",
                        '<a href="/boardgame/7/x"></a>'
                        '<a href="/boardgame/8/y">Game 8</a>')
    assert [s["text"] for s in browse["spans"]] == ["Game 8"]
    imageless = parse_page(
        "u", "bgg_thing", '<items><item id="5"><name type="primary" '
        'value="G"/><image/></item></items>')
    assert imageless["games"][0]["image_url"] is None
    assert [s["kind"] for s in imageless["spans"]] == ["text"]
    for page in (thing, luding, browse, imageless):
        assert all(s["text"] is not None for s in page["spans"]
                   if s["kind"] == "text")
        assert [s["offset"] for s in page["spans"]] == list(
            range(len(page["spans"])))


def test_parse_flat_hotness_pages(spark):
    from board_game_scraper_spark.plans.parse import run_parse_flat
    from board_game_scraper_spark.schemas import FETCHED

    fetched = spark.createDataFrame(
        [(f"https://boardgamegeek.com/hotness/archive/{label}", i,
          "boardgamegeek.com", 0, "bgg_hotness", 0, 200, "text/xml",
          synth.hotness_body(label), 0)
         for i, label in enumerate(f"2024010{d}000000" for d in (1, 2, 3))],
        FETCHED,
    )
    parsed = run_parse_flat(fetched)
    games = parsed.where(F.col("item_kind") == "game").count()
    assert games == 150  # 50 per hotness page


def test_update_host_state(spark):
    from board_game_scraper_spark.plans.frontier import update_host_state

    host_state = spark.createDataFrame(
        [("boardgamegeek.com", 5.0, 4, 100.0, 0)],
        "host string, delay_sec double, concurrency int, "
        "ewma_latency_ms double, backoff_until_round int",
    )
    fetched = spark.createDataFrame(
        [("boardgamegeek.com", 200, 300),
         ("boardgamegeek.com", 429, 500),
         ("www.luding.org", 200, 80)],
        "host string, status int, latency_ms int",
    )
    got = {r["host"]: r for r in
           update_host_state(host_state, fetched, 7).collect()}
    bgg = got["boardgamegeek.com"]
    assert bgg["delay_sec"] == 10.0          # throttled → doubled
    assert bgg["backoff_until_round"] == 8
    assert bgg["ewma_latency_ms"] == pytest.approx(
        0.3 * 400 + 0.7 * 100, abs=0.1)
    lud = got["www.luding.org"]
    assert lud["delay_sec"] == 2.0           # no prior → base, no throttle
    assert lud["backoff_until_round"] == 0


def test_extended_crawl_wikidata(spark, tmp_path):
    """SPARQL seed → entity discovery → parsed wikidata games (2 rounds)."""
    from board_game_scraper_spark import schemas
    from board_game_scraper_spark.plans.crawl import CrawlEngine

    pages_pd = synth.extended_corpus(n_entities=8)
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    seeds = spark.createDataFrame(
        [(synth.sparql_url(1), "wikidata", 0)], schemas.SEEDS
    )
    eng = CrawlEngine(spark, tmp_path / "wd", pages)
    eng.seed(seeds)
    ms = eng.crawl(2)
    assert ms[0]["discovered"] == 8
    games = eng.games.read()
    assert games.count() == 8
    assert games.where(F.col("name").startswith("WD Game")).count() == 8


def test_labels_dim_and_resolve(spark, tmp_path):
    """C13 (pipelines.py:61-143): resolve designer Q-ids on
    wikidata-sourced game items against a labels dim."""
    from board_game_scraper_spark import schemas
    from board_game_scraper_spark.operators.labels import resolve_labels

    # entity pages: Q201..Q208 (extended_corpus page-1 ids); their
    # labels (en first, then de) as a dim
    pages = spark.createDataFrame(
        synth.extended_corpus(n_entities=8), schemas.PAGES
    )
    ent_pages = pages.where(F.col("url_canon").contains("EntityData"))
    dim = spark.createDataFrame(
        [(f"Q{q}", [f"WD Game {q}", f"WD Spiel {q}"])
         for q in range(201, 209)],
        "qid string, labels array<string>",
    )

    # wikidata-parsed games carry designer Q-ids (P287, parse.py):
    parsed = [
        parse_wikidata_entity(r["url_canon"], r["body"])
        for r in ent_pages.collect()
    ]
    games = [g for p in parsed for g in p["games"]]
    assert all(
        g["designer"] and g["designer"][0].startswith("Q") for g in games
    )
    items = spark.createDataFrame(
        [(g["url"], g["designer"]) for g in games],
        "url string, designer array<string>",
    )
    resolved = resolve_labels(items, dim, key_col="url",
                              fields=("designer",))
    out = {r["url"]: r["designer"] for r in resolved.collect()}
    # each resolved designer Q-id (Q9000+) is NOT in the dim → dropped;
    # plant one resolvable id to check substitution + order
    items2 = spark.createDataFrame(
        [("u1", ["Q201", "Q999", "Q202"]), ("u2", None), ("u3", [])],
        "url string, designer array<string>",
    )
    out2 = {r["url"]: r["designer"]
            for r in resolve_labels(items2, dim, "url",
                                    ("designer",)).collect()}
    assert out2["u1"] == ["WD Game 201", "WD Spiel 201",
                          "WD Game 202", "WD Spiel 202"]
    assert out2["u2"] is None and out2["u3"] is None
    assert len(out) == len(games)


def test_luding_spielen_full_extraction():
    """E2 upgrade: labeled-row/labeled-div extraction on the stdlib DOM
    (luding.py:52-107, spielen.py:80-183) — full field parity."""
    from board_game_scraper_spark.plans.parse import (
        parse_luding,
        parse_spielen,
    )

    g = parse_luding(synth.luding_url(7), synth.luding_body(7))["games"][0]
    assert g["name"] == "Luding Game 7"
    assert g["year"] == 1987
    assert g["description"] == "Box text of game 7."
    assert g["designer"] == ["Designer 7"]
    assert g["artist"] == ["Artist 7"]
    assert g["publisher"] == ["Publisher 7"]
    assert g["min_age"] == 13
    assert g["image_url"] == ["https://www.luding.org/img/luding7.png"]

    r = parse_spielen(synth.spielen_url(9), synth.spielen_body(9))
    g2 = r["games"][0]
    assert g2["name"] == "Spiel 9"
    assert g2["year"] == 1989
    assert g2["designer"] == ["Autor 9"]
    assert g2["publisher"] == ["Verlag 9"]
    assert g2["family"] == [f"Familie {9 % 8}"]
    assert (g2["min_time"], g2["max_time"]) == (39, 54)
    assert g2["num_votes"] == 19
    assert g2["avg_rating"] == 1.9
    assert g2["complexity"] == 1 + 9 % 5
    # interleaved text+image+video spans (input_hint shape)
    kinds = [s["kind"] for s in r["spans"]]
    assert kinds == ["text", "text", "image", "video"]


def test_dbpedia_spider_contract_and_crawl(spark, tmp_path):
    """dbpedia spider (dbpedia.py:341-521): games-list query discovers
    one property-table request per game (items 0 / requests N), each
    folding into a GameItem; end-to-end through the BSP loop."""
    import pandas as pd

    from board_game_scraper_spark import schemas
    from board_game_scraper_spark.plans.crawl import CrawlEngine
    from board_game_scraper_spark.plans.parse import (
        parse_dbpedia_game,
        parse_dbpedia_games,
    )

    gtype = "http://dbpedia.org/ontology/BoardGame"
    # contract: list page → 0 items, N requests (dbpedia.py:343-346)
    r = parse_dbpedia_games(
        synth.canonicalize_one(synth.dbpedia_games_url(gtype)),
        synth.dbpedia_games_body(gtype, 6),
    )
    assert r["games"] == [] and len(r["discovered"]) == 6
    assert all(d["callback_kind"] == "dbpedia_game" for d in r["discovered"])
    # contract: game page → 1 item, 0 requests (dbpedia.py:375-380)
    g = parse_dbpedia_game("u", synth.dbpedia_game_body(7))["games"][0]
    assert (g["bgg_id"], g["name"]) == (7, "DBp Game 7")
    assert g["alt_name"] == ["DBp Game 7", "DBp Spiel 7"]  # en-first
    assert g["designer"] == ["Designer 7"]
    assert g["description"] == "Abstract of game 7."

    pages = spark.createDataFrame(synth.dbpedia_corpus(n_games=6),
                                  schemas.PAGES)
    seeds = spark.createDataFrame(
        pd.DataFrame({"url": [synth.dbpedia_games_url(gtype)],
                      "source": ["dbpedia"], "priority": [1]}),
        schemas.SEEDS,
    )
    eng = CrawlEngine(spark, tmp_path / "dbp", pages, window_sec=3600.0)
    eng.seed(seeds)
    eng.crawl(3)
    games = eng.games.read()
    assert games.count() == 6
    assert games.where("name like 'DBp Game %'").count() == 6
