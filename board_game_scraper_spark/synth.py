"""Deterministic synthetic crawl corpus (seed 42, no wall-clock).

Stands in for the HTTP downloader (S5) per FIXTURES.md §2-3: a closed URL
universe where every URL the parse stage can discover exists in the
``pages`` table.  Page shapes mirror the reference's fixtures:

- BGG browse HTML        (spiders/bgg.py:399-427 parse contract)
- BGG thing XML w/ stats + rating comments (bgg.py:429-652)
- BGG user XML           (bgg.py:732-762)
- BGG collection XML     (bgg.py:654-729)
- Luding / Spielen game HTML (luding.py:52-107, spielen.py:80-183)

Determinism note: the reference batches game ids *after* seen-filtering
(bgg.py:251-294), which makes batch-URL composition depend on crawl
history.  To keep the corpus closed we batch per browse page (sorted ids,
10 per batch, duplicates allowed across pages); URL-level dedup (F6) then
carries the dedup burden — game-id dedup (F7) applies at the item layer.

Statuses are deterministic per URL (md5-derived): ~3% 429, ~2% 503,
~2% 404, ~1% 202, rest 200 — exercising retry (F9) and drop paths.
"""

from __future__ import annotations

import hashlib
from urllib.parse import urlencode

import pandas as pd

from .functions.canon import (
    BGG, DBPEDIA_SPARQL, canonicalize_one, collection_url, dbpedia_game_uri,
    dbpedia_game_url, thing_url, user_url, wikidata_entity_url,
)

LUDING = "https://www.luding.org"
SPIELEN = "https://gesellschaftsspiele.spielen.de"


def _h(s: str) -> int:
    """Deterministic 64-bit hash (not Python's randomized hash())."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def browse_url(page: int) -> str:
    return f"{BGG}/browse/boardgame/page/{page}"


def luding_url(i: int) -> str:
    return f"{LUDING}/cgi-bin/GameData.py/ENgameid/{i}"


def spielen_url(i: int) -> str:
    return f"{SPIELEN}/alle-brettspiele/spiel-{i}"


def page_games(page: int, n_games: int, per_page: int = 20) -> list[int]:
    """Deterministic, overlapping game list for one browse page."""
    return sorted(
        {1 + _h(f"g:{page}:{j}") % n_games for j in range(per_page)}
    )


def game_users(game_id: int, n_users: int, k: int = 2) -> list[str]:
    return [f"user{1 + _h(f'u:{game_id}:{j}') % n_users}" for j in range(k)]


def status_for(url: str) -> int:
    b = _h("st:" + url) % 100
    if b < 3:
        return 429
    if b < 5:
        return 503
    if b < 7:
        return 404
    if b < 8:
        return 202
    return 200


def latency_for(url: str) -> int:
    return 50 + _h("lat:" + url) % 400


# ---------------------------------------------------------------------------
# Page bodies (kept format-synced with plans/parse.py)
# ---------------------------------------------------------------------------

def browse_body(page: int, n_browse: int, n_games: int) -> str:
    links = "\n".join(
        f'<td><a href="/boardgame/{gid}/game-{gid}">Game {gid}</a></td>'
        for gid in page_games(page, n_games)
    )
    nxt = (
        f'<a title="next page" href="/browse/boardgame/page/{page + 1}">next</a>'
        if page < n_browse
        else ""
    )
    return f"<html><body><table>{links}</table>{nxt}</body></html>"


def _poll_xml(gid: int) -> str:
    """Polls exercising E6/E7 (bgg.py:52-70,323-373): suggested_numplayers
    with an 'N+' option, suggested_playerage, language_dependence."""
    rows = []
    for np_ in ("1", "2", "3", "4+"):
        b = _h(f"pb:{gid}:{np_}") % 30
        r = _h(f"pr:{gid}:{np_}") % 30
        n = _h(f"pn:{gid}:{np_}") % 30
        rows.append(
            f'<results numplayers="{np_}">'
            f'<result value="Best" numvotes="{b}"/>'
            f'<result value="Recommended" numvotes="{r}"/>'
            f'<result value="Not Recommended" numvotes="{n}"/></results>'
        )
    total_np = 40 + _h(f"tp:{gid}") % 100
    ages = "".join(
        f'<result value="{a}" numvotes="{_h(f"pa:{gid}:{a}") % 20}"/>'
        for a in (6, 8, 10, 12, 14)
    )
    total_age = 30 + _h(f"ta:{gid}") % 50
    langs = "".join(
        f'<result level="{l}" value="Level {l}" '
        f'numvotes="{_h(f"pl:{gid}:{l}") % 15}"/>'
        for l in (1, 2, 3, 4, 5)
    )
    total_lang = 25 + _h(f"tl:{gid}") % 40
    return (
        f'<poll name="suggested_numplayers" totalvotes="{total_np}">'
        + "".join(rows)
        + "</poll>"
        f'<poll name="suggested_playerage" totalvotes="{total_age}">'
        f"<results>{ages}</results></poll>"
        f'<poll name="language_dependence" totalvotes="{total_lang}">'
        f"<results>{langs}</results></poll>"
    )


def _family_ranks_xml(gid: int) -> str:
    """Family ranks exercising E9 (bgg.py:640-650)."""
    fam = 5000 + gid % 7
    return (
        f'<rank type="family" id="{fam}" name="strategygames" '
        f'friendlyname="Strategy Game Rank" value="{1 + _h(f"fr:{gid}") % 900}" '
        f'bayesaverage="{round(5 + (_h(f"fb:{gid}") % 300) / 100, 2)}"/>'
    )


def _game_name(gid: int) -> str:
    # Entity-hack case every 7th game: BGG's double-encoded 'Ü'
    # (utils.py:78-86) — parse must decode '&amp;#195;&amp;#156;' to 'Ü'.
    if gid % 7 == 0:
        return f"Game &amp;#195;&amp;#156;ber {gid}"
    return f"Game {gid}"


def thing_body(ids: list[int], n_users: int,
               comments_per_game: int = 2) -> str:
    items = []
    for gid in sorted(ids):
        comments = "\n".join(
            f'<comment username="{u}" rating="{1 + _h(f"r:{gid}:{u}") % 10}" '
            f'value="nice game {gid} — &amp;#195;&amp;#156;berraschend   gut, '
            f'plays {1 + _h(f"pc:{gid}:{u}") % 60} times"/>'
            for u in game_users(gid, n_users, comments_per_game)
        )
        year = 1990 + _h(f"y:{gid}") % 35
        avg = round(4 + (_h(f"avg:{gid}") % 600) / 100, 2)
        rank = 1 + _h(f"rk:{gid}") % 5000
        items.append(
            f"""<item type="boardgame" id="{gid}">
<thumbnail>https://cf.geekdo-images.com/thumb/{gid}.jpg</thumbnail>
<image>https://cf.geekdo-images.com/original/{gid}.jpg</image>
<name type="primary" sortindex="1" value="{_game_name(gid)}"/>
<description>Description   of game {gid} &amp; friends.
With multiple   spaces.</description>
<yearpublished value="{year}"/>
<minplayers value="{1 + _h(f"mnp:{gid}") % 3}"/>
<maxplayers value="{2 + _h(f"mxp:{gid}") % 6}"/>
<playingtime value="{30 + _h(f"pt:{gid}") % 90}"/>
<minage value="{6 + _h(f"ma:{gid}") % 10}"/>
<link type="boardgamedesigner" id="{100 + gid % 50}" value="Designer {100 + gid % 50}"/>
<link type="boardgamecategory" id="{200 + gid % 20}" value="Category {200 + gid % 20}"/>
<link type="boardgamemechanic" id="{300 + gid % 15}" value="Mechanic {300 + gid % 15}"/>
<videos total="1"><video id="{gid}" link="https://www.youtube.com/watch?v=v{gid}"/></videos>
<statistics page="1"><ratings>
<usersrated value="{10 + _h(f"nv:{gid}") % 9000}"/>
<average value="{avg}"/>
<stddev value="1.5"/>
<bayesaverage value="{round(avg - 0.3, 2)}"/>
<ranks><rank type="subtype" id="1" name="boardgame" friendlyname="Board Game Rank" value="{rank}" bayesaverage="{round(avg - 0.3, 2)}"/>{_family_ranks_xml(gid)}</ranks>
<averageweight value="{round(1 + (_h(f"cx:{gid}") % 400) / 100, 2)}"/>
</ratings></statistics>
{_poll_xml(gid)}
{comments}
</item>"""
        )
    return '<?xml version="1.0" encoding="utf-8"?><items>' + "\n".join(items) + "</items>"


def user_body(name: str) -> str:
    uid = _h("uid:" + name) % 10**6
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<user id="{uid}" name="{name}">'
        f'<firstname value="First{uid % 100}"/>'
        f'<lastname value="Last{uid % 100}"/>'
        f'<yearregistered value="{2005 + uid % 20}"/>'
        f'<country value="Country{uid % 30}"/>'
        "</user>"
    )


def collection_body(name: str, n_games: int) -> str:
    gids = sorted({1 + _h(f"c:{name}:{j}") % n_games for j in range(8)})
    items = "\n".join(
        f'<item objecttype="thing" objectid="{gid}" subtype="boardgame">'
        f'<stats><rating value="{1 + _h(f"cr:{name}:{gid}") % 10}"/></stats>'
        f'<status own="{_h(f"own:{name}:{gid}") % 2}" />'
        f'<numplays>{_h(f"np:{name}:{gid}") % 50}</numplays></item>'
        for gid in gids
    )
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<items totalitems="{len(gids)}">' + items + "</items>"
    )


def sparql_url(page: int = 1) -> str:
    params = urlencode(sorted({"query": f"games-page-{page}",
                               "format": "xml"}.items()))
    return f"https://query.wikidata.org/sparql?{params}"


def rank_history_url(gid: int) -> str:
    params = urlencode(sorted({"objectid": str(gid),
                               "rankobjectid": "1"}.items()))
    return f"{BGG}/api/historicalrankgraph?{params}"


def wikidata_entity_body(qid: int, n_games: int) -> str:
    """EntityData JSON in the shapes wikidata.py:196-256 extracts."""
    import json

    gid = 1 + qid % max(n_games, 1)
    ent = {
        "entities": {
            f"Q{qid}": {
                "id": f"Q{qid}",
                "labels": {
                    "en": {"value": f"WD Game {qid}"},
                    "de": {"value": f"WD Spiel {qid}"},
                },
                "aliases": {"en": [{"value": f"Alias {qid}"}]},
                "claims": {
                    "P2339": [{"mainsnak": {"datavalue": {"value": str(gid)}}}],
                    "P287": [{"mainsnak": {"datavalue": {"value": {
                        "id": f"Q{9000 + qid % 50}"}}}}],
                    "P1872": [{"mainsnak": {"datavalue": {"value": {
                        "amount": f"+{1 + qid % 3}"}}}}],
                    "P1873": [{"mainsnak": {"datavalue": {"value": {
                        "amount": f"+{3 + qid % 5}"}}}}],
                    "P18": [{"mainsnak": {"datavalue": {
                        "value": f"Game {qid} box.jpg"}}}],
                },
                "sitelinks": {
                    "enwiki": {"url": f"https://en.wikipedia.org/wiki/Game_{qid}"}
                },
            }
        }
    }
    return json.dumps(ent)


def sparql_body(page: int, n_entities: int) -> str:
    """SPARQL XML results (wikidata.py:138-176 shape)."""
    ns = "http://www.w3.org/2005/sparql-results#"
    rows = "".join(
        f'<result><binding name="item">'
        f"<uri>http://www.wikidata.org/entity/Q{100 + page * 100 + i}</uri>"
        f"</binding></result>"
        for i in range(n_entities)
    )
    return (
        f'<?xml version="1.0"?><sparql xmlns="{ns}">'
        f"<head><variable name=\"item\"/></head>"
        f"<results>{rows}</results></sparql>"
    )


def rank_history_body(gid: int, n_points: int = 12) -> str:
    import json

    base = 1577836800000  # 2020-01-01 UTC, fixed
    data = [
        [base + i * 86400000, 1 + _h(f"rh:{gid}:{i}") % 2000]
        for i in range(n_points)
    ]
    return json.dumps({"data": data})


def hotness_body(ts_label: str) -> str:
    """Hotness XML (bgg_hotness.py:76-99 shape; 50 items contract)."""
    items = "".join(
        f'<item id="{1 + _h(f"hot:{ts_label}:{i}") % 5000}" rank="{i + 1}">'
        f'<name value="Hot Game {i + 1}"/>'
        f"<thumbnail value=\"https://cf.geekdo-images.com/t{i}.jpg\"/></item>"
        for i in range(50)
    )
    return f'<?xml version="1.0"?><items>{items}</items>'


# -- bgg_rankings (4 historical HTML layouts, bgg_rankings.py:183-354) ------

ARCHIVE = "https://web.archive.org/web"


def archive_url(date14: str, target: str) -> str:
    """Wayback-machine URL shape (bgg_rankings.py:73-84 _start_urls)."""
    return f"{ARCHIVE}/{date14}/{target}"


def _rankings_game(i: int, date14: str) -> tuple[int, int, str, int, float, float, int]:
    """(rank, bgg_id, name, year, bayes, avg, votes) — deterministic."""
    rank = i + 1
    gid = 1 + _h(f"rkg:{date14}:{i}") % 4000
    year = 1985 + _h(f"rky:{gid}") % 40
    bayes = round(5 + (_h(f"rkb:{gid}") % 300) / 100, 2)
    avg = round(bayes + 0.3, 2)
    votes = 100 + _h(f"rkv:{gid}") % 9000
    return rank, gid, f"Ranked Game {gid}", year, bayes, avg, votes


def _wayback_nav(date14: str) -> str:
    """The wm-ipp archive toolbar with prev/next snapshot links
    (bgg_rankings.py:345-354 follows anchors whose @title parses as a
    date)."""
    prev_d = str(int(date14[:8]) - 100) + date14[8:]
    next_d = str(int(date14[:8]) + 100) + date14[8:]
    target = "http://boardgamegeek.com/browse/boardgame"
    return (
        '<div id="wm-ipp"><table><tr>'
        f'<td><a title="{prev_d[:4]}-{prev_d[4:6]}-{prev_d[6:8]}" '
        f'href="{archive_url(prev_d, target)}">prev</a></td>'
        f'<td><a title="{next_d[:4]}-{next_d[4:6]}-{next_d[6:8]}" '
        f'href="{archive_url(next_d, target)}">next</a></td>'
        '<td><a title="not a date" href="/web/help">?</a></td>'
        "</tr></table></div>"
    )


def rankings_modern_body(date14: str, page: int = 1, n_pages: int = 12,
                         per_page: int = 100, archived: bool = True) -> str:
    """Era A: the modern /browse/boardgame table#collectionitems layout
    (bgg_rankings.py:207-246; contract 100 items / 12 requests)."""
    rows = []
    for i in range(per_page):
        rank, gid, name, year, bayes, avg, votes = _rankings_game(
            i + (page - 1) * per_page, date14
        )
        rows.append(
            f'<tr id="row_{rank}">'
            f'<td class="collection_rank">{rank}</td>'
            f'<td class="collection_thumbnail"><a href="/boardgame/{gid}/g">'
            f'<img src="https://cf.geekdo-images.com/micro/{gid}.jpg"></a></td>'
            f'<td class="collection_objectname"><a href="/boardgame/{gid}/'
            f'ranked-game-{gid}">{name}</a> '
            f'<span class="smallerfont dull">({year})</span></td>'
            f'<td class="collection_bggrating">{bayes}</td>'
            f'<td class="collection_bggrating">{avg}</td>'
            f'<td class="collection_bggrating">{votes}</td></tr>'
        )
    pages = "".join(
        f'<a title="page {p}" href="/browse/boardgame/page/{p}">{p}</a>'
        for p in range(1, n_pages + 1) if p != page
    )
    nav = _wayback_nav(date14) if archived else ""
    return (
        f"<html><body>{nav}<div class='infilter'>{pages}</div>"
        f'<table id="collectionitems">{"".join(rows)}</table>'
        "</body></html>"
    )


def rankings_simplebox_body(date14: str, n: int = 50) -> str:
    """Era B: the rankbrowse.php3 simplebox layout
    (bgg_rankings.py:247-277: 3-cell rows)."""
    rows = "".join(
        '<tr><td>{rank}</td><td><a href="/game/{gid}">{name}</a></td>'
        "<td>{bayes}</td></tr>".format(
            rank=r, gid=g, name=n_, bayes=b
        )
        for r, g, n_, _y, b, _a, _v in (
            _rankings_game(i, "B" + date14) for i in range(n)
        )
    )
    return (
        f"<html><body>{_wayback_nav(date14)}"
        f'<div class="simplebox"><table><tr><th>Rank</th><th>Game</th>'
        f"<th>Rating</th></tr>{rows}</table></div></body></html>"
    )


def rankings_gamebrowser_body(date14: str, n: int = 50) -> str:
    """Era C: the browser.php gamebrowser_table layout
    (bgg_rankings.py:278-311: 5+-cell rows, image in td2)."""
    rows = "".join(
        f'<tr><td>{r}</td>'
        f'<td><img src="https://cf.geekdo-images.com/gb/{g}.gif"></td>'
        f'<td><a href="/game/{g}">{name}</a></td>'
        f"<td>{b}</td><td>{v}</td></tr>"
        for r, g, name, _y, b, _a, v in (
            _rankings_game(i, "C" + date14) for i in range(n)
        )
    )
    return (
        f"<html><body>{_wayback_nav(date14)}"
        f'<table class="gamebrowser_table"><tr><th>Rank</th><th></th>'
        f"<th>Game</th><th>Rating</th><th>Votes</th></tr>{rows}</table>"
        "</body></html>"
    )


def rankings_top50_body(date14: str, n: int = 50) -> str:
    """Era D: top50.htm / topn.php3 layout (bgg_rankings.py:313-344:
    header cell contains <h3>Bayesian Average</h3>)."""
    rows = "".join(
        f'<tr><td>{r}.</td><td><a href="/game/{g}">{name}</a></td>'
        f"<td>{b}</td><td>{v}</td></tr>"
        for r, g, name, _y, b, _a, v in (
            _rankings_game(i, "D" + date14) for i in range(n)
        )
    )
    return (
        f"<html><body>{_wayback_nav(date14)}"
        "<table><tr><td><h3>Rank</h3></td><td><h3>Game</h3></td>"
        "<td><h3>Bayesian Average</h3></td><td><h3>Votes</h3></td></tr>"
        f"{rows}</table></body></html>"
    )


# -- dbpedia (dbpedia.py:303-521) --------------------------------------------

_SPARQL_NS_URI = "http://www.w3.org/2005/sparql-results#"


def dbpedia_games_url(game_type: str) -> str:
    """Type → game-list SPARQL query URL (dbpedia.py:342-346)."""
    q = f"SELECT DISTINCT ?game WHERE {{ ?game a <{game_type}> . }}"
    return f"{DBPEDIA_SPARQL}?{urlencode(sorted({'query': q, 'format': 'text/xml'}.items()))}"


def dbpedia_games_body(game_type: str, n: int) -> str:
    rows = "".join(
        f'<result><binding name="game"><uri>{dbpedia_game_uri(g)}</uri>'
        "</binding></result>"
        for g in range(1, n + 1)
    )
    return (
        f'<?xml version="1.0"?><sparql xmlns="{_SPARQL_NS_URI}">'
        f'<head><variable name="game"/></head><results>{rows}</results>'
        "</sparql>"
    )


def dbpedia_game_body(g: int) -> str:
    """Property/value/label bindings in the shapes dbpedia.py:375-521
    extracts (en + non-en labels, uri values with labels, literals)."""

    def row(prop, value=None, lang=None, uri=None, label=None,
            label_lang="en"):
        if uri is not None:
            v = f'<binding name="value"><uri>{uri}</uri></binding>'
        else:
            lang_attr = f' xml:lang="{lang}"' if lang else ""
            v = (f'<binding name="value"><literal{lang_attr}>{value}'
                 "</literal></binding>")
        lbl = (
            f'<binding name="label"><literal xml:lang="{label_lang}">'
            f"{label}</literal></binding>" if label else ""
        )
        return (
            f'<result><binding name="property"><uri>{prop}</uri></binding>'
            f"{v}{lbl}</result>"
        )

    year = 1985 + g % 40
    rows = [
        row("http://www.w3.org/2000/01/rdf-schema#label",
            f"DBp Game {g}", lang="en"),
        row("http://www.w3.org/2000/01/rdf-schema#label",
            f"DBp Spiel {g}", lang="de"),
        row("http://dbpedia.org/ontology/abstract",
            f"Abstract of game {g}.", lang="en"),
        row("http://dbpedia.org/property/date", str(year)),
        row("http://dbpedia.org/ontology/designer",
            uri=f"http://dbpedia.org/resource/Designer_{g % 20}",
            label=f"Designer {g % 20}"),
        row("http://dbpedia.org/ontology/publisher",
            uri=f"http://dbpedia.org/resource/Publisher_{g % 10}",
            label=f"Publisher {g % 10}"),
        row("http://xmlns.com/foaf/0.1/depiction",
            uri=f"http://commons.wikimedia.org/wiki/Special:FilePath/"
                f"Game_{g}.jpg"),
        row("http://dbpedia.org/property/players", str(1 + g % 4)),
        row("http://dbpedia.org/property/ages", str(6 + g % 10)),
        row("http://dbpedia.org/property/bggid", str(g)),
        row("http://www.w3.org/2002/07/owl#sameAs",
            uri=f"https://www.wikidata.org/wiki/Q{100000 + g}"),
        row("http://dbpedia.org/ontology/wikiPageExternalLink",
            uri=f"https://example.com/game{g}"),
    ]
    return (
        f'<?xml version="1.0"?><sparql xmlns="{_SPARQL_NS_URI}">'
        '<head><variable name="property"/><variable name="value"/>'
        '<variable name="label"/></head>'
        f'<results>{"".join(rows)}</results></sparql>'
    )


def dbpedia_corpus(n_games: int = 12) -> pd.DataFrame:
    game_type = "http://dbpedia.org/ontology/BoardGame"
    pages = []

    def add(url, body):
        canon = canonicalize_one(url)
        pages.append({
            "url_canon": canon, "status": 200,
            "content_type": "application/sparql-results+xml",
            "body": body, "latency_ms": latency_for(canon),
        })

    add(dbpedia_games_url(game_type), dbpedia_games_body(game_type, n_games))
    for g in range(1, n_games + 1):
        add(dbpedia_game_url(g), dbpedia_game_body(g))
    return pd.DataFrame(pages)


# -- bgg_geeklist (bgg_geeklist.py:49-137) ----------------------------------

def geeklist_url(list_id: int = 30543, page: int = 1) -> str:
    base = f"{BGG}/geeklist/{list_id}/bgg-top-50-statistics-meta-list"
    return base if page == 1 else f"{base}?page={page}"


def geeklist_body(list_id: int, page: int, n_pages: int,
                  items_per_page: int = 10) -> str:
    """Geeklist page: data-objecttype='listitem' entries whose title is
    '<rank>:' + game link, plus embedded child-geeklist links and
    pagination (bgg_geeklist.py:101-137)."""
    items = []
    for i in range(items_per_page):
        rank = (page - 1) * items_per_page + i + 1
        gid = 1 + _h(f"gl:{list_id}:{rank}") % 4000
        if rank % 7 == 0:
            # every 7th item links a child geeklist, not a game
            # (parse_geeklist branch, bgg_geeklist.py:76-84)
            child = list_id + rank
            items.append(
                f'<div data-objecttype="listitem" id="item_{rank}">'
                f'<div class="geeklist_item_title">'
                f'<a href="/item/{rank}">{rank}:</a> '
                f'<a href="/geeklist/{child}/child-list-{child}">'
                f"Child list {child}</a></div></div>"
            )
            continue
        items.append(
            f'<div data-objecttype="listitem" id="item_{rank}">'
            f'<div class="geeklist_item_title">'
            f'<a href="/item/{rank}">{rank}:</a> '
            f'<a href="/boardgame/{gid}/listed-game-{gid}">Listed Game {gid}'
            f"</a></div>"
            f'<a href="/boardgame/{gid}/g"><img alt="Board Game: Listed '
            f'Game {gid}" src="https://cf.geekdo-images.com/gl/{gid}.jpg">'
            "</a></div>"
        )
    pages = "".join(
        f'<a title="page {p}" href="/geeklist/{list_id}/'
        f"bgg-top-50-statistics-meta-list?page={p}\">{p}</a>"
        for p in range(1, n_pages + 1) if p != page
    )
    return (
        "<html><head><title>BGG Top 50 Statistics from 1 Jan 2010 to "
        "31 Mar 2010 | BoardGameGeek</title></head>"
        f'<body><div class="geeklist_title">BGG Top 50 Statistics from '
        f"1 Jan 2010 to 31 Mar 2010</div>{pages}"
        f'{"".join(items)}</body></html>'
    )


def luding_body(i: int) -> str:
    """GameData.py page shape (luding.py:52-107: labeled table rows)."""
    return (
        f"<html><body><h1>Luding Game {i}</h1>"
        "<table>"
        f"<tr><td>Year:</td><td>{1980 + i % 45}</td></tr>"
        "<tr><td>Type:</td><td>Board Game</td></tr>"
        f"<tr><td>Box text:</td><td>Box text of game {i}.</td></tr>"
        f'<tr><td>Designer:</td><td><a href="/d/{i % 20}">'
        f"Designer {i % 20}</a></td></tr>"
        f'<tr><td>Art:</td><td><a href="/a/{i % 15}">Artist {i % 15}</a>'
        "</td></tr>"
        f'<tr><td>Publisher name:</td><td><a href="/p/{i % 10}">'
        f"Publisher {i % 10}</a></td></tr>"
        f"<tr><td>No. of players:</td><td>{1 + i % 4}-{2 + i % 6}</td></tr>"
        f"<tr><td>Age:</td><td>from {6 + i % 10} years</td></tr>"
        f'<tr><td><img src="/img/luding{i}.png"></td></tr>'
        "</table></body></html>"
    )


def spielen_body(i: int) -> str:
    """fullBox page shape (spielen.py:80-183: labeled div pairs, rating
    spans, complexity dots)."""
    c = 1 + i % 5
    dots = "".join(
        '<span class="dot"></span>' for _ in range(c - 1)
    ) + '<span class="red dot"></span>' + "".join(
        '<span class="dot"></span>' for _ in range(5 - c)
    )
    return (
        '<html><body><div class="fullBox">'
        f"<h2>Spiel {i}</h2>Ein spannendes   Spiel Nummer {i}."
        f'<div><div><b>Autor:</b></div><div>Autor {i % 20}</div></div>'
        f"<div><div><b>Illustrator:</b></div><div>Maler {i % 15}</div></div>"
        f'<div><div><b>Verlag:</b></div><div><a href="/verlag/{i % 10}">'
        f"Verlag {i % 10}</a></div></div>"
        f"<div><div><b>Erscheinungsjahr:</b></div>"
        f"<div>{1980 + i % 40}</div></div>"
        f"<div><div><b>Spieler:</b></div>"
        f"<div>{1 + i % 4} - {2 + i % 6} Spieler</div></div>"
        f"<div><div><b>Alter:</b></div><div>ab {6 + i % 10} Jahren</div></div>"
        f"<div><div><b>Dauer:</b></div>"
        f"<div>{30 + i % 60} - {45 + i % 60} Minuten</div></div>"
        f'<div><div><b>Spielfamilie:</b></div><div>Familie {i % 8}</div></div>'
        f'<img data-src="/img/spiel{i}.jpg">'
        f'<iframe src="https://video.example/v{i}"></iframe>'
        f'<span class="votes">{10 + i % 90}</span>'
        f'<span class="average">{round(1 + (i % 40) / 10, 1)}</span>'
        f"<div><div>Komplexität:</div><div>{dots}</div></div>"
        "</div></body></html>"
    )


# ---------------------------------------------------------------------------
# Corpus assembly
# ---------------------------------------------------------------------------

def robots_body(host: str, disallow: tuple[str, ...] = ("/private/",)) -> str:
    rules = "\n".join(f"Disallow: {p}" for p in disallow)
    return f"# robots for {host}\nUser-agent: *\n{rules}\n"


def robots_url(host: str) -> str:
    return f"https://{host}/robots.txt"


def corpus(
    n_browse: int = 25,
    n_users: int = 50,
    n_other: int = 20,
    per_page: int = 20,
    comments_per_game: int = 2,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Build (seeds, pages) DataFrames.  n_games = n_browse * 15.

    ``comments_per_game`` scales per-page parse work (the reference
    fetches 100 rating comments per thing page, bgg.py:124); tests use 2
    for speed, benchmarks use realistic volumes.
    """
    n_games = max(n_browse * 15, 30)
    pages: dict[str, tuple[int, str, str]] = {}  # canon -> (status, ctype, body)

    def add(url: str, ctype: str, body: str) -> str:
        canon = canonicalize_one(url)
        assert canon is not None, url
        if canon not in pages:
            pages[canon] = (status_for(canon), ctype, body)
        return canon

    for p in range(1, n_browse + 1):
        add(browse_url(p), "text/html", browse_body(p, n_browse, n_games))
        gids = page_games(p, n_games, per_page)
        for i in range(0, len(gids), 10):
            batch = gids[i : i + 10]
            add(thing_url(batch), "text/xml",
                thing_body(batch, n_users, comments_per_game))
    for u in range(1, n_users + 1):
        name = f"user{u}"
        add(user_url(name), "text/xml", user_body(name))
        add(collection_url(name), "text/xml", collection_body(name, n_games))
    for i in range(1, n_other + 1):
        add(luding_url(i), "text/html", luding_body(i))
        add(spielen_url(i), "text/html", spielen_body(i))
    # robots.txt per host (F5); default rules disallow only /private/,
    # which no crawl URL uses, so the baseline crawl is unaffected.
    for host in ("boardgamegeek.com", "www.luding.org",
                 "gesellschaftsspiele.spielen.de"):
        canon = canonicalize_one(robots_url(host))
        pages[canon] = (200, "text/plain", robots_body(host))

    pages_df = pd.DataFrame(
        [
            {
                "url_canon": canon,
                "status": status,
                "content_type": ctype,
                "body": body,
                "latency_ms": latency_for(canon),
            }
            for canon, (status, ctype, body) in sorted(pages.items())
        ]
    )

    # Seeds: all browse pages (~80% of hosts traffic is BGG — the hot-host
    # skew the north_rule requires), plus other-host game pages and a few
    # direct user URLs (priority +3 like bgg.py:375).
    seeds = []
    for p in range(1, n_browse + 1):
        seeds.append({"url": browse_url(p), "source": "bgg", "priority": 0})
    for i in range(1, n_other + 1):
        seeds.append({"url": luding_url(i), "source": "luding", "priority": 0})
        seeds.append({"url": spielen_url(i), "source": "spielen", "priority": 0})
    for u in range(1, min(n_users, 10) + 1):
        seeds.append({"url": user_url(f"user{u}"), "source": "bgg", "priority": 3})
    return pd.DataFrame(seeds), pages_df


def extended_corpus(n_entities: int = 20) -> pd.DataFrame:
    """Extra page types (wikidata SPARQL + EntityData, rank history) —
    kept out of the default corpus so the crawl-equality tests' simulator
    stays minimal; parser/crawl tests opt in."""
    pages = []

    def add(url, ctype, body):
        canon = canonicalize_one(url)
        pages.append({
            "url_canon": canon, "status": 200, "content_type": ctype,
            "body": body, "latency_ms": latency_for(canon),
        })

    add(sparql_url(1), "application/sparql-results+xml",
        sparql_body(1, n_entities))
    for i in range(n_entities):
        qid = 100 + 100 + i  # page-1 ids
        add(wikidata_entity_url(qid), "application/json",
            wikidata_entity_body(qid, 300))
    for g in range(1, 11):
        add(rank_history_url(g), "application/json", rank_history_body(g))
    return pd.DataFrame(pages)


def rankings_corpus() -> pd.DataFrame:
    """Pages for the bgg_rankings + bgg_geeklist spiders: a chain of
    archived /browse/boardgame snapshots linked by wayback-toolbar nav
    (bgg_rankings.py:345-354), the three legacy layouts, and a paginated
    geeklist with child lists (bgg_geeklist.py:76-84)."""
    dates = ("20100215000000", "20100315000000", "20100415000000")
    per_page = 10
    geeklist_id, geeklist_pages, geeklist_items = 30543, 3, 8
    pages = []

    def add(url, ctype, body):
        canon = canonicalize_one(url)
        pages.append({
            "url_canon": canon, "status": 200, "content_type": ctype,
            "body": body, "latency_ms": latency_for(canon),
        })

    target = "http://boardgamegeek.com/browse/boardgame"
    for d in dates:
        add(archive_url(d, target), "text/html",
            rankings_modern_body(d, page=1, n_pages=1, per_page=per_page))
    add(f"{BGG}/rankbrowse.php3", "text/html",
        rankings_simplebox_body(dates[0], n=per_page))
    add(f"{BGG}/browser.php?itemtype=game&sortby=rank", "text/html",
        rankings_gamebrowser_body(dates[0], n=per_page))
    add(f"{BGG}/top50.htm", "text/html",
        rankings_top50_body(dates[0], n=per_page))

    for p in range(1, geeklist_pages + 1):
        add(geeklist_url(geeklist_id, p), "text/html",
            geeklist_body(geeklist_id, p, geeklist_pages, geeklist_items))
    # child geeklists referenced by every 7th item
    for rank in range(7, geeklist_pages * geeklist_items + 1, 7):
        child = geeklist_id + rank
        add(f"{BGG}/geeklist/{child}/child-list-{child}", "text/html",
            geeklist_body(child, 1, 1, items_per_page=5))
    return pd.DataFrame(pages)


def callback_kind_for(url_canon: str) -> str:
    """Dispatch column: which parser handles this URL (the reference's
    Request.callback, bgg.py:284-291, as data)."""
    if "web.archive.org" in url_canon:
        return "bgg_rankings"
    # geeklist first: real geeklist slugs can contain 'top50'; legacy
    # filename rules are anchored to the boardgamegeek host
    if "/geeklist/" in url_canon:
        return "bgg_geeklist"
    if "boardgamegeek.com" in url_canon and any(
        p in url_canon
        for p in ("rankbrowse.php3", "browser.php", "top50", "topn.php3")
    ):
        return "bgg_rankings"
    if "dbpedia.org/sparql" in url_canon:
        return ("dbpedia_game" if "%3Fproperty" in url_canon
                else "dbpedia_games")
    if "/browse/boardgame" in url_canon:
        return "bgg_browse"
    if "/xmlapi2/thing" in url_canon:
        return "bgg_thing"
    if "/xmlapi2/user" in url_canon:
        return "bgg_user"
    if "/xmlapi2/collection" in url_canon:
        return "bgg_collection"
    if "historicalrankgraph" in url_canon:
        return "bgg_rank_history"
    if "query.wikidata.org/sparql" in url_canon:
        return "wikidata_sparql"
    if "/wiki/Special:EntityData/" in url_canon:
        return "wikidata_entity"
    if url_canon.endswith("/robots.txt"):
        return "unknown"
    if "luding.org" in url_canon:
        return "luding_game"
    if "spielen.de" in url_canon:
        return "spielen_game"
    return "unknown"


def write_corpus_parquet(pages_pd, seeds_pd, data_dir: str,
                         n_files: int = 32) -> None:
    """Materialize a synthetic corpus straight to parquet via pyarrow —
    no Spark job, so the corpus NEVER rides in task closures (the 68 MB
    driver-shipped-task anti-pattern; VERDICT r01 #1).  Benchmarks then
    ``spark.read.parquet`` it like any production source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages_schema = pa.schema([
        ("url_canon", pa.string()), ("status", pa.int32()),
        ("content_type", pa.string()), ("body", pa.string()),
        ("latency_ms", pa.int32()),
    ])
    seeds_schema = pa.schema([
        ("url", pa.string()), ("source", pa.string()),
        ("priority", pa.int32()),
    ])
    from pathlib import Path

    import zlib

    import numpy as np

    for name, pdf, schema in (("pages", pages_pd, pages_schema),
                              ("seeds", seeds_pd, seeds_schema)):
        out = Path(data_dir) / name
        out.mkdir(parents=True, exist_ok=True)
        # Deterministic hash-interleave before slicing: the synth frame
        # is generated kind-by-kind, so contiguous slices would cluster
        # the heavy thing pages (100 rating comments each) into a few
        # files — one unsplittable row group per file then binds the
        # whole fused parse stage to its single biggest task (event-log
        # profile, round 6: max task 27.6s ≈ 80% of the stage at
        # local[32]).  A real frontier's fetch input arrives
        # hash-distributed by url, so even file sizes are the
        # production shape, not an optimization.
        key_col = "url_canon" if "url_canon" in pdf.columns else "url"
        order = np.argsort(
            [zlib.crc32(u.encode()) for u in pdf[key_col]],
            kind="stable",
        )
        pdf = pdf.iloc[order]
        tbl = pa.Table.from_pandas(pdf[[f.name for f in schema]],
                                   schema=schema, preserve_index=False)
        k = max(1, min(n_files, len(pdf) or 1))
        step = -(-max(len(pdf), 1) // k)
        for i in range(k):
            chunk = tbl.slice(i * step, step)
            if chunk.num_rows or i == 0:
                pq.write_table(chunk, out / f"part-{i:05d}.parquet")
