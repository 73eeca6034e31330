"""Parse stage — partition-parallel Arrow UDF over fetched pages.

One ``mapInArrow`` stage turns fetched bodies into: interleaved
text+media span sequences (BASELINE.json input_hint), typed item rows,
and discovered URLs (E4 link harvest — this closes the BSP loop).

The page shape.  Every parser returns ``_page(spans, games=, users=,
ratings=, discovered=)``, a dict of exactly those five keys.  Spans come
in as ``(kind, value)`` pairs in document order (value = the text of a
``text`` span, the media_ref of an ``image``/``video`` span) and leave
as ``schemas.SPAN`` dicts; ``_page`` is the one place offsets are
numbered: offset = position.

The span rule.  The 8 game parsers (thing, luding, spielen, wikidata
entity, hotness, rankings, geeklist, dbpedia game) take their spans from
their game rows through ``_game_spans``: per row, in order, the name and
the description when non-empty, one span per ``image_url``, one per
``video_url``.  The other 6 parsers emit their own text spans.
Discovered-URL builders come from ``functions/canon.py``.

Reference parse callbacks reproduced (behavior, not code):

- ``spiders/bgg.py:399-427``  parse (browse HTML): harvest game links +
  next-page link (priority +1, bgg.py:408-413).
- ``spiders/bgg.py:429-652``  parse_game (thing XML): name/description
  through the C7 clean chain (incl. the double-encoded entity hack,
  utils.py:78-86), value:id encoding for links (E8, bgg.py:85-105),
  range validation (C8), rank struct (E9, bgg.py:640-650); rating
  comments → RatingItems + discovered collection (+1, bgg.py:686-688)
  and user (+3, bgg.py:375) URLs.
- ``spiders/bgg.py:654-729``  parse_collection (collection XML) →
  RatingItems with composite key "{user}:{bgg_id}" (bgg.py:709-710).
- ``spiders/bgg.py:732-762``  parse_user (user XML) → one UserItem.
- ``spiders/luding.py:52-107`` / ``spiders/spielen.py:80-183``:
  single-game HTML with interval parsing (E12, spielen.py:16-27).

All parsing is stdlib (ElementTree + regex): no per-row Python crossing
the JVM boundary — one Arrow batch in, one Arrow batch out.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from functools import lru_cache

from ..functions.canon import (
    BGG, canonicalize_one, collection_url, dbpedia_game_url, thing_url,
    user_url, wikidata_entity_url,
)
from ..functions.text import clean_text_one
from ..schemas import GAME_ITEM, PARSE_FLAT

# Discovered URLs repeat heavily across pages of one batch (the same
# user/collection URLs appear on every thing page mentioning the user) —
# canonicalization is pure, so memoize per worker.
_canon_cached = lru_cache(maxsize=1_000_000)(canonicalize_one)
# Names/descriptions repeat across overlapping batches; the C7 chain is
# pure → memoize (bit-identical output, just cached).
clean_text_one = lru_cache(maxsize=500_000)(clean_text_one)

_RE_GAME_LINK = re.compile(r'<a href="/boardgame/(\d+)/[^"]*">([^<]*)</a>')
_RE_NEXT_PAGE = re.compile(r'<a title="next page" href="([^"]+)"')
_RE_PLAYERS = re.compile(r"(\d+)(\s*-\s*(\d+))?")

# Deterministic "scraped_at" (the reference stamps now(), utils.py:99-103;
# replay must be reproducible, so we stamp a fixed UTC instant).
SCRAPED_AT = datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)


def _validate_range(value, lower=None, upper=None):
    """utils.py:190-197."""
    if value is None:
        return None
    if (lower is None or lower <= value) and (upper is None or value <= upper):
        return value
    return None


def _int(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _float(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _page(spans=(), games=(), users=(), ratings=(), discovered=()) -> dict:
    """The one page shape: ``spans`` are ``(kind, value)`` pairs in
    document order, numbered here (offset = position)."""
    return {
        "spans": [
            {"kind": kind, "text": value if kind == "text" else None,
             "media_ref": None if kind == "text" else value, "offset": i}
            for i, (kind, value) in enumerate(spans)
        ],
        "games": list(games), "users": list(users),
        "ratings": list(ratings), "discovered": list(discovered),
    }


def _game_spans(games):
    """The span rule of every game parser: per game row, its name and
    description (when non-empty), then one span per image_url and one
    per video_url."""
    for g in games:
        if g["name"]:
            yield "text", g["name"]
        if g["description"]:
            yield "text", g["description"]
        for ref in g["image_url"] or ():
            yield "image", ref
        for ref in g["video_url"] or ():
            yield "video", ref


MIN_VOTES = 20  # bgg.py:147


def _median_grouped(values: list[float]):
    """statistics.median_grouped — exact formula L + ((n/2 - cf)/f)*h
    (E7, bgg.py:73-83; not equal to percentile_approx, so computed here
    bit-for-bit)."""
    import statistics

    if not values:
        return None
    return float(statistics.median_grouped(values))


def _expand_votes(pairs: list[tuple[float, int]]) -> list[float]:
    """(value, numvotes) → value repeated numvotes times
    (bgg.py:73-79 _parse_votes)."""
    out: list[float] = []
    for value, votes in pairs:
        out.extend([value] * votes)
    return out


def _filter_votes(votes_best: int, votes_rec: int, votes_not: int,
                  best: bool) -> bool:
    """bgg.py:323-334: drop rows with < MIN_VOTES/2 total; majority rule
    (Recommended counts as 'true' unless scoring Best)."""
    if votes_best + votes_rec + votes_not < MIN_VOTES / 2:
        return False
    votes_true, votes_false = votes_best, votes_not
    if best:
        votes_false += votes_rec
    else:
        votes_true += votes_rec
    return votes_true > votes_false


def _parse_numplayers(raw: str | None) -> int | None:
    """'4+' → 5 (bgg.py:52-61)."""
    if not raw:
        return None
    n = _int(raw)
    if n:
        return n
    if raw.endswith("+"):
        n = _int(raw[:-1]) or -1
        return n + 1
    return None


def _fold_player_poll(item: ET.Element, min_players, max_players):
    """E6 (bgg.py:336-357 _player_count_votes): (min_rec, max_rec,
    min_best, max_best) from the suggested_numplayers poll."""
    poll = item.find("poll[@name='suggested_numplayers']")
    if poll is None or (_int(poll.get("totalvotes")) or 0) < MIN_VOTES:
        return min_players, max_players, min_players, max_players
    votes = []
    for res in poll.findall("results"):
        players = _parse_numplayers(res.get("numplayers"))
        if not players:
            continue

        def nv(val):
            e = res.find(f"result[@value='{val}']")
            return (_int(e.get("numvotes")) or 0) if e is not None else 0

        votes.append((players, nv("Best"), nv("Recommended"),
                      nv("Not Recommended")))
    votes.sort(key=lambda x: x[0])
    rec = [v[0] for v in votes if _filter_votes(v[1], v[2], v[3], False)]
    best = [v[0] for v in votes if _filter_votes(v[1], v[2], v[3], True)]
    return (
        min(rec, default=min_players),
        max(rec, default=max_players),
        min(best, default=min_players),
        max(best, default=max_players),
    )


def _poll_stat(item: ET.Element, name: str, attr: str = "value",
               enum: bool = False):
    """E7 (bgg.py:359-373 _poll): median_grouped over expanded votes;
    None when the poll has < MIN_VOTES total."""
    poll = item.find(f"poll[@name='{name}']")
    if poll is None or (_int(poll.get("totalvotes")) or 0) < MIN_VOTES:
        return None
    pairs = []
    for i, res in enumerate(poll.findall("results/result"), start=1):
        value = i if enum else _int(res.get(attr))
        votes = _int(res.get("numvotes")) or 0
        if value is not None:
            pairs.append((value, votes))
    expanded = _expand_votes(pairs)
    return _median_grouped(expanded) if expanded else None


def _remove_rank_suffix(value: str | None) -> str | None:
    """bgg.py:92-98 _remove_rank."""
    if value and value.lower().endswith(" rank"):
        return value[:-5]
    return value


def batchify(ids: list[int]) -> list[list[int]]:
    """bgg.py:263 batching: sorted ids in chunks of 10."""
    s = sorted(ids)
    return [s[i : i + 10] for i in range(0, len(s), 10)]


def parse_browse(url_canon: str, body: str) -> dict:
    """bgg.py:399-427: 0 items, requests for games + next page."""
    spans, discovered, seen_ids, order = [], [], set(), []
    for m in _RE_GAME_LINK.finditer(body):
        gid = int(m.group(1))
        name = clean_text_one(m.group(2))
        if name:  # _game_spans' rule: no text span for an empty name
            spans.append(("text", name))
        if gid not in seen_ids:
            seen_ids.add(gid)
            order.append(gid)
    for batch in batchify(order):
        discovered.append(
            {"url": thing_url(batch), "priority": 0,
             "callback_kind": "bgg_thing"}
        )
    nxt = _RE_NEXT_PAGE.search(body)
    if nxt:
        discovered.append(
            {"url": BGG + nxt.group(1), "priority": 1,
             "callback_kind": "bgg_browse"}
        )
    return _page(spans, discovered=discovered)


def _link_values(item: ET.Element, link_type: str) -> list[str]:
    """E8 value:id encoding (bgg.py:85-105): 'Value:123' strings."""
    out = []
    for ln in item.findall(f"link[@type='{link_type}']"):
        value, lid = ln.get("value"), ln.get("id")
        if value:
            out.append(f"{value}:{lid}" if lid else value)
    return out


def parse_thing(url_canon: str, body: str) -> dict:
    """bgg.py:429-652 parse_game + embedded rating comments."""
    root = ET.fromstring(body)
    games, ratings, discovered = [], [], []
    users_seen = []
    for item in root.findall("item"):
        gid = _int(item.get("id"))
        name_el = item.find("name[@type='primary']")
        name = clean_text_one(name_el.get("value")) if name_el is not None else None
        desc_el = item.find("description")
        desc = clean_text_one(desc_el.text) if desc_el is not None else None

        def attr_val(tag, cast=_int, el=item):
            e = el.find(tag)
            return cast(e.get("value")) if e is not None else None

        year = _validate_range(attr_val("yearpublished"), -4000, 2035)
        ratings_el = item.find("statistics/ratings")
        rank_el = item.find("statistics/ratings/ranks/rank[@name='boardgame']")
        image = item.findtext("image")  # "" for an empty <image/>
        video_els = item.findall("videos/video")

        avg = attr_val("average", _float, ratings_el) if ratings_el is not None else None
        min_p = _validate_range(attr_val("minplayers"), 1, None)
        max_p = _validate_range(attr_val("maxplayers"), 1, None)
        min_rec, max_rec, min_best, max_best = _fold_player_poll(
            item, min_p, max_p
        )
        add_rank = [
            {
                "game_type": r.get("name"),
                "game_type_id": _int(r.get("id")),
                "name": _remove_rank_suffix(r.get("friendlyname")),
                "rank": _int(r.get("value")),
                "bayes_rating": _float(r.get("bayesaverage")),
            }
            for r in item.findall(
                "statistics/ratings/ranks/rank[@type='family']"
            )
        ]
        game = _game_row(
            bgg_id=gid,
            name=name,
            year=year,
            description=desc,
            designer=_link_values(item, "boardgamedesigner") or None,
            artist=_link_values(item, "boardgameartist") or None,
            publisher=_link_values(item, "boardgamepublisher") or None,
            url=f"{BGG}/boardgame/{gid}/",
            image_url=[image] if image else None,
            video_url=[v.get("link") for v in video_els] or None,
            min_players=min_p,
            max_players=max_p,
            min_players_rec=min_rec,
            max_players_rec=max_rec,
            min_players_best=min_best,
            max_players_best=max_best,
            min_age=_validate_range(attr_val("minage"), 0, 21),
            min_age_rec=_validate_range(
                _poll_stat(item, "suggested_playerage"), 0, 21),
            min_time=_validate_range(attr_val("playingtime"), 1, None),
            max_time=_validate_range(attr_val("playingtime"), 1, None),
            category=_link_values(item, "boardgamecategory") or None,
            mechanic=_link_values(item, "boardgamemechanic") or None,
            family=_link_values(item, "boardgamefamily") or None,
            expansion=_link_values(item, "boardgameexpansion") or None,
            rank=_int(rank_el.get("value")) if rank_el is not None else None,
            add_rank=add_rank or None,
            num_votes=_validate_range(
                attr_val("usersrated", el=ratings_el) if ratings_el is not None else None,
                0, None),
            avg_rating=_validate_range(avg, 1, 10),
            stddev_rating=_validate_range(
                attr_val("stddev", _float, ratings_el) if ratings_el is not None else None,
                0, None),
            bayes_rating=_validate_range(
                attr_val("bayesaverage", _float, ratings_el) if ratings_el is not None else None,
                0, 10),
            complexity=_validate_range(
                attr_val("averageweight", _float, ratings_el) if ratings_el is not None else None,
                1, 5),
            language_dependency=_validate_range(
                _poll_stat(item, "language_dependence", attr="level",
                           enum=True),
                1, 5),
        )
        games.append(game)

        for c in item.findall("comment"):
            user = (c.get("username") or "").lower()  # items.py:554-556
            if not user:
                continue
            ratings.append(
                {
                    "item_id": f"{user}:{gid}",  # bgg.py:709-710
                    "bgg_id": gid,
                    "bgg_user_name": user,
                    "bgg_user_rating": _validate_range(
                        _float(c.get("rating")), 1, 10),
                    "bgg_user_owned": None,
                    "bgg_user_wishlist": None,
                    "bgg_user_play_count": None,
                    "comment": clean_text_one(c.get("value")),
                    "scraped_at": SCRAPED_AT,
                }
            )
            if user not in users_seen:
                users_seen.append(user)
    for user in users_seen:
        discovered.append(
            {"url": collection_url(user), "priority": 1,
             "callback_kind": "bgg_collection"}  # bgg.py:686-688
        )
        discovered.append(
            {"url": user_url(user), "priority": 3,
             "callback_kind": "bgg_user"}  # bgg.py:375
        )
    return _page(_game_spans(games), games=games, ratings=ratings,
                 discovered=discovered)


def parse_user(url_canon: str, body: str) -> dict:
    """bgg.py:732-762: exactly 1 item, 0 requests."""
    root = ET.fromstring(body)

    def attr_val(tag):
        e = root.find(tag)
        return e.get("value") if e is not None else None

    name = (root.get("name") or "").lower()
    user = {
        "item_id": _int(root.get("id")),
        "bgg_user_name": name,
        "first_name": clean_text_one(attr_val("firstname")),
        "last_name": clean_text_one(attr_val("lastname")),
        "registered": _int(attr_val("yearregistered")),
        "last_login": None,
        "country": clean_text_one(attr_val("country")),
        "external_link": None,
        "image_url": None,
        "scraped_at": SCRAPED_AT,
    }
    text = " ".join(filter(None, [user["first_name"], user["last_name"]]))
    return _page([("text", text or name)], users=[user])


def parse_collection(url_canon: str, body: str) -> dict:
    """bgg.py:654-729: RatingItems keyed '{user}:{bgg_id}'."""
    root = ET.fromstring(body)
    m = re.search(r"username=([^&]+)", url_canon)
    user = (m.group(1) if m else "").lower()
    spans, ratings = [], []
    for item in root.findall("item"):
        gid = _int(item.get("objectid"))
        rating_el = item.find("stats/rating")
        status_el = item.find("status")
        plays_el = item.find("numplays")
        ratings.append(
            {
                "item_id": f"{user}:{gid}",
                "bgg_id": gid,
                "bgg_user_name": user,
                "bgg_user_rating": _validate_range(
                    _float(rating_el.get("value")) if rating_el is not None else None,
                    1, 10),
                "bgg_user_owned": (
                    status_el.get("own") == "1" if status_el is not None else None),
                "bgg_user_wishlist": None,
                "bgg_user_play_count": _int(plays_el.text) if plays_el is not None else None,
                "comment": None,
                "scraped_at": SCRAPED_AT,
            }
        )
        spans.append(("text", f"{user} rates {gid}"))
    return _page(spans, ratings=ratings)


def _interval(text: str | None) -> tuple[int | None, int | None]:
    """spielen.py:16-27 _parse_interval: '2 - 4' → (2, 4); '3' → (3, 3)."""
    if not text:
        return None, None
    m = _RE_PLAYERS.search(text)
    if not m:
        return None, None
    lo = _int(m.group(1))
    hi = _int(m.group(3)) if m.group(3) else lo
    return lo, hi


def parse_luding(url_canon: str, body: str) -> dict:
    """luding.py:52-107 parse_game: labeled-table-row extraction over the
    stdlib DOM engine (E2) — name, year, description, designer/artist/
    publisher links, players interval, age, image."""
    from ..functions.html import parse_html

    doc = parse_html(body)
    h1 = doc.select_first("h1")
    name = clean_text_one(h1.text()) if h1 else None

    def row_cell(label: str):
        for tr in doc.select("table tr"):
            tds = tr.child_elements("td")
            if len(tds) >= 2 and tds[0].text() == label:
                return tds[1]
        return None

    def cell_text(label: str):
        cell = row_cell(label)
        return clean_text_one(cell.text()) if cell is not None else None

    def cell_links(label: str):
        cell = row_cell(label)
        if cell is None:
            return None
        vals = [clean_text_one(a.text()) for a in cell.select("a")]
        return [v for v in vals if v] or None

    players = cell_text("No. of players:")
    lo, hi = _interval(players)
    age = _lenient_int(cell_text("Age:"))
    images = [img.get("src") for img in doc.select("table img")
              if img.get("src")]
    images = [_urljoin(url_canon, i) for i in images]
    game = _game_row(
        url=url_canon,
        name=name,
        year=_lenient_int(cell_text("Year:")),
        description=cell_text("Box text:"),
        designer=cell_links("Designer:"),
        artist=cell_links("Art:"),
        publisher=cell_links("Publisher name:"),
        image_url=images or None,
        min_players=_validate_range(lo, 1, None),
        max_players=_validate_range(hi, 1, None),
        min_age=_validate_range(age, 0, 21),
    )
    return _page(_game_spans([game]), games=[game])


def parse_spielen(url_canon: str, body: str) -> dict:
    """spielen.py:80-183 parse_game: fullBox labeled-div pairs, rating
    spans, complexity-dot counting — on the stdlib DOM engine (E2)."""
    from ..functions.html import parse_html

    doc = parse_html(body)
    box = doc.select_first("div.fullBox") or doc
    h2 = box.select_first("h2")
    name = clean_text_one(h2.text()) if h2 else None
    # description = text siblings after the h2
    # (.//h2/following-sibling::text())
    desc = None
    if h2 is not None and h2.parent is not None:
        sib = h2.parent.children
        texts = [c for c in sib[sib.index(h2) + 1:] if isinstance(c, str)]
        desc = clean_text_one(" ".join(texts)) or None

    def labeled_div(*labels):
        """div[b = "Label"]/following-sibling::div."""
        for d in box.select("div"):
            bs = d.child_elements("b")
            if bs and bs[0].text() in labels:
                parent = d.parent
                kids = parent.child_elements() if parent else []
                idx = kids.index(d)
                if idx + 1 < len(kids) and kids[idx + 1].tag == "div":
                    return kids[idx + 1]
        return None

    def labeled_text(*labels):
        cell = labeled_div(*labels)
        return clean_text_one(cell.text()) if cell is not None else None

    lo_p, hi_p = _interval(labeled_text("Spieler:"))
    lo_t, hi_t = _interval(labeled_text("Dauer:"))
    age = _lenient_int(labeled_text("Alter:"))
    pub_div = labeled_div("Verlag:", "Verlage:")
    publishers = (
        [clean_text_one(a.text()) for a in pub_div.select("a")]
        if pub_div is not None else None
    )
    images = [i for i in (
        [img.get("data-src") for img in box.select("img")][:1]
        + [img.get("data-large-src")
           for img in box.select("div.screenshotlist img")]
    ) if i]
    images = [_urljoin(url_canon, i) for i in images]
    videos = [
        _urljoin(url_canon, f.get("src") or f.get("data-src"))
        for f in box.select("iframe")
        if f.get("src") or f.get("data-src")
    ]
    votes_el = box.select_first("span.votes")
    avg_el = box.select_first("span.average")
    # complexity = dots before the red marker + 1 (spielen.py:171-177)
    complexity = None
    comp_div = None
    for d in box.select("div"):
        if d.text() != "Komplexität:" or d.parent is None:
            continue
        kids = d.parent.child_elements()
        idx = kids.index(d)
        nxt = kids[idx + 1] if idx + 1 < len(kids) else None
        if nxt is not None and nxt.tag == "div" and nxt.select("span"):
            comp_div = nxt
            break
    if comp_div is not None:
        spans_el = comp_div.child_elements("span")
        n_before = 0
        for s in spans_el:
            if "red" in s.classes:
                break
            n_before += 1
        complexity = float(n_before + 1)

    game = _game_row(
        url=url_canon,
        name=name,
        description=desc,
        year=_lenient_int(labeled_text("Erscheinungsjahr:")),
        designer=[labeled_text("Autor:", "Autoren:")]
        if labeled_text("Autor:", "Autoren:") else None,
        artist=[labeled_text("Illustrator:", "Illustratoren:")]
        if labeled_text("Illustrator:", "Illustratoren:") else None,
        publisher=[p for p in publishers or [] if p] or None,
        family=[labeled_text("Spielfamilie:", "Spielfamilien:")]
        if labeled_text("Spielfamilie:", "Spielfamilien:") else None,
        image_url=images or None,
        video_url=videos or None,
        min_players=_validate_range(lo_p, 1, None),
        max_players=_validate_range(hi_p, 1, None),
        min_time=_validate_range(lo_t, 1, None),
        max_time=_validate_range(hi_t, 1, None),
        min_age=_validate_range(age, 0, 21),
        num_votes=_lenient_int(votes_el.text()) if votes_el else None,
        avg_rating=_float(avg_el.text()) if avg_el else None,
        complexity=complexity,
    )
    return _page(_game_spans([game]), games=[game])


def jmes_path(data, path: str):
    """Minimal JMESPath subset used by the reference loaders (E3,
    wikidata.py:196-256): dotted keys, '[]' list projection, '*'
    wildcard over dict values.  Returns a flat list of matches."""
    nodes = [data]
    for part in path.split("."):
        proj = part.endswith("[]")
        key = part[:-2] if proj else part
        nxt = []
        for node in nodes:
            if key == "*":
                values = list(node.values()) if isinstance(node, dict) else []
            elif isinstance(node, dict) and key in node:
                values = [node[key]]
            else:
                values = []
            for v in values:
                if proj or (key == "*" and isinstance(v, list)):
                    if isinstance(v, list):
                        nxt.extend(v)
                else:
                    nxt.append(v)
        nodes = nxt
    return nodes


def _first(values):
    for v in values:
        if v is not None and v != "":
            return v
    return None


def parse_wikidata_entity(url_canon: str, body: str) -> dict:
    """E3 (wikidata.py:196-256): EntityData JSON → GameItem via the
    reference's jmespath list, TakeFirst on name."""
    import json as _json

    doc = _json.loads(body)
    entities = doc.get("entities", {})
    games = []
    for qid, ent in entities.items():
        name = _first(
            jmes_path(ent, "labels.en.value")
            + jmes_path(ent, "aliases.en[].value")
            + jmes_path(ent, "labels.*.value")
            + jmes_path(ent, "aliases.*[].value")
        )
        name = clean_text_one(name)
        alt = [clean_text_one(v) for v in (
            jmes_path(ent, "labels.*.value")
            + jmes_path(ent, "aliases.*[].value"))]
        alt = [a for i, a in enumerate(alt) if a and a not in alt[:i]]
        designer = (
            jmes_path(ent, "claims.P178[].mainsnak.datavalue.value.id")
            + jmes_path(ent, "claims.P50[].mainsnak.datavalue.value.id")
            + jmes_path(ent, "claims.P170[].mainsnak.datavalue.value.id")
            + jmes_path(ent, "claims.P287[].mainsnak.datavalue.value.id")
        )
        bgg_id = _int(_first(
            jmes_path(ent, "claims.P2339[].mainsnak.datavalue.value")))

        def amount(pid):
            raw = _first(jmes_path(
                ent, f"claims.{pid}[].mainsnak.datavalue.value.amount"))
            return _int(raw.lstrip("+")) if raw else None

        image = _first(jmes_path(ent, "claims.P18[].mainsnak.datavalue.value"))
        game = _game_row(
            bgg_id=bgg_id,
            name=name,
            alt_name=alt or None,
            designer=designer or None,
            url=url_canon,
            image_url=[image] if image else None,
            min_players=_validate_range(amount("P1872"), 1, None),
            max_players=_validate_range(amount("P1873"), 1, None),
        )
        games.append(game)
    return _page(_game_spans(games), games=games)


_SPARQL_NS = "{http://www.w3.org/2005/sparql-results#}"


def parse_sparql(url_canon: str, body: str) -> dict:
    """E5/S8 (wikidata.py:138-176): namespaced bindings → discovered
    EntityData URLs (priority +1, wikidata.py:108)."""
    root = ET.fromstring(body)
    spans, discovered = [], []
    for uri_el in root.iter(f"{_SPARQL_NS}uri"):
        uri = uri_el.text or ""
        m = re.search(r"/entity/Q(\d+)", uri)
        if not m:
            continue
        qid = int(m.group(1))
        discovered.append(
            {"url": wikidata_entity_url(qid), "priority": 1,
             "callback_kind": "wikidata_entity"}
        )
        spans.append(("text", f"Q{qid}"))
    return _page(spans, discovered=discovered)


def parse_rank_history(url_canon: str, body: str) -> dict:
    """E16 (bgg_json_rankings.py:115-156): {"data": [[ms_epoch, rank]]} →
    one GameItem per point with published_at = the epoch."""
    import json as _json

    doc = _json.loads(body)
    m = re.search(r"objectid=(\d+)", url_canon)
    gid = int(m.group(1)) if m else None
    spans, games = [], []
    for ms, rank in doc.get("data", []):
        ts = datetime.utcfromtimestamp(ms / 1000.0)
        game = _game_row(
            bgg_id=gid,
            name=f"game-{gid}",
            url=url_canon,
            rank=_int(rank),
            published_at=ts,
        )
        games.append(game)
        spans.append(("text", f"rank {rank} at {ts.date()}"))
    return _page(spans, games=games)


def parse_hotness(url_canon: str, body: str) -> dict:
    """bgg_hotness.py:76-99: 50 ranked items with thumbnails."""
    root = ET.fromstring(body)
    games = []
    for item in root.findall("item"):
        gid = _int(item.get("id"))
        name_el = item.find("name")
        thumb_el = item.find("thumbnail")
        name = clean_text_one(name_el.get("value")) if name_el is not None else None
        thumb = thumb_el.get("value") if thumb_el is not None else None
        game = _game_row(
            bgg_id=gid,
            name=name,
            url=url_canon,
            rank=_int(item.get("rank")),
            image_url=[thumb] if thumb else None,
        )
        games.append(game)
    return _page(_game_spans(games), games=games)


_GAME_FIELDS = tuple(GAME_ITEM.fieldNames())


def _game_row(**kw) -> dict:
    row = dict.fromkeys(_GAME_FIELDS)
    row["scraped_at"] = SCRAPED_AT
    row.update(kw)
    return row


# bgg_rankings.py:20-24 regexes (behavioral port)
_RE_DIGITS = re.compile(r"^\D*(\d+).*$")
_RE_ANY_BGG_ID = re.compile(r"/(?:board)?game/(\d+)")
_RE_ARCHIVE_DATE = re.compile(r"web\.archive\.org/web/(\d{4,14})")
_RE_WAYBACK_TITLE_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$|^\d{8,14}$")


def _lenient_int(s: str | None):
    """_parse_int(lenient=True) (bgg_rankings.py:27-43): first digit run."""
    if not s:
        return None
    v = _int(s.strip())
    if v is not None:
        return v
    m = _RE_DIGITS.match(s)
    return _int(m.group(1)) if m else None


def _bgg_id_from_href(href: str | None):
    """_extract_bgg_id (bgg_rankings.py:46-66): works on direct AND
    archive-prefixed URLs (the id pattern lives in the embedded path)."""
    if not href:
        return None
    m = _RE_ANY_BGG_ID.search(href)
    return _int(m.group(1)) if m else None


def _archive_date(url: str):
    """_extract_date (bgg_rankings.py:101-115): wayback timestamp from
    the URL path, E14 shape."""
    m = _RE_ARCHIVE_DATE.search(url or "")
    if not m:
        return None
    stamp = m.group(1).ljust(14, "0")[:14]
    try:
        return datetime.strptime(stamp, "%Y%m%d%H%M%S")
    except ValueError:
        return None


def _urljoin(base: str, href: str) -> str:
    if not href or "://" in href[:10]:
        return href
    from urllib.parse import urljoin

    return urljoin(base, href)


def parse_bgg_rankings(url_canon: str, body: str) -> dict:
    """bgg_rankings.py:183-354: one callback, four historical layouts +
    wayback-toolbar navigation.

    Contract (bgg_rankings.py:184-188): the modern browse page yields
    exactly 100 items and 12 requests.  Rebuilt on the stdlib DOM engine
    (functions/html.py) — real selector semantics, not regexes (E2).
    """
    from ..functions.html import parse_html

    doc = parse_html(body)
    published_at = _archive_date(url_canon) or SCRAPED_AT
    games, discovered, seen_urls = [], [], set()

    def follow(href: str, priority: int):
        target = _urljoin(url_canon, href)
        if target and target not in seen_urls:
            seen_urls.add(target)
            discovered.append({"url": target, "priority": priority,
                               "callback_kind": "bgg_rankings"})

    # pagination (all eras): //a[contains(@title,'page')]/@href, prio 1
    for a in doc.select("a[title]"):
        if "page" in (a.get("title") or "") and a.get("href"):
            follow(a.get("href"), 1)

    # Era A: modern browse table#collectionitems (bgg_rankings.py:207-246)
    for row in doc.select("table#collectionitems tr"):
        link_el = row.select_first("td.collection_objectname a")
        bgg_id = _bgg_id_from_href(
            _urljoin(url_canon, link_el.get("href")) if link_el else None
        )
        if not bgg_id:
            continue
        year_el = row.select_first(
            "td.collection_objectname span.smallerfont.dull"
        )
        img_el = row.select_first("td.collection_thumbnail img")
        image = (_urljoin(url_canon, img_el.get("src"))
                 if img_el is not None else None)
        ratings = [c.text() for c in row.select("td.collection_bggrating")]
        rank_el = row.select_first("td.collection_rank")
        game = _game_row(
            bgg_id=bgg_id,
            name=clean_text_one(link_el.text()) or None,
            year=_lenient_int(year_el.text() if year_el else None),
            rank=_lenient_int(rank_el.text() if rank_el else None),
            image_url=[image] if image else None,
            url=_urljoin(url_canon, link_el.get("href")),
            published_at=published_at,
        )
        if len(ratings) == 3:
            game["bayes_rating"] = _float(ratings[0])
            game["avg_rating"] = _float(ratings[1])
            game["num_votes"] = _int(ratings[2])
        games.append(game)

    # Era B: rankbrowse.php3 simplebox, exactly-3-cell rows
    # (bgg_rankings.py:247-277)
    for row in doc.select("div.simplebox table tr"):
        cells = row.child_elements("td")
        if len(cells) != 3:
            continue
        link_el = cells[1].select_first("a")
        bgg_id = _bgg_id_from_href(
            _urljoin(url_canon, link_el.get("href")) if link_el else None
        )
        if not bgg_id:
            continue
        games.append(_game_row(
            bgg_id=bgg_id,
            rank=_lenient_int(cells[0].text()),
            name=clean_text_one(cells[1].text()) or None,
            bayes_rating=_float(cells[2].text()),
            url=_urljoin(url_canon, link_el.get("href")),
            published_at=published_at,
        ))

    # Era C: browser.php gamebrowser_table, 5+-cell rows
    # (bgg_rankings.py:278-311)
    for row in doc.select("table.gamebrowser_table tr"):
        cells = row.child_elements("td")
        if len(cells) < 5:
            continue
        link_el = cells[2].select_first("a")
        bgg_id = _bgg_id_from_href(
            _urljoin(url_canon, link_el.get("href")) if link_el else None
        )
        if not bgg_id:
            continue
        img_el = cells[1].select_first("img")
        image = (_urljoin(url_canon, img_el.get("src"))
                 if img_el is not None else None)
        games.append(_game_row(
            bgg_id=bgg_id,
            rank=_lenient_int(cells[0].text()),
            name=clean_text_one(cells[2].text()) or None,
            bayes_rating=_float(cells[3].text()),
            num_votes=_lenient_int(cells[4].text()),
            image_url=[image] if image else None,
            url=_urljoin(url_canon, link_el.get("href")),
            published_at=published_at,
        ))

    # Era D: top50.htm / topn.php3 — table whose header row contains
    # <h3>Bayesian Average</h3> (bgg_rankings.py:313-344)
    for table in doc.select("table"):
        header_rows = table.select("tr")
        if not any(
            "Bayesian Average" in h3.text()
            for r in header_rows for td in r.child_elements("td")
            for h3 in td.child_elements("h3")
        ):
            continue
        for row in header_rows:
            cells = row.child_elements("td")
            if len(cells) < 4:
                continue
            link_el = cells[1].select_first("a")
            bgg_id = _bgg_id_from_href(
                _urljoin(url_canon, link_el.get("href")) if link_el else None
            )
            rank = _lenient_int(cells[0].text())
            if not bgg_id or not rank:
                continue
            games.append(_game_row(
                bgg_id=bgg_id,
                rank=rank,
                name=clean_text_one(cells[1].text()) or None,
                bayes_rating=_float(cells[2].text()),
                num_votes=_lenient_int(cells[3].text()),
                url=_urljoin(url_canon, link_el.get("href")),
                published_at=published_at,
            ))

    # Wayback toolbar navigation: archive snapshots whose anchor @title
    # parses as a date, prio -1 (bgg_rankings.py:345-354)
    for a in doc.select("div#wm-ipp table a"):
        title, href = a.get("title"), a.get("href")
        if title and href and _RE_WAYBACK_TITLE_DATE.match(title.strip()):
            follow(href, -1)

    return _page(_game_spans(games), games=games, discovered=discovered)


# bgg_geeklist.py:34-35: not part of the rankings
EXCLUDE_GEEKLIST_BGG_IDS = frozenset((197551, 167330))
_RE_GEEKLIST_TITLE = re.compile(
    r"^\s*bgg\s*top.*from\s*(\d+\s*[a-z]+\s*\d+)\s*to\s*(\d+\s*[a-z]+\s*\d+).*$",
    re.IGNORECASE,
)


def parse_bgg_geeklist(url_canon: str, body: str) -> dict:
    """bgg_geeklist.py:49-137: geeklist items → ranked GameItems, child
    geeklists + pagination → follow requests."""
    from ..functions.html import parse_html

    doc = parse_html(body)
    games, discovered, seen_urls = [], [], set()

    def follow(href: str):
        target = _urljoin(url_canon, href)
        if target and target not in seen_urls:
            seen_urls.add(target)
            discovered.append({"url": target, "priority": 0,
                               "callback_kind": "bgg_geeklist"})

    # pagination (bgg_geeklist.py:108-114)
    for a in doc.select("a[title]"):
        if "page" in (a.get("title") or "") and a.get("href"):
            follow(a.get("href"))

    # published_at from "<title>"/"div.geeklist_title" date range
    # (bgg_geeklist.py:118-130: the range END is the publication date)
    published_at = None
    titles = [t.text() for t in doc.select("title")]
    titles += [t.text() for t in doc.select("div.geeklist_title")]
    for t in titles:
        m = _RE_GEEKLIST_TITLE.match(t or "")
        if m:
            try:
                published_at = datetime.strptime(
                    re.sub(r"\s+", " ", m.group(2)).strip(), "%d %b %Y"
                )
                break
            except ValueError:
                pass

    for item in doc.select("[data-objecttype=listitem]"):
        title_el = item.select_first(".geeklist_item_title")
        if title_el is None:
            continue
        anchors = title_el.select("a")
        rank_text = anchors[0].text() if anchors else None
        rank = _int(rank_text[:-1]) if rank_text else None

        bgg_id = None
        for a in anchors:
            bgg_id = _bgg_id_from_href(_urljoin(url_canon, a.get("href")))
            if bgg_id:
                break
        if bgg_id and bgg_id not in EXCLUDE_GEEKLIST_BGG_IDS:
            name = (clean_text_one(anchors[1].text())
                    if len(anchors) > 1 else None)
            image = None
            for img in item.select("img"):
                if (img.get("alt") or "").startswith("Board Game:"):
                    image = _urljoin(url_canon, img.get("src"))
                    break
            games.append(
                _game_row(
                    bgg_id=bgg_id,
                    name=name or None,
                    rank=rank,
                    image_url=[image] if image else None,
                    url=_urljoin(url_canon, anchors[1].get("href"))
                    if len(anchors) > 1 else None,
                    published_at=published_at,
                )
            )
            continue
        # not a game: follow a child geeklist link (bgg_geeklist.py:76-84)
        if len(anchors) > 1:
            href = anchors[1].get("href")
            if href and "/geeklist/" in href:
                follow(href)

    return _page(_game_spans(games), games=games, discovered=discovered)


def parse_dbpedia_games(url_canon: str, body: str) -> dict:
    """dbpedia.py:341-373 parse_games: game-URI bindings → one
    property-table SPARQL request per game (callback dbpedia_game)."""
    root = ET.fromstring(body)
    spans, discovered = [], []
    for b in root.iter(f"{_SPARQL_NS}binding"):
        if b.get("name") != "game":
            continue
        uri_el = b.find(f"{_SPARQL_NS}uri")
        if uri_el is None or not uri_el.text:
            continue
        m = re.search(r"/resource/Game_(\d+)$", uri_el.text)
        if not m:
            continue
        g = int(m.group(1))
        discovered.append({"url": dbpedia_game_url(g), "priority": 0,
                           "callback_kind": "dbpedia_game"})
        spans.append(("text", uri_el.text))
    return _page(spans, discovered=discovered)


def _dbp_bindings(body: str):
    """(property, value_text, value_uri, value_lang, label, label_lang)
    per result row."""
    root = ET.fromstring(body)
    rows = []
    for res in root.iter(f"{_SPARQL_NS}result"):
        prop = val = uri = lang = label = label_lang = None
        for b in res.findall(f"{_SPARQL_NS}binding"):
            name = b.get("name")
            u = b.find(f"{_SPARQL_NS}uri")
            lit = b.find(f"{_SPARQL_NS}literal")
            if name == "property" and u is not None:
                prop = u.text
            elif name == "value":
                if u is not None:
                    uri = u.text
                elif lit is not None:
                    val = lit.text
                    lang = lit.get(
                        "{http://www.w3.org/XML/1998/namespace}lang")
            elif name == "label" and lit is not None:
                label = lit.text
                label_lang = lit.get(
                    "{http://www.w3.org/XML/1998/namespace}lang")
        if prop:
            rows.append((prop, val, uri, lang, label, label_lang))
    return rows


def parse_dbpedia_game(url_canon: str, body: str) -> dict:
    """dbpedia.py:375-521 parse_game: fold the property table into one
    GameItem — per field, a property-preference list with en-first
    language fallback (the reference's stacked add_xpath calls +
    TakeFirst loader semantics)."""
    rows = _dbp_bindings(body)

    def literals(prop, lang=None):
        return [clean_text_one(v) for p, v, _u, lg, _l, _ll in rows
                if p == prop and v and (lang is None or lg == lang)]

    def labels(prop, lang=None):
        return [clean_text_one(lb) for p, _v, _u, _lg, lb, ll in rows
                if p == prop and lb and (lang is None or ll == lang)]

    def uris(prop):
        return [u for p, _v, u, _lg, _l, _ll in rows if p == prop and u]

    def first(*cands):
        for c in cands:
            if c:
                return c[0]
        return None

    RDFS = "http://www.w3.org/2000/01/rdf-schema#label"
    FOAF_NAME = "http://xmlns.com/foaf/0.1/name"
    DBP_NAME = "http://dbpedia.org/property/name"
    name = first(
        literals(RDFS, "en"), literals(FOAF_NAME, "en"),
        literals(DBP_NAME, "en"),
        literals(RDFS), literals(FOAF_NAME), literals(DBP_NAME),
    )
    alt = []
    for p in (RDFS, FOAF_NAME, DBP_NAME):
        for v in literals(p):
            if v and v not in alt:
                alt.append(v)
    desc = first(
        literals("http://dbpedia.org/ontology/abstract", "en"),
        literals("http://www.w3.org/2000/01/rdf-schema#comment", "en"),
        literals("http://dbpedia.org/ontology/abstract"),
        literals("http://www.w3.org/2000/01/rdf-schema#comment"),
    )
    year = _lenient_int(first(
        literals("http://dbpedia.org/property/date"),
        literals("http://dbpedia.org/property/years"),
    ))
    designer = (labels("http://dbpedia.org/ontology/designer", "en")
                or labels("http://dbpedia.org/ontology/designer")) or None
    publisher = (labels("http://dbpedia.org/ontology/publisher", "en")
                 or labels("http://dbpedia.org/ontology/publisher")) or None
    images = (
        uris("http://xmlns.com/foaf/0.1/depiction")
        + uris("http://dbpedia.org/ontology/thumbnail")
        + uris("http://dbpedia.org/property/imageLink")
    ) or None
    bgg_id = _lenient_int(first(
        literals("http://dbpedia.org/property/bggid")))
    game = _game_row(
        bgg_id=bgg_id,
        name=name,
        alt_name=alt or None,
        year=_validate_range(year, -4000, 2035),
        description=desc,
        designer=designer,
        publisher=publisher,
        image_url=images,
        min_players=_validate_range(
            _lenient_int(first(
                literals("http://dbpedia.org/property/players"))), 1, None),
        min_age=_validate_range(
            _lenient_int(first(
                literals("http://dbpedia.org/property/ages"))), 0, 21),
        url=url_canon,
    )
    return _page(_game_spans([game]), games=[game])


PARSERS = {
    "bgg_browse": parse_browse,
    "bgg_thing": parse_thing,
    "bgg_user": parse_user,
    "bgg_collection": parse_collection,
    "luding_game": parse_luding,
    "spielen_game": parse_spielen,
    "wikidata_entity": parse_wikidata_entity,
    "wikidata_sparql": parse_sparql,
    "bgg_rank_history": parse_rank_history,
    "bgg_hotness": parse_hotness,
    "bgg_rankings": parse_bgg_rankings,
    "bgg_geeklist": parse_bgg_geeklist,
    "dbpedia_games": parse_dbpedia_games,
    "dbpedia_game": parse_dbpedia_game,
}


def parse_page(url_canon: str, callback_kind: str, body: str) -> dict:
    parser = PARSERS.get(callback_kind)
    if parser is None or body is None:
        return _page()
    try:
        return parser(url_canon, body)
    except (ET.ParseError, ValueError, KeyError, TypeError):
        # DROPMALFORMED semantics (merge.py:170): bad page → nothing.
        # (json.JSONDecodeError is a ValueError.)
        return _page()


# Pages per emitted Arrow batch.  One page can explode into ~10^3 item
# rows (100 rating comments x 10 games, reference page_size bgg.py:124);
# yielding per input partition would hold the whole partition's nested
# output in worker memory at once.
PARSE_CHUNK_PAGES = 64
# The item kinds of a page, in their PARSE_FLAT column order.
_ITEM_KINDS = ("game", "user", "rating")


def parse_flat_batches(batches):
    """mapInArrow kernel emitting the PARSE_FLAT shape: one 'fetch' row
    per input URL (any status — retries/metrics derive from it), one
    'page' row (spans + discovered) per 200, plus one flat row per
    extracted item."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(PARSE_FLAT)
    types = {f.name: f.type for f in arrow_schema}

    def emit(rows: list[tuple]) -> pa.RecordBatch:
        cols = list(zip(*rows))
        names = ["url_canon", "item_kind", "spans", "discovered", "game",
                 "user", "rating", "fetch"]
        arrays = [pa.array(list(c), types[n]) for n, c in zip(names, cols)]
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    rows: list[tuple] = []
    for rb in batches:
        cols = {name: rb.column(i).to_pylist()
                for i, name in enumerate(rb.schema.names)}
        for i, url_canon in enumerate(cols["url_canon"]):
            status = cols["status"][i]
            fetch = {
                "url_hash": cols["url_hash"][i],
                "host": cols["host"][i],
                "priority": cols["priority"][i],
                "callback_kind": cols["callback_kind"][i],
                "attempt": cols["attempt"][i],
                "status": status,
                "latency_ms": cols["latency_ms"][i],
            }
            rows.append((url_canon, "fetch", None, None, None, None, None,
                         fetch))
            if status != 200:
                continue
            parsed = parse_page(url_canon, cols["callback_kind"][i],
                                cols["body"][i])
            disc = []
            for d in parsed["discovered"]:
                canon = _canon_cached(d["url"])
                if canon:
                    disc.append({"url": canon, "priority": d["priority"],
                                 "callback_kind": d["callback_kind"]})
            rows.append((url_canon, "page", parsed["spans"], disc,
                         None, None, None, None))
            for kind in _ITEM_KINDS:
                for item in parsed[kind + "s"]:
                    rows.append((url_canon, kind, None, None,
                                 *(item if k == kind else None
                                   for k in _ITEM_KINDS), None))
            if len(rows) >= PARSE_CHUNK_PAGES * 64:
                yield emit(rows)
                rows = []
    if rows:
        yield emit(rows)


def run_parse_flat(fetched):
    """fetched (ALL statuses) → PARSE_FLAT DataFrame — the crawl loop's
    single fused parse pass.  Designed to be written ONCE: no nested
    page-level arrays for items, and per-URL 'fetch' rows ride along so
    every downstream consumer (item tables, metrics, retries, discovery)
    is a cheap filtered read of the one scratch parquet.

    No repartition: the fetch stage is a broadcast semi-join over the
    corpus scan, so the input already has scan-width partitioning and
    repartitioning would shuffle every page body (the exact exchange the
    broadcast fetch exists to avoid)."""
    return fetched.select(
        "url_canon", "callback_kind", "body", "url_hash", "host",
        "priority", "attempt", "status", "latency_ms",
    ).mapInArrow(parse_flat_batches, PARSE_FLAT)
