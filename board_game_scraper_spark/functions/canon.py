"""URL canonicalization + cross-source id extraction (C1-C6, §2.12).

Reference behavior reproduced (all in /root/reference/board_game_scraper):

- ``utils.py:237-262`` (parse_url): require hostname AND path, optional
  host whitelist (exact or regex).
- ``utils.py:265-277`` (validate_url): scheme must be http/https.
- ``spiders/bgg.py:244-249``: API URLs are built with sorted query params —
  param order is canonical.  Our canonical form: lowercase scheme+host,
  strip fragment, sort query params, drop default ports, '/' path default.
- ``utils.py:280-288`` (extract_bgg_id): ``^/(board)?game/(\\d+)`` on the
  path of boardgamegeek.com URLs, fallback ``?id=`` query param.
- ``utils.py:290-367``: per-site extractors (user, wikidata, wikipedia,
  dbpedia, luding, spielen, freebase) with unquote + lowercase rules.
- ``utils.py:370-381`` (extract_ids): fan one URL into 7 id namespaces.

It also holds the builders of the URLs a parser discovers (thing, user,
collection, wikidata EntityData, dbpedia property table), shared by the
parse stage, the corpus generator and the crawl simulator.

Everything is a *vectorized* pandas UDF (Arrow batches; the per-element
Python work is confined to urllib inside the batch — no per-row Spark
round-trip, per BASELINE.json input_hint "no per-row Python").
"""

from __future__ import annotations

import re
from urllib.parse import parse_qs, parse_qsl, unquote_plus, urlencode, urlparse

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Regexes mirror utils.py:40-49 exactly.
REGEX_BGG_ID = re.compile(r"^/(board)?game/(\d+).*$")
REGEX_BGG_USER = re.compile(r"^/user/([^/]+).*$")
REGEX_WIKIDATA_ID = re.compile(r"^/(wiki|entity|resource)/Q(\d+).*$")
REGEX_DBPEDIA_DOMAIN = re.compile(r"^[a-z]{2}\.dbpedia\.org$")
REGEX_DBPEDIA_ID = re.compile(r"^/(resource|page)/(.+)$")
REGEX_LUDING_ID = re.compile(r"^.*gameid/(\d+).*$")
REGEX_SPIELEN_ID = re.compile(
    r"^/(alle-brettspiele|messeneuheiten|ausgezeichnet-\d+)/(\w[^/]*).*$"
)
REGEX_FREEBASE_ID = re.compile(r"^/ns/(g|m)\.([^/]+).*$")

BGG_HOSTS = ("boardgamegeek.com", "www.boardgamegeek.com")


def _parse_int(value) -> int | None:
    try:
        return int(value)
    except (TypeError, ValueError):
        return None


def _query_param(parsed, field: str) -> str | None:
    values = parse_qs(parsed.query).get(field)
    return values[0] if values else None


def canonicalize_one(url: str | None) -> str | None:
    """Canonical URL: lowercase scheme/host, sorted query, no fragment.

    Returns None for invalid URLs (no scheme/host/path or non-http
    scheme) — same acceptance rule as utils.py:265-277.
    """
    if not url:
        return None
    try:
        p = urlparse(url.strip())
    except ValueError:
        return None
    scheme = (p.scheme or "").lower()
    host = (p.hostname or "").lower()
    if scheme not in ("http", "https") or not host:
        return None
    port = f":{p.port}" if p.port and p.port not in (80, 443) else ""
    path = p.path or "/"
    query = urlencode(sorted(parse_qsl(p.query, keep_blank_values=True)))
    return f"{scheme}://{host}{port}{path}" + (f"?{query}" if query else "")


BGG = "https://boardgamegeek.com"
WIKIDATA = "https://www.wikidata.org"
DBPEDIA_SPARQL = "http://dbpedia.org/sparql"


def thing_url(ids: list[int]) -> str:
    """Canonical thing-API URL — sorted params like bgg.py:244-249."""
    params = urlencode(
        sorted({"id": ",".join(map(str, sorted(ids))), "stats": "1"}.items())
    )
    return f"{BGG}/xmlapi2/thing?{params}"


def user_url(name: str) -> str:
    params = urlencode(sorted({"name": name}.items()))
    return f"{BGG}/xmlapi2/user?{params}"


def collection_url(name: str) -> str:
    params = urlencode(
        sorted({"username": name, "stats": "1", "version": "0"}.items())
    )
    return f"{BGG}/xmlapi2/collection?{params}"


def wikidata_entity_url(qid: int) -> str:
    return f"{WIKIDATA}/wiki/Special:EntityData/Q{qid}.json"


def dbpedia_game_uri(g: int) -> str:
    return f"http://dbpedia.org/resource/Game_{g}"


def dbpedia_game_url(g: int) -> str:
    """Game URI → property-table SPARQL query URL (dbpedia.py:356-372)."""
    q = (
        f"SELECT ?property ?value ?label WHERE {{ <{dbpedia_game_uri(g)}> "
        "?property ?value . OPTIONAL { ?value "
        "<http://www.w3.org/2000/01/rdf-schema#label> ?label . } }"
    )
    return f"{DBPEDIA_SPARQL}?{urlencode(sorted({'query': q, 'format': 'text/xml'}.items()))}"


def extract_bgg_id_one(url: str | None) -> int | None:
    """utils.py:280-288 semantics."""
    if not url:
        return None
    p = urlparse(url)
    if not p.hostname or p.hostname not in BGG_HOSTS or not p.path:
        return None
    m = REGEX_BGG_ID.match(p.path)
    bgg_id = _parse_int(m.group(2)) if m else None
    return bgg_id if bgg_id is not None else _parse_int(_query_param(p, "id"))


def extract_bgg_user_one(url: str | None) -> str | None:
    """utils.py:290-299 semantics (unquote_plus + lowercase)."""
    if not url:
        return None
    p = urlparse(url)
    if not p.hostname or p.hostname not in BGG_HOSTS or not p.path:
        return None
    m = REGEX_BGG_USER.match(p.path)
    user = unquote_plus(m.group(1)) if m else _query_param(p, "username")
    return user.lower() if user else None


def extract_ids_one(url: str | None) -> dict:
    """One URL → 7 id namespaces (utils.py:370-381)."""
    out = {
        "bgg_id": None,
        "bgg_user_name": None,
        "wikidata_id": None,
        "wikipedia_id": None,
        "dbpedia_id": None,
        "luding_id": None,
        "spielen_id": None,
        "freebase_id": None,
    }
    if not url:
        return out
    p = urlparse(url)
    host, path = p.hostname, p.path
    if not host or not path:
        return out
    out["bgg_id"] = extract_bgg_id_one(url)
    out["bgg_user_name"] = extract_bgg_user_one(url)
    if host in ("wikidata.org", "www.wikidata.org", "wikidata.dbpedia.org"):
        m = REGEX_WIKIDATA_ID.match(path)
        out["wikidata_id"] = f"Q{m.group(2)}" if m else _query_param(p, "id")
    if host in ("en.wikipedia.org", "en.m.wikipedia.org") and path.startswith(
        "/wiki/"
    ):
        out["wikipedia_id"] = unquote_plus(path[6:]) or None
    if host in ("dbpedia.org", "www.dbpedia.org") or REGEX_DBPEDIA_DOMAIN.match(
        host
    ):
        m = REGEX_DBPEDIA_ID.match(path)
        out["dbpedia_id"] = unquote_plus(m.group(2)) if m else _query_param(p, "id")
    if host in ("luding.org", "www.luding.org"):
        m = REGEX_LUDING_ID.match(path)
        out["luding_id"] = (
            _parse_int(m.group(1)) if m else _parse_int(_query_param(p, "gameid"))
        )
    if host in (
        "gesellschaftsspiele.spielen.de",
        "www.gesellschaftsspiele.spielen.de",
    ):
        m = REGEX_SPIELEN_ID.match(path)
        spielen = unquote_plus(m.group(2)) if m else None
        out["spielen_id"] = (
            spielen if _parse_int(spielen) is None else _query_param(p, "id")
        )
    if host in ("rdf.freebase.com", "freebase.com"):
        m = REGEX_FREEBASE_ID.match(path)
        out["freebase_id"] = f"/{m.group(1)}/{m.group(2)}" if m else _query_param(
            p, "id"
        )
    return out


CANON_STRUCT = StructType(
    [
        StructField("url_canon", StringType(), True),
        StructField("scheme", StringType(), True),
        StructField("host", StringType(), True),
        StructField("path", StringType(), True),
        StructField("bgg_id", LongType(), True),
        StructField("bgg_user_name", StringType(), True),
        StructField("wikidata_id", StringType(), True),
        StructField("luding_id", IntegerType(), True),
    ]
)


@pandas_udf(CANON_STRUCT)
def canonicalize_url(urls: pd.Series) -> pd.DataFrame:
    """Vectorized canonicalizer: one Arrow batch in, one struct batch out."""
    rows = []
    for url in urls:
        canon = canonicalize_one(url)
        if canon is None:
            rows.append((None, None, None, None, None, None, None, None))
            continue
        p = urlparse(canon)
        ids = extract_ids_one(canon)
        rows.append(
            (
                canon,
                p.scheme,
                p.hostname,
                p.path,
                ids["bgg_id"],
                ids["bgg_user_name"],
                ids["wikidata_id"],
                ids["luding_id"],
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "url_canon",
            "scheme",
            "host",
            "path",
            "bgg_id",
            "bgg_user_name",
            "wikidata_id",
            "luding_id",
        ],
    )
