"""Canonicalization + text-chain golden tests.

Golden values mirror reference semantics (utils.py:280-367 extractors,
utils.py:63-86 entity chain); cases chosen from the reference's own
regex fixtures.
"""

import pandas as pd
import pytest

from board_game_scraper_spark.functions.canon import (
    canonicalize_one,
    canonicalize_url,
    extract_bgg_id_one,
    extract_bgg_user_one,
    extract_ids_one,
)
from board_game_scraper_spark.functions.text import (
    clean_text_one,
    normalize_space,
    replace_all_entities,
)


def test_canonicalize_sorts_query_params():
    # bgg.py:244-249: urlencode(sorted(params)) is canonical
    a = canonicalize_one("https://boardgamegeek.com/xmlapi2/thing?stats=1&id=13")
    b = canonicalize_one("https://boardgamegeek.com/xmlapi2/thing?id=13&stats=1")
    assert a == b == "https://boardgamegeek.com/xmlapi2/thing?id=13&stats=1"


def test_canonicalize_lowercases_scheme_host():
    assert (
        canonicalize_one("HTTPS://BoardGameGeek.COM/browse/boardgame")
        == "https://boardgamegeek.com/browse/boardgame"
    )


def test_canonicalize_rejects_invalid():
    # utils.py:265-277: scheme must be http/https; host required
    assert canonicalize_one("ftp://x.com/a") is None
    assert canonicalize_one("not a url") is None
    assert canonicalize_one(None) is None
    assert canonicalize_one("") is None


def test_canonicalize_strips_fragment_and_default_port():
    assert (
        canonicalize_one("http://a.com:80/x#frag")
        == "http://a.com/x"
    )
    assert canonicalize_one("http://a.com:8080/x") == "http://a.com:8080/x"


def test_extract_bgg_id():
    # utils.py:280-288 + regex utils.py:40
    assert extract_bgg_id_one("https://boardgamegeek.com/boardgame/13/catan") == 13
    assert extract_bgg_id_one("https://boardgamegeek.com/game/13") == 13
    assert extract_bgg_id_one("https://boardgamegeek.com/xmlapi2/thing?id=42") == 42
    assert extract_bgg_id_one("https://example.com/boardgame/13") is None
    assert extract_bgg_id_one("https://boardgamegeek.com/user/bob") is None


def test_extract_bgg_user():
    # utils.py:290-299: unquote_plus + lowercase
    assert extract_bgg_user_one("https://boardgamegeek.com/user/Bob") == "bob"
    assert (
        extract_bgg_user_one("https://boardgamegeek.com/user/A%20B") == "a b"
    )
    assert (
        extract_bgg_user_one(
            "https://boardgamegeek.com/xmlapi2/collection?username=Alice"
        )
        == "alice"
    )


def test_extract_ids_multi_namespace():
    ids = extract_ids_one("https://www.wikidata.org/wiki/Q17271")
    assert ids["wikidata_id"] == "Q17271"
    ids = extract_ids_one("https://luding.org/cgi-bin/GameData.py/ENgameid/17")
    assert ids["luding_id"] == 17
    ids = extract_ids_one("https://en.wikipedia.org/wiki/Catan")
    assert ids["wikipedia_id"] == "Catan"


def test_entity_hack_double_encoded():
    # utils.py:78-86: BGG's 'Ü' as '&amp;#195;&amp;#156;'
    assert replace_all_entities("&amp;#195;&amp;#156;ber") == "Über"
    # plain entities still decode
    assert replace_all_entities("a &amp; b &lt;c&gt;") == "a & b <c>"


def test_clean_text_chain():
    # loaders.py:17-19 order: remove_tags → entities → normalize_space
    assert (
        clean_text_one("<b>Game &amp;#195;&amp;#156;ber</b>   42\n")
        == "Game Über 42"
    )
    assert clean_text_one("  a   b\tc ") == "a b c"
    assert clean_text_one("") is None
    assert clean_text_one(None) is None


def test_normalize_space():
    assert normalize_space(" a  b\n c ") == "a b c"


def test_canonicalize_udf_vectorized(spark):
    df = spark.createDataFrame(
        [("https://BoardGameGeek.com/boardgame/13/catan?x=2&a=1",),
         ("ftp://bad",), (None,)],
        "url string",
    )
    rows = df.select(canonicalize_url("url").alias("c")).collect()
    assert rows[0]["c"]["url_canon"] == (
        "https://boardgamegeek.com/boardgame/13/catan?a=1&x=2"
    )
    assert rows[0]["c"]["bgg_id"] == 13
    assert rows[1]["c"]["url_canon"] is None
    assert rows[2]["c"]["url_canon"] is None
