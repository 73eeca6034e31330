"""Explicit StructTypes for every engine table.

The reference declares schemas on the crawl side (item classes,
``items.py:93/467/545``; field order ``settings.py:29-136``) but *infers*
them on the batch side (``merge.py:170``).  At 10^10-row scale inference is
a full extra pass over the data, so our engine is explicit everywhere.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Interleaved text+media documents — BASELINE.json input_hint, the payload
# every fetched page is parsed into.  Reference analog: GameItem interleaves
# text fields (items.py:100,128) with media refs (items.py:166-183).
# ---------------------------------------------------------------------------

SPAN = StructType(
    [
        StructField("kind", StringType(), False),  # text | image | video | rules
        StructField("text", StringType(), True),  # null for media spans
        StructField("media_ref", StringType(), True),  # null for text spans
        # 0-based position in the page, numbered by plans/parse.py _page
        StructField("offset", IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Frontier — one row per pending request.  Reference analog: scrapy.Request
# (url, callback, priority, meta) — spiders/bgg.py:284-291.
# ---------------------------------------------------------------------------

FRONTIER = StructType(
    [
        StructField("url", StringType(), False),  # raw URL as discovered
        StructField("url_canon", StringType(), False),  # canonical form (C1-C3)
        StructField("url_hash", LongType(), False),  # xxhash64(url_canon)
        StructField("host", StringType(), False),
        StructField("priority", IntegerType(), False),
        StructField("discovery_round", IntegerType(), False),
        StructField("discovery_seq", LongType(), False),  # FIFO tie-break
        StructField("callback_kind", StringType(), False),  # parse dispatch
        StructField("attempt", IntegerType(), False),  # retry count (F9)
        StructField("not_before_round", IntegerType(), False),  # retry gate
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

# URL-seen set (F6/F7).  Reference: scrapy dupefilter + _ids_seen
# (spiders/bgg.py:229-242).
URL_SEEN = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url_canon", StringType(), False),
        StructField("first_round", IntegerType(), False),
    ]
)

# Item-level id-seen set (F7, spiders/bgg.py:229-242,256-261 _ids_seen):
# game ids already packed into an API batch never re-enter one.
IDS_SEEN = StructType(
    [
        StructField("bgg_id", LongType(), False),
        StructField("first_round", IntegerType(), False),
    ]
)

# Synthetic fetch corpus (stands in for the HTTP downloader S5; see
# FIXTURES.md §3).  status/latency exercise retry (F9) + autothrottle (F4).
PAGES = StructType(
    [
        StructField("url_canon", StringType(), False),
        StructField("status", IntegerType(), False),
        StructField("content_type", StringType(), False),
        StructField("body", StringType(), True),
        StructField("latency_ms", IntegerType(), False),
    ]
)

# Crawl seeds (S4; reference start_urls + CSV seeds, spiders/bgg.py:113-117).
SEEDS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("source", StringType(), False),
        StructField("priority", IntegerType(), False),
    ]
)

# Fetch results (one per scheduled URL per round) — input to the parse stage.
FETCHED = StructType(
    [
        StructField("url_canon", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("priority", IntegerType(), False),
        StructField("callback_kind", StringType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("status", IntegerType(), False),
        StructField("content_type", StringType(), True),
        StructField("body", StringType(), True),
        StructField("latency_ms", IntegerType(), True),
    ]
)

# Per-host crawl state for adaptive politeness (F4 AutoThrottle analog).
HOST_STATE = StructType(
    [
        StructField("host", StringType(), False),
        StructField("delay_sec", DoubleType(), False),
        StructField("concurrency", IntegerType(), False),
        StructField("ewma_latency_ms", DoubleType(), True),
        StructField("backoff_until_round", IntegerType(), False),
    ]
)

# robots.txt rules per host (F5; ROBOTSTXT_OBEY settings.py:144).
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), False),
        StructField("fetched_round", IntegerType(), False),
    ]
)

# Per-round, per-host crawl metrics (A5; north_rule requires per-partition
# lineage + fetch/parse metrics on every snapshot).
METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("host", StringType(), False),
        StructField("scheduled", LongType(), False),
        StructField("fetched", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("parsed_items", LongType(), False),
        StructField("discovered_urls", LongType(), False),
        StructField("avg_latency_ms", DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Item tables.  Reference: GameItem items.py:93 (~90 fields — we keep the
# fields its parse contracts assert, spiders/bgg.py:431-447), UserItem
# items.py:467, RatingItem items.py:545.
# ---------------------------------------------------------------------------

ADD_RANK = StructType(
    [
        StructField("game_type", StringType(), True),
        StructField("game_type_id", IntegerType(), True),
        StructField("name", StringType(), True),
        StructField("rank", IntegerType(), True),
        StructField("bayes_rating", DoubleType(), True),
    ]
)

GAME_ITEM = StructType(
    [
        StructField("bgg_id", LongType(), True),
        StructField("name", StringType(), True),  # required (items.py:100)
        StructField("alt_name", ArrayType(StringType()), True),
        StructField("year", IntegerType(), True),
        StructField("description", StringType(), True),
        StructField("designer", ArrayType(StringType()), True),
        StructField("artist", ArrayType(StringType()), True),
        StructField("publisher", ArrayType(StringType()), True),
        StructField("url", StringType(), True),
        StructField("image_url", ArrayType(StringType()), True),
        StructField("video_url", ArrayType(StringType()), True),
        StructField("min_players", IntegerType(), True),
        StructField("max_players", IntegerType(), True),
        StructField("min_players_rec", IntegerType(), True),
        StructField("max_players_rec", IntegerType(), True),
        StructField("min_players_best", IntegerType(), True),
        StructField("max_players_best", IntegerType(), True),
        StructField("min_age", IntegerType(), True),
        StructField("max_age", IntegerType(), True),
        StructField("min_age_rec", DoubleType(), True),
        StructField("min_time", IntegerType(), True),
        StructField("max_time", IntegerType(), True),
        StructField("category", ArrayType(StringType()), True),
        StructField("mechanic", ArrayType(StringType()), True),
        StructField("cooperative", BooleanType(), True),
        StructField("compilation", BooleanType(), True),
        StructField("compilation_of", ArrayType(LongType()), True),
        StructField("family", ArrayType(StringType()), True),
        StructField("expansion", ArrayType(StringType()), True),
        StructField("implementation", ArrayType(LongType()), True),
        StructField("integration", ArrayType(LongType()), True),
        StructField("rank", IntegerType(), True),
        StructField("add_rank", ArrayType(ADD_RANK), True),
        StructField("num_votes", IntegerType(), True),
        StructField("avg_rating", DoubleType(), True),
        StructField("stddev_rating", DoubleType(), True),
        StructField("bayes_rating", DoubleType(), True),
        StructField("complexity", DoubleType(), True),
        StructField("language_dependency", DoubleType(), True),
        StructField("published_at", TimestampType(), True),  # rank history E16
        StructField("scraped_at", TimestampType(), True),  # required (items.py:457)
    ]
)

USER_ITEM = StructType(
    [
        StructField("item_id", LongType(), True),
        StructField("bgg_user_name", StringType(), True),  # lowercased key
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("registered", IntegerType(), True),
        StructField("last_login", TimestampType(), True),
        StructField("country", StringType(), True),
        StructField("external_link", ArrayType(StringType()), True),
        StructField("image_url", ArrayType(StringType()), True),
        StructField("scraped_at", TimestampType(), True),
    ]
)

RATING_ITEM = StructType(
    [
        StructField("item_id", StringType(), True),  # "{user}:{bgg_id}"
        StructField("bgg_id", LongType(), True),
        StructField("bgg_user_name", StringType(), True),
        StructField("bgg_user_rating", DoubleType(), True),
        StructField("bgg_user_owned", BooleanType(), True),
        StructField("bgg_user_wishlist", IntegerType(), True),
        StructField("bgg_user_play_count", IntegerType(), True),
        StructField("comment", StringType(), True),
        StructField("scraped_at", TimestampType(), True),
    ]
)

# Output of the parse stage before exploding into the tables above: one row
# per fetched page with nested item arrays + discovered URLs + spans.
DISCOVERED = StructType(
    [
        StructField("url", StringType(), False),
        StructField("priority", IntegerType(), False),
        StructField("callback_kind", StringType(), False),
    ]
)

# Flat parse output: one row per page ('page' rows carry the span
# sequence + discovered URLs) and one row per extracted item (struct
# column set per kind).  Deep ArrayType(StructType) pages (one row per
# page holding arrays of span/game/user/rating structs) anti-scale when
# cached/written at high parallelism — Spark's columnar writers
# serialize badly on them (measured 6x at local[32]); this shape keeps
# every hot column shallow.
# Per-URL fetch outcome carried through the fused parse pass (one 'fetch'
# row per scheduled URL) so retries, per-host metrics, and last-scraped
# tracking derive from the already-written scratch parquet instead of
# re-running the fetch join per consumer.
FETCH_META = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), True),
        StructField("priority", IntegerType(), False),
        StructField("callback_kind", StringType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("status", IntegerType(), False),
        StructField("latency_ms", IntegerType(), True),
    ]
)

PARSE_FLAT = StructType(
    [
        StructField("url_canon", StringType(), False),
        # fetch|page|game|user|rating
        StructField("item_kind", StringType(), False),
        StructField("spans", ArrayType(SPAN), True),
        StructField("discovered", ArrayType(DISCOVERED), True),
        StructField("game", GAME_ITEM, True),
        StructField("user", USER_ITEM, True),
        StructField("rating", RATING_ITEM, True),
        StructField("fetch", FETCH_META, True),
    ]
)
