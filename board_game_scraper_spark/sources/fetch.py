"""Fetch stage (S5/S6) — the only true external boundary.

A networked fetcher would be a ``mapInPandas`` stage partitioned by host
whose workers issue rate-limited HTTP GETs (politeness already enforced by
the scheduler's budget window).  This engine has no HTTP fetcher:
``fetch_from_table`` joins the scheduled batch against a synthetic
``pages`` table on canonical URL — exactly the response-cache lookup shape
(J3, settings.py:237-242: cache hit = no network).

Missing pages surface as status 404 (dropped by the loop, like Scrapy's
default non-200 handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fetch_from_table(scheduled: DataFrame, pages: DataFrame) -> DataFrame:
    """Synthetic fetch: scheduled batch → pages corpus lookup.

    The corpus is the big side (at 100 TB it IS the response cache, S6);
    the scheduled batch is politeness-bounded and comparatively tiny.  So
    the cache lookup is a **broadcast semi-join of the batch against the
    corpus**: page bodies never cross an exchange (measured: shuffling
    bodies into the Python parse stage anti-scaled the whole round 2.4x
    at local[32]).  Misses are recovered with a key-only anti-join
    (column-pruned — bodies again never move) and surface as status 404
    (Scrapy's default non-200 handling).
    """
    sched_cols = ["url_canon", "url_hash", "host", "priority",
                  "callback_kind", "attempt"]
    hits = pages.join(F.broadcast(scheduled), "url_canon").select(
        *sched_cols, "status", "content_type", "body", "latency_ms"
    )
    misses = scheduled.join(
        pages.select("url_canon"), "url_canon", "left_anti"
    ).select(
        *sched_cols,
        F.lit(404).alias("status"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("string").alias("body"),
        F.lit(None).cast("int").alias("latency_ms"),
    )
    return hits.unionByName(misses)

