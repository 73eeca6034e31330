"""robots.txt handling (F5).

Reference: ``ROBOTSTXT_OBEY = True`` with the Python parser
(settings.py:144-145); wikidata opts out (wikidata.py:78).  Scrapy
fetches and caches robots.txt per host and drops disallowed requests.

Spark-first: a ``robots`` dimension table (host → disallow path
prefixes), refreshed once per host per TTL by fetching
``https://host/robots.txt`` through the normal fetch stage (S5) and
parsing the Disallow lines for ``User-agent: *``.  Candidate filtering
is a broadcast join + a JVM ``exists`` over the prefix array — no UDF,
no per-row Python.

Hosts with no robots row are allowed (Scrapy's default when the fetch
404s); per-host opt-out mirrors wikidata.py:78 via ``IGNORE_HOSTS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hosts whose robots.txt is not obeyed: the wikidata spider sets
# ``ROBOTSTXT_OBEY = False`` (wikidata.py:78).
IGNORE_HOSTS = ("www.wikidata.org",)


def parse_robots_body(body: str | None) -> list[str]:
    """Extract Disallow prefixes for User-agent: * (python stdlib
    urllib.robotparser semantics, simplified to prefix rules — the only
    rule type the reference's parser enforces)."""
    if not body:
        return []
    disallow: list[str] = []
    applies = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            applies = value == "*"
        elif field == "disallow" and applies and value:
            disallow.append(value)
    return disallow


def robots_table(fetched_robots: DataFrame, round_no: int) -> DataFrame:
    """Build the robots dim from fetched robots.txt pages
    (host, disallow_prefixes, fetched_round).  Arrow-batched pandas UDF
    (repo standard: no per-row Python even off the hot path)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _parse_series(bodies: pd.Series) -> pd.Series:
        return bodies.map(parse_robots_body)

    _parse_series.__annotations__ = {"bodies": pd.Series,
                                     "return": pd.Series}
    parse_udf = pandas_udf(_parse_series, "array<string>")

    return fetched_robots.select(
        "host",
        parse_udf(F.col("body")).alias("disallow_prefixes"),
        F.lit(round_no).alias("fetched_round"),
    )


def filter_allowed(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates whose canonical path starts with a disallowed
    prefix for their host.  Broadcast join (robots is per-host tiny);
    the prefix test is a JVM ``exists`` HOF over the prefix array.
    """
    path = F.coalesce(
        F.parse_url(F.col("url_canon"), F.lit("PATH")), F.lit("/")
    )
    joined = candidates.join(F.broadcast(robots), "host", "left")
    blocked = (
        F.col("disallow_prefixes").isNotNull()
        & ~F.col("host").isin(*IGNORE_HOSTS)
        & F.exists(
            "disallow_prefixes", lambda p: path.startswith(p)
        )
    )
    return joined.where(~F.coalesce(blocked, F.lit(False))).drop(
        "disallow_prefixes", "fetched_round"
    )
