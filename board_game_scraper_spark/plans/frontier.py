"""Frontier scheduling — the crawl "query engine" (SURVEY.md §2.2).

Reproduces, as declarative DataFrame ops:

- F1 priority scheduling (Request priorities, spiders/bgg.py:284-291):
  higher priority first.  The reference's Scrapy scheduler is
  LIFO-within-priority and unobservable beyond priority order; we pin the
  documented deterministic order (priority DESC, discovery_round ASC,
  url_canon ASC) and the simulator asserts it (SURVEY.md §2.7).
- F2/F3 per-host politeness (settings.py:153-155 + per-spider overrides):
  budget k(host) = floor(window/delay(host)) * concurrency(host) — the
  max requests a polite fetcher could issue to that host in one round
  window.
- Hot-host skew (north_rule: boardgamegeek.com dominates): exact top-K
  per host via a two-phase window — first prune within salted
  sub-partitions (global per-host top-k is a subset of the union of
  per-salt top-k, so this is lossless), then rank the ≤ salt_buckets*k
  survivors exactly.  The heavy data never lands on a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Per-host politeness config from the reference (BASELINE.md table):
# (download_delay_sec, concurrency).  settings.py:153-155 default;
# bgg.py:131-133; luding.py:30-32; spielen.py:49-51; wikidata.py:37-39;
# dbpedia.py:52-54.
HOST_BUDGETS: dict[str, tuple[float, int]] = {
    "boardgamegeek.com": (5.0, 4),
    "www.boardgamegeek.com": (5.0, 4),
    "www.luding.org": (2.0, 8),
    "luding.org": (2.0, 8),
    "gesellschaftsspiele.spielen.de": (10.0, 2),
    "www.wikidata.org": (10.0, 4),
    "dbpedia.org": (20.0, 4),
}
DEFAULT_BUDGET = (0.1, 8)


def budget_k(host: str, window_sec: float = 60.0,
             budgets: dict | None = None) -> int:
    """Max URLs schedulable for `host` in one round window (F2/F3)."""
    delay, conc = (budgets or HOST_BUDGETS).get(host, DEFAULT_BUDGET)
    # epsilon guards float division (60/0.1 == 599.999…)
    return max(int(window_sec / delay + 1e-9) * conc, 1)


def budgets_df(spark: SparkSession,
               window_sec: float = 60.0,
               budgets: dict | None = None) -> DataFrame:
    """Static per-host budget dim (broadcast side).  Unknown hosts take
    the default budget via coalesce — no driver-side host discovery."""
    table = budgets or HOST_BUDGETS
    rows = [(h, budget_k(h, window_sec, budgets)) for h in sorted(table)]
    return spark.createDataFrame(rows, "host string, k int")


def schedule_order():
    """Pinned deterministic pop order (SURVEY.md §2.7)."""
    return [
        F.col("priority").desc(),
        F.col("discovery_round").asc(),
        F.col("url_canon").asc(),
    ]


def schedule(
    frontier: DataFrame,
    round_no: int,
    window_sec: float = 60.0,
    budgets: dict | None = None,
    salt_buckets: int = 8,
    lean: bool = False,
) -> DataFrame:
    """Pick this round's batch: per-host top-k(host) of eligible rows.

    Returns the scheduled rows with a ``sched_rank`` column (1-based,
    per host) — the deterministic order a polite single-host fetcher
    would issue them in.

    ``lean=True`` skips the phase-1 salted prune (one window instead of
    two, one shuffle saved).  The salt phase is a SKEW guard for
    10^6+-row hot hosts; callers that KNOW the eligible set is small
    (the crawl driver's tail retry rounds, sized by the previous
    round's observations) use the lean plan — the result is identical
    because the prune is lossless.
    """
    spark = frontier.sparkSession
    eligible = frontier.where(F.col("not_before_round") <= F.lit(round_no))

    default_k = budget_k("__default__", window_sec, budgets)
    kdf = budgets_df(spark, window_sec, budgets)
    with_k = eligible.join(F.broadcast(kdf), "host", "left").withColumn(
        "k", F.coalesce(F.col("k"), F.lit(default_k))
    )

    if not lean:
        # Phase 1 (skew guard): per-(host, salt) top-k.  Lossless prune —
        # any row in the global per-host top-k is in the top-k of its
        # salt bucket.
        salted = with_k.withColumn(
            "_salt", F.pmod(F.col("url_hash"), F.lit(salt_buckets))
        )
        w1 = Window.partitionBy("host", "_salt").orderBy(*schedule_order())
        with_k = (
            salted.withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= F.col("k"))
            .drop("_r1", "_salt")
        )

    # Phase 2: exact per-host ranking over ≤ salt_buckets*max_k rows/host.
    w2 = Window.partitionBy("host").orderBy(*schedule_order())
    return (
        with_k.withColumn("sched_rank", F.row_number().over(w2))
        .where(F.col("sched_rank") <= F.col("k"))
        .drop("k")
    )


def batch_api_ids(
    ids: DataFrame, id_col: str, group_col: str, batch_size: int = 10,
    extra_aggs=(),
) -> DataFrame:
    """Request batching (F8, bgg.py:251-294): pack ≤batch_size ids per
    API URL, comma-joined in sorted order.  Returns (group, batch,
    ids_csv, n) plus one column per ``extra_aggs`` aggregate."""
    w = Window.partitionBy(group_col).orderBy(id_col)
    rn = F.row_number().over(w)
    return (
        ids.withColumn(
            "batch", F.floor((rn - 1) / batch_size).cast("int"))
        .groupBy(group_col, "batch")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list(id_col))
            ).alias("ids_csv"),
            F.count(F.lit(1)).alias("n"),
            *extra_aggs,
        )
    )


RETRYABLE = (429, 500, 502, 503, 504, 408, 202)  # settings.py:244-253
# Fetch attempts per URL before a retryable failure is dropped.
MAX_ATTEMPTS = 3

# F4 AutoThrottle (settings.py:221-233): start 2x delay (>=5s), max 60s,
# back off on throttle codes, ease toward the base delay otherwise.
THROTTLE_CODES = (429, 503, 504)  # bgg.py:138
AUTOTHROTTLE_MAX_DELAY = 60.0
EWMA_ALPHA = 0.3


def update_host_state(
    host_state: DataFrame, fetched: DataFrame, round_no: int,
) -> DataFrame:
    """Recompute per-host adaptive delay from this round's outcomes.

    Plain DataFrame agg (SURVEY §2.2 F4): EWMA the observed latency,
    double the delay (capped 60s) when any throttle code appeared,
    otherwise decay 25% toward the configured base delay.  The result
    feeds ``schedule(budgets=...)`` next round via ``budget_k``.
    """
    spark = fetched.sparkSession
    base = spark.createDataFrame(
        [(h, d, c) for h, (d, c) in sorted(HOST_BUDGETS.items())],
        "host string, base_delay double, concurrency int",
    )
    obs = fetched.groupBy("host").agg(
        F.avg("latency_ms").alias("obs_latency_ms"),
        F.max(F.col("status").isin(list(THROTTLE_CODES)).cast("int"))
        .alias("throttled"),
    )
    prev = host_state.select(
        "host", F.col("delay_sec").alias("prev_delay"),
        F.col("ewma_latency_ms").alias("prev_ewma"),
    )
    joined = (
        obs.join(prev, "host", "left")
        .join(F.broadcast(base), "host", "left")
        .withColumn("base_delay",
                    F.coalesce(F.col("base_delay"),
                               F.lit(DEFAULT_BUDGET[0])))
        .withColumn("concurrency",
                    F.coalesce(F.col("concurrency"),
                               F.lit(DEFAULT_BUDGET[1])))
        .withColumn("prev_delay",
                    F.coalesce(F.col("prev_delay"), F.col("base_delay")))
    )
    new_delay = F.when(
        F.col("throttled") == 1,
        F.least(F.col("prev_delay") * 2,
                F.lit(AUTOTHROTTLE_MAX_DELAY)),
    ).otherwise(
        F.greatest(F.col("prev_delay") * 0.75, F.col("base_delay"))
    )
    ewma = F.coalesce(
        F.lit(EWMA_ALPHA) * F.col("obs_latency_ms")
        + (1 - EWMA_ALPHA) * F.coalesce(F.col("prev_ewma"),
                                        F.col("obs_latency_ms")),
        F.col("prev_ewma"),
    )
    return joined.select(
        "host",
        F.round(new_delay, 3).alias("delay_sec"),
        F.col("concurrency"),
        F.round(ewma, 2).alias("ewma_latency_ms"),
        F.when(F.col("throttled") == 1, F.lit(round_no + 1))
        .otherwise(F.lit(0)).alias("backoff_until_round"),
    )


def retryable(status, attempt):
    """The one retry predicate (F9), as a Column over ``status`` and
    ``attempt`` Columns: a ``RETRYABLE`` status with an attempt left
    before ``MAX_ATTEMPTS``."""
    return status.isin(list(RETRYABLE)) & (attempt + 1 < F.lit(MAX_ATTEMPTS))


def retry_rows(fetched: DataFrame, round_no: int) -> DataFrame:
    """Failed fetches → re-queued frontier rows with exponential backoff
    (F9: priority-1, not_before = now + delay*2^attempt, attempt+1)."""
    f = fetched.where(retryable(F.col("status"), F.col("attempt")))
    backoff = F.least(
        F.pow(F.lit(2.0), F.col("attempt") + 1).cast("int"), F.lit(4)
    )
    return f.select(
        F.col("url_canon").alias("url"),
        "url_canon",
        "url_hash",
        "host",
        (F.col("priority") - 1).alias("priority"),
        F.lit(round_no).alias("discovery_round"),
        F.lit(0).cast("long").alias("discovery_seq"),
        "callback_kind",
        (F.col("attempt") + 1).alias("attempt"),
        (F.lit(round_no) + backoff).alias("not_before_round"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
