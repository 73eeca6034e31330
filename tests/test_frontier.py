"""Scheduler semantics: politeness budgets, priority order, batching."""

from pyspark.sql import functions as F

from board_game_scraper_spark.plans.frontier import (
    batch_api_ids,
    budget_k,
    retry_rows,
    schedule,
)


def _frontier_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, url_canon string, url_hash long, host string, "
        "priority int, discovery_round int, discovery_seq long, "
        "callback_kind string, attempt int, not_before_round int, "
        "meta map<string,string>",
    )


def _row(url, host, priority, round_=0, nb=0, attempt=0, h=None):
    return (url, url, h if h is not None else hash(url) % (2**31), host,
            priority, round_, 0, "k", attempt, nb, None)


def test_budget_k_reference_values():
    # bgg: floor(60/5)*4 = 48; spielen: floor(60/10)*2 = 12;
    # default: floor(60/0.1)*8 = 4800 (settings.py:153-155, bgg.py:131-133)
    assert budget_k("boardgamegeek.com") == 48
    assert budget_k("gesellschaftsspiele.spielen.de") == 12
    assert budget_k("unknown.example.com") == 4800


def test_schedule_respects_budget_and_priority(spark):
    rows = [_row(f"https://x.spielen.example/{i}",
                 "gesellschaftsspiele.spielen.de", i % 5) for i in range(40)]
    df = _frontier_df(spark, rows)
    got = schedule(df, round_no=1).collect()
    assert len(got) == 12  # budget cap
    # highest priorities win: all 8 priority-4 rows + 4 priority-3 rows
    prios = sorted((r["priority"] for r in got), reverse=True)
    assert prios == [4] * 8 + [3] * 4
    # ranks are contiguous 1..12 in (priority desc, round, url) order
    by_rank = sorted(got, key=lambda r: r["sched_rank"])
    keys = [(-r["priority"], r["discovery_round"], r["url_canon"])
            for r in by_rank]
    assert keys == sorted(keys)


def test_schedule_not_before_gate(spark):
    rows = [
        _row("https://a.example/1", "a.example", 0, nb=0),
        _row("https://a.example/2", "a.example", 9, nb=3),  # retry-gated
    ]
    df = _frontier_df(spark, rows)
    got = {r["url_canon"] for r in schedule(df, round_no=1).collect()}
    assert got == {"https://a.example/1"}
    got3 = {r["url_canon"] for r in schedule(df, round_no=3).collect()}
    assert got3 == {"https://a.example/1", "https://a.example/2"}


def test_schedule_salt_phases_are_lossless(spark):
    # Exact top-k must be identical for any salt_buckets value.
    rows = [_row(f"https://boardgamegeek.com/g/{i:04d}",
                 "boardgamegeek.com", i % 7, h=i * 2654435761 % (2**40))
            for i in range(300)]
    df = _frontier_df(spark, rows)
    a = {(r["url_canon"], r["sched_rank"])
         for r in schedule(df, 1, salt_buckets=1).collect()}
    b = {(r["url_canon"], r["sched_rank"])
         for r in schedule(df, 1, salt_buckets=16).collect()}
    assert a == b and len(a) == 48


def test_batch_api_ids(spark):
    df = spark.createDataFrame(
        [(i, "g") for i in range(23)], "id long, grp string"
    )
    got = batch_api_ids(df, "id", "grp", batch_size=10).collect()
    by_batch = {r["batch"]: r for r in got}
    assert by_batch[0]["n"] == 10 and by_batch[2]["n"] == 3
    assert by_batch[0]["ids_csv"] == ",".join(map(str, range(10)))


def test_retry_rows_backoff(spark):
    fetched = spark.createDataFrame(
        [
            ("u1", 1, "h", 5, "k", 0, 429, None, None, 10),
            ("u2", 2, "h", 5, "k", 2, 503, None, None, 10),  # attempt exhausted
            ("u3", 3, "h", 5, "k", 0, 404, None, None, 10),  # not retryable
            ("u4", 4, "h", 5, "k", 1, 202, None, None, 10),
        ],
        "url_canon string, url_hash long, host string, priority int, "
        "callback_kind string, attempt int, status int, content_type string, "
        "body string, latency_ms int",
    )
    got = {r["url_canon"]: r for r in retry_rows(fetched, 3).collect()}
    assert set(got) == {"u1", "u4"}
    assert got["u1"]["priority"] == 4 and got["u1"]["attempt"] == 1
    assert got["u1"]["not_before_round"] == 5   # 3 + 2^1
    assert got["u4"]["not_before_round"] == 7   # 3 + min(2^2,4)


def test_schedule_lean_matches_full(spark):
    # lean=True skips the phase-1 salt prune; the prune is lossless so
    # ranks must be bit-identical (the crawl driver switches to the lean
    # plan whenever the manifest frontier row count is small).
    rows = [_row(f"https://boardgamegeek.com/g/{i:04d}",
                 "boardgamegeek.com", i % 7, h=i * 2654435761 % (2**40))
            for i in range(300)]
    rows += [_row(f"https://x.spielen.example/{i}",
                  "gesellschaftsspiele.spielen.de", i % 5) for i in range(40)]
    df = _frontier_df(spark, rows)
    full = {(r["url_canon"], r["sched_rank"])
            for r in schedule(df, 1, lean=False).collect()}
    lean = {(r["url_canon"], r["sched_rank"])
            for r in schedule(df, 1, lean=True).collect()}
    assert full == lean and len(full) == 48 + 12
