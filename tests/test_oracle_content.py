"""Every query in ``queries.QUERIES`` matches its DuckDB oracle SQL
hash-exactly on the in-repo sf0.01 dataset (the same row-count / column /
value-hash comparison as tools/check_oracle.py); building a query plan
runs no Spark job; and ``queries._t``'s scan spreading leaves query
results unchanged."""

import importlib.util
from pathlib import Path

import pytest

duckdb = pytest.importorskip("duckdb")

from board_game_scraper_spark.queries import ORACLES, QUERIES  # noqa: E402
from conftest import jobs_to_build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
DATA = ROOT / "perfbench" / "data" / "sf0.01"

_spec = importlib.util.spec_from_file_location(
    "check_oracle", ROOT / "tools" / "check_oracle.py")
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in check_oracle.TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"read_parquet('{DATA / t}.parquet')")
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_content_query_matches_duckdb_oracle(spark, con, name):
    got = check_oracle.normalize(QUERIES[name](spark, str(DATA)).toPandas())
    want = check_oracle.normalize(con.execute(ORACLES[name]).fetchdf())
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert (check_oracle.value_hash(got)
            == check_oracle.value_hash(want)), name


def test_query_plans_build_without_spark_jobs(spark):
    """``_t`` pins each table's schema from the parquet footer, so every
    query plan builds with no Spark job, except ``ann_ivf_topk``, whose
    plan builds the IVF index it probes: two collects for the
    driver-held centroids, one shuffle-free index write and one collect
    for the probed lists, at most 8 jobs; the pinned schema is the one
    Spark infers (``events.ts`` stays ``timestamp_ntz``)."""
    import board_game_scraper_spark.queries as q

    sf = str(DATA)
    jobs = {name: jobs_to_build(spark, f"plan-{name}",
                                lambda fn=fn: fn(spark, sf))[0]
            for name, fn in QUERIES.items()}
    assert len(jobs) == 42
    assert jobs.pop("ann_ivf_topk") <= 8
    assert {k: v for k, v in jobs.items() if v} == {}
    for path in sorted(DATA.glob("*.parquet")):
        assert (q._t(spark, sf, path.stem).schema
                == spark.read.parquet(str(path)).schema), path.name


@pytest.mark.parametrize("name, most", [
    ("near_dup_pairs", 4), ("embedding_near_dup", 3),
    ("entity_resolution", 6), ("pagination", 2), ("cosine_topk", 2),
    ("rankings_extract", 2), ("geeklist_extract", 2),
    ("dbpedia_extract", 2), ("hotness_extract", 3),
])
def test_queries_run_jobs(spark, name, most):
    """Building and collecting each query runs at most ``most`` Spark
    jobs: the candidate-pair queries score each pair inside its bucket
    (``dedup.bucket_pairs``) and join no payload back; pagination and
    the cosine rank are each one global window, as in their oracles;
    the four extract queries are one pass of the crawl's page kernel,
    and hotness adds one group that pairs each game with its page."""
    jobs, _ = jobs_to_build(
        spark, f"run-{name}",
        lambda: QUERIES[name](spark, str(DATA)).collect())
    assert jobs <= most


def test_par_spreads_unsplittable_scan_and_keeps_results(spark, monkeypatch):
    """``_t``'s spread keys hash-spread a single-file single-row-group
    scan (guide §2.5 one-huge-unsplittable-file) to the session's
    parallelism, and query results are identical with the spread off."""
    import board_game_scraper_spark.queries as q

    sf = str(DATA)  # every table is one row group under 4 MB: one split
    n = spark.sparkContext.defaultParallelism
    assert q._t(spark, sf, "documents").rdd.getNumPartitions() == 1
    spread = q._t(spark, sf, "documents", "doc_id")
    assert spread.rdd.getNumPartitions() == n

    def rows(df):
        return sorted(map(tuple, df.collect()))

    spread_rows = {name: rows(q.QUERIES[name](spark, sf))
                   for name in ("minhash_band", "near_dup_pairs",
                                "language_id", "rankings_extract")}
    t = q._t
    monkeypatch.setattr(
        q, "_t", lambda spark, sf_dir, name, *keys: t(spark, sf_dir, name))
    for name, expect in spread_rows.items():
        assert rows(q.QUERIES[name](spark, sf)) == expect, name
