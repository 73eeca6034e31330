"""Every query in ``queries.QUERIES`` matches its DuckDB oracle SQL
hash-exactly on the in-repo sf0.01 dataset (the same row-count / column /
value-hash comparison as tools/check_oracle.py); and ``queries._par``
scan spreading leaves query results unchanged."""

import importlib.util
from pathlib import Path

import pytest

duckdb = pytest.importorskip("duckdb")

from board_game_scraper_spark.queries import ORACLES, QUERIES  # noqa: E402

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


def test_par_spreads_unsplittable_scan_and_keeps_results(spark, monkeypatch):
    """Round-7 _par (guide §2.5 one-huge-unsplittable-file): single-file
    single-row-group scans are hash-spread to the session's parallelism,
    results bit-identical with and without, and _par is the identity when
    the input already has enough partitions (no shuffle added at scale)."""
    import board_game_scraper_spark.queries as q

    sf = str(DATA)  # every table is a single row group
    docs = q._t(spark, sf, "documents")
    n = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < n  # the premise: unsplittable
    spread = q._par(docs, "doc_id")
    assert spread.rdd.getNumPartitions() == n
    # identity when already parallel enough: no second exchange on top
    assert q._par(spread, "doc_id") is spread

    def rows(df):
        return sorted(map(tuple, df.collect()))

    with_par = {name: rows(q.QUERIES[name](spark, sf))
                for name in ("minhash_band", "near_dup_pairs",
                             "language_id", "rankings_extract")}
    monkeypatch.setattr(q, "_par", lambda df, *k: df)
    for name, expect in with_par.items():
        assert rows(q.QUERIES[name](spark, sf)) == expect, name
