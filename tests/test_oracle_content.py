"""The content queries — thin calls into operators/dedup.py, textstats.py
and similarity.py — match their DuckDB oracle SQL hash-exactly on the
in-repo sf0.01 dataset (the same row-count / column / value-hash
comparison as tools/check_oracle.py)."""

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

CONTENT_QUERIES = (
    "dedup_exact", "quality_score", "minhash_band", "cosine_topk",
    "simhash", "minhash_lsh_bands", "near_dup_pairs", "embedding_near_dup",
    "fingerprint", "language_id", "bpe_token_count", "quality_full",
    "array_except_stopwords",
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in check_oracle.TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"read_parquet('{DATA / t}.parquet')")
    yield c
    c.close()


@pytest.mark.parametrize("name", CONTENT_QUERIES)
def test_content_query_matches_duckdb_oracle(spark, con, name):
    got = check_oracle.normalize(QUERIES[name](spark, str(DATA)).toPandas())
    want = check_oracle.normalize(con.execute(ORACLES[name]).fetchdf())
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert (check_oracle.value_hash(got)
            == check_oracle.value_hash(want)), name
