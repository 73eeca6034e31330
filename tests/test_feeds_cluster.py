"""Feed IO (S1-S3) and entity resolution (J5)."""

import json

import pytest
from pyspark.sql import functions as F

from board_game_scraper_spark.operators.cluster import (
    connected_components,
    exact_id_edges,
    fuzzy_name_edges,
    resolve_entities,
)
from board_game_scraper_spark.sources.feeds import (
    read_jsonl,
    read_seed_csv,
    write_jsonl,
)


@pytest.fixture()
def feed_dir(tmp_path):
    # three feed files, later-named file should get higher _file_seq;
    # one malformed line (DROPMALFORMED path, merge.py:170)
    rows_a = [{"bgg_id": 1, "name": "A v1", "scraped_at": "2024-01-01"},
              {"bgg_id": 2, "name": "B v1", "scraped_at": "2024-01-01"}]
    rows_b = [{"bgg_id": 1, "name": "A v2", "scraped_at": "2024-01-02"}]
    (tmp_path / "feed-2024-01-01.jl").write_text(
        "\n".join(json.dumps(r) for r in rows_a) + "\nNOT JSON{{{\n")
    (tmp_path / "feed-2024-01-02.jl").write_text(
        "\n".join(json.dumps(r) for r in rows_b) + "\n")
    return tmp_path


def test_read_jsonl_drops_malformed_and_orders_files(spark, feed_dir):
    df = read_jsonl(
        spark,
        [str(feed_dir / "feed-2024-01-01.jl"),
         str(feed_dir / "feed-2024-01-02.jl")],
        schema="bgg_id long, name string, scraped_at string",
    )
    rows = {(r["bgg_id"], r["name"]): r["_file_seq"] for r in df.collect()}
    assert len(rows) == 3  # malformed line dropped
    assert rows[(1, "A v1")] == 1 and rows[(1, "A v2")] == 2


def test_feed_merge_roundtrip(spark, feed_dir, tmp_path):
    """S1 read → A1 merge (file_seq tie-break) → S2 write."""
    from board_game_scraper_spark.operators.merge import merge_latest_wins

    df = read_jsonl(
        spark,
        [str(feed_dir / "feed-2024-01-01.jl"),
         str(feed_dir / "feed-2024-01-02.jl")],
        schema="bgg_id long, name string, scraped_at string",
    )
    merged = merge_latest_wins(
        df, keys=["bgg_id"], latest=["scraped_at"], latest_types=["date"],
        file_seq_col="_file_seq", fieldnames_exclude=["_file_seq"],
    )
    got = {r["bgg_id"]: r["name"] for r in merged.collect()}
    assert got == {1: "A v2", 2: "B v1"}
    out = tmp_path / "out"
    write_jsonl(merged, str(out), single_file=True)
    parts = list(out.glob("part-*"))
    assert len(parts) == 1


def test_read_seed_csv(spark, tmp_path):
    p = tmp_path / "seeds.csv"
    p.write_text("bgg_user_name\nAlice\nbob\n")
    seeds = read_seed_csv(
        spark, str(p),
        "https://boardgamegeek.com/xmlapi2/user?name={id}",
        "bgg_user_name", priority=3,
    )
    urls = {r["url"] for r in seeds.collect()}
    assert urls == {
        "https://boardgamegeek.com/xmlapi2/user?name=Alice",
        "https://boardgamegeek.com/xmlapi2/user?name=bob",
    }


RECORDS = [
    # rec_id, name, year, bgg_id, wikidata_id, luding_id
    (1, "Catan", 1995, 13, None, None),
    (2, "The Settlers of Catan", 1995, 13, "Q17271", None),   # same bgg_id as 1
    (3, "Settlers of Catan", 1995, None, "Q17271", 100),      # same wd as 2
    (4, "Carcassonne", 2000, 822, None, None),
    (5, "Carcassonne Board Game", 2000, None, None, None),    # fuzzy → 4
    (6, "Chess", 1475, 171, None, None),                      # singleton
]
SCHEMA = ("rec_id long, name string, year int, bgg_id long, "
          "wikidata_id string, luding_id long")


def test_exact_id_edges(spark):
    df = spark.createDataFrame(RECORDS, SCHEMA)
    edges = {(r["a"], r["b"]) for r in exact_id_edges(df).collect()}
    assert edges == {(1, 2), (2, 3)}


def test_fuzzy_name_edges(spark):
    df = spark.createDataFrame(RECORDS, SCHEMA)
    edges = {(r["a"], r["b"]) for r in
             fuzzy_name_edges(df, threshold=0.5).collect()}
    assert (4, 5) in edges
    assert (1, 6) not in edges and (4, 6) not in edges


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long")
    comps = {r["node"]: r["comp"]
             for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_resolve_entities_end_to_end(spark):
    df = spark.createDataFrame(RECORDS, SCHEMA)
    got = {r["rec_id"]: r["canonical_id"]
           for r in resolve_entities(df).collect()}
    # {1,2,3} linked via ids; {4,5} via fuzzy name; 6 singleton
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6


def test_connected_components_bounded_plan_depth(spark):
    """A chain needing >=4 propagation iterations converges AND the
    returned frame's plan does not grow with iteration count
    (localCheckpoint truncation — VERDICT r03 'wrong' #3)."""
    from board_game_scraper_spark.operators.cluster import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(50, 51)], "a long, b long")
    labels = connected_components(edges, max_iter=20)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert all(got[i] == 0 for i in range(13))
    assert got[50] == 50 and got[51] == 50
    plan = labels._jdf.queryExecution().executedPlan().toString()
    # a truncated final plan is a bare RDD scan, not an O(iterations)
    # join/window chain
    assert len(plan.strip().splitlines()) <= 3, plan
