"""Entity resolution (J5)."""

from conftest import jobs_to_build

from board_game_scraper_spark.operators.cluster import (
    connected_components,
    exact_id_edges,
    fuzzy_name_edges,
    resolve_entities,
)

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
    # 7 and 8 share both bgg_id and wikidata_id: still one edge
    df = spark.createDataFrame(
        RECORDS + [(7, "Go", -2000, 99, "Q11", None),
                   (8, "Weiqi", -2000, 99, "Q11", None)], SCHEMA)
    edges = [(r["a"], r["b"]) for r in exact_id_edges(df).collect()]
    assert len(edges) == len(set(edges))
    assert set(edges) == {(1, 2), (2, 3), (7, 8)}


def test_fuzzy_name_edges(spark):
    df = spark.createDataFrame(RECORDS, SCHEMA)
    edges = {(r["a"], r["b"]) for r in
             fuzzy_name_edges(df).collect()}
    assert (4, 5) in edges
    assert (1, 6) not in edges and (4, 6) not in edges


def test_connected_components(spark):
    # (2, 1) and (5, 4) reverse an edge, (1, 2) repeats one
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (2, 1), (1, 2), (5, 4)], "a long, b long")
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


def test_connected_components_long_chain_builds_without_jobs(spark):
    """A 13-node chain gets its minimum as every label, however many
    hops away, and building the frame runs no Spark job."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(50, 51)], "a long, b long")
    jobs, labels = jobs_to_build(
        spark, "build-components", lambda: connected_components(edges))
    assert jobs == 0
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {**{i: 0 for i in range(13)}, 50: 50, 51: 50}


def test_hot_block_boundary(spark):
    """Records whose only shared name token is one block link through it
    while the block holds at most 200 records; a 201st record makes it a
    hot block, which yields no pairs, so nothing links."""
    def labels(n):
        df = spark.createDataFrame(
            [(i, f"hotblock n{i:03d}", 2000, None) for i in range(n)],
            "rec_id long, name string, year int, bgg_id long")
        return {r["rec_id"]: r["canonical_id"]
                for r in resolve_entities(df).collect()}

    assert labels(200) == {i: 0 for i in range(200)}
    assert labels(201) == {i: i for i in range(201)}


def test_hot_block_dropped_before_collect(spark):
    """``bucket_pairs`` counts each bucket before collecting it, so a
    3,000-member block over ``max_size`` never reaches the
    ``collect_list`` aggregate: a filter on the bucket count sits below
    it, and only the small bucket yields pairs."""
    from pyspark.sql import functions as F

    from board_game_scraper_spark.operators.dedup import bucket_pairs

    keyed = spark.range(3003).select(
        "id", F.when(F.col("id") < 3000, "hot").otherwise("cold").alias("k"))
    pairs = bucket_pairs(keyed, "id", "id", lambda a, b: F.lit(1.0), "k",
                         max_size=200)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    agg = next(i for i, line in enumerate(lines)
               if "Aggregate" in line and "collect_list" in line)
    assert any("Filter" in line and "_n" in line
               for line in lines[agg + 1:]), plan
    assert sorted((r["a"], r["b"]) for r in pairs.collect()) == [
        (3000, 3001), (3000, 3002), (3001, 3002)]
