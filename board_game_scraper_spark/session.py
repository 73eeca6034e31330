"""SparkSession factory.

Reference analog: ``merge.py:29-59`` (lru_cache'd builder, 16G driver,
SPARK_MASTER env override).  Ours adds the configs that matter at scale:
AQE (runtime re-planning + skew-join splitting), Arrow for every pandas
UDF boundary, and shuffle-partition sizing from the environment so the
same code runs on local[8], local[32], or a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized for one box in local mode (tuned at local[32], run at local[4] on
# 4 vCPU / 15 GB).  On a real cluster these are overridden by spark-submit
# conf; everything here is safe to override.
_DEFAULTS = {
    # Adaptive execution: coalesce small post-shuffle partitions, split
    # skewed ones (boardgamegeek.com hot-host skew — SURVEY.md §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's runtime empty-relation propagation ELIMINATES CollectMetrics
    # (df.observe) nodes above a 0-row shuffle stage, making
    # Observation.get crash (toPyRow assertion, Spark 4.1.2) — measured
    # in this repo when a crawl round discovers no new URLs.  The crawl
    # engine's per-round metrics ride on observations (one job instead of
    # five driver count()s per round), so keep the rule excluded; empty
    # stages are cheap anyway.
    "spark.sql.adaptive.optimizer.excludedRules":
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
    # Arrow transfer for pandas UDFs / mapInPandas (the parse/fetch stages).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic session timezone (reference stores UTC, utils.py:99-103).
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # ANSI off: we rely on try_cast/permissive casts like the reference's
    # best-effort DataTypePipeline (pipelines.py:29-58).
    "spark.sql.ansi.enabled": "false",
    # v2 committer: task-side renames, no serial driver-side commit loop
    # (matters for the many small snapshot writes per crawl round).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Parquet row-group size: with 32 writer tasks in ONE JVM, the default
    # 128 MB row group means every task buffers ~128 MB of column writers
    # before flushing — measured 1.6x slowdown of the nested parse-output
    # write at local[32] vs local[8] (allocation/GC churn, not IO).  8 MB
    # groups flush incrementally and restore write-stage scaling; on a
    # multi-executor cluster with few tasks per JVM, raise this back up.
    "spark.hadoop.parquet.block.size": str(8 * 1024 * 1024),
    # Dynamic-partition writes (the items table partitions by item_kind,
    # 5 values) keep up to 8 open writers per task instead of first
    # SORTING every task's big parse rows by partition key (the 0
    # default).  Measured best-case fused-stage win ~19% at local[32];
    # never falls back to sort below 8 concurrent partitions.
    "spark.sql.maxConcurrentOutputFileWriters": "8",
}


def get_spark(
    app_name: str = "board_game_scraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession.

    ``master`` resolution order: explicit arg > $SPARK_MASTER > local[N]
    where N = $SPARK_GRAFT_CPUS or '*'.  ``shuffle_partitions`` defaults to
    the local core count so small-scale runs don't schedule 200 empty
    tasks; on a cluster pass ~2-3x total cores.
    """
    master = master or os.getenv("SPARK_MASTER")
    if not master:
        cpus = os.getenv("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 1)
        else:
            shuffle_partitions = 200

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    # Local mode runs everything in the driver JVM: the 1g default heap
    # collapses under 32 concurrent tasks (GC-bound, 32 cores slower
    # than 8).  Reference uses 16G (merge.py:38-48).  The heap is half
    # of physical RAM, a ceiling that leaves the other half to the
    # Python workers and the page cache (7g on a 4 vCPU / 15 GB box,
    # where the crawl benchmark peaks at 4.7 GB RSS).
    if master.startswith("local["):
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        conf.setdefault("spark.driver.memory",
                        f"{max((ram // 2) >> 30, 1)}g")
        # G1 (the JDK17 default) collapses under 32 concurrent tasks
        # allocating large strings + nested rows in one big heap:
        # measured 64-73s for the fused fetch→parse→write stage at
        # local[32] vs 15-21s with the throughput-oriented ParallelGC —
        # G1's humongous-allocation + concurrent-mark churn was the
        # round's dominant anti-scaling source.  Local mode only (on a
        # cluster, executors have small per-JVM heaps where G1 is fine).
        conf.setdefault("spark.driver.extraJavaOptions",
                        "-XX:+UseParallelGC")
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        # Multi-executor master (local-cluster[...] or a real cluster):
        # executor Python workers do NOT inherit the driver's sys.path —
        # ship the package, the programmatic equivalent of the
        # north_rule's `spark-submit --py-files`.
        _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship board_game_scraper_spark to executors as a zip via
    ``addPyFile`` — what ``spark-submit --py-files pkg.zip`` does."""
    import shutil
    import tempfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    base = Path(tempfile.mkdtemp(prefix="bgs_pyfiles_")) / "bgs_pkg"
    zip_path = shutil.make_archive(
        str(base), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name
    )
    spark.sparkContext.addPyFile(zip_path)
