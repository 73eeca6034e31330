"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the oracle-checked operator surface implemented in
``board_game_scraper_spark.queries`` (one entry per SURVEY.md §2 operator
family).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from board_game_scraper_spark import queries as q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the BSP crawl loop end-to-end (VERDICT r02 'missing' #2).

    Seeds a small deterministic corpus, runs two crawl rounds
    (schedule → fetch → parse → seen-dedup → snapshot commits), and
    returns the documents table — doc_id + interleaved text/media span
    sequences (the north-rule payload).  Deterministic: synth corpus is
    seeded, the scheduler order is pinned.  The merge flagship remains
    available in queries()["merge_latest_wins"].
    """
    import tempfile

    from board_game_scraper_spark import schemas, synth
    from board_game_scraper_spark.plans.crawl import CrawlEngine

    seeds_pd, pages_pd = synth.corpus(n_browse=3, n_users=6, n_other=3)
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    root = tempfile.mkdtemp(prefix="entry_crawl_")
    eng = CrawlEngine(spark, root, pages, window_sec=3600.0)
    eng.seed(seeds)
    eng.crawl(2)
    return eng.documents.read()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() entry."""
    return dict(q.ORACLES)
