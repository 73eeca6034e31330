from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from board_game_scraper_spark import schemas, synth  # noqa: E402
from board_game_scraper_spark.plans.crawl import CrawlEngine  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    """One session as wide as ``SPARK_GRAFT_CPUS`` (default: the machine's
    core count), with as many shuffle partitions."""
    n = int(os.getenv("SPARK_GRAFT_CPUS") or os.cpu_count())
    s = get_spark("tests", master=f"local[{n}]", shuffle_partitions=n)
    yield s


@pytest.fixture(scope="session")
def corpus_small():
    return synth.corpus(n_browse=5, n_users=10, n_other=5)


def jobs_to_build(spark, group, build):
    """Spark jobs run while ``build()`` constructs (not collects) a
    DataFrame, counted under the job group ``group``; and the frame."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build a frame")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), df


def make_engine(spark, pages_pd, tmp, **kw):
    """A CrawlEngine over a pandas pages corpus, rooted at ``tmp``."""
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    return CrawlEngine(spark, tmp, pages, **kw)


def seed_one(spark, eng):
    """Seed ``eng`` with the first browse page only."""
    import pandas as pd

    seeds_pd = pd.DataFrame(
        [{"url": synth.browse_url(1), "source": "bgg", "priority": 0}])
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))


def with_retryables(pages_pd, n=6):
    """Flip n pages to a retryable status so the crawl has genuine
    backoff-retry tail rounds (the synth small corpus is all-200)."""
    pages_pd = pages_pd.copy()
    pages_pd.loc[pages_pd.index[:n], "status"] = 503
    return pages_pd
