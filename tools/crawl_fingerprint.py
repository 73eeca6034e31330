"""Fingerprint a crawl: everything a refactor of the round loop must keep.

Runs one crawl shape with the engine of the checkout this file sits in and
prints one JSON document:

- ``rounds``: every round's metric dict;
- ``jobs``: Spark jobs submitted per round (a speculative fused stage is
  awaited before the round is closed, so its jobs count for the round that
  launched it);
- ``tables``: a hash over the sorted per-row hashes of ``frontier``,
  ``url_seen``, ``items``, ``metrics`` and the bloom table;
- ``manifests``: the frontier snapshots' mode, lineage and metrics, oldest
  first;
- ``spec_hits``: rounds that consumed a speculative fused stage.

Shapes:

- ``retry_tail``: the small synthetic corpus with six 503 pages and an
  unbounded politeness window, 8 rounds -- backoff-retry tail rounds,
  the fast-forward and the speculative fused stage;
- ``polite``: ``perfbench``'s ``crawl_polite`` corpus (scale 0.2, 2
  comments per game, 240 s window, every seed), 9 rounds.

Compare two checkouts by running each one's copy and diffing the output:

    python tools/crawl_fingerprint.py retry_tail > a.json
    python /other/checkout/tools/crawl_fingerprint.py retry_tail > b.json
    diff a.json b.json
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
from concurrent.futures import wait
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def _table_hash(df) -> str:
    from pyspark.sql import functions as F

    rows = df.select(
        F.sha2(F.to_json(F.struct(*df.columns)), 256).alias("h")
    ).collect()
    return hashlib.sha256(
        "\n".join(sorted(r["h"] for r in rows)).encode()
    ).hexdigest()


def fingerprint(shape: str, root: Path) -> dict:
    from board_game_scraper_spark import schemas, synth
    from board_game_scraper_spark.plans.crawl import CrawlEngine
    from board_game_scraper_spark.session import get_spark

    spark = get_spark("crawl_fingerprint", master="local[4]")
    if shape == "retry_tail":
        seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
        pages_pd = pages_pd.copy()
        pages_pd.loc[pages_pd.index[:6], "status"] = 503
        pages = spark.createDataFrame(pages_pd, schemas.PAGES)
        window_sec, n_rounds = 1e6, 8
    elif shape == "polite":
        seeds_pd, pages_pd = synth.corpus(n_browse=240, n_users=500,
                                          n_other=80, comments_per_game=2)
        synth.write_corpus_parquet(pages_pd, seeds_pd, str(root / "corpus"))
        pages = spark.read.schema(schemas.PAGES).parquet(
            str(root / "corpus" / "pages")).cache()
        window_sec, n_rounds = 240.0, 9
    else:
        raise SystemExit(f"unknown shape {shape!r}")

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs: list[int] = []
    orig = CrawlEngine.run_round

    def counted_round(eng, round_no):
        before = dag.numTotalJobs()
        out = orig(eng, round_no)
        if eng._spec is not None:
            wait([eng._spec["future"]])
        jobs.append(dag.numTotalJobs() - before)
        return out

    eng = CrawlEngine(spark, root / "crawl", pages, window_sec=window_sec)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    CrawlEngine.run_round = counted_round
    try:
        rounds = eng.crawl(n_rounds)
    finally:
        CrawlEngine.run_round = orig
    tables = {
        "frontier": eng.frontier.read(),
        "url_seen": eng.seen.read(),
        "items": eng.items.read(),
        "metrics": eng.metrics.read(),
        "bloom": eng.bloom.table.read(),
    }
    return {
        "shape": shape,
        "rounds": rounds,
        "jobs": jobs,
        "tables": {k: _table_hash(df) for k, df in tables.items()},
        "manifests": [
            {"mode": s["mode"], "lineage": s["lineage"],
             "metrics": s["metrics"]}
            for s in eng.frontier.snapshots()
        ],
        "spec_hits": eng._spec_hits,
    }


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    # the Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    with tempfile.TemporaryDirectory(prefix="crawl_fp_") as tmp:
        out = fingerprint(sys.argv[1] if len(sys.argv) > 1 else "retry_tail",
                          Path(tmp))
    print(json.dumps(out, indent=1, sort_keys=True))
