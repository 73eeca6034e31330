"""Benchmark harness (driver contract).

Runs (a) the headline operator queries at $SPARK_GRAFT_SF_DIR and (b) a
frontier crawl replay (the BASELINE.json north metric: URLs
scheduled+fetched+parsed per second), on local[$SPARK_GRAFT_CPUS]
(default: the machine's core count).

Prints ONE JSON line:
  {"metric": "...", "value": <total suite sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "frontier": {urls, seconds, urls_per_sec, rounds}}

Scaling evidence (local[1] vs local[4]) comes from
``perfbench/run.py --scaling --workload crawl_bulk --seed 1 --seconds 20``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from board_game_scraper_spark import queries as q  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402
from perfbench.common import code_hash  # noqa: E402

HEADLINE = [
    "merge_latest_wins",
    "topk_per_host",
    "batchify",
    "dedup_exact",
    "minhash_band",
    "quality_score",
    "cosine_topk",
    "lineitem_agg",
    "join_agg",
    "pagination",
    # heavy LLM-pipeline op in the official artifact so regressions on
    # the band-join → Jaccard-verify path are visible (VERDICT r05 #7)
    "near_dup_pairs",
]

# Cross-invocation sample pool: this VM's hypervisor steal comes in
# 10-30 min weather systems that shift identical runs 20-70%, so a
# single invocation — even min-of-3 — can publish a pure-weather
# regression (BENCH_r05 vs r04: every query uniformly slower, zero code
# change on most).  Every invocation appends its raw samples here and
# the artifact renders POOLED minima over all records with the same
# (code, sf, cpus, scale, headline-set) key; ``code`` is the hash of the
# package sources, so samples of different code never pool.
POOL = Path(__file__).resolve().parent / "BENCH" / "bench_samples.jsonl"


def _materialize(df) -> None:
    """Force full computation of every column (noop sink — count() would
    let Catalyst prune the projections we want to measure)."""
    df.write.format("noop").mode("overwrite").save()


def run_frontier_replay(spark, n_browse: int, n_users: int, n_other: int,
                        rounds: int, window_sec: float,
                        reps: int = 3) -> dict:
    """``reps`` crawl-replay samples (fresh engine root each rep, shared
    corpus).  This VM's hypervisor steal varies identical runs 2-4x, so
    a single sample is noise — the caller pools samples ACROSS
    invocations and takes min-of-N (VERDICT r02 'wrong' #4, r05 'wrong'
    #1)."""
    import shutil
    import tempfile

    from board_game_scraper_spark import schemas, synth
    from board_game_scraper_spark.plans.crawl import CrawlEngine

    seeds_pd, pages_pd = synth.corpus(
        n_browse=n_browse, n_users=n_users, n_other=n_other
    )
    data = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        # Materialize the synthetic corpus to parquet via pyarrow (no
        # Spark job at all), then read it back: every crawl stage scans
        # parquet files instead of carrying the corpus in 68 MB task
        # closures (VERDICT r01 "what's wrong" #1 — the dominant
        # anti-scaling source).
        synth.write_corpus_parquet(pages_pd, seeds_pd, data)
        pages = spark.read.schema(schemas.PAGES).parquet(
            data + "/pages"
        ).cache()
        n_pages = pages.count()
        seeds = spark.read.schema(schemas.SEEDS).parquet(data + "/seeds")

        samples = []
        for _ in range(max(reps, 1)):
            root = tempfile.mkdtemp(prefix="bench_crawl_")
            try:
                eng = CrawlEngine(spark, root, pages,
                                  window_sec=window_sec)
                t0 = time.perf_counter()
                eng.seed(seeds)
                metrics = eng.crawl(rounds)
                dt = time.perf_counter() - t0
            finally:
                shutil.rmtree(root, ignore_errors=True)
            urls = sum(m.get("scheduled", 0) + m.get("fetched", 0)
                       for m in metrics)
            docs = sum(m.get("parsed_items", 0) for m in metrics)
            samples.append({
                "pages_corpus": int(n_pages),
                "rounds": len(metrics),
                "urls": int(urls),
                "parsed_items": int(docs),
                "seconds": round(dt, 2),
                "urls_per_sec": round(urls / dt, 1),
            })
        pages.unpersist()
        return samples
    finally:
        shutil.rmtree(data, ignore_errors=True)


def main() -> None:
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.getenv("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # Replay scale defaults to 2.0, the corpus scale of the recorded
    # BENCH/BASELINE.md scaling evidence (VERDICT r03 'next' #6).
    scale = float(os.getenv("SPARK_GRAFT_BENCH_SCALE", "2.0"))
    spark = get_spark(
        "bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Per-query best of N interleaved passes — the same steal-robust
    # protocol as the frontier replay below (VERDICT r03 'wrong' #1: a
    # single-run loop cannot distinguish hypervisor steal from a real
    # regression; this VM's steal varies identical runs 2-4x).
    reps = int(os.getenv("SPARK_GRAFT_BENCH_REPS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(max(reps, 1)):
        for name in HEADLINE:
            df = q.QUERIES[name](spark, sf_dir)
            t0 = time.perf_counter()
            _materialize(df)
            samples[name].append(time.perf_counter() - t0)
    replay_samples = run_frontier_replay(
        spark,
        n_browse=int(1200 * scale),
        n_users=int(2500 * scale),
        n_other=int(400 * scale),
        rounds=8,
        window_sec=3600.0,
        reps=int(os.getenv("SPARK_GRAFT_BENCH_REPS", "3")),
    )

    # ---- pool this invocation's raw samples, render pooled minima ----
    key = {"code": code_hash(), "sf": sf, "cpus": int(cpus), "scale": scale,
           "headline": sorted(HEADLINE)}
    rec = {
        "ts": round(time.time(), 1),
        **key,
        "queries": {n: [round(t, 3) for t in ts]
                    for n, ts in samples.items()},
        "frontier_samples": replay_samples,
    }
    POOL.parent.mkdir(exist_ok=True)
    with open(POOL, "a") as f:
        f.write(json.dumps(rec) + "\n")
    recs = []
    with open(POOL) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if all(r.get(k) == v for k, v in key.items()):
                    recs.append(r)

    per_query = {
        name: round(min(min(r["queries"][name]) for r in recs
                        if r["queries"].get(name)), 3)
        for name in HEADLINE
    }
    total = sum(per_query.values())
    frontier_pool = [s for r in recs for s in r["frontier_samples"]]
    replay = dict(min(frontier_pool, key=lambda s: s["seconds"]))
    replay["all_seconds"] = [s["seconds"] for s in frontier_pool]
    replay["scale"] = scale
    total += replay["seconds"]
    span_h = (max(r["ts"] for r in recs) - min(r["ts"] for r in recs)) / 3600

    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": round(total, 2),
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "frontier": replay,
                # pooled-minima provenance: how many invocations / raw
                # samples back the numbers above, over what wall span
                "pool": {
                    "invocations": len(recs),
                    "query_passes": sum(
                        len(r["queries"].get(HEADLINE[0], []))
                        for r in recs
                    ),
                    "frontier_reps": len(frontier_pool),
                    "span_h": round(span_h, 2),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
