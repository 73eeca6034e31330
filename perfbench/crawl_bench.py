"""Crawl workloads: ``seed()`` + ``crawl()`` over a synthetic corpus.

Two shapes of the same engine loop:

* ``crawl_bulk`` -- thing pages carry 100 rating comments (the reference's
  page size) and the politeness window is unbounded, so each round
  schedules every eligible URL: parse, the Arrow boundary, the items
  write and the discovery explode dominate.
* ``crawl_polite`` -- ``bench.py``'s replay shape (2 comments per page,
  a capped window), so per-round fixed costs dominate: scheduling, the
  merge-on-read frontier, the seen anti-join and the commit pool.

The corpus depends only on the shape and is cached as parquet under the
work dir, so its pandas generation is timed by nothing.  The seed picks
which seed URLs start the crawl: the same share of every seed source, so
the crawl volume barely moves with the seed.
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import time
import uuid
from pathlib import Path

from common import SCRATCH, WORK, median

SHAPES = {
    "crawl_bulk": {"scale": 0.1, "comments": 100, "window_sec": 1e7},
    "crawl_polite": {"scale": 0.2, "comments": 2, "window_sec": 240.0},
}
SEED_SHARE = 0.5
# Each timed crawl() call runs this many rounds of the same engine, and a
# run makes at most MAX_CALLS of them, so it stops by round 9: there both
# shapes still have pending URLs and crawl_polite's rounds are still full.
ROUNDS_PER_CALL = 2
MAX_CALLS = 4


def _dims(scale: float) -> dict:
    return {"n_browse": max(int(1200 * scale), 3),
            "n_users": max(int(2500 * scale), 6),
            "n_other": max(int(400 * scale), 2)}


def corpus_dir(shape: dict) -> Path:
    """Generate (once) and return the parquet corpus for a shape."""
    from board_game_scraper_spark import synth

    d = WORK / "corpus" / f"s{shape['scale']}_c{shape['comments']}"
    if not (d / "DONE").exists():
        tmp = d.with_name(d.name + f".tmp-{uuid.uuid4().hex}")
        seeds, pages = synth.corpus(**_dims(shape["scale"]),
                                    comments_per_game=shape["comments"])
        synth.write_corpus_parquet(pages, seeds, str(tmp))
        (tmp / "DONE").write_text("")
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def pick_seeds(seeds_pd, seed: int):
    """The same share of each (source, priority) group, chosen by seed."""
    rng = random.Random(seed)
    keep = []
    for _, grp in seeds_pd.groupby(["source", "priority"], sort=True):
        idx = list(grp.index)
        k = max(1, round(len(idx) * SEED_SHARE))
        keep += rng.sample(idx, k)
    return seeds_pd.loc[sorted(keep)].reset_index(drop=True)


def _parquet_files(root: Path) -> set[Path]:
    return {p for p in root.rglob("*.parquet") if p.is_file()}


class CrawlWorkload:
    """One engine per run.  Set-up loads the corpus, then runs ``seed()``
    and the first round -- the untimed warm-up, which pays the JVM's
    first-use costs on the real plan shapes.  The timed calls continue the
    same crawl, ``ROUNDS_PER_CALL`` rounds at a time."""

    def __init__(self, name: str, seed: int):
        import pandas as pd

        self.name = name
        self.shape = SHAPES[name]
        self.dir = corpus_dir(self.shape)
        self.seeds_pd = pick_seeds(pd.read_parquet(self.dir / "seeds"), seed)
        self.root = SCRATCH / "crawl"
        self.calls: list[dict] = []
        self.pages = None

    def setup(self, spark) -> None:
        """Load the corpus three times (the median counts), then seed and
        crawl the first round."""
        from board_game_scraper_spark import schemas
        from board_game_scraper_spark.plans.crawl import CrawlEngine

        loads = []
        for _ in range(3):
            if self.pages is not None:
                self.pages.unpersist(blocking=True)
            t = time.perf_counter()
            self.pages = spark.read.schema(schemas.PAGES).parquet(
                str(self.dir / "pages")).cache()
            self.pages.count()
            loads.append(time.perf_counter() - t)
        self.load_extra_s = sum(loads) - median(loads)
        self.engine = CrawlEngine(spark, self.root, self.pages,
                                  window_sec=self.shape["window_sec"])
        t = time.perf_counter()
        self.engine.seed(spark.createDataFrame(self.seeds_pd, schemas.SEEDS))
        self.seed_s = time.perf_counter() - t
        self.warmup = self.engine.crawl(1)
        self.warmup_s = time.perf_counter() - t

    def measure(self, seconds: float, tracer=None) -> None:
        """Timed ``crawl()`` calls until the next would overrun
        ``seconds`` (at most ``MAX_CALLS``).  A traced run makes exactly
        three: untraced, traced,
        untraced; the overhead compares the traced call with the one after
        it, so the JVM still warming up inflates it rather than hiding it."""
        from board_game_scraper_spark.plans.crawl import CrawlEngine

        orig = CrawlEngine.run_round
        times: list[float] = []

        def timed_round(eng, round_no):
            t = time.perf_counter()
            try:
                return orig(eng, round_no)
            finally:
                times.append(time.perf_counter() - t)

        CrawlEngine.run_round = timed_round
        try:
            start = time.perf_counter()
            while True:
                traced = tracer is not None and len(self.calls) == 1
                if traced:
                    before = _parquet_files(self.root)
                    tracer.install_crawl()
                n, hits = len(times), self.engine._spec_hits
                t = time.perf_counter()
                try:
                    metrics = self.engine.crawl(ROUNDS_PER_CALL)
                finally:
                    if traced:
                        tracer.uninstall()
                call = {"seconds": time.perf_counter() - t,
                        "metrics": metrics, "round_s": times[n:],
                        "traced": traced,
                        "spec_hits": self.engine._spec_hits - hits,
                        "urls": sum(m.get("scheduled", 0) + m.get("fetched", 0)
                                    for m in metrics)}
                if traced:
                    call["new_files"] = _parquet_files(self.root) - before
                self.calls.append(call)
                if tracer is not None:
                    if len(self.calls) == 3:
                        break
                elif (len(self.calls) == MAX_CALLS or time.perf_counter()
                      - start + call["seconds"] > seconds):
                    break
        finally:
            CrawlEngine.run_round = orig

    def attempted(self) -> int:
        return len(self.warmup) + sum(len(c["metrics"]) for c in self.calls)

    def summary(self) -> dict:
        plain = [c for c in self.calls if not c["traced"]]
        rounds = [t for c in plain for t in c["round_s"]]
        wall = sum(c["seconds"] for c in plain)
        return {
            "pass_s": median([c["seconds"] for c in plain]),
            "crawl_urls_per_s": sum(c["urls"] for c in plain) / wall,
            "round_p50_s": median(rounds),
            "calls": len(plain),
            "rounds": len(rounds),
            "seed_s": self.seed_s,
            "warmup_s": self.warmup_s,
        }

    # -- output checks -------------------------------------------------------

    def check(self) -> tuple[int, list[str]]:
        """Compare the committed per-round, per-host schedule and the final
        seen set with the pure-Python simulator on the same seeds; return
        the number of checks made and the failures."""
        from board_game_scraper_spark.plans.simulator import simulate

        n_rounds = self.engine.last_round()
        dims = _dims(self.shape["scale"])
        sim = simulate(
            [(r.url, int(r.priority)) for r in self.seeds_pd.itertuples()],
            n_rounds, dims["n_browse"], dims["n_users"],
            window_sec=self.shape["window_sec"],
            comments_per_game=self.shape["comments"],
        )
        want = {k: sorted(v) for k, v in sim.schedule.items() if v}
        got = committed_schedule(self.root)
        # The simulator stops at the first round with nothing eligible,
        # where the engine fast-forwards to the next eligible one; compare
        # the rounds both ran, and the seen set only if they ran them all.
        last = min(max(r for r, _ in want), max(r for r, _ in got))
        failures = []
        if ({k: v for k, v in got.items() if k[0] <= last}
                != {k: v for k, v in want.items() if k[0] <= last}):
            failures.append("per-round per-host schedule differs from the "
                            "simulator")
        if last < n_rounds:
            return 1, failures
        if committed_seen(self.root) != sim.seen:
            failures.append("url_seen differs from the simulator")
        return 2, failures


def _snapshots(table: Path) -> list[dict]:
    return [json.loads(p.read_text())
            for p in sorted((table / "snapshots").glob("snapshot-*.json"))]


def _current_files(table: Path) -> list[str]:
    name = (table / "snapshots" / "CURRENT").read_text().strip()
    return json.loads((table / "snapshots" / name).read_text())["files"]


def committed_schedule(root: Path) -> dict[tuple[int, str], list[str]]:
    """(round, host) -> sorted scheduled URLs, from the 'fetch' rows of
    each round's committed items data dir."""
    import pyarrow.parquet as pq

    out: dict[tuple[int, str], list[str]] = {}
    for snap in _snapshots(root / "items"):
        rnd = (snap.get("lineage") or {}).get("round")
        if rnd is None:
            continue
        for rel in snap.get("added") or []:
            d = root / "items" / rel / "item_kind=fetch"
            if not d.exists():
                continue
            t = pq.read_table(d, columns=["url_canon", "fetch"])
            hosts = t.column("fetch").combine_chunks().field("host")
            for url, host in zip(t.column("url_canon").to_pylist(),
                                 hosts.to_pylist()):
                out.setdefault((rnd, host), []).append(url)
    return {k: sorted(v) for k, v in out.items()}


def committed_seen(root: Path) -> set[str]:
    import pyarrow.parquet as pq

    table = root / "url_seen"
    urls: set[str] = set()
    for rel in _current_files(table):
        urls.update(pq.read_table(table / rel, columns=["url_canon"])
                    .column("url_canon").to_pylist())
    return urls


def discovered_mentions(root: Path, rounds: set[int]) -> int:
    """URL mentions the parse kernel emitted (before any dedup) in the
    given rounds."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    total = 0
    for snap in _snapshots(root / "items"):
        if (snap.get("lineage") or {}).get("round") not in rounds:
            continue
        for rel in snap.get("added") or []:
            d = root / "items" / rel / "item_kind=page"
            if not d.exists():
                continue
            col = pq.read_table(d, columns=["discovered"]).column("discovered")
            total += int(pc.sum(pc.list_value_length(col)).as_py() or 0)
    return total


def layer_metrics(workload: CrawlWorkload, tracer, stages, jobs) -> dict:
    """Per-layer metrics of the traced crawl (see BENCHMARK.json)."""
    from spans import skew

    traced = next(c for c in workload.calls if c["traced"])
    plain_s = workload.calls[-1]["seconds"]
    spans = tracer.spans
    c = tracer.counters
    by_id = {s["id"]: s for s in spans}

    def wall(*names):
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    def under(sid, name):
        while sid is not None:
            s = by_id.get(sid)
            if s is None:
                return False
            if s["name"] == name:
                return True
            sid = s["parent"]
        return False

    rounds = [s for s in spans if s["name"] == "crawl.round"]
    fused_in_round = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "crawl.fused" and s["parent"] in
        {r["id"] for r in rounds}
        and s["thread"] == by_id[s["parent"]]["thread"])
    round_jobs = sum(n for sid, n in jobs.items() if under(sid, "crawl.round"))

    fused = [st for s in spans if s["name"] == "crawl.fused"
             for st in stages.get(s["id"], [])]
    parse_st = [st for st in fused if st["py_run_ms"] > 0]
    sched_st = [st for st in fused if st["py_run_ms"] == 0]
    fresh_st = [st for s in spans if s["name"] == "tables.prepare_delta.fresh"
                for st in stages.get(s["id"], [])]
    mentions = discovered_mentions(workload.root,
                                   {m["round"] for m in traced["metrics"]})
    disc = sum(m.get("discovered", 0) for m in traced["metrics"])
    fresh = sum(m.get("fresh", 0) for m in traced["metrics"])
    files = traced["new_files"]
    covered = wall("crawl.round")
    task_s = lambda sts: sum(sum(st["task_ms"]) for st in sts) / 1e3
    n_rounds = max(len(rounds), 1)
    return {
        "crawl.seed_s": workload.seed_s,
        "crawl.fused_s": wall("crawl.fused"),
        "crawl.commit_s": wall("crawl.round") - fused_in_round,
        "crawl.jobs_per_round": round_jobs / n_rounds,
        "crawl.discover.mentions": mentions,
        "crawl.discover.urls": disc,
        "crawl.discover.useful_ratio": fresh / mentions if mentions else 0.0,
        "crawl.spec_launched": c["crawl.spec_launched"],
        "crawl.spec_consumed": traced["spec_hits"],
        "crawl.round_coverage": covered / traced["seconds"],
        "crawl.untraced_gap_s": traced["seconds"] - covered,
        "frontier.schedule_task_s": task_s(sched_st),
        "frontier.eligible_rows": c["frontier.eligible.rows"],
        "frontier.scheduled_rows": c["frontier.scheduled.rows"],
        "frontier.lean_rounds": c["frontier.lean_rounds"],
        "frontier.salted_rounds": c["frontier.salted_rounds"],
        "frontier.compactions": c["frontier.compactions"],
        "frontier.pending_delete_files": c["frontier.pending_delete_files"],
        "fetch.rows": c["fetch.rows"],
        "fetch.body_bytes": c["fetch.body_bytes"],
        "parse.python_run_s": sum(st["py_run_ms"] for st in parse_st) / 1e3,
        "parse.python_start_s": sum(st["py_start_ms"] for st in parse_st) / 1e3,
        "parse.bytes_to_python": sum(st["py_sent"] for st in parse_st),
        "parse.bytes_from_python": sum(st["py_recv"] for st in parse_st),
        "parse.rows_out": c["parse.rows_out"],
        "parse.task_skew": (statistics.median(skew(st["task_ms"])
                                              for st in parse_st)
                            if parse_st else 1.0),
        "seen.filter_task_s": task_s(fresh_st),
        "seen.candidates": disc,
        "seen.fresh": fresh,
        "seen.fresh_ratio": fresh / disc if disc else 0.0,
        "seen.bloom_add_s": wall("seen.bloom_add"),
        "seen.bloom_compact_s": wall("seen.bloom_compact"),
        "seen.bloom_compactions": c["seen.bloom_compactions"],
        "tables.prepare_delta_s": wall("tables.prepare_delta.deletes",
                                       "tables.prepare_delta.retries",
                                       "tables.prepare_delta.fresh"),
        "tables.commit_s": wall("tables.commit", "tables.add_files"),
        "tables.append_s": wall("tables.append", "tables.overwrite"),
        "tables.compact_s": wall("tables.compact", "tables.compact_minor"),
        "tables.files_written": len(files),
        "tables.bytes_written": sum(f.stat().st_size for f in files),
        "tables.frontier_files_read": c["tables.frontier_files_read"],
        "trace.overhead_s": traced["seconds"] - plain_s,
        "trace.overhead_ratio": traced["seconds"] / plain_s - 1.0,
    }
