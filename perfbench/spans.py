"""Layer spans for the traced run, recorded from outside the engine.

``Tracer.install_crawl()`` wraps the engine's public layer entry points (the
names ``plans/crawl.py`` calls, ``SnapshotTable`` and ``SnapshotBloom``
methods, and each query function) so every call becomes a span: name,
start, end, parent and thread.  Each wrapper also sets the Spark job
description to ``<span>#<id>`` in the thread that makes the call, so the
Spark event log attributes every job -- including those submitted from
the crawl round's commit-pool threads -- to the innermost open span.

Lazy layers (``schedule``, ``fetch_from_table``, ``run_parse_flat``,
``filter_unseen``) only build plans when called; their counters come from
``DataFrame.observe`` on the frame they return, and their time from the
task time of the stages they planned (``read_eventlog``).
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

PY_RUN = "time to run Python workers"
# "time to initialize Python workers" is left out: a reused worker reports
# its one-time initialisation again on every task.
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def eventlog_conf(log_dir: Path) -> dict:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._observations: list[tuple[str, Observation]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A pool thread's first span hangs off whatever the main thread
        # has open (the crawl round that submitted the work).
        parent = (stack[-1] if stack else
                  self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{name}#{sid}")
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.current_thread().name,
               "start": time.perf_counter()}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] += n

    def observe(self, df, metric: str, *aggs):
        """Attach counters to a frame a lazy layer returned."""
        obs = Observation(f"{metric}.{next(self._ids)}")
        with self._lock:
            self._observations.append((metric, obs))
        return df.observe(obs, *aggs)

    def collect_observations(self) -> None:
        """Fold every observation that fired into the counters (frames
        that were never executed are skipped, not waited for)."""
        with self._lock:
            pending, self._observations = self._observations, []
        for metric, obs in pending:
            if obs._jo is None or not obs._jo.future().isCompleted():
                continue
            for k, v in obs.get.items():
                self.count(f"{metric}.{k}", float(v or 0))

    # -- patching ------------------------------------------------------------

    def _patch(self, owner, attr: str, name, before=None, after=None):
        """Replace ``owner.attr`` by a wrapper that opens a span.  ``name``
        is a span name or a function of the call's arguments; ``after``
        may post-process (and replace) the result."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if before is not None:
                args, kwargs = before(args, kwargs)
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label):
                out = orig(*args, **kwargs)
            return after(out, args, kwargs) if after is not None else out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def _counting(self, key):
        """An ``after`` hook that counts calls under ``key`` (a name or a
        function of the call's arguments)."""
        def after(out, args, kwargs):
            self.count(key(args) if callable(key) else key)
            return out
        return after

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install_crawl(self) -> None:
        from board_game_scraper_spark.plans import crawl, seen
        from board_game_scraper_spark.tables import SnapshotTable

        eng = crawl.CrawlEngine

        def after_round(out, args, kwargs):
            self.count("crawl.rounds")
            pend = args[0].frontier.pending_delete_files()
            with self._lock:
                key = "frontier.pending_delete_files"
                self.counters[key] = max(self.counters[key], pend)
            return out

        self._patch(eng, "run_round", "crawl.round", after=after_round)
        self._patch(eng, "_fused_stage", "crawl.fused")

        def after_launch(out, args, kwargs):
            if args[0]._spec is not None:
                self.count("crawl.spec_launched")
            return out

        self._patch(eng, "_launch_speculation", "crawl.spec_launch",
                    after=after_launch)

        def before_schedule(args, kwargs):
            frontier, round_no = args[0], args[1]
            self.count("frontier.lean_rounds" if kwargs.get("lean")
                       else "frontier.salted_rounds")
            frontier = self.observe(
                frontier, "frontier.eligible",
                F.sum((F.col("not_before_round") <= F.lit(round_no))
                      .cast("long")).alias("rows"))
            return (frontier, *args[1:]), kwargs

        self._patch(crawl, "schedule", "frontier.schedule",
                    before=before_schedule,
                    after=lambda out, a, k: self.observe(
                        out, "frontier.scheduled",
                        F.count(F.lit(1)).alias("rows")))
        self._patch(crawl, "fetch_from_table", "fetch.fetch_from_table",
                    after=lambda out, a, k: self.observe(
                        out, "fetch", F.count(F.lit(1)).alias("rows"),
                        F.sum(F.octet_length("body")).alias("body_bytes")))
        self._patch(crawl, "run_parse_flat", "parse.run_parse_flat",
                    after=lambda out, a, k: self.observe(
                        out, "parse", F.count(F.lit(1)).alias("rows_out")))
        self._patch(crawl, "filter_unseen", "seen.filter_unseen",
                    after=lambda out, a, k: self.observe(
                        out, "seen.filtered",
                        F.count(F.lit(1)).alias("rows")))

        def delta_name(args, kwargs):
            if kwargs.get("deletes") is not None:
                return "tables.prepare_delta.deletes"
            appends = kwargs.get("appends", args[1] if len(args) > 1 else None)
            plan = appends._jdf.queryExecution().logical().toString()
            # the fresh delta is the one planned on filter_unseen's output
            return ("tables.prepare_delta.fresh" if "seen.filtered" in plan
                    else "tables.prepare_delta.retries")

        def after_read(out, args, kwargs):
            table = args[0]
            if table.path.name == "frontier":
                snap = table.current_snapshot() or {}
                self.count("tables.frontier_files_read",
                           len(snap.get("files") or [])
                           + len(snap.get("delete_files") or []))
            return out

        st = SnapshotTable
        self._patch(st, "prepare_delta", delta_name)
        self._patch(st, "commit_prepared_delta", "tables.commit")
        self._patch(st, "add_files", "tables.add_files")
        self._patch(st, "append", "tables.append")
        self._patch(st, "overwrite", "tables.overwrite")
        self._patch(st, "compact", "tables.compact", after=self._counting(
            lambda args: f"{args[0].path.name}.compactions"))
        self._patch(st, "compact_minor", "tables.compact_minor")
        self._patch(st, "read", "tables.read", after=after_read)
        self._patch(seen.SnapshotBloom, "add", "seen.bloom_add")
        self._patch(seen.SnapshotBloom, "compact", "seen.bloom_compact",
                    after=self._counting("seen.bloom_compactions"))


# -- event log ----------------------------------------------------------------


def _span_of(description: str | None) -> int | None:
    if not description or "#" not in description:
        return None
    tail = description.rsplit("#", 1)[1]
    return int(tail) if tail.isdigit() else None


def read_eventlog(log_dir: Path) -> tuple[dict[int, list[dict]], Counter]:
    """Stage records per span id (each stage's task run times, summed
    task metrics and Python-node SQL metrics) and job counts per span."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = _span_of(
                        (ev.get("Properties") or {}).get("spark.job.description"))
                    if sid is not None:
                        job_span[ev["Job ID"]] = sid
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    st = ev["Stage ID"]
                    if st not in stage_span:
                        continue
                    rec = stages.setdefault(st, {
                        "span": stage_span[st], "task_ms": [], "gc_ms": 0,
                        "shuffle_bytes": 0, "spill_bytes": 0,
                        "py_run_ms": 0, "py_start_ms": 0,
                        "py_sent": 0, "py_recv": 0})
                    tm = ev.get("Task Metrics") or {}
                    rec["task_ms"].append(tm.get("Executor Run Time", 0))
                    rec["gc_ms"] += tm.get("JVM GC Time", 0)
                    rec["shuffle_bytes"] += (
                        (tm.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0))
                    rec["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                           + tm.get("Disk Bytes Spilled", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == PY_RUN:
                            rec["py_run_ms"] += int(upd)
                        elif name == PY_START:
                            rec["py_start_ms"] += int(upd)
                        elif name == PY_SENT:
                            rec["py_sent"] += int(upd)
                        elif name == PY_RECV:
                            rec["py_recv"] += int(upd)
    by_span: dict[int, list[dict]] = defaultdict(list)
    for st, rec in stages.items():
        by_span[rec["span"]].append(rec)
    return by_span, Counter(job_span.values())


def skew(task_ms: list[float]) -> float:
    """Max over median task time of one stage."""
    med = statistics.median(task_ms) if task_ms else 0
    return max(task_ms) / med if med > 0 else 1.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids[s["id"]])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def layer_table(spans: list[dict], stages: dict, jobs: Counter) -> list[tuple]:
    """Rows (layer, calls, wall_s, self_s, jobs, task_s) per span name."""
    selfs = self_times(spans)
    rows: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0, 0, 0.0])
    for s in spans:
        r = rows[s["name"]]
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += selfs[s["id"]]
        r[3] += jobs.get(s["id"], 0)
        r[4] += sum(sum(st["task_ms"]) for st in stages.get(s["id"], [])) / 1e3
    return sorted(((k, *v) for k, v in rows.items()), key=lambda r: -r[2])


def print_table(rows: list[tuple]) -> None:
    print(f"{'layer':34s} {'calls':>6s} {'wall_s':>9s} {'self_s':>9s} "
          f"{'jobs':>6s} {'task_s':>9s}")
    for name, calls, wall, self_s, jobs, task in rows:
        print(f"{name:34s} {calls:6d} {wall:9.3f} {self_s:9.3f} "
              f"{jobs:6d} {task:9.3f}")
