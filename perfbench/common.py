"""Process plumbing shared by the benchmark workloads.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
the cached corpora and the run records, which persist, and ``scratch/``
(temp dirs, Spark local dirs, crawl tables, event logs), which each run
clears at start.  ``bootstrap()`` must run before pyspark is imported,
because the JVM and the Python workers inherit the environment it sets.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "board_game_scraper_spark"
WORK = ROOT / ".perfbench_work"
SCRATCH = WORK / "scratch"


class MissingEngine(RuntimeError):
    """The checkout holds no engine package to benchmark."""


def bootstrap() -> None:
    """Point imports, workers and every temp dir at the checkout."""
    if not (PACKAGE / "__init__.py").is_file():
        raise MissingEngine(f"no engine package at {PACKAGE}")
    # Relative paths Spark may write (spark-warehouse, derby.log) land in
    # the checkout whatever directory the benchmark was started from.
    os.chdir(ROOT)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    tmp = SCRATCH / "tmp"
    tmp.mkdir(parents=True)
    # Python workers are forked by the JVM and import the engine by name:
    # they need the checkout on PYTHONPATH whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(SCRATCH / "spark-local")
    # -UsePerfData: no hsperfdata file in the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def code_hash() -> str:
    """sha256 over the engine package's sources: records of different
    code never pool."""
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(PACKAGE)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def append_record(record: dict) -> None:
    path = WORK / "records.jsonl"
    with open(path, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")


def start_spark(cores: int, app: str, extra_conf: dict | None = None):
    """The engine's own session factory with its shipped defaults; only
    the core count (and, for traced runs, the event log) is chosen."""
    from board_game_scraper_spark.session import get_spark

    return get_spark(app, master=f"local[{cores}]", extra_conf=extra_conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to a hard kill
            proc.kill()
            proc.wait(timeout=30)
    _reap_descendants()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _reap_descendants() -> None:
    """Kill and wait for anything the session left running."""
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + 20
    for pid in pids:
        while time.time() < deadline:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                # not our direct child: poll until it is gone
                if not Path(f"/proc/{pid}").exists():
                    break
                time.sleep(0.1)
                continue
            if done:
                break
            time.sleep(0.1)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled on a thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def median(xs: list[float]) -> float:
    import statistics

    return float(statistics.median(xs))
