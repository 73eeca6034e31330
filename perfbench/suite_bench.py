"""The query workload: every ``queries.QUERIES`` entry, each written to a
noop sink, over the sf0.01 tables in ``perfbench/data`` (a copy of the
dataset the oracle gate uses).  The seed sets the query order.

Outputs are checked against ``oracle_sql()`` on DuckDB with the
normalisation and value hash of ``tools/check_oracle.py``: a seed-chosen
slice of the queries per run (all of them with ``--check-all``).
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

from common import ROOT, median

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
# Untimed before the pass: a pandas-UDF query starts the Python workers
# and the parquet, aggregation and UDF code paths every pass uses.
WARMUP = ("quality_score",)
CHECKS_PER_RUN = 2


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class SuiteWorkload:
    def __init__(self, seed: int, check_all: bool = False):
        from board_game_scraper_spark import queries

        self.queries = queries.QUERIES
        names = sorted(self.queries)
        self.order = names[:]
        random.Random(seed).shuffle(self.order)
        start = (seed * CHECKS_PER_RUN) % len(names)
        self.to_check = (names if check_all else
                         [names[(start + i) % len(names)]
                          for i in range(CHECKS_PER_RUN)])
        self.passes: list[dict] = []
        self.load_extra_s = 0.0

    def setup(self, spark) -> None:
        self.spark = spark
        for name in WARMUP:
            _materialize(self.queries[name](spark, str(DATA)))

    def _pass(self, tracer=None) -> dict:
        per = {}
        t0 = time.perf_counter()
        for name in self.order:
            fn = self.queries[name]
            t = time.perf_counter()
            if tracer is None:
                _materialize(fn(self.spark, str(DATA)))
            else:
                with tracer.span(f"queries.{name}"):
                    with tracer.span(f"queries.{name}.plan"):
                        df = fn(self.spark, str(DATA))
                    _materialize(df)
            per[name] = time.perf_counter() - t
        return {"seconds": time.perf_counter() - t0, "per_query": per,
                "traced": tracer is not None}

    def measure(self, seconds: float, tracer=None) -> None:
        """Whole passes until the next one would overrun ``seconds``.  A
        traced run makes exactly three: untraced, traced, untraced (see
        ``CrawlWorkload.measure``)."""
        start = time.perf_counter()
        while True:
            traced = tracer is not None and len(self.passes) == 1
            self.passes.append(self._pass(tracer if traced else None))
            if tracer is not None:
                if len(self.passes) == 3:
                    break
            elif (time.perf_counter() - start
                  + self.passes[-1]["seconds"] > seconds):
                break

    def attempted(self) -> int:
        return sum(len(p["per_query"]) for p in self.passes)

    def summary(self) -> dict:
        plain = [p for p in self.passes if not p["traced"]]
        lat = [t for p in plain for t in p["per_query"].values()]
        return {
            "pass_s": median([p["seconds"] for p in plain]),
            "suite_s": median([p["seconds"] for p in plain]),
            "query_p50_s": median(lat),
            "passes": len(plain),
            "queries": len(self.queries),
        }

    def check(self) -> tuple[int, list[str]]:
        import sys

        import duckdb

        sys.path.insert(0, str(ROOT / "tools"))
        from check_oracle import TABLES, normalize, value_hash

        from board_game_scraper_spark import queries

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{DATA / (t + '.parquet')}')")
            failures = []
            for name in self.to_check:
                got = self.queries[name](self.spark, str(DATA)).toPandas()
                want = con.execute(queries.ORACLES[name]).fetchdf()
                if (sorted(got.columns) != sorted(want.columns)
                        or len(got) != len(want)
                        or value_hash(normalize(got))
                        != value_hash(normalize(want))):
                    failures.append(f"{name}: differs from the DuckDB oracle")
            return len(self.to_check), failures
        finally:
            con.close()


def layer_metrics(workload: SuiteWorkload, tracer, stages, jobs) -> dict:
    """Per-layer metrics of the traced pass (see BENCHMARK.json)."""
    from spans import skew

    traced = next(p for p in workload.passes if p["traced"])
    plain = workload.passes[-1]
    spans = tracer.spans
    out = {f"queries.{n}_s": t for n, t in traced["per_query"].items()}
    out["queries.plan_s"] = sum(s["end"] - s["start"] for s in spans
                                if s["name"].endswith(".plan"))
    sts = [st for s in spans for st in stages.get(s["id"], [])]
    out["operators.python_run_s"] = sum(st["py_run_ms"] for st in sts) / 1e3
    out["queries.shuffle_bytes"] = sum(st["shuffle_bytes"] for st in sts)
    heaviest = []
    for s in spans:
        if s["name"].endswith(".plan"):
            continue
        mine = [st for c in spans if c["id"] == s["id"] or c["parent"] == s["id"]
                for st in stages.get(c["id"], [])]
        if mine:
            heaviest.append(max(mine, key=lambda st: sum(st["task_ms"])))
    out["queries.task_skew"] = (statistics.median(skew(st["task_ms"])
                                                  for st in heaviest)
                                if heaviest else 1.0)
    out["trace.overhead_s"] = traced["seconds"] - plain["seconds"]
    out["trace.overhead_ratio"] = traced["seconds"] / plain["seconds"] - 1.0
    return out
