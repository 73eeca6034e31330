"""The repository's benchmark: crawl and query workloads on local[N].

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 30 --trace 0

Workloads (why each exists is in BENCHMARK.json):

* ``crawl_bulk``   -- parse-heavy crawl, unbounded politeness window;
* ``crawl_polite`` -- ``bench.py``'s replay shape, capped window;
* ``query_suite``  -- all ``queries.QUERIES`` over the sf0.01 tables.

One run starts the engine's own session (its shipped defaults), loads the
inputs, warms up, measures for ``--seconds``, checks the outputs against
the simulator or the DuckDB oracle, and prints a summary followed by one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list; with
``--trace 1`` the run enables the Spark event log, measures once untraced
and once with layer spans (``spans.py``), prints the per-layer table and
reports BENCHMARK.json's ``per_layer`` list.

``--scaling`` runs ``crawl_bulk`` at local[1] and at local[--cores] in
child processes and reports the scaling efficiency; ``--check-all``
checks every query against the oracle instead of a seed-chosen slice.
Every run is appended to ``.perfbench_work/records.jsonl``, keyed on a
hash of the engine source, workload, seed and cores.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

import common

WORKLOADS = ("crawl_bulk", "crawl_polite", "query_suite")


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--check-all", action="store_true")
    p.add_argument("--scaling", action="store_true")
    return p.parse_args(argv)


def _metric_list(trace: int) -> list[dict]:
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def run(args) -> dict:
    if args.workload == "query_suite":
        import suite_bench as mod

        workload = mod.SuiteWorkload(args.seed, check_all=args.check_all)
    else:
        import crawl_bench as mod

        workload = mod.CrawlWorkload(args.workload, args.seed)
    log_dir = common.SCRATCH / "eventlog"
    tracer = None
    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        conf = None
        if args.trace:
            from spans import eventlog_conf

            conf = eventlog_conf(log_dir)
        spark = common.start_spark(args.cores, f"perfbench-{args.workload}",
                                   conf)
        session_s = time.perf_counter() - t0
        try:
            workload.setup(spark)
            setup_s = time.perf_counter() - t0 - workload.load_extra_s
            if args.trace:
                from spans import Tracer

                tracer = Tracer(spark)
            workload.measure(args.seconds, tracer)
            checked, failures = workload.check()
            if tracer is not None:
                tracer.collect_observations()
        finally:
            common.stop_spark(spark)
    summary = workload.summary()
    values = {"pass_s": summary["pass_s"], "setup_s": setup_s}
    attempted = workload.attempted() + checked
    summary.update(peak_rss_mb=rss.peak_mb, setup_s=setup_s,
                   session_s=session_s,
                   error_rate=len(failures) / attempted)
    for f in failures:
        print(f"CHECK FAILED {f}")
    if tracer is not None:
        from spans import layer_table, print_table, read_eventlog

        stages, jobs = read_eventlog(log_dir)
        values = mod.layer_metrics(workload, tracer, stages, jobs)
        sts = [st for s in tracer.spans for st in stages.get(s["id"], [])]
        values.update({
            "process.peak_rss_mb": rss.peak_mb,
            "spark.jobs": sum(jobs.values()),
            "spark.task_s": sum(sum(st["task_ms"]) for st in sts) / 1e3,
            "spark.shuffle_bytes": sum(st["shuffle_bytes"] for st in sts),
            "spark.spill_bytes": sum(st["spill_bytes"] for st in sts),
            "spark.gc_s": sum(st["gc_ms"] for st in sts) / 1e3,
        })
        print_table(layer_table(tracer.spans, stages, jobs))
        for m in _metric_list(1):
            if m["name"] in values:
                print(f"{m['name']:34s} {values[m['name']]:16.4f} {m['unit']}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]}
               for m in _metric_list(args.trace)}
    common.append_record({
        "key": {"code": common.code_hash(), "workload": args.workload,
                "seed": args.seed, "cores": args.cores},
        "trace": args.trace, "seconds": args.seconds, "ts": time.time(),
        "summary": summary, "metrics": metrics, "failures": failures,
    })
    return {"summary": summary, "result": {
        "correct": not failures, "attempted": attempted,
        "failed": len(failures), "metrics": metrics}}


UNITS = {"crawl_urls_per_s": "1/s", "round_p50_s": "s", "suite_s": "s",
         "query_p50_s": "s", "peak_rss_mb": "MB", "setup_s": "s",
         "error_rate": "ratio", "scaling_efficiency": "ratio"}


def scaling(args) -> dict:
    """crawl_bulk at local[1] and local[cores]; efficiency = speedup/cores."""
    rates = {}
    for cores in (1, args.cores):
        out = subprocess.run(
            [sys.executable, __file__, "--workload", "crawl_bulk",
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--cores", str(cores)],
            check=True, capture_output=True, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            raise RuntimeError(f"crawl_bulk failed its checks at local[{cores}]")
        rates[cores] = res["metrics"]["pass_s"]["value"]
    eff = rates[1] / rates[args.cores] / args.cores
    return {"summary": {"scaling_efficiency": eff}, "result": {
        "correct": True, "attempted": 2, "failed": 0, "metrics": {
            "pass_s_local1": {"value": rates[1], "unit": "s"},
            f"pass_s_local{args.cores}": {"value": rates[args.cores],
                                          "unit": "s"},
            "scaling_efficiency": {"value": eff, "unit": "ratio"}}}}


def main(argv=None) -> int:
    args = _args(argv)
    try:
        common.bootstrap()
    except common.MissingEngine as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    out = scaling(args) if args.scaling else run(args)
    for name, unit in UNITS.items():
        if name in out["summary"]:
            print(f"{args.workload:13s} {name:17s} "
                  f"{out['summary'][name]:12.4f} {unit}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
