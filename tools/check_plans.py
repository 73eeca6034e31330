"""Physical-plan quality gate.

Asserts the properties that matter at 100 TB on key query plans:
filters and column pruning reach the parquet scan (PushedFilters /
ReadSchema), WholeStageCodegen spans exist, broadcast joins are chosen
for dim tables, no query's plan contains a CartesianProduct, and the
candidate-pair queries contain no join at all.

Usage: python tools/check_plans.py [sf_dir]

``sf_dir`` defaults to the in-repo ``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from board_game_scraper_spark import queries as q  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    # query -> list of (must_contain, why)
    "lineitem_agg": [
        ("HashAggregate", "partial/final agg"),
        ("hashpartitioning(l_returnflag", "map-side combine then shuffle"),
    ],
    "join_agg": [
        ("BroadcastHashJoin", "nation dim must broadcast"),
    ],
    "anti_join_seen": [
        ("BroadcastHashJoin", "seen set broadcast anti-join"),
        ("LeftAnti", "anti join"),
        ("PushedFilters: [IsNotNull(c_acctbal), LessThan(c_acctbal,",
         "filter pushed to customer scan"),
    ],
    "range_validate": [
        ("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>",
         "column pruning: 3 of 11 lineitem columns read"),
    ],
    "topk_per_host": [
        ("WindowGroupLimit", "rank-limit pushed below the shuffle"),
        ("hashpartitioning(event_type", "window partitioned (no global sort)"),
    ],
    "ann_ivf_topk": [
        ("PartitionFilters: [list_id", "IVF probe is a partition-pruned "
         "scan of the persisted index (never a full re-assignment)"),
    ],
    **{name: [("MapInArrow", "parsed by the crawl's page kernel, "
                             "run_parse_flat")]
       for name in ("rankings_extract", "geeklist_extract",
                    "dbpedia_extract", "hotness_extract")},
}

FORBIDDEN = ("CartesianProduct",)
# join-free queries: candidate pairs are scored inside their bucket
# (dedup.bucket_pairs), so no payload is joined back by id; pagination
# numbers and counts its rows with windows, not an offset join.
NO_JOIN = {"near_dup_pairs", "embedding_near_dup", "entity_resolution",
           "pagination"}
# cosine_topk legitimately broadcasts a 1-row query vector via
# BroadcastNestedLoopJoin; anything else nested-loop is a bug.
NESTED_LOOP_ALLOWED = {"cosine_topk", "ann_ivf_topk", "media_features"}


def main() -> int:
    sf_dir = (sys.argv[1] if len(sys.argv) > 1
              else str(ROOT / "perfbench" / "data" / "sf0.01"))
    spark = get_spark("plan-check")
    failures = []
    for name, fn in q.QUERIES.items():
        plan = plan_of(fn(spark, sf_dir))
        for bad in FORBIDDEN:
            if bad in plan:
                failures.append((name, f"forbidden operator {bad}"))
        if ("BroadcastNestedLoopJoin" in plan
                and name not in NESTED_LOOP_ALLOWED):
            failures.append((name, "unexpected BroadcastNestedLoopJoin"))
        if name in NO_JOIN and re.search(r"\w*Join\b", plan):
            failures.append((name, "unexpected join"))
        for needle, why in CHECKS.get(name, []):
            if needle not in plan:
                failures.append((name, f"missing '{needle}' ({why})"))
        print(f"checked {name}")
    if failures:
        print("\nPLAN FAILURES:")
        for name, msg in failures:
            print(f"  {name}: {msg}")
        return 1
    print(f"\nall {len(q.QUERIES)} plans OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
