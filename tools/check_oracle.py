"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, sorted-column schema, and
an order-insensitive value hash.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

``sf_dir`` defaults to the in-repo ``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        df.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1).tolist()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object:
            out[c] = s.map(lambda v: str(v) if v is not None else None)
        else:
            out[c] = s.astype("object").where(s.notna(), None)
    return out


def main() -> int:
    sf_dir = (sys.argv[1] if len(sys.argv) > 1
              else str(ROOT / "perfbench" / "data" / "sf0.01"))
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        s_n, d_n = len(sdf), len(ddf)
        s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL {name}: columns {s_cols} vs {d_cols}")
            continue
        if s_n != d_n:
            failures.append(name)
            print(f"FAIL {name}: rows {s_n} vs {d_n}")
            continue
        sh, dh = value_hash(normalize(sdf)), value_hash(normalize(ddf))
        if sh != dh:
            failures.append(name)
            print(f"FAIL {name}: value hash mismatch (rows={s_n})")
            ns, nd = normalize(sdf), normalize(ddf)
            cols = sorted(ns.columns)
            ns = ns[cols].sort_values(cols).reset_index(drop=True)
            nd = nd[cols].sort_values(cols).reset_index(drop=True)
            diff = ns.astype(str).compare(nd.astype(str))
            print(diff.head(5))
        else:
            print(f"OK   {name} (rows={s_n})")

    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
