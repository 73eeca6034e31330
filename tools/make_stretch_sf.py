"""Generate a 10x "stretch" copy of an sf dir for MEASUREMENT ONLY.

The driver's round-end bench may run at a larger, driver-generated
scale factor (BENCH_r06.json: sf=1.0) than the largest local test dir
(sf0.1).  This tool builds a deterministic sf1.0-shaped corpus from
sf0.1 so optimizations can be validated at that scale locally:

- events / lineitem / orders / customer: 10 copies with per-copy key
  shifts (group cardinality scales like a real SF bump);
- documents: 10 copies; copies 1..9 get every word suffixed with the
  copy index, so no cross-copy shingles are shared and the near-dup
  pair structure stays LINEAR in corpus size (prepending/appending
  tokens instead would make all copies of a doc mutual near-dups and
  blow the pair count up quadratically — not what a bigger SF does);
- embeddings: fresh seeded random unit-ish vectors at 10x count (the
  LSH bucket structure, not the exact values, is what costs);
- dims (nation/region/part/supplier): copied as-is.

NOT part of the driver contract and never read by the oracle gate;
point bench.py at the output via SPARK_GRAFT_SF_DIR for stretch-scale
query timings (as cited in OPTIMIZATION_r07.md).

Usage: python tools/make_stretch_sf.py [src_dir] [dst_dir] [copies]
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/root/stretch_sf1"
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 10

SHIFT = 10_000_000  # far above any base id and the +100000 mutant offset


def _rep(df: pd.DataFrame, idcols: dict[str, int]) -> pd.DataFrame:
    out = []
    for c in range(COPIES):
        d = df.copy()
        for col, mult in idcols.items():
            d[col] = d[col] + c * SHIFT * mult
        out.append(d)
    return pd.concat(out, ignore_index=True)


def main() -> None:
    src, dst = Path(SRC), Path(DST)
    dst.mkdir(parents=True, exist_ok=True)

    for name in ("nation", "region", "part", "supplier"):
        pd.read_parquet(src / f"{name}.parquet").to_parquet(
            dst / f"{name}.parquet", index=False
        )

    ev = pd.read_parquet(src / "events.parquet")
    _rep(ev, {"event_id": 1, "user_id": 1}).to_parquet(
        dst / "events.parquet", index=False
    )

    li = pd.read_parquet(src / "lineitem.parquet")
    _rep(li, {"l_orderkey": 1}).to_parquet(
        dst / "lineitem.parquet", index=False
    )
    orders = pd.read_parquet(src / "orders.parquet")
    _rep(orders, {"o_orderkey": 1, "o_custkey": 1}).to_parquet(
        dst / "orders.parquet", index=False
    )
    cust = pd.read_parquet(src / "customer.parquet")
    _rep(cust, {"c_custkey": 1}).to_parquet(
        dst / "customer.parquet", index=False
    )

    docs = pd.read_parquet(src / "documents.parquet")
    chunks = []
    for c in range(COPIES):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + c * SHIFT
        if c:
            suf = str(c)
            d["text"] = d["text"].map(
                lambda t: " ".join(w + suf for w in t.split())
            )
            d["n_chars"] = d["text"].str.len()
        chunks.append(d)
    pd.concat(chunks, ignore_index=True).to_parquet(
        dst / "documents.parquet", index=False
    )

    emb = pd.read_parquet(src / "embeddings.parquet")
    dim = len(emb["embedding"].iloc[0])
    n = len(emb) * COPIES
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    ).to_parquet(dst / "embeddings.parquet", index=False)

    print(f"stretch corpus at {dst}: {COPIES}x {src}")


if __name__ == "__main__":
    main()
