"""URL-seen set (F6/F7) — sharded bloom filter + exact anti-join.

Reference analog: Scrapy's request dupefilter (implicit) and the
driver-side ``_ids_seen`` set (spiders/bgg.py:229-242,256-261).  A
driver-side set dies at 10^10 URLs; the Spark-native design is:

1. **Exact layer**: the ``url_seen`` snapshot table (schemas.URL_SEEN).
   Candidate dedup = ``left_anti`` join on ``url_hash`` — one shuffle,
   always correct.
2. **Bloom prefilter**: per-shard numpy bitmaps persisted next to the
   table (shard = pmod(url_hash, n_shards)).  Candidates are checked
   shard-locally via ``applyInPandas``; definite-new rows (bloom miss)
   skip the expensive exact join entirely.  At the 10^10 design point:
   4096 shards x ~2.4M keys x 14 bits ≈ 4 MB per shard — each task
   touches exactly one shard file, nothing is broadcast (SURVEY.md §4).

False positives only ever send a row to the exact join (never wrongly
drop it), so the bloom layer is a pure optimization with zero effect on
membership semantics — property-tested against a Python set oracle.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS_PER_KEY = 14
N_HASHES = 7  # ~optimal for 14 bits/key → fp ≈ 0.1%


def _bit_positions(hashes: np.ndarray, m_bits: int) -> np.ndarray:
    """k bit positions per 64-bit key via double hashing (h1 + i*h2)."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m_bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
    i = np.arange(N_HASHES, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


BLOOM_ROW_SCHEMA = "shard int, version long, bits binary, hash long"


class SnapshotBloom:
    """Cluster-safe sharded bloom with O(new-keys) writes.

    Two row kinds in one SnapshotTable (``bits`` discriminates):

    - **bitmap rows** (``bits`` non-null, ``hash`` = 0): one folded
      bitmap per shard, produced only by ``compact()``.
    - **delta rows** (``bits`` null, ``hash`` = url_hash): appended by
      ``add`` — a bare projection write, no shuffle, no bitmap rewrite.

    Round-2 wrote a full ~1.75 MB bitmap row per touched shard per
    round — O(shards x bitmap_size) IO to record O(new keys) hashes
    (the ``InternalParquetRecordWriter: Too much memory`` warnings in
    BENCH_r02).  Now ``add`` costs 20 bytes/new hash; ``compact()``
    (wired to the crawl loop's ``compact_every`` cadence) folds pending
    deltas into the bitmaps shard-locally and overwrites, bounding both
    file count and the read-side row count.

    ``prefilter`` cogroups candidates with each shard's rows (bitmap +
    pending deltas): membership = bloom-bit hit OR exact delta match, so
    un-compacted hashes are still seen — false positives only, never
    false negatives, same as before.  The ``hash`` column is NOT NULL
    (0 on bitmap rows) so pandas keeps exact int64 — a nullable long
    would decay to float64 and corrupt hashes above 2^53.

    This is the repo's only bloom; the crawl engine keeps one per root
    with the default 64 shards.  A key's shard is
    ``pmod(url_hash, n_shards)``, so ``n_shards`` must not change over a
    table's life.
    """

    def __init__(self, spark, path: str | Path, n_shards: int = 64,
                 shard_capacity: int = 1_000_000):
        from pyspark.sql.types import (
            BinaryType, IntegerType, LongType, StructField, StructType,
        )

        from ..tables import SnapshotTable

        self.spark = spark
        self.n_shards = n_shards
        self.m_bits = max(shard_capacity * BITS_PER_KEY, 1024)
        schema = StructType([
            StructField("shard", IntegerType(), False),
            StructField("version", LongType(), False),
            StructField("bits", BinaryType(), True),
            StructField("hash", LongType(), False),
        ])
        self.table = SnapshotTable(spark, path, schema)

    def shard_col(self):
        return F.pmod(F.col("url_hash"), F.lit(self.n_shards)).cast("int")

    @staticmethod
    def _split(bits_pdf: pd.DataFrame):
        """(latest bitmap bytes or None, pending delta hashes int64[])."""
        mask = bits_pdf["bits"].notna()
        bitmap = None
        if mask.any():
            bmp = bits_pdf[mask]
            bitmap = bmp.loc[bmp["version"].idxmax(), "bits"]
        deltas = bits_pdf.loc[~mask, "hash"].to_numpy(np.int64)
        return bitmap, deltas

    def add(self, df: DataFrame) -> None:
        """Append url_hash delta rows — O(new keys) bytes, no shuffle.
        Carries the ``bitmaps`` manifest metric forward so ``prefilter``
        can tell without a Spark job whether any bitmap rows exist."""
        snap = self.table.current_snapshot()
        version = (snap["id"] + 1) if snap else 1
        prev_bitmaps = int(((snap or {}).get("metrics") or {})
                           .get("bitmaps", 0))
        deltas = df.select(
            self.shard_col().alias("shard"),
            F.lit(version).cast("long").alias("version"),
            F.lit(None).cast("binary").alias("bits"),
            F.col("url_hash").alias("hash"),
        )
        self.table.append(deltas, lineage={"version": version},
                          metrics={"bitmaps": prev_bitmaps})

    def prefilter(self, candidates: DataFrame) -> DataFrame:
        """Flag candidates with ``maybe_seen``.

        Membership has two layers with different natural engines:

        - **pending delta rows** (un-compacted hashes) are EXACT keys —
          membership is a plain JVM semi-join (broadcast-sized: deltas
          are bounded by the compaction cadence).  Running them through
          the pandas cogroup was pure Python overhead.  Before the
          first ``compact()`` the table is ALL deltas — the complete
          key set — so the prefilter can't rule anything out and
          short-circuits to ``maybe_seen = True`` for every candidate
          (a correct bloom answer by contract), letting the caller's
          single exact anti-join do the whole job with zero extra
          joins on the hot pre-compaction crawl path.
        - **bitmap rows** need numpy bit math — the pandas cogroup runs
          ONLY against them, and only for candidates the delta join
          didn't already flag, gated manifest-side by the ``bitmaps``
          metric (no Spark job when none exist).
        """
        snap = self.table.current_snapshot()
        if snap is None or not snap["files"]:
            return candidates.withColumn("maybe_seen", F.lit(False))
        rows = self.table.read()
        has_bitmaps = ((snap.get("metrics") or {}).get("bitmaps"))
        if has_bitmaps is not None and not has_bitmaps:
            # Never compacted: the table is ALL delta rows, i.e. the
            # complete key set — the bloom layer can't rule anything
            # out that the exact join wouldn't, so flagging everything
            # maybe_seen routes it all to the one exact anti-join in
            # filter_unseen.  The previous shape (delta semi-join +
            # anti-join here, exact join after) spent two extra
            # broadcast joins per round to save nothing: maybe_seen =
            # True for all is always a CORRECT bloom answer (false
            # positives only send rows to the exact join), and pre-
            # first-compaction it is also the cheapest one.
            return candidates.withColumn("maybe_seen", F.lit(True))
        deltas = rows.where(F.col("bits").isNull()).select(
            F.col("hash").alias("url_hash")
        )
        delta_hit = candidates.join(deltas, "url_hash", "left_semi") \
            .withColumn("maybe_seen", F.lit(True))
        rest = candidates.join(deltas, "url_hash", "left_anti")
        # bitmaps exist (or unknown metric on a pre-existing table —
        # conservative): numpy check over bitmap rows only
        m_bits = self.m_bits
        split = self._split
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in candidates.schema.fields
        ) + ", maybe_seen boolean"

        def _check(key, cand: pd.DataFrame, bits_pdf: pd.DataFrame):
            cand = cand.drop(columns=["_shard"])
            if not len(cand):
                return cand.assign(maybe_seen=pd.Series(dtype=bool))
            if not len(bits_pdf):
                return cand.assign(maybe_seen=False)
            hashes = cand["url_hash"].to_numpy(np.int64)
            bitmap, deltas_np = split(bits_pdf)
            hit = np.zeros(len(cand), dtype=bool)
            if bitmap is not None:
                bits = np.frombuffer(bitmap, dtype=np.uint8)
                pos = _bit_positions(hashes, m_bits)
                hit |= (
                    (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
                ).all(axis=0).astype(bool)
            if len(deltas_np):
                hit |= np.isin(hashes, deltas_np)
            return cand.assign(maybe_seen=hit)

        shards = rows.where(F.col("bits").isNotNull()).select(
            F.col("shard").alias("_shard"), "version", "bits", "hash"
        )
        flagged_rest = (
            rest.withColumn("_shard", self.shard_col())
            .groupBy("_shard")
            .cogroup(shards.groupBy("_shard"))
            .applyInPandas(_check, out_schema)
        )
        return delta_hit.unionByName(flagged_rest)

    def compact(self) -> None:
        """Fold pending delta rows into one bitmap row per shard
        (shard-local cogroup — the bitmap and its deltas meet on an
        executor, nothing broadcast) and overwrite the table."""
        m_bits = self.m_bits
        split = self._split
        full = self.table.read()
        delta_rows = full.where(F.col("bits").isNull()).select(
            "shard", F.col("hash").alias("url_hash")
        )
        bitmap_rows = full.where(F.col("bits").isNotNull()).select(
            "shard", "version", "bits",
            F.lit(0).cast("long").alias("hash"),
        )

        def _merge(key, cand: pd.DataFrame, bits_pdf: pd.DataFrame):
            empty = pd.DataFrame(
                {"shard": [], "version": [], "bits": [], "hash": []}
            ).astype({"shard": "int32", "version": "int64",
                      "hash": "int64"})
            if not len(cand) and not len(bits_pdf):
                return empty
            if len(bits_pdf):
                bitmap, _ = split(bits_pdf)
            else:
                bitmap = None
            bits = (np.frombuffer(bitmap, dtype=np.uint8).copy()
                    if bitmap is not None
                    else np.zeros(m_bits // 8 + 1, dtype=np.uint8))
            if len(cand):
                pos = _bit_positions(
                    cand["url_hash"].to_numpy(np.int64), m_bits
                ).ravel()
                np.bitwise_or.at(bits, pos // 8,
                                 (1 << (pos % 8)).astype(np.uint8))
            return pd.DataFrame({"shard": [int(key[0])],
                                 "version": [0],
                                 "bits": [bits.tobytes()],
                                 "hash": [0]})

        folded = (
            delta_rows.groupBy("shard")
            .cogroup(bitmap_rows.groupBy("shard"))
            .applyInPandas(_merge, BLOOM_ROW_SCHEMA)
        )
        # The fold's shuffle INPUT (delta rows) is tiny, so AQE would
        # coalesce it to one partition — and one task would then buffer
        # every shard's multi-MB bitmap before parquet's first flush
        # check (which only fires after 100 records).  Keep the shuffle
        # width so each task writes a handful of bitmaps.
        conf = self.spark.conf
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = conf.get(key, "true")
        conf.set(key, "false")
        try:
            self.table.overwrite(folded, metrics={"bitmaps": 1})
        finally:
            conf.set(key, prev)


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "SnapshotBloom | None" = None,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is NOT in ``seen``.

    With a bloom sidecar: definite-new rows bypass the exact join; only
    bloom-maybe rows shuffle against the seen table.  Without: plain
    left_anti (J1 shape, bgg.py:256-261).
    """
    seen_keys = seen.select("url_hash")
    if bloom is None:
        return candidates.join(seen_keys, "url_hash", "left_anti")
    flagged = bloom.prefilter(candidates)
    definite_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen_keys, "url_hash", "left_anti")
    return definite_new.unionByName(confirmed_new)
