"""Document deduplication operators (training-pipeline additions).

Beyond the reference's key-based dedup (A1 merge.py:202-208 / F6 URL
dedup), a 100 TB corpus pipeline needs *content* dedup.  All operators
work on a DataFrame with (id_col, text_col) and stay JVM-side (built-in
functions, no UDF); the LSH path is the scale path — candidate pairs
come from grouping on band keys, never an O(n²) cross join.  These are
the only implementations: the oracle-checked queries in ``queries.py``
call them with the oracle's sizes.

One portable hash: every content hash is ``h60``, the low 60 bits of
md5, and band keys are md5 hex strings.  DuckDB computes both
bit-exactly (``('0x' || substr(md5(x), 1, 15))::BIGINT`` and ``md5``),
so the oracle SQL reproduces every fingerprint, signature and bucket.

Evaluation-count discipline (guide §1.2 "per-task work", round 7): the
tokenizer split() and the shingle array are materialized as real
columns before any higher-order function consumes them.  Interpreted
HOF lambdas re-evaluate their body per element and CollapseProject
inlines a non-cheap expression referenced once syntactically into the
lambda — the old inline formulation re-ran the regex split 3x per
shingle and the whole shingle build once per MinHash permutation
(measured 24x on minhash_band).  Signatures are likewise computed in
ONE pass over the shingles (per shingle all salted hashes at once,
folded with an elementwise running min — min commutes with the fold,
so the result equals the per-perm array_min exactly).

Operators:
- exact_dedup            md5 hash groupBy (exact duplicates)
- shingles               3-word shingles over materialized tokens
- simhash                ``bits``-bit SimHash from token hashes (Charikar)
- minhash_signatures     ``num_perm`` salted-h60 MinHash signature
- lsh_bands              banding of the signature into band keys
- bucket_pairs           pairs sharing a bucket, scored inside it from
                         each member's payload (every pair operator's
                         candidates, here and in similarity/cluster)
- near_dup_pairs         ``bucket_pairs`` over band keys, scored by
                         exact shingle Jaccard
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MAX_LONG = (1 << 63) - 1


def h60(col):
    """Low-60-bit md5 hash as a long, reproducible in DuckDB via
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens_col(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def shingles_from_toks():
    """3-word shingles from a MATERIALIZED ``toks`` array column.

    The tokenizer split() must be a real column, not an inline
    expression: interpreted HOF lambdas re-evaluate their body per
    element, and CollapseProject inlines a non-cheap expression into a
    lambda when it is referenced once syntactically — so an inline
    split() runs 3x per shingle (measured 24x slowdown of minhash_band
    at sf0.1: 7.2s vs 0.30s).  The 4 syntactic references to ``toks``
    here (size + 3 element_at) keep CollapseProject from substituting
    the split back in (it refuses to duplicate non-cheap expressions,
    SPARK-36718)."""
    tk = F.col("toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - 2, F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tk, i + j) for j in range(3)]
        ),
    )


def shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh): 3-word shingles per doc, tokens materialized first.
    Never empty: split('') yields [''], and element_at past the end is
    NULL, which concat_ws skips."""
    tdf = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("toks"))
    return tdf.select(F.col(id_col), shingles_from_toks().alias("sh"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: keep min(id) per content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 64) -> DataFrame:
    """SimHash: sign-aggregate of per-token hash bits.

    Pure built-ins: per distinct token t, h60(t) contributes +1/-1 per
    bit; the fingerprint bit b is 1 iff the sum over tokens is >= 0.
    One md5 per distinct token (bound once via a 1-element transform
    input — HOF inputs are evaluated once, lambda bodies per element),
    its ``bits`` ±1 contributions unrolled into an array, and a single
    aggregate() keeps the running sums elementwise — same sums in the
    same order as the per-bit formulation, so identical fingerprints.
    Bits 60 and up of h60 are always 0, so those fingerprint bits are 0.
    """
    tdf = df.select(
        F.col(id_col),
        F.array_distinct(tokens_col(F.col(text_col))).alias("toks"),
    )

    def contrib(t):
        return F.element_at(
            F.transform(
                F.array(h60(t)),
                lambda h: F.array(
                    *[
                        F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int")
                        * 2
                        - 1
                        for b in range(bits)
                    ]
                ),
            ),
            1,
        )

    sums = F.aggregate(
        F.col("toks"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, contrib(t), lambda a, b: a + b),
    )
    sdf = tdf.select(F.col(id_col), sums.alias("sums"))
    fingerprint = None
    for b in range(bits):
        # bit 63 is the sign bit of int64: its contribution is -2^63
        term = F.when(
            F.element_at(F.col("sums"), b + 1) >= 0,
            F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sdf.select(F.col(id_col), fingerprint.alias("simhash"))


def _minhash_fold(num_perm: int):
    """MinHash signature from a materialized ``sh`` shingle column in
    one pass: per shingle all num_perm salted hashes
    h60("<p>:<shingle>"), elementwise running min (shingle arrays are
    never empty, so the max-long seed never survives)."""
    return F.aggregate(
        F.col("sh"),
        F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_perm),
        lambda acc, s: F.zip_with(
            acc,
            # unrolled literal salts: concat("p:", s) builds the same md5
            # input bytes as concat(cast(p), ":", s)
            F.array(*[h60(F.concat(F.lit(f"{p}:"), s))
                      for p in range(num_perm)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 16) -> DataFrame:
    """(id, signature): min over shingles of h60(perm_salt, shingle)
    for each of num_perm salted hash functions — all JVM-side."""
    return shingles(df, id_col, text_col).select(
        F.col(id_col), _minhash_fold(num_perm).alias("signature")
    )


def _band_keys(sig, bands: int, rows_per_band: int):
    """Array of ``bands`` band keys: md5 of the band's signature values
    joined with ':'."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                ":",
                F.slice(sig, b * rows_per_band + 1, rows_per_band)
                .cast("array<string>"),
            )
        ),
    )


def lsh_bands(signatures: DataFrame, id_col: str,
              bands: int = 4, rows_per_band: int = 4) -> DataFrame:
    """Band the signature: (id, band, band_key).  Docs sharing a
    band_key are near-dup candidates — found by grouping, the only
    approach that survives 10^10 docs."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            _band_keys(F.col("signature"), bands, rows_per_band)
        ).alias("band", "band_key"),
    )


def jaccard(a, b):
    """Jaccard similarity of two array columns, as sets."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def bucket_pairs(keyed: DataFrame, id_col: str, val_col: str, sim,
                 *keys: str, max_size: int | None = None) -> DataFrame:
    """Distinct ``(a, b, sim(val_a, val_b))`` for id pairs a < b that
    share at least one bucket ``keys``; ``sim`` builds a Column from the
    two payload Columns, and its alias names the score column.

    Block, then verify inside the block: one shuffle collects each
    bucket's ``struct(id, val)`` members sorted by id, and posexplode
    emits the ordered in-bucket pairs (per-row memory stays
    O(bucket)), so no payload is joined back by id.  ``sim`` must be
    deterministic: a pair sharing k buckets is scored k times, and
    ``distinct`` over the score keeps it once.  Buckets of more than
    ``max_size`` members yield no pairs: a ``count(*)`` window over the
    bucket keys (the same hash exchange as the ``groupBy``) drops their
    rows before any bucket is collected."""
    members = F.collect_list(F.struct(F.col(id_col).alias("id"),
                                      F.col(val_col).alias("val")))
    m = F.col("m")
    if max_size is not None:
        n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        keyed = (keyed.withColumn("_n", n)
                 .where(F.col("_n").between(2, max_size)).drop("_n"))
    x, y = F.col("x"), F.col("y")
    return (
        keyed.groupBy(*keys).agg(F.array_sort(members).alias("m"))
        .where(F.size(m) >= 2)
        .select("m", F.posexplode("m").alias("i", "x"))
        .select("x", F.explode(F.slice(m, F.col("i") + 2, F.size(m)))
                .alias("y"))
        .where(x["id"] < y["id"])
        .select(x["id"].alias("a"), y["id"].alias("b"),
                sim(x["val"], y["val"]))
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard): LSH candidates + exact
    verify.

    1. shingles → signatures → band keys, each doc's shingles carried
       along as its payload;
    2. ``bucket_pairs`` over the band keys scores every in-bucket pair
       with the exact shingle Jaccard (rounded to 4 places); keep
       >= threshold.  No cross product and no join anywhere.
    """
    sh = shingles(df, id_col, text_col)
    sig = sh.select(F.col(id_col), "sh",
                    _minhash_fold(num_perm).alias("sig"))
    banded = sig.select(
        F.col(id_col),
        "sh",
        F.explode(
            _band_keys(F.col("sig"), bands, num_perm // bands)
        ).alias("band_key"),
    )
    return (
        bucket_pairs(
            banded, id_col, "sh",
            lambda sa, sb: F.round(jaccard(sa, sb), 4).alias("jaccard"),
            "band_key")
        .where(F.col("jaccard") >= threshold)
    )
