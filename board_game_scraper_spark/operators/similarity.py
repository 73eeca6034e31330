"""Similarity search over embedding columns (training-pipeline additions).

Works on DataFrames with an id column and an array<float|double> vector
column: ``(vec_id, embedding)`` for the top-k paths, caller-named for
the near-dup path:

- ``cosine_topk``         exact brute force — per-row dot products via
                          JVM HOFs (zip_with + aggregate), distributed
                          top-k via orderBy+limit (TakeOrderedAndProject).
                          The correctness baseline.
- ``embedding_near_dup``  near-duplicate pairs by multi-table
                          random-hyperplane LSH (``hyperplane_buckets``)
                          + exact cosine verify inside each bucket
                          (``dedup.bucket_pairs``).  The hyperplane weights
                          derive from md5, like every content hash in
                          ``operators/dedup.py``, so the DuckDB oracle
                          reproduces the buckets bit-exactly.
- ``ivf_topk``            IVF-style scale path: vectors are bucketed by
                          nearest centroid (coarse quantizer); a query
                          only scans its ``nprobe`` closest buckets.  At
                          10^10 vectors the probe is a partition-pruned
                          scan of nprobe/nlist of the data, not 100%.
                          Each index is written to its own dir under one
                          per-process temp root, removed at exit.

The hyperplanes and the centroids are computed once on the driver and
enter the plan as one SQL array literal each (``_matrix``), so a row's
work is one ``transform`` over it, with no join and no union.
Centroids come from a deterministic sample + one Lloyd iteration; on a
real corpus you'd feed trained centroids.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_pairs


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def _matrix(rows, elem: str):
    """The vectors ``rows`` as one ``array<array<elem>>`` literal: ``repr``
    round-trips a double exactly, and the ``D`` suffix keeps Spark from
    reading ``0.123`` as a DECIMAL; narrowing to ``float`` is exact for
    values collected from a float column."""
    return F.expr(
        "CAST(array(" + ", ".join(
            "array(" + ", ".join(f"{v!r}D" for v in row) + ")"
            for row in rows) + f") AS array<array<{elem}>>)")


def cosine_topk(vectors: DataFrame, query: DataFrame,
                k: int = 10) -> DataFrame:
    """Exact top-k by cosine (rounded to 4 decimals) against a single
    query vector.

    ``query``: one-row DataFrame with column ``qvec``.  Broadcast — the
    scan side never shuffles; orderBy+limit compiles to per-partition
    heaps + driver merge.
    """
    scored = vectors.crossJoin(F.broadcast(query))
    cos = F.round(cosine(F.col("embedding"), F.col("qvec")), 4)
    return (
        scored.select(F.col("vec_id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _hyperplane_weights(t: int, p: int, dim: int) -> list[float]:
    """Plane ``p`` of table ``t``: weight d is the low 60 bits of
    md5("t:p:d") mapped to [-1, 1] in steps of 0.001 — the same bytes
    and arithmetic the DuckDB oracle evaluates, so both engines get
    identical doubles.  Folded here in Python: the weights are
    constants, and Catalyst does not constant-fold through HOF lambdas
    (an inline formulation re-hashed n_planes*dim md5s per row)."""
    return [
        (int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:15], 16)
         % 2001 - 1000) / 1000.0
        for d in range(dim)
    ]


def hyperplane_buckets(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    *,
    dim: int,
) -> DataFrame:
    """LSH bucketing by random-hyperplane signs: one ``(id, vec, t,
    bucket)`` row per vector and table ``t``; the vector is the payload
    ``embedding_near_dup`` scores pairs from.  All planes
    (``_hyperplane_weights``) form one ``tables × planes × dim``
    literal, and every table's bucket comes from one ``transform``.
    Bit p is set iff the plane dot, rounded to 6 decimals, is >= 0 — the
    rounding keeps float noise from flipping a bit in one engine only.
    ``dim``: every vector's width.
    """
    planes = F.array(*[
        _matrix([_hyperplane_weights(t, p, dim) for p in range(n_planes)],
                "double")
        for t in range(n_tables)
    ])
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")

    def bucket(table):
        bits = F.transform(table, lambda w, p: F.when(
            F.round(dot(F.col(vec_col), w), 6) >= 0,
            F.call_function("shiftleft", one, p)).otherwise(zero))
        return F.aggregate(bits, zero, lambda acc, b: acc + b)

    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(F.transform(planes, bucket)).alias("t", "bucket"),
    )


def embedding_near_dup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    *,
    dim: int,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a, id_b, cosine rounded
    to 4 decimals) via multi-table hyperplane LSH (training-pipeline
    dedup op).

    The only all-pairs-free shape that survives 10^10 vectors:

    1. each of ``n_tables`` independent hyperplane tables t assigns
       every vector an ``n_planes``-bit sign bucket
       (``hyperplane_buckets``, all tables in one pass);
    2. ``dedup.bucket_pairs`` groups on (table, bucket), the same
       operator as MinHash-LSH (never a cartesian), and scores each
       in-bucket pair by exact cosine from the vectors the buckets
       carry; keep ``>= threshold``.

    Recall is the standard LSH union over tables (1-(1-p^planes)^tables
    for per-plane agreement p = 1 - angle/pi); misses are possible by
    design — raise ``n_tables`` / lower ``n_planes`` for higher recall.
    False positives never survive step 2.  ``dim`` as in
    ``hyperplane_buckets``.
    """
    sigs = hyperplane_buckets(vectors, id_col, vec_col, n_planes,
                              n_tables, dim=dim)
    return (
        bucket_pairs(sigs, id_col, vec_col,
                     lambda va, vb: F.round(cosine(va, vb), 4).alias("cosine"),
                     "t", "bucket")
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"),
                "cosine")
        .where(F.col("cosine") >= threshold)
    )


def ivf_assign(vec, centroids, elem: str):
    """The ``list_id`` of the centroid nearest vector column ``vec`` by
    cosine rounded to 9 decimals, one column over the driver-held
    ``centroids`` ``[(list_id, vector), …]`` (a ``_matrix`` of ``elem``):
    no join, no groupBy.  Ties go to the larger list_id (``array_max``
    over ``(sim, list_id)``), so assignment is total-ordered, as the
    cross-engine oracle (``list_id DESC``) and re-assignment need."""
    sims = F.zip_with(
        _matrix([c for _, c in centroids], elem),
        F.array(*[F.lit(i).cast("long") for i, _ in centroids]),
        lambda c, i: F.named_struct(
            F.lit("sim"), F.round(cosine(vec, c), 9), F.lit("list_id"), i))
    return F.array_max(sims)["list_id"]


def make_centroids(vectors: DataFrame, nlist: int = 8) -> list:
    """Deterministic coarse centroids ``[(list_id, vector), …]``, held on
    the driver: nlist seed vectors, the smallest ``vec_id`` of each
    stratum ``pmod(vec_id, nlist)`` (SQL-expressible, so the DuckDB
    oracle rebuilds the same seeds), refined with one Lloyd mean step.
    Seeds keep the embeddings' element type, so the seed assignment
    multiplies in the oracle's precision.  The mean is computed over
    1e-6-quantized components (integer sums): float summation order
    differs between engines/partitionings, so an exact integer sum is
    the only way the centroid — and therefore the bucket assignment — is
    bit-reproducible.  Quantization error 1e-6 is noise for a coarse
    quantizer."""
    elem = vectors.schema["embedding"].dataType.elementType.simpleString()
    seeds = sorted(map(tuple, vectors.groupBy(
        F.pmod(F.col("vec_id"), F.lit(nlist)).cast("long")
    ).agg(F.min_by(F.col("embedding"), F.col("vec_id"))).collect()))
    # one Lloyd step: element-wise quantized mean per list.  Assign
    # before the explode: a column selected beside posexplode is
    # evaluated once per generated row, not once per vector.
    cells = (
        vectors.select(
            ivf_assign(F.col("embedding"), seeds, elem).alias("list_id"),
            "embedding",
        )
        .select("list_id", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("list_id", "pos")
        .agg(
            F.sum(F.floor(F.col("v").cast("double") * 1e6).cast("long"))
            / F.count(F.lit(1)) / F.lit(1e6)
        )
        .collect()
    )
    means: dict[int, list[float]] = {}
    for list_id, _, m in sorted(cells):
        means.setdefault(list_id, []).append(m)
    return list(means.items())


def ivf_build(vectors: DataFrame, centroids: list, path) -> str:
    """Build + PERSIST the IVF index: one shuffle-free assignment pass
    over the corpus, written ``partitionBy(list_id)``; queries
    (``ivf_topk_indexed``) read only the probed partitions."""
    (
        vectors.select(
            "vec_id", "embedding",
            ivf_assign(F.col("embedding"), centroids, "double")
            .alias("list_id"),
        )
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(str(path))
    )
    return str(path)


def probe_lists(query: DataFrame, centroids: list,
                nprobe: int = 2) -> list[int]:
    """The nprobe list ids nearest the query — resolved driver-side, like
    FAISS's coarse quantizer probe: one collect of the query's nlist
    similarities, ranked by (similarity desc, list_id asc)."""
    sims = query.select(F.transform(
        _matrix([c for _, c in centroids], "double"),
        lambda c: F.round(cosine(c, F.col("qvec")), 9),
    )).first()[0]
    ranked = sorted(zip(sims, (i for i, _ in centroids)),
                    key=lambda s: (-s[0], s[1]))
    return [i for _, i in ranked[:nprobe]]


def ivf_topk_indexed(
    spark,
    index_path,
    query: DataFrame,
    centroids: list,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k over a persisted IVF index: the nprobe list ids become
    a STATIC partition filter, so the parquet scan reads nprobe/nlist of
    the data (``PartitionFilters`` in the physical plan — asserted by
    tools/check_plans.py), then an exact top-k rerank over the probed
    rows only."""
    lists = probe_lists(query, centroids, nprobe)
    index = spark.read.parquet(str(index_path)).where(
        F.col("list_id").isin(lists)
    )
    return cosine_topk(index, query, k)


@functools.cache
def _index_root() -> str:
    """One temp root per process for ``ivf_topk``'s index dirs, created on
    first use and removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix="bgs_ivf_")
    atexit.register(shutil.rmtree, root, True)
    return root


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    centroids: list,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k convenience wrapper: builds the persisted IVF index in
    a fresh dir under ``_index_root()`` and probes it via
    ``ivf_topk_indexed``.  Fresh per call: a fixed shared path raced when
    two processes ran the ANN query concurrently on same-named datasets
    (one overwrites while the other's lazy scan reads).  Callers issuing
    more than one query should ``ivf_build`` once themselves and probe
    the index per query, rather than re-assign the corpus each time."""
    path = tempfile.mkdtemp(prefix="index_", dir=_index_root())
    ivf_build(vectors, centroids, path)
    return ivf_topk_indexed(
        vectors.sparkSession, path, query, centroids, k=k, nprobe=nprobe)
