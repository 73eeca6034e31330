"""Training-pipeline operators: dedup, similarity, text stats, media."""

import pytest
from pyspark.sql import functions as F

from board_game_scraper_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    near_dup_pairs,
    simhash,
)
from board_game_scraper_spark.operators.similarity import (
    cosine_topk,
    hyperplane_buckets,
    ivf_topk,
    make_centroids,
)
from board_game_scraper_spark.operators.textstats import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3, "quick brown fox jumps over the lazy dog near the river bank today"),
    (4, "der schnelle braune fuchs springt über den faulen hund im wald"),
    (5, "completely different text about spark engines and distributed joins"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "id long, text string").cache()


def test_exact_dedup(docs):
    got = exact_dedup(docs, "id", "text").collect()
    dup_groups = [r for r in got if r["n_dups"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["keep_id"] == 1 and dup_groups[0]["n_dups"] == 2


def test_simhash_near_texts_close(docs):
    got = {r["id"]: r["simhash"] for r in simhash(docs, "id", "text").collect()}
    assert got[1] == got[2]  # identical text → identical hash
    # near-identical (doc 3) differs in few bits from doc 1
    ham_13 = bin(got[1] ^ got[3]).count("1")
    ham_15 = bin(got[1] ^ got[5]).count("1")
    assert ham_13 < ham_15


def test_minhash_near_dup_pairs(spark, docs):
    # doc 6 repeats doc 5, so (5, 6) shares every band
    more = docs.unionByName(
        spark.createDataFrame([(6, DOCS[4][1])], "id long, text string"))
    rows = near_dup_pairs(more, "id", "text", threshold=0.4).collect()
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in rows}
    assert len(pairs) == len(rows)  # each pair once
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert pairs[(5, 6)] == 1.0
    assert all(a < b for a, b in pairs)
    assert (1, 5) not in pairs and (4, 5) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import math
    rows = []
    for i in range(60):
        angle = (i % 12) / 12 * math.pi
        rows.append((i, [math.cos(angle), math.sin(angle),
                         (i % 5) / 10.0, 1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_cosine_topk_exact(spark, vectors):
    import numpy as np

    q = vectors.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    top = cosine_topk(vectors.where("vec_id != 0"), q, k=5).collect()
    assert len(top) == 5
    cos = [r["cosine"] for r in top]
    assert cos == sorted(cos, reverse=True)
    # numpy oracle
    rows = {r["vec_id"]: np.array(r["embedding"])
            for r in vectors.collect()}
    qv = rows[0]
    sims = {
        i: round(float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), 4)
        for i, v in rows.items() if i != 0
    }
    expected = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["vec_id"], r["cosine"]) for r in top] == expected


def test_ivf_topk_superset_of_probe(spark, vectors):
    q = vectors.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    others = vectors.where("vec_id != 0")
    cents = make_centroids(others, nlist=3)
    assert len(cents) == 3
    ann = ivf_topk(others, q, cents, k=5, nprobe=3).collect()
    exact = cosine_topk(others, q, k=5).collect()
    # nprobe == nlist → scans everything → identical to exact
    assert [(r["vec_id"], r["cosine"]) for r in ann] == [
        (r["vec_id"], r["cosine"]) for r in exact]


def test_ivf_persisted_index_matches_inline(spark, vectors, tmp_path):
    """An index built once by ``ivf_build`` and probed by
    ``ivf_topk_indexed`` returns exactly what the ``ivf_topk`` wrapper
    (build + probe in one call) returns, and the probe plan carries a
    static list_id partition filter — no full-corpus re-scan per
    query."""
    from board_game_scraper_spark.operators.similarity import (
        ivf_build, ivf_topk_indexed,
    )

    q = vectors.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    others = vectors.where("vec_id != 0")
    cents = make_centroids(others, nlist=3)
    idx = tmp_path / "ivf"
    ivf_build(others, cents, idx)
    got = ivf_topk_indexed(spark, idx, q, cents, k=5, nprobe=2)
    inline = ivf_topk(others, q, cents, k=5, nprobe=2)
    assert [(r["vec_id"], r["cosine"]) for r in got.collect()] == [
        (r["vec_id"], r["cosine"]) for r in inline.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan


IVF_CLEANUP_SCRIPT = """
import glob, os, sys, tempfile
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from board_game_scraper_spark.operators.similarity import (
    ivf_topk, make_centroids)
from board_game_scraper_spark.session import get_spark

spark = get_spark("ivf-cleanup", master="local[1]", shuffle_partitions=1)
vecs = spark.createDataFrame(
    [(i, [float(i % 4), 1.0, i / 10.0]) for i in range(12)],
    "vec_id long, embedding array<double>")
q = vecs.where("vec_id = 0").select(F.col("embedding").alias("qvec"))
cents = make_centroids(vecs, nlist=2)
for _ in range(2):
    assert len(ivf_topk(vecs, q, cents, k=3, nprobe=1).collect()) == 3
assert glob.glob(os.path.join(tempfile.gettempdir(), "bgs_ivf*"))
spark.stop()
"""


def test_ivf_index_dirs_removed_at_exit(tmp_path):
    """Every ``ivf_topk`` call builds its index in a fresh dir; none of
    them is left under TMPDIR once the process has exited."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp))
    root = str(Path(__file__).resolve().parent.parent)
    done = subprocess.run(
        [sys.executable, "-c", IVF_CLEANUP_SCRIPT, root], env=env,
        capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-2000:]
    assert sorted(p.name for p in tmp.glob("bgs_ivf*")) == []


def test_hyperplane_buckets_deterministic(spark, vectors):
    def buckets(df):
        rows = hyperplane_buckets(df, "vec_id", "embedding", 8, 4,
                                  dim=4).collect()
        got = {(r["vec_id"], r["t"]): r["bucket"] for r in rows}
        assert len(got) == len(rows)  # one row per id per table
        return got

    a = buckets(vectors)
    assert a == buckets(vectors)  # same planes every run (hash-derived)
    assert sorted(a) == [(i, t) for i in range(60) for t in range(4)]
    # equal vectors land in the same bucket
    dup = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 1.0]), (200, [1.0, 0.0, 0.0, 1.0]),
         (300, [-1.0, 0.5, 0.2, -1.0])],
        "vec_id long, embedding array<double>",
    )
    got = buckets(dup)
    for t in range(4):
        assert got[100, t] == got[200, t]
        assert got[100, t] != got[300, t]  # near-opposite vector


def test_language_id(docs):
    got = {r["id"]: r["lang"] for r in
           language_id(docs, "id", "text").collect()}
    assert got[1] == "en" and got[4] == "de"


def test_quality_and_tokens(docs):
    q = {r["id"]: r for r in quality_score(docs, "id", "text").collect()}
    assert 0 < q[1]["quality"] <= 1
    assert q[1]["stopword_ratio"] > q[4]["stopword_ratio"]  # en stopwords
    t = {r["id"]: r for r in token_count(docs, "id", "text").collect()}
    assert t[1]["ws_tokens"] == 13
    assert t[1]["bpe_tokens"] >= t[1]["ws_tokens"]


def test_fingerprint_stability(docs):
    fp = {r["id"]: r["fingerprint"] for r in
          fingerprint(docs, "id", "text").collect()}
    assert fp[1] == fp[2]  # identical docs → identical fingerprint
    assert fp[1] != fp[5]


def test_media_feature_plumbing(spark):
    from board_game_scraper_spark.functions.media import extract_features

    media = spark.createDataFrame(
        [("d1", "img://1", "image", None)],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 1 and feats[0]["media_ref"] == "img://1"
    assert feats[0]["feat_dim"] == 8
    # deterministic fake decoder → stable features
    feats2 = extract_features(media, dim=8).collect()
    assert feats[0]["feature"] == feats2[0]["feature"]


def test_embedding_near_dup_finds_planted_pairs(spark):
    """Multi-table hyperplane LSH + exact verify: planted near-identical
    vectors are found (high recall at 6 tables x 6 planes), dissimilar
    ones are not, and candidates come from grouping by (table, bucket),
    never a cartesian product."""
    import math
    import random

    from board_game_scraper_spark.operators.similarity import (
        embedding_near_dup,
    )

    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(16)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        rows.append((i, v))
        # planted near-dup: tiny deterministic perturbation
        rows.append((i + 1000, [x + 0.01 * ((j % 3) - 1)
                                for j, x in enumerate(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup(df, threshold=0.98, n_planes=6, n_tables=6,
                             dim=16)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, i + 1000) for i in range(40)}
    found = pairs & planted
    # LSH recall < 1 by design, but 6x6 tables on near-identical
    # vectors should recover nearly all planted pairs
    assert len(found) >= 35, f"recall too low: {len(found)}/40"
    # nothing else qualifies at 0.98 among random gaussians
    assert pairs <= planted | {(a, b) for a, b in pairs if a >= 1000}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
