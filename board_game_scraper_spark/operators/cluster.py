"""Entity resolution (J5) — the reference's fuzzy dedupe, Spark-first.

Reference: ``cluster.py:187-337`` links game records across sources with
the dedupe/Gazetteer library: blocking predicates, per-field comparators
(Exact on 8 id fields ``fields.yaml:16-33``; name Jaccard + year
abs-diff ``cluster.py:39-43``), logistic scoring with threshold 0.5
(``cluster.py:306``), output canonical_id → linked ids
(``cluster.py:315-321``).  That implementation holds the whole gazetteer
in driver memory — a non-starter at scale.

Spark-first plan (SURVEY.md §2.5 J5), every candidate pair from the one
blocking operator ``dedup.bucket_pairs``:

1. **Exact-id linking**: each record's non-null ids become
   ``"<namespace>:<value>"`` keys (bgg_id, wikidata_id, luding_id, ...),
   and records sharing a key are linked — one grouping for every
   namespace.
2. **Blocked fuzzy linking**: name-token blocks, each in-block pair
   scored with cheap JVM similarity (token Jaccard + year distance),
   thresholded.
3. **Connected components** over the edge union, plus one self-edge per
   record, by one union-find in a single pandas call (the reference
   also clusters in plain Python) → canonical_id = min member id per
   component; an unlinked record is its own component.

No join anywhere: candidates are found and scored inside their block.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_pairs, jaccard

# Records carry ``rec_id``, ``name`` and ``year`` columns plus any of the
# id namespaces below.  The link threshold is the reference's
# (cluster.py:306).  Name-token blocks larger than MAX_BLOCK are dropped.
THRESHOLD = 0.5
MAX_BLOCK = 200

ID_NAMESPACES = (
    "bgg_id",
    "wikidata_id",
    "luding_id",
    "spielen_id",
    "dbpedia_id",
    "wikipedia_id",
    "freebase_id",
)


def _name_tokens(col):
    return F.array_distinct(
        F.filter(
            F.split(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", ""), " "),
            lambda t: F.length(t) > 2,
        )
    )


def exact_id_edges(records: DataFrame) -> DataFrame:
    """Edges (a, b) between records sharing any external id (fields.yaml
    Exact comparators): one ``bucket_pairs`` over ``"<namespace>:<value>"``
    keys, so a pair sharing two ids is still one edge."""
    present = [ns for ns in ID_NAMESPACES if ns in records.columns]
    if not present:
        raise ValueError("no id namespace columns present")
    ids = F.array(*[
        F.concat(F.lit(f"{ns}:"), F.col(ns).cast("string"))
        for ns in present
    ])
    keyed = records.select(
        "rec_id", F.explode(F.filter(ids, lambda k: k.isNotNull())).alias("k")
    )
    return bucket_pairs(keyed, "rec_id", "rec_id", lambda a, b: F.lit(1.0),
                        "k").select("a", "b")


def fuzzy_name_edges(records: DataFrame) -> DataFrame:
    """Blocked fuzzy edges: block on each ``name`` token, score each
    in-block pair.

    Score (mirrors the reference's comparator mix cluster.py:39-43):
      0.7 * token-Jaccard(name) + 0.3 * year-proximity(1/(1+|Δyear|)),
    kept at >= ``THRESHOLD``.  Blocks of more than ``MAX_BLOCK`` records
    yield no pairs (stopword-ish tokens — the reference's dedupe library
    does the same via predicate selection), bounding the pair fan-out.
    """
    blocked = records.select(
        "rec_id",
        F.struct(_name_tokens(F.col("name")).alias("toks"),
                 "year").alias("rec"),
    ).select("rec_id", "rec", F.explode("rec.toks").alias("block"))

    def score(ra, rb):
        ya, yb = ra["year"], rb["year"]
        year_sim = F.when(
            ya.isNotNull() & yb.isNotNull(), 1.0 / (1.0 + F.abs(ya - yb))
        ).otherwise(F.lit(0.5))
        return F.round(0.7 * jaccard(ra["toks"], rb["toks"])
                       + 0.3 * year_sim, 4).alias("score")

    return (
        bucket_pairs(blocked, "rec_id", "rec", score, "block",
                     max_size=MAX_BLOCK)
        .where(F.col("score") >= THRESHOLD)
    )


def _union_find(edges: pd.DataFrame) -> pd.DataFrame:
    """(node, comp) for one whole edge list; every root is the smallest
    id of its set, so comp is the component's minimum node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["a"].tolist(), edges["b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    return pd.DataFrame({"node": nodes, "comp": [find(n) for n in nodes]},
                        dtype="int64")


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, comp) with comp = the smallest node id in the node's
    component, by one union-find over the whole edge list in a single
    ``applyInPandas`` call on one constant group.

    Entity-link components are tiny (a handful of sources per game), and
    so is the edge list: 4,500 edges over 4,500 records at sf0.01.  The
    trade-off is that one task holds every edge; in exchange building
    the frame runs no Spark job, running it is one shuffle and one
    Python call, and the labels are exact at any component diameter.
    """
    return (
        edges.select("a", "b")
        # aliased: a bare integer literal is read as a GROUP BY ordinal
        .groupBy(F.lit(0).alias("_group"))
        .applyInPandas(_union_find, "node long, comp long")
    )


def resolve_entities(records: DataFrame) -> DataFrame:
    """Full J5 pipeline → (rec_id, canonical_id).

    One self-edge per record puts every record in the union-find, so a
    record linked to nothing keeps itself as canonical (cluster.py:315-321
    emits singleton clusters implicitly).
    """
    edges = (
        exact_id_edges(records)
        .unionByName(fuzzy_name_edges(records).select("a", "b"))
        .unionByName(records.select(F.col("rec_id").alias("a"),
                                    F.col("rec_id").alias("b")))
    )
    return connected_components(edges).select(
        F.col("node").alias("rec_id"), F.col("comp").alias("canonical_id"))
