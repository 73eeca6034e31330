"""Entity resolution (J5) — the reference's fuzzy dedupe, Spark-first.

Reference: ``cluster.py:187-337`` links game records across sources with
the dedupe/Gazetteer library: blocking predicates, per-field comparators
(Exact on 8 id fields ``fields.yaml:16-33``; name Jaccard + year
abs-diff ``cluster.py:39-43``), logistic scoring with threshold 0.5
(``cluster.py:306``), output canonical_id → linked ids
(``cluster.py:315-321``).  That implementation holds the whole gazetteer
in driver memory — a non-starter at scale.

Spark-first two-stage plan (SURVEY.md §2.5 J5):

1. **Exact-id linking**: equi-joins on any shared id namespace
   (bgg_id, wikidata_id, luding_id, ...).  Each is a plain shuffle join;
   results union into an edge list.
2. **Blocked fuzzy linking**: candidate pairs from a blocking-key
   equi-join (name-token blocks), scored with cheap JVM similarity
   (token Jaccard + year distance), thresholded.
3. **Connected components** over the edge union by one union-find in
   a single pandas call (the reference also clusters in plain Python) →
   canonical_id = min member id per component.

No cross joins anywhere; every candidate set comes from an equi-join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Records carry ``rec_id``, ``name`` and ``year`` columns plus any of the
# id namespaces below.  The link threshold is the reference's
# (cluster.py:306).
THRESHOLD = 0.5

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
    """Edges between records sharing any external id (fields.yaml Exact
    comparators).  One self-equi-join per namespace, unioned."""
    edges = None
    for ns in ID_NAMESPACES:
        if ns not in records.columns:
            continue
        keyed = records.select("rec_id", ns).where(F.col(ns).isNotNull())
        left = keyed.select(F.col("rec_id").alias("a"), F.col(ns).alias("k"))
        right = keyed.select(F.col("rec_id").alias("b"), F.col(ns).alias("k"))
        e = (
            left.join(right, "k")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        edges = e if edges is None else edges.unionByName(e)
    if edges is None:
        raise ValueError("no id namespace columns present")
    return edges.distinct()


def fuzzy_name_edges(records: DataFrame) -> DataFrame:
    """Blocked fuzzy edges: block on each ``name`` token, score candidates.

    Score (mirrors the reference's comparator mix cluster.py:39-43):
      0.7 * token-Jaccard(name) + 0.3 * year-proximity(1/(1+|Δyear|)),
    kept at >= ``THRESHOLD``.  Blocks larger than 200 records are dropped
    (stopword-ish tokens — the reference's dedupe library does the same
    via predicate selection), bounding the join fan-out.
    """
    blocked = records.select(
        "rec_id", _name_tokens(F.col("name")).alias("_toks"), "year",
    ).select("rec_id", "_toks", "year", F.explode("_toks").alias("block"))
    # prune hot blocks
    block_sizes = blocked.groupBy("block").count()
    blocked = blocked.join(
        F.broadcast(block_sizes.where(F.col("count") <= 200)
                    .select("block")),
        "block",
    )
    l = blocked.select(
        F.col("block"),
        F.col("rec_id").alias("a"),
        F.col("_toks").alias("ta"),
        F.col("year").alias("ya"),
    )
    r = blocked.select(
        F.col("block"),
        F.col("rec_id").alias("b"),
        F.col("_toks").alias("tb"),
        F.col("year").alias("yb"),
    )
    cand = (
        l.join(r, "block")
        .where(F.col("a") < F.col("b"))
        .drop("block")
        .distinct()
    )
    jac = F.size(F.array_intersect("ta", "tb")) / F.size(
        F.array_union("ta", "tb")
    )
    year_sim = F.when(
        F.col("ya").isNotNull() & F.col("yb").isNotNull(),
        1.0 / (1.0 + F.abs(F.col("ya") - F.col("yb"))),
    ).otherwise(F.lit(0.5))
    score = 0.7 * jac + 0.3 * year_sim
    return (
        cand.select("a", "b", F.round(score, 4).alias("score"))
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

    Records not linked to anything keep themselves as canonical
    (cluster.py:315-321 emits singleton clusters implicitly).
    """
    edges = exact_id_edges(records).unionByName(
        fuzzy_name_edges(records).select("a", "b")
    ).distinct()
    comps = connected_components(edges)
    return (
        records.select("rec_id")
        .join(comps, records["rec_id"] == comps["node"], "left")
        .select(
            F.col("rec_id"),
            F.coalesce(F.col("comp"), F.col("rec_id")).alias("canonical_id"),
        )
    )
