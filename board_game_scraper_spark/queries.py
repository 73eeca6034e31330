"""Oracle-checked query surface (driver contract in __spark_entry__.py).

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame; the
matching entry in ``ORACLES`` is ANSI SQL DuckDB runs over the same
parquet tables.  Every query exercises one operator family from
SURVEY.md §2 (reference file:line in each docstring); together they are
the engine's regression surface.

Inputs: every table read goes through ``_t``, which pins the schema
from the parquet footer (so building a plan runs no Spark job) and, given
spread keys, hash-spreads the one-row-group scan to the session's
parallelism.  The four parser-backed extractions build one page per
source row and parse it with the crawl's page kernel (``_parse_pages``).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the SQL oracle (driver hashes values under sorted
column names).

Float discipline: any aggregate over doubles is either cast to DECIMAL
before summing (exact in both engines) or rounded to a tolerance-safe
number of decimals, so cross-engine partial-sum ordering can't flip the
hash.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .operators.dedup import (
    exact_dedup, lsh_bands, minhash_signatures, near_dup_pairs, shingles,
    simhash, tokens_col,
)
from .operators.merge import merge_latest_wins
from .operators.similarity import cosine_topk, embedding_near_dup, ivf_topk
from .operators.textstats import (
    LANG_PROFILES, fingerprint, language_id, quality_score, token_count,
)
from .plans.frontier import batch_api_ids
from .plans.parse import run_parse_flat

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _t(spark: SparkSession, sf_dir: str, name: str, *spread: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` as a query input.

    The schema comes from the parquet footer, read on the driver, so
    building a plan runs no Spark job (``prefer_timestamp_ntz`` matches
    Spark's own inference: ``events.ts`` is ``timestamp_ntz``).

    ``spread`` keys hash-repartition the scan to the session's
    parallelism.  Every supported table is one file with one row group,
    which Spark scans as one task; queries with per-row compute (hashing,
    shingles, Python kernels) spread it so that work is not serial.  The
    repartition is unconditional: a row-group-count test would only cover
    multi-row-group inputs, which no supported dataset has.  The explicit
    count keeps AQE from coalescing the exchange back to one partition;
    row order changes, results do not."""
    path = f"{sf_dir}/{name}.parquet"
    schema = from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)
    df = spark.read.schema(schema).parquet(path)
    if not spread:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism, *spread)


def _parse_pages(src: DataFrame, key: str, kind: str, body) -> DataFrame:
    """One 200-status ``kind`` page per row of ``src``, holding ``body``,
    through the crawl's page kernel (``plans.parse.run_parse_flat``):
    its ``page`` and ``game`` rows, with the long ``key`` column carried
    in ``url_canon`` and given back under its own name."""
    pages = src.select(
        F.col(key).cast("string").alias("url_canon"),
        F.lit(kind).alias("callback_kind"), body.alias("body"),
        F.col(key).alias("url_hash"),
    ).selectExpr("*", "STRING(NULL) AS host", "0 AS priority", "0 AS attempt",
                 "200 AS status", "INT(NULL) AS latency_ms")
    rows = run_parse_flat(pages).where(F.col("item_kind") != "fetch")
    return rows.select(F.col("url_canon").cast("long").alias(key),
                       "item_kind", "spans", "game")


# ---------------------------------------------------------------------------
# Merge / dedup family (A1, merge.py:62-67,202-208)
# ---------------------------------------------------------------------------

def q_merge_latest_wins(spark, sf_dir):
    """Latest-wins dedup per user: the reference's core merge operator
    (merge.py:202-208 reduceByKey argmax; ties → larger event_id, mirroring
    the later-file-wins tie-break merge.py:62-67)."""
    ev = _t(spark, sf_dir, "events")
    return merge_latest_wins(
        ev, ["user_id"], ["ts"], file_seq_col="event_id",
        fieldnames=["user_id", "event_id", "ts", "event_type", "value"],
    )


def q_dedup_exact(spark, sf_dir):
    """Exact content dedup by hash (training-pipeline op; groupBy md5)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select(
        F.col("content_hash").alias("text_hash"),
        F.col("keep_id").alias("keep_doc_id"),
        "n_dups",
    )


# ---------------------------------------------------------------------------
# Frontier scheduling family (F1-F3, F8, F9, F11)
# ---------------------------------------------------------------------------

def q_topk_per_host(spark, sf_dir):
    """Per-host politeness top-K (F1/F2: spiders/bgg.py:284-291 priorities +
    settings.py:153-155 budgets), modeled as top-3 events per event_type by
    (value desc, event_id asc)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("event_type", "event_id", "value", "rk")
    )


def q_batchify(spark, sf_dir):
    """Request batching (F8, bgg.py:251-294: ≤10 ids per API URL,
    comma-joined): bucket ordered ids per group into batches of 10."""
    ev = _t(spark, sf_dir, "events")
    return batch_api_ids(ev, "event_id", "event_type").select(
        "event_type", "batch", "n", "ids_csv"
    )


def q_retry_backoff(spark, sf_dir):
    """Retry with exponential backoff (F9, settings.py:247-253: delayed
    retry, backoff capped): failed fetches get not_before = ts + delay*2^attempt."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "error")
    attempt = F.pmod(F.col("event_id"), F.lit(5)).cast("int")
    backoff = F.least(
        F.pow(F.lit(2.0), attempt) * 5, F.lit(100.0)
    ).cast("long")
    return ev.select(
        "event_id",
        attempt.alias("attempt"),
        backoff.alias("backoff_sec"),
        (F.unix_timestamp("ts") + backoff).alias("not_before_epoch"),
    )


def q_rescrape_window(spark, sf_dir):
    """Rescrape suppression (F11, extensions.py:137-145: drop re-crawl
    within window): keep an event only if >= 600s after the user's
    previous event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.withColumn("prev_ts", prev)
        .where(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") >= 600)
        )
        .select("event_id", "user_id", "ts")
    )


def q_anti_join_seen(spark, sf_dir):
    """Seen-set anti-join (J1/F7, bgg.py:256-261 _ids_seen filter): orders
    whose customer is NOT in the 'seen' set (negative balance)."""
    orders = _t(spark, sf_dir, "orders")
    seen = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") < 0)
    return orders.join(
        F.broadcast(seen.select(F.col("c_custkey").alias("o_custkey"))),
        on="o_custkey",
        how="left_anti",
    ).select("o_orderkey", "o_custkey")


# ---------------------------------------------------------------------------
# Canonicalization / extraction family (C5, C8, E8, E12, E13, E14)
# ---------------------------------------------------------------------------

def q_extract_bgg_id(spark, sf_dir):
    """BGG id normalization (C5, utils.py:280-288 regex ^/(board)?game/(\\d+))
    over paths built from ``orders``."""
    orders = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("/boardgame/"), F.col("o_orderkey").cast("string"), F.lit("/name")
    )
    return orders.select(
        "o_orderkey",
        url.alias("path"),
        F.regexp_extract(url, r"^/(board)?game/(\d+)", 2).cast("long").alias("bgg_id"),
    )


def q_range_validate(spark, sf_dir):
    """Range validation (C8, utils.py:190-197): value in [lo,hi] else NULL."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 45),
            F.col("l_quantity"),
        ).alias("qty_valid"),
    )


def q_value_id_encode(spark, sf_dir):
    """value:id encoding (E8, bgg.py:85-105): 'Name:123' strings + trailing
    ' Rank' strip."""
    nation = _t(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.concat_ws(
            ":", F.col("n_name"), F.col("n_nationkey").cast("string")
        ).alias("value_id"),
        F.regexp_replace(
            F.concat(F.col("n_name"), F.lit(" Rank")), " [Rr]ank$", ""
        ).alias("rank_stripped"),
    )


def q_interval_parse(spark, sf_dir):
    """Interval parse (E12, spielen.py:16-27: '2 - 4 Spieler' → min,max)."""
    part = _t(spark, sf_dir, "part")
    text = F.concat(
        F.col("p_size").cast("string"),
        F.lit(" - "),
        (F.col("p_size") + 2).cast("string"),
        F.lit(" Spieler"),
    )
    return part.select(
        "p_partkey",
        text.alias("raw"),
        F.regexp_extract(text, r"(\d+)(\s*-\s*(\d+))?", 1).cast("int").alias("lo"),
        F.regexp_extract(text, r"(\d+)(\s*-\s*(\d+))?", 3).cast("int").alias("hi"),
    )


def q_lenient_int(spark, sf_dir):
    """Lenient int parse (E13, bgg.py:31-49: '~1,234 votes' → 1234)."""
    cust = _t(spark, sf_dir, "customer")
    raw = F.concat(
        F.lit("~"),
        F.format_number(F.col("c_custkey").cast("long") * 1000, 0),
        F.lit(" votes"),
    )
    digits = F.regexp_replace(raw, "[^0-9]", "")
    return cust.select(
        "c_custkey",
        raw.alias("raw"),
        digits.cast("long").alias("votes"),
    )


def q_archive_date(spark, sf_dir):
    """Timestamp from archive URL (E14, bgg_rankings.py:23-24:
    web.archive.org/web/YYYYMMDDHHMMSS/)."""
    ev = _t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("http://web.archive.org/web/"),
        F.date_format("ts", "yyyyMMddHHmmss"),
        F.lit("/https://boardgamegeek.com/browse/boardgame"),
    )
    return ev.select(
        "event_id",
        url.alias("url"),
        F.to_timestamp(
            F.regexp_extract(url, r"/web/(\d{14})", 1), "yyyyMMddHHmmss"
        ).alias("archived_at"),
    )


def q_clean_text(spark, sf_dir):
    """normalize-space cleanup (C7 JVM-side tail + C10 _remove_empty,
    merge.py:81-93): collapse whitespace, NULL when empty."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    cleaned = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.when(F.length(cleaned) > 0, cleaned).alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# Pagination / partitioning family (S11, A2)
# ---------------------------------------------------------------------------

def q_pagination(spark, sf_dir):
    """Paginated split (S11, split.py:113-117: count/previous/next/page):
    25-row pages by ``row_number()`` over doc_id and ``count(*)`` over
    the whole table, the oracle's two global windows
    (operators/split.py)."""
    from .operators.split import page_rows

    docs = _t(spark, sf_dir, "documents")
    return page_rows(docs, size=25, order_keys=["doc_id"]).select(
        "doc_id", "page", "count", "previous", "next"
    )


def q_prefix_count(spark, sf_dir):
    """Adaptive prefix counting (A2, prefixes.py:53-68): counts per
    sanitized 2-char key prefix ([^a-z] → '_', prefixes.py:27-30)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    key = F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "_")
    return docs.groupBy(F.substring(key, 1, 2).alias("prefix")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Text-analysis family (training-pipeline ops)
# ---------------------------------------------------------------------------

def q_token_count(spark, sf_dir):
    """Token counting over documents (whitespace tokenizer)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


def q_quality_score(spark, sf_dir):
    """Document quality scoring: stopword ratio + mean token length."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    # materialize the split once — inline, each of the 5 references below
    # would re-run the regex split per row (guide §1.2: per-task work)
    tdf = docs.select(
        "doc_id", "text", tokens_col(F.col("text")).alias("toks")
    )
    tk = F.col("toks")
    stop = F.filter(tk, lambda x: x.isin(*STOPWORDS))
    return tdf.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.size(stop).alias("n_stopwords"),
        F.round(F.size(stop) / F.size(tk), 4).alias("stopword_ratio"),
        F.round(
            (F.length(F.trim(F.col("text"))) - F.size(tk) + 1)
            / F.size(tk),
            4,
        ).alias("mean_token_len"),
    )


def q_minhash_band(spark, sf_dir):
    """MinHash near-dup bucketing: 3-word shingles → md5 → min per doc;
    docs sharing a band value are near-dup candidates."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    return shingles(docs, "doc_id", "text").select(
        "doc_id", F.array_min(F.transform("sh", F.md5)).alias("minhash")
    )


# ---------------------------------------------------------------------------
# Similarity-search family (embeddings)
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 query vector
    (training-pipeline ANN baseline; exact, rounded for cross-engine
    float stability), ranked 1..10 by ``row_number()`` over
    (cosine desc, vec_id asc) on the 10 rows ``cosine_topk`` keeps."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    top = cosine_topk(emb.where(F.col("vec_id") != 0), q, k=10)
    rank = Window.orderBy(F.col("cosine").desc(), "vec_id")
    return top.select("vec_id", "cosine",
                      F.row_number().over(rank).alias("rk"))


# ---------------------------------------------------------------------------
# Relational / analytics family (flagship aggregation + join)
# ---------------------------------------------------------------------------

def q_lineitem_agg(spark, sf_dir):
    """TPC-H Q1-style aggregation (flagship scan+agg; DECIMAL casts keep
    sums bit-equal across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_agg(spark, sf_dir):
    """Broadcast-dim join + agg (J4 label-resolution shape,
    pipelines.py:87-130: explode → broadcast join small dim → re-agg):
    revenue per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Content-dedup family v2 (SimHash / MinHash-LSH / near-dup verify):
# thin calls into operators/dedup.py, operators/similarity.py and
# operators/textstats.py at the oracle's sizes.  Their one hash is the
# low 60 bits of md5, which DuckDB reproduces exactly.
# ---------------------------------------------------------------------------

def q_simhash(spark, sf_dir):
    """16-bit SimHash fingerprint (training-pipeline near-dup op)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    return simhash(docs, "doc_id", "text", bits=16)


def q_minhash_lsh_bands(spark, sf_dir):
    """MinHash-LSH banding: 8-perm signature → 2 bands of 4 → band key.
    Docs sharing a band_key are near-dup candidates, found by grouping
    (the only shape that survives 10^10 docs)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=8)
    return lsh_bands(sigs, "doc_id", bands=2, rows_per_band=4)


def _docs_with_near_dups(spark, sf_dir):
    """documents ∪ mutated copies (first token dropped, doc_id+100000) —
    deterministic near-duplicates for pair detection."""
    docs = _t(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.trim(F.col("text")), r"^\S+\s+", "").alias("text"),
    )
    return docs.unionByName(mutated)


def q_near_dup_pairs(spark, sf_dir):
    """LSH candidate pairs + exact shingle-Jaccard verify >= 0.5 over a
    corpus with planted near-duplicates."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return near_dup_pairs(docs, "doc_id", "text", threshold=0.5,
                          num_perm=8, bands=2)


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (training-pipeline dedup op):
    embeddings ∪ deterministic perturbed copies (vec_id+100000, first
    component +0.25) → 4-table × 8-plane hyperplane-LSH bucketing →
    candidate pairs by (table, bucket) → exact cosine verify >= 0.9.
    LSH recall < 1 by design: BOTH engines drop the same pairs, so the
    comparison stays exact while the plan stays all-pairs-free."""
    emb = _t(spark, sf_dir, "embeddings")
    e64 = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", e64.alias("emb")).unionByName(
        emb.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.concat(
                F.array(F.element_at(e64, 1) + F.lit(0.25)),
                F.slice(e64, 2, 63),
            ).alias("emb"),
        )
    )
    return embedding_near_dup(base, "vec_id", "emb", dim=64)


def q_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprint: 4 smallest shingle hashes
    combined into one md5 (rolling-hash min-sketch)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    return fingerprint(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Text-analysis family v2
# ---------------------------------------------------------------------------

def q_language_id(spark, sf_dir):
    """Language ID by stopword-profile hits; deterministic tie-break by
    profile order en > de > fr > es."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    return language_id(docs, "doc_id", "text").select(
        "doc_id", F.col("lang").alias("lang_pred"), "lang_score"
    )


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish regex token count (letters / digits / punct runs)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    return token_count(docs, "doc_id", "text")


def q_quality_full(spark, sf_dir):
    """Composite quality score: length / stopword / distinct /
    punctuation components (pre-training quality gate)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    return quality_score(docs, "doc_id", "text").select(
        "doc_id", "n_tokens", F.col("stopword_ratio").alias("stop_ratio"),
        "distinct_ratio", "quality",
    )


def q_array_except_stopwords(spark, sf_dir):
    """Per-row set difference (U3, luding.py:91 link-except shape):
    first 5 sorted distinct non-stopword tokens."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    toks = tokens_col(F.col("text"))
    stops = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    kept = F.slice(F.array_sort(F.array_except(toks, stops)), 1, 5)
    return docs.select(
        "doc_id", F.concat_ws(",", kept).alias("top_tokens")
    )


def q_commons_rewrite(spark, sf_dir):
    """Commons image-URL rewrite (C12, pipelines.py:146-184): dbpedia
    file pages → Special:Redirect; other URLs untouched."""
    from .functions.text import commons_image_url_col

    part = _t(spark, sf_dir, "part")
    url = F.when(
        F.col("p_partkey") % 2 == 0,
        F.concat(F.lit("http://dbpedia.org/resource/File:Img_"),
                 F.col("p_partkey").cast("string"), F.lit(".jpg")),
    ).otherwise(
        F.concat(F.lit("https://example.com/img/"),
                 F.col("p_partkey").cast("string"), F.lit(".png"))
    )
    return part.select(
        "p_partkey",
        url.alias("url"),
        commons_image_url_col(url).alias("resolved"),
    )


def q_explode_collect(spark, sf_dir):
    """Label-resolution join shape (J4, pipelines.py:87-130): broadcast
    dim join then ordered collect_list back per group."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.concat_ws(
                ",",
                F.slice(F.array_sort(F.collect_list("c_custkey")), 1, 10)
                .cast("array<string>"),
            ).alias("first_custkeys"),
        )
    )


def q_union_distinct(spark, sf_dir):
    """Set union (U2, extensions.py:166-174 premium-user union)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    return a.union(b).distinct()


def q_rankings_extract(spark, sf_dir):
    """bgg_rankings historical-layout extraction (E2,
    bgg_rankings.py:247-277): era-B HTML generated deterministically from
    ``part``, parsed by the crawl's page kernel (``_parse_pages``); the
    oracle recomputes the planted ground truth directly."""
    part = _t(spark, sf_dir, "part", "p_partkey")
    pk = F.col("p_partkey")
    rank_s = (pk % 997 + 1).cast("string")
    bayes_s = F.concat(
        (pk % 5 + 5).cast("string"), F.lit("."),
        F.lpad((pk % 100).cast("string"), 2, "0"),
    )
    body = F.concat(
        F.lit('<html><body><div class="simplebox"><table>'
              "<tr><th>Rank</th><th>Game</th><th>Rating</th></tr><tr><td>"),
        rank_s,
        F.lit('</td><td><a href="/game/'), (pk + 1).cast("string"),
        F.lit('">Game '), (pk + 1).cast("string"),
        F.lit("</a></td><td>"), bayes_s,
        F.lit("</td></tr></table></div></body></html>"),
    )

    rows = _parse_pages(part, "p_partkey", "bgg_rankings", body)
    return rows.where(F.col("item_kind") == "game").select(
        "p_partkey", "game.bgg_id", "game.rank", "game.name",
        "game.bayes_rating")


def q_geeklist_extract(spark, sf_dir):
    """bgg_geeklist item extraction (bgg_geeklist.py:49-106) incl. the
    excluded-id rule (197551): listitem HTML generated from ``customer``,
    parsed by the crawl's page kernel (``_parse_pages``); oracle
    recomputes ground truth."""
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    ck = F.col("c_custkey")
    gid = F.when(ck % 100 == 0, F.lit(197551)).otherwise(ck).cast("string")
    rank_s = (ck % 500 + 1).cast("string")
    body = F.concat(
        F.lit('<html><body><div data-objecttype="listitem">'
              '<div class="geeklist_item_title"><a href="/item/1">'),
        rank_s, F.lit(":</a> "),
        F.lit('<a href="/boardgame/'), gid, F.lit('/g">Game '), gid,
        F.lit("</a></div></div></body></html>"),
    )

    rows = _parse_pages(cust, "c_custkey", "bgg_geeklist", body)
    return rows.where(F.col("item_kind") == "game").select(
        "c_custkey", "game.bgg_id", "game.rank", "game.name")


def q_dbpedia_extract(spark, sf_dir):
    """dbpedia property-table fold (dbpedia.py:375-521): one SPARQL-XML
    property table per ``customer`` key, built by one ``format_string``
    (en + de labels, literals, uri values with labels), parsed by the
    crawl's page kernel (``_parse_pages``); the oracle recomputes the
    expected fields directly."""
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    ck = F.col("c_custkey")
    dbo, dbp = "http://dbpedia.org/ontology/", "http://dbpedia.org/property/"
    rdfs, en = "http://www.w3.org/2000/01/rdf-schema#", ' xml:lang="en"'
    rows = [  # (property, value[, English label]); %n$d: the args below
        (f"{rdfs}label", f"<literal{en}>DBp Game %1$d</literal>"),
        (f"{rdfs}label", '<literal xml:lang="de">DBp Spiel %1$d</literal>'),
        (f"{dbo}abstract", f"<literal{en}>Abstract of game %1$d.</literal>"),
        (f"{dbp}date", "<literal>%2$d</literal>"),
        (f"{dbo}designer", "<uri>http://dbpedia.org/resource/Designer_%3$d"
         "</uri>", "Designer %3$d"),
        (f"{dbo}publisher", "<uri>http://dbpedia.org/resource/Publisher_%4$d"
         "</uri>", "Publisher %4$d"),
        ("http://xmlns.com/foaf/0.1/depiction", "<uri>http://commons."
         "wikimedia.org/wiki/Special:FilePath/Game_%1$d.jpg</uri>"),
        (f"{dbp}players", "<literal>%5$d</literal>"),
        (f"{dbp}ages", "<literal>%6$d</literal>"),
        (f"{dbp}bggid", "<literal>%1$d</literal>"),
        ("http://www.w3.org/2002/07/owl#sameAs",
         "<uri>https://www.wikidata.org/wiki/Q%7$d</uri>"),
        (f"{dbo}wikiPageExternalLink",
         "<uri>https://example.com/game%1$d</uri>"),
    ]
    body = F.format_string(
        '<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-'
        'results#"><head><variable name="property"/><variable name="value"/>'
        '<variable name="label"/></head><results>' + "".join(
            f'<result><binding name="property"><uri>{prop}</uri></binding>'
            f'<binding name="value">{value}</binding>' + "".join(
                f'<binding name="label"><literal{en}>{lb}</literal></binding>'
                for lb in label) + "</result>" for prop, value, *label in rows)
        + "</results></sparql>",
        ck, 1985 + ck % 40, ck % 20, ck % 10, 1 + ck % 4, 6 + ck % 10,
        100000 + ck)
    rows = _parse_pages(cust, "c_custkey", "dbpedia_game", body)
    return rows.where(F.col("item_kind") == "game").select(
        "c_custkey", "game.bgg_id", "game.name", "game.year",
        F.col("game.designer")[0].alias("designer"),
        F.col("game.publisher")[0].alias("publisher"),
        "game.min_players", "game.min_age")


def q_entity_resolution(spark, sf_dir):
    """J5 entity resolution (reference cluster.py:187-337) through the
    real operator pipeline: exact-id edges + blocked fuzzy-name edges +
    connected components.  Planted cross-source triples per customer —
    two records share a bgg_id (exact edge), a third links only by name
    similarity (fuzzy edge, scored inside its name-token block) — so
    every component and canonical id is known in closed form for the
    oracle."""
    from .operators.cluster import resolve_entities

    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    year = (1990 + ck % 30).cast("int")
    a = cust.select(
        (2 * ck).alias("rec_id"), ck.alias("bgg_id"),
        F.concat(F.lit("alpha beta game"), ck.cast("string")).alias("name"),
        year.alias("year"),
    )
    b = cust.select(
        (2 * ck + 1).alias("rec_id"), ck.alias("bgg_id"),
        F.concat(F.lit("alpha beta game"), ck.cast("string")).alias("name"),
        year.alias("year"),
    )
    c = cust.select(
        (10_000_000 + ck).alias("rec_id"),
        F.lit(None).cast("long").alias("bgg_id"),
        F.concat(F.lit("alpha beta gamma"), ck.cast("string"),
                 F.lit(" game"), ck.cast("string")).alias("name"),
        year.alias("year"),
    )
    records = a.unionByName(b).unionByName(c)
    return resolve_entities(records)


def q_labels_resolve(spark, sf_dir):
    """C13/J4 label resolution (pipelines.py:61-143) through the real
    operator: planted Q-id arrays + a labels dim; unresolvable ids drop,
    order = (id position, language priority)."""
    from .operators.labels import resolve_labels

    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    items = cust.select(
        ck.alias("key"),
        F.array(
            F.concat(F.lit("Q"), (ck % 50).cast("string")),
            F.concat(F.lit("Q"), (ck % 37 + 50).cast("string")),
            F.lit("Q9999"),
        ).alias("designer"),
    )
    qid = F.concat(F.lit("Q"), (ck - 1).cast("string"))
    dim = cust.where(ck <= 87).select(
        qid.alias("qid"),
        F.array(
            F.concat(F.lit("en "), qid), F.concat(F.lit("de "), qid)
        ).alias("labels"),
    )
    out = resolve_labels(items, dim, "key", ("designer",))
    return out.select("key", F.concat_ws("|", "designer").alias("designers"))


# ---------------------------------------------------------------------------
# Formerly rows-only entries, now fully oracled: the IVF index build is
# reproducible in SQL (id-stratified seeds + quantized means), and the
# fake media decoder is sha256-based, so DuckDB recomputes it exactly.
# ---------------------------------------------------------------------------

def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate nearest neighbors (scale path of the
    similarity-search family; centroid quantizer + nprobe pruning).
    Oracle-checked end-to-end: id-stratified seeds + quantized Lloyd
    means make the whole index build reproducible in DuckDB.  The index
    is built once (``ivf_build`` → parquet partitioned by list_id) and
    the query is a partition-pruned scan of the 2 probed lists + exact
    rerank."""
    from .operators.similarity import make_centroids

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    vectors = emb.where(F.col("vec_id") != 0)
    centroids = make_centroids(vectors, nlist=4)
    return ivf_topk(vectors, query, centroids, k=10, nprobe=2)


def q_hotness_extract(spark, sf_dir):
    """bgg_hotness XMLAPI2 extraction (S7/E1 family,
    bgg_hotness.py:43-99): hotness XML generated deterministically from
    ``part``, parsed by the crawl's page kernel (``_parse_pages``); each
    game is paired with its page's span count by one group on the key,
    and the oracle recomputes the planted ground truth directly."""
    part = _t(spark, sf_dir, "part", "p_partkey")
    pk = F.col("p_partkey")
    gid_s = (pk + 1).cast("string")
    rank_s = (pk % 50 + 1).cast("string")
    body = F.concat(
        F.lit('<?xml version="1.0"?><items><item id="'), gid_s,
        F.lit('" rank="'), rank_s,
        F.lit('"><name value="Game '), gid_s,
        F.lit('"/><thumbnail value="https://cf.geekdo-images.com/thumb/'),
        gid_s, F.lit('.jpg"/></item></items>'),
    )

    rows = _parse_pages(part, "p_partkey", "bgg_hotness", body)
    return rows.groupBy("p_partkey").agg(
        F.first("game", ignorenulls=True).alias("g"),
        F.max(F.size("spans")).alias("n_spans"),
    ).where(F.col("g").isNotNull()).select(
        "p_partkey", "g.bgg_id", "g.rank", "g.name",
        F.col("g.image_url")[0].alias("thumb"), "n_spans")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: media refs → Arrow-batched feature extraction
    (deterministic fake decoder standing in for image codecs)."""
    from .functions.media import extract_features

    docs = _t(spark, sf_dir, "documents", "doc_id")
    media = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("image").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
    )
    feats = extract_features(media, dim=8)
    return feats.select(
        "doc_id",
        "media_ref",
        "feat_dim",
        F.round(F.element_at("feature", 1), 4).alias("f0"),
    )


# ---------------------------------------------------------------------------
# Registry + oracles
# ---------------------------------------------------------------------------

QUERIES = {
    "merge_latest_wins": q_merge_latest_wins,
    "dedup_exact": q_dedup_exact,
    "topk_per_host": q_topk_per_host,
    "batchify": q_batchify,
    "retry_backoff": q_retry_backoff,
    "rescrape_window": q_rescrape_window,
    "anti_join_seen": q_anti_join_seen,
    "extract_bgg_id": q_extract_bgg_id,
    "range_validate": q_range_validate,
    "value_id_encode": q_value_id_encode,
    "interval_parse": q_interval_parse,
    "lenient_int": q_lenient_int,
    "archive_date": q_archive_date,
    "clean_text": q_clean_text,
    "pagination": q_pagination,
    "prefix_count": q_prefix_count,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "minhash_band": q_minhash_band,
    "cosine_topk": q_cosine_topk,
    "lineitem_agg": q_lineitem_agg,
    "join_agg": q_join_agg,
    "simhash": q_simhash,
    "minhash_lsh_bands": q_minhash_lsh_bands,
    "near_dup_pairs": q_near_dup_pairs,
    "embedding_near_dup": q_embedding_near_dup,
    "fingerprint": q_fingerprint,
    "language_id": q_language_id,
    "bpe_token_count": q_bpe_token_count,
    "quality_full": q_quality_full,
    "array_except_stopwords": q_array_except_stopwords,
    "commons_rewrite": q_commons_rewrite,
    "explode_collect": q_explode_collect,
    "union_distinct": q_union_distinct,
    "rankings_extract": q_rankings_extract,
    "geeklist_extract": q_geeklist_extract,
    "dbpedia_extract": q_dbpedia_extract,
    "entity_resolution": q_entity_resolution,
    "labels_resolve": q_labels_resolve,
    "ann_ivf_topk": q_ann_ivf_topk,
    "media_features": q_media_features,
    "hotness_extract": q_hotness_extract,
}

_TOKS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_SHINGLES_SQL = (
    "list_transform(generate_series(1, greatest(len({t}) - 2, 1)), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"
).format(t="t")
_STOPS_EN = "('the','and','of','to','a','in','is','it','you','that')"

ORACLES = {
    "merge_latest_wins": """
        SELECT user_id, event_id, ts, event_type, value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_dups
        FROM documents GROUP BY 1
    """,
    "topk_per_host": """
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value DESC, event_id ASC) AS rk
        FROM events
        QUALIFY rk <= 3
    """,
    "batchify": """
        WITH numbered AS (
            SELECT event_type, event_id,
                   CAST(floor((row_number() OVER (
                       PARTITION BY event_type ORDER BY event_id) - 1) / 10)
                       AS INT) AS batch
            FROM events)
        SELECT event_type, batch, count(*) AS n,
               array_to_string(list_sort(list(event_id)), ',') AS ids_csv
        FROM numbered GROUP BY 1, 2
    """,
    "retry_backoff": """
        SELECT event_id,
               CAST(event_id % 5 AS INT) AS attempt,
               CAST(least(power(2.0, event_id % 5) * 5, 100.0) AS BIGINT)
                   AS backoff_sec,
               CAST(floor(epoch(ts)) AS BIGINT)
                   + CAST(least(power(2.0, event_id % 5) * 5, 100.0) AS BIGINT)
                   AS not_before_epoch
        FROM events WHERE event_type = 'error'
    """,
    "rescrape_window": """
        SELECT event_id, user_id, ts FROM (
            SELECT event_id, user_id, ts,
                   lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events)
        WHERE prev_ts IS NULL
           OR floor(epoch(ts)) - floor(epoch(prev_ts)) >= 600
    """,
    "anti_join_seen": """
        SELECT o_orderkey, o_custkey FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_acctbal < 0 AND c.c_custkey = o.o_custkey)
    """,
    "extract_bgg_id": """
        SELECT o_orderkey,
               '/boardgame/' || o_orderkey || '/name' AS path,
               CAST(regexp_extract(
                   '/boardgame/' || o_orderkey || '/name',
                   '^/(board)?game/(\\d+)', 2) AS BIGINT) AS bgg_id
        FROM orders
    """,
    "range_validate": """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity BETWEEN 5 AND 45
                    THEN l_quantity END AS qty_valid
        FROM lineitem
    """,
    "value_id_encode": """
        SELECT n_nationkey,
               n_name || ':' || n_nationkey AS value_id,
               regexp_replace(n_name || ' Rank', ' [Rr]ank$', '')
                   AS rank_stripped
        FROM nation
    """,
    "interval_parse": """
        SELECT p_partkey,
               p_size || ' - ' || (p_size + 2) || ' Spieler' AS raw,
               CAST(regexp_extract(
                   p_size || ' - ' || (p_size + 2) || ' Spieler',
                   '(\\d+)(\\s*-\\s*(\\d+))?', 1) AS INT) AS lo,
               CAST(regexp_extract(
                   p_size || ' - ' || (p_size + 2) || ' Spieler',
                   '(\\d+)(\\s*-\\s*(\\d+))?', 3) AS INT) AS hi
        FROM part
    """,
    "lenient_int": """
        SELECT c_custkey,
               '~' || format('{:,}', c_custkey * 1000) || ' votes' AS raw,
               CAST(regexp_replace(
                   '~' || format('{:,}', c_custkey * 1000) || ' votes',
                   '[^0-9]', '', 'g') AS BIGINT) AS votes
        FROM customer
    """,
    "archive_date": """
        SELECT event_id,
               'http://web.archive.org/web/' || strftime(ts, '%Y%m%d%H%M%S')
                   || '/https://boardgamegeek.com/browse/boardgame' AS url,
               strptime(regexp_extract(
                   'http://web.archive.org/web/' || strftime(ts, '%Y%m%d%H%M%S')
                       || '/https://boardgamegeek.com/browse/boardgame',
                   '/web/(\\d{14})', 1), '%Y%m%d%H%M%S') AS archived_at
        FROM events
    """,
    "clean_text": """
        SELECT doc_id,
               nullif(trim(regexp_replace(text, '\\s+', ' ', 'g')), '')
                   AS text_clean
        FROM documents
    """,
    "pagination": """
        WITH numbered AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) AS rn,
                   count(*) OVER () AS total
            FROM documents)
        SELECT doc_id,
               CAST(floor((rn - 1) / 25) AS INT) AS page,
               total AS count,
               CASE WHEN floor((rn - 1) / 25) > 0
                    THEN CAST(floor((rn - 1) / 25) - 1 AS INT) END AS previous,
               CASE WHEN floor((rn - 1) / 25) < floor((total - 1) / 25)
                    THEN CAST(floor((rn - 1) / 25) + 1 AS INT) END AS next
        FROM numbered
    """,
    "prefix_count": """
        SELECT substring(
                   regexp_replace(lower(text), '[^a-z]', '_', 'g'), 1, 2)
                   AS prefix,
               count(*) AS n
        FROM documents GROUP BY 1
    """,
    "token_count": """
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(text) AS n_chars_computed
        FROM documents
    """,
    "quality_score": """
        WITH toks AS (
            SELECT doc_id, text,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM documents)
        SELECT doc_id,
               len(t) AS n_tokens,
               len(list_filter(t, x -> x IN
                   ('the','a','an','and','or','of','to','in','is','it')))
                   AS n_stopwords,
               round(len(list_filter(t, x -> x IN
                   ('the','a','an','and','or','of','to','in','is','it')))
                   / CAST(len(t) AS DOUBLE), 4) AS stopword_ratio,
               round((length(trim(text)) - len(t) + 1)
                   / CAST(len(t) AS DOUBLE), 4) AS mean_token_len
        FROM toks
    """,
    "minhash_band": """
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM documents)
        SELECT doc_id,
               list_min(list_transform(
                   list_transform(
                       generate_series(1, greatest(len(t) - 2, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                   s -> md5(s))) AS minhash
        FROM toks
    """,
    "cosine_topk": """
        WITH q AS (
            SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   round(
                       list_dot_product(e.embedding, q.qvec)
                       / (sqrt(list_dot_product(e.embedding, e.embedding))
                          * sqrt(list_dot_product(q.qvec, q.qvec))), 4)
                       AS cosine
            FROM embeddings e, q WHERE e.vec_id != 0)
        SELECT vec_id, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC)
                   AS INT) AS rk
        FROM scored
        QUALIFY rk <= 10
    """,
    "lineitem_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                   AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))))
                   AS DOUBLE) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem GROUP BY 1, 2
    """,
    "join_agg": """
        SELECT n_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    """,
    "simhash": f"""
        WITH toks AS (
            SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents)
        SELECT doc_id,
               CAST(list_reduce(list_transform(generate_series(0, 15), b ->
                   CASE WHEN list_reduce(list_transform(t, tok ->
                       CAST((( ('0x' || substr(md5(tok),1,15))::BIGINT >> b)
                            & 1) * 2 - 1 AS INT)), (x, y) -> x + y) >= 0
                        THEN 1 << b ELSE 0 END), (x, y) -> x + y)
                   AS BIGINT) AS simhash
        FROM toks
    """,
    "minhash_lsh_bands": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        sig AS (
            SELECT doc_id,
                   list_transform(generate_series(0, 7), p ->
                       list_min(list_transform({_SHINGLES_SQL}, s ->
                           ('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || s),
                                           1, 15))::BIGINT))) AS sg
            FROM toks)
        SELECT doc_id,
               CAST(b AS INT) AS band,
               md5(array_to_string(sg[b*4+1 : b*4+4], ':')) AS band_key
        FROM sig, (VALUES (0), (1)) bands(b)
    """,
    "near_dup_pairs": f"""
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id,
                   regexp_replace(trim(text), '^\\S+\\s+', '') AS text
            FROM documents),
        toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM all_docs),
        sh AS (
            SELECT doc_id, {_SHINGLES_SQL} AS sh FROM toks),
        sig AS (
            SELECT doc_id, sh,
                   list_transform(generate_series(0, 7), p ->
                       list_min(list_transform(sh, s ->
                           ('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || s),
                                           1, 15))::BIGINT))) AS sg
            FROM sh),
        banded AS (
            SELECT doc_id,
                   md5(array_to_string(sg[b*4+1 : b*4+4], ':')) AS band_key
            FROM sig, (VALUES (0), (1)) bands(b)),
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r USING (band_key)
            WHERE l.doc_id < r.doc_id)
        SELECT a, b,
               round(len(list_intersect(sa.sh, sb.sh))
                   / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4)
                   AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = a
        JOIN sh sb ON sb.doc_id = b
        WHERE round(len(list_intersect(sa.sh, sb.sh))
                  / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4)
              >= 0.5
    """,
    "embedding_near_dup": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_prepend(embedding[1]::DOUBLE + 0.25,
                                (embedding::DOUBLE[])[2:]) AS emb
            FROM embeddings),
        sigs AS (
            SELECT vec_id, tt.t AS t,
                   CAST(list_sum(list_transform(generate_series(0, 7), p ->
                       CASE WHEN round(list_dot_product(emb,
                                list_transform(generate_series(0, 63), d ->
                                    ((('0x' || substr(md5(
                                          CAST(tt.t AS VARCHAR) || ':' ||
                                          CAST(p AS VARCHAR) || ':' ||
                                          CAST(d AS VARCHAR)), 1, 15))
                                        ::BIGINT % 2001) - 1000) / 1000.0)),
                              6) >= 0
                            THEN 1 << p ELSE 0 END)) AS BIGINT) AS bucket
            FROM base, (VALUES (0), (1), (2), (3)) tt(t)),
        cand AS (
            SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
            FROM sigs l JOIN sigs r USING (t, bucket)
            WHERE l.vec_id < r.vec_id)
        SELECT id_a, id_b,
               round(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
        FROM cand
        JOIN base a ON a.vec_id = id_a
        JOIN base b ON b.vec_id = id_b
        WHERE round(list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb))
                     * sqrt(list_dot_product(b.emb, b.emb))), 4) >= 0.9
    """,
    "fingerprint": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        h AS (
            SELECT doc_id,
                   list_sort(list_transform({_SHINGLES_SQL}, s ->
                       ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
            FROM toks)
        SELECT doc_id,
               md5(array_to_string(hs[1:4], ':')) AS fingerprint
        FROM h
    """,
    "language_id": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        scores AS (
            SELECT doc_id,
                   len(list_filter(t, x -> x IN {_STOPS_EN})) AS s_en,
                   len(list_filter(t, x -> x IN
                       ('der','die','und','das','ist','von','mit','den',
                        'ein','nicht'))) AS s_de,
                   len(list_filter(t, x -> x IN
                       ('le','la','et','les','des','un','une','du','est',
                        'que'))) AS s_fr,
                   len(list_filter(t, x -> x IN
                       ('el','de','que','y','los','un','por','con','una',
                        'las'))) AS s_es
            FROM toks)
        SELECT doc_id,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN NULL
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                    ELSE 'es' END AS lang_pred,
               greatest(s_en, s_de, s_fr, s_es) AS lang_score
        FROM scores
    """,
    "bpe_token_count": f"""
        SELECT doc_id,
               len(regexp_extract_all(trim(text),
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe_tokens,
               len({_TOKS_SQL}) AS ws_tokens
        FROM documents
    """,
    "quality_full": f"""
        WITH base AS (
            SELECT doc_id, trim(text) AS tx, {_TOKS_SQL} AS t
            FROM documents),
        m AS (
            SELECT doc_id,
                   len(t) AS n_tok,
                   length(tx) AS n_chars,
                   length(tx) - length(regexp_replace(tx, '[^\\w\\s]', '',
                       'g')) AS n_punct,
                   len(list_filter(t, x -> x IN {_STOPS_EN})) AS stop,
                   len(list_distinct(t)) AS n_distinct
            FROM base)
        SELECT doc_id,
               n_tok AS n_tokens,
               round(stop / CAST(n_tok AS DOUBLE), 4) AS stop_ratio,
               round(n_distinct / CAST(n_tok AS DOUBLE), 4)
                   AS distinct_ratio,
               round(
                   0.25 * least(n_tok / 20.0, 1.0)
                   + 0.25 * least(stop / CAST(n_tok AS DOUBLE) * 4, 1.0)
                   + 0.25 * (n_distinct / CAST(n_tok AS DOUBLE))
                   + 0.25 * (1 - least(n_punct
                       / CAST(greatest(n_chars, 1) AS DOUBLE) * 5, 1.0)),
                   4) AS quality
        FROM m
    """,
    "array_except_stopwords": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        SELECT doc_id,
               array_to_string(
                   (list_sort(list_distinct(
                       list_filter(t, x -> x NOT IN {_STOPS_EN}))))[1:5],
                   ',') AS top_tokens
        FROM toks
    """,
    "commons_rewrite": """
        SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 0
                    THEN 'http://dbpedia.org/resource/File:Img_'
                         || p_partkey || '.jpg'
                    ELSE 'https://example.com/img/' || p_partkey || '.png'
               END AS url,
               CASE WHEN p_partkey % 2 = 0
                    THEN 'https://commons.wikimedia.org/wiki/Special:Redirect/file/Img_'
                         || p_partkey || '.jpg'
                    ELSE 'https://example.com/img/' || p_partkey || '.png'
               END AS resolved
        FROM part
    """,
    "explode_collect": """
        SELECT n_name,
               count(*) AS n_customers,
               array_to_string(list_sort(list(c_custkey))[1:10], ',')
                   AS first_custkeys
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    """,
    "union_distinct": """
        SELECT DISTINCT user_id FROM events
        WHERE event_type IN ('click', 'purchase')
    """,
    "hotness_extract": """
        SELECT p_partkey,
               p_partkey + 1 AS bgg_id,
               CAST(p_partkey % 50 + 1 AS INT) AS rank,
               'Game ' || (p_partkey + 1) AS name,
               'https://cf.geekdo-images.com/thumb/' || (p_partkey + 1)
                   || '.jpg' AS thumb,
               CAST(2 AS INT) AS n_spans
        FROM part
    """,
    "rankings_extract": """
        SELECT p_partkey,
               p_partkey + 1 AS bgg_id,
               CAST(p_partkey % 997 + 1 AS INT) AS rank,
               'Game ' || (p_partkey + 1) AS name,
               CAST((p_partkey % 5 + 5) || '.' ||
                    lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0')
                    AS DOUBLE) AS bayes_rating
        FROM part
    """,
    "geeklist_extract": """
        SELECT c_custkey,
               c_custkey AS bgg_id,
               CAST(c_custkey % 500 + 1 AS INT) AS rank,
               'Game ' || c_custkey AS name
        FROM customer
        WHERE c_custkey % 100 <> 0
    """,
    "dbpedia_extract": """
        SELECT c_custkey,
               c_custkey AS bgg_id,
               'DBp Game ' || c_custkey AS name,
               CAST(1985 + c_custkey % 40 AS INT) AS year,
               'Designer ' || (c_custkey % 20) AS designer,
               'Publisher ' || (c_custkey % 10) AS publisher,
               CAST(1 + c_custkey % 4 AS INT) AS min_players,
               CAST(6 + c_custkey % 10 AS INT) AS min_age
        FROM customer
    """,
    # planted components {2k, 2k+1, 10^7+k} → canonical = min = 2k
    "entity_resolution": """
        SELECT CAST(2 * c_custkey AS BIGINT) AS rec_id,
               CAST(2 * c_custkey AS BIGINT) AS canonical_id
        FROM customer
        UNION ALL
        SELECT CAST(2 * c_custkey + 1 AS BIGINT),
               CAST(2 * c_custkey AS BIGINT)
        FROM customer
        UNION ALL
        SELECT CAST(10000000 + c_custkey AS BIGINT),
               CAST(2 * c_custkey AS BIGINT)
        FROM customer
    """,
    "labels_resolve": """
        SELECT c_custkey AS key,
               'en Q' || (c_custkey % 50) || '|de Q' || (c_custkey % 50)
               || '|en Q' || (c_custkey % 37 + 50)
               || '|de Q' || (c_custkey % 37 + 50) AS designers
        FROM customer
    """,
    # Full IVF index build + probe, mirrored step-by-step: id-stratified
    # seeds → tie-broken nearest-seed assignment → quantized Lloyd mean
    # (integer sums: float sum order is engine-dependent) → reassign →
    # probe the 2 lists nearest the query → exact top-10 rerank.
    "ann_ivf_topk": """
        WITH q AS (
            SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        vecs AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        seeds AS (
            SELECT CAST(vec_id % 4 AS BIGINT) AS list_id,
                   arg_min(embedding, vec_id) AS cvec
            FROM vecs GROUP BY 1),
        a0 AS (
            SELECT vec_id, embedding, list_id FROM (
                SELECT v.vec_id, v.embedding, s.list_id,
                       row_number() OVER (PARTITION BY v.vec_id ORDER BY
                           round(list_dot_product(v.embedding, s.cvec)
                             / (sqrt(list_dot_product(v.embedding,
                                                      v.embedding))
                                * sqrt(list_dot_product(s.cvec, s.cvec))),
                             9) DESC,
                           s.list_id DESC) AS rn
                FROM vecs v CROSS JOIN seeds s)
            WHERE rn = 1),
        dims AS (
            SELECT unnest(generate_series(1,
                       (SELECT len(qvec) FROM q))) AS pos),
        cents AS (
            SELECT list_id, list(m ORDER BY pos) AS cvec FROM (
                SELECT list_id, dims.pos AS pos,
                       sum(CAST(floor(CAST(a0.embedding[dims.pos]
                           AS DOUBLE) * 1e6)
                           AS BIGINT)) / count(*) / 1e6 AS m
                FROM a0, dims
                GROUP BY 1, 2)
            GROUP BY 1),
        a1 AS (
            SELECT vec_id, embedding, list_id FROM (
                SELECT v.vec_id, v.embedding, c.list_id,
                       row_number() OVER (PARTITION BY v.vec_id ORDER BY
                           round(list_dot_product(
                                   list_transform(v.embedding,
                                       x -> CAST(x AS DOUBLE)), c.cvec)
                             / (sqrt(list_dot_product(v.embedding,
                                                      v.embedding))
                                * sqrt(list_dot_product(c.cvec, c.cvec))),
                             9) DESC,
                           c.list_id DESC) AS rn
                FROM vecs v CROSS JOIN cents c)
            WHERE rn = 1),
        qlists AS (
            SELECT list_id FROM cents, q
            ORDER BY round(list_dot_product(
                         cents.cvec,
                         list_transform(q.qvec, x -> CAST(x AS DOUBLE)))
                     / (sqrt(list_dot_product(cents.cvec, cents.cvec))
                        * sqrt(list_dot_product(q.qvec, q.qvec))),
                     9) DESC, list_id ASC
            LIMIT 2),
        probe AS (SELECT a1.* FROM a1 JOIN qlists USING (list_id))
        SELECT p.vec_id,
               round(list_dot_product(p.embedding, q.qvec)
                 / (sqrt(list_dot_product(p.embedding, p.embedding))
                    * sqrt(list_dot_product(q.qvec, q.qvec))), 4)
                   AS cosine
        FROM probe p, q
        ORDER BY cosine DESC, p.vec_id ASC
        LIMIT 10
    """,
    # The fake decoder is sha256(media_ref): first uint32 (little-endian)
    # % 10000 / 10000 — reproduced digit-by-digit (DuckDB has no
    # hex-to-int builtin, so nibbles come from strpos lookup).
    "media_features": """
        WITH m AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'img://' || CAST(doc_id AS VARCHAR) AS media_ref
            FROM documents),
        h AS (SELECT doc_id, media_ref, sha256(media_ref) AS h,
                     '0123456789abcdef' AS hx FROM m)
        SELECT doc_id, media_ref, CAST(8 AS INT) AS feat_dim,
               round(((
                   (strpos(hx, substr(h,1,1))-1)*16
                   + (strpos(hx, substr(h,2,1))-1)
                   + ((strpos(hx, substr(h,3,1))-1)*16
                      + (strpos(hx, substr(h,4,1))-1)) * 256
                   + ((strpos(hx, substr(h,5,1))-1)*16
                      + (strpos(hx, substr(h,6,1))-1)) * 65536
                   + ((strpos(hx, substr(h,7,1))-1)*16
                      + (strpos(hx, substr(h,8,1))-1)) * 16777216
               ) % 10000) / 10000.0, 4) AS f0
        FROM h
    """,
}
