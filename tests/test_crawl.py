"""End-to-end crawl: order equality vs the pure-Python simulator,
URL-seen membership equality, span oracle, exact resume; the round
loop's retry fast-forward, frontier-row accounting, compaction cadence
and speculative fused stage (double-buffering, and the compact re-sync
through a full crawl).
"""

import json

import pandas as pd
import pytest
from conftest import make_engine, seed_one, with_retryables
from pyspark.sql import functions as F

from board_game_scraper_spark import schemas, synth
from board_game_scraper_spark.functions.text import clean_text_one
from board_game_scraper_spark.plans.crawl import CrawlEngine
from board_game_scraper_spark.plans.simulator import simulate

N_BROWSE, N_USERS, N_OTHER = 5, 10, 5
N_ROUNDS = 6


@pytest.fixture(scope="module")
def crawl_run(spark, corpus_small, tmp_path_factory):
    seeds_pd, pages_pd = corpus_small
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    root = tmp_path_factory.mktemp("crawl")
    eng = CrawlEngine(spark, root, pages, record_schedule=True)
    eng.seed(seeds)
    metrics = eng.crawl(N_ROUNDS)
    sim = simulate(
        [(r.url, int(r.priority)) for r in seeds_pd.itertuples()],
        N_ROUNDS, N_BROWSE, N_USERS,
    )
    return eng, sim, metrics


def test_schedule_order_equality(crawl_run):
    """Per-(round, host) scheduled URL *order* matches the simulator —
    the SURVEY §5 crawl-order-equality gate."""
    eng, sim, _ = crawl_run
    engine_log = {
        (rnd, host): urls
        for rnd, hosts in eng.schedule_log.items()
        for host, urls in hosts.items()
    }
    sim_log = {k: v for k, v in sim.schedule.items() if v}
    assert engine_log == sim_log


def test_seen_membership_equality(crawl_run):
    eng, sim, _ = crawl_run
    engine_seen = {
        r["url_canon"] for r in eng.seen.read().collect()
    }
    assert engine_seen == sim.seen


def test_fetched_ok_equality(crawl_run):
    eng, sim, _ = crawl_run
    engine_ok = {r["doc_id"] for r in eng.documents.read().collect()}
    # every successfully fetched+parsed page with spans is a document
    assert engine_ok <= set(sim.fetched_ok)
    # all 200-fetched pages produce spans in this corpus
    assert engine_ok == set(sim.fetched_ok)


def test_span_sequence_equality_thing_pages(crawl_run):
    """input_hint invariant: spans (kind, text, media_ref, order) equal an
    independent oracle built from corpus ground truth (not from XML)."""
    eng, _, _ = crawl_run
    docs = {
        r["doc_id"]: r["spans"]
        for r in eng.documents.read().collect()
        if "/xmlapi2/thing" in r["doc_id"]
    }
    assert docs
    checked = 0
    for doc_id, spans in docs.items():
        from urllib.parse import parse_qs, urlparse

        ids = [int(x) for x in
               parse_qs(urlparse(doc_id).query)["id"][0].split(",")]
        expected = []
        for gid in sorted(ids):
            name = clean_text_one(synth._game_name(gid))
            expected.append(("text", name, None))
            expected.append((
                "text",
                f"Description of game {gid} & friends. With multiple spaces.",
                None,
            ))
            expected.append((
                "image", None,
                f"https://cf.geekdo-images.com/original/{gid}.jpg",
            ))
            expected.append((
                "video", None, f"https://www.youtube.com/watch?v=v{gid}",
            ))
        got = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        offsets = [s["offset"] for s in spans]
        assert offsets == list(range(len(spans)))  # order preserved
        assert got == expected, doc_id
        checked += 1
    assert checked >= 3


def test_entity_hack_in_parsed_names(crawl_run):
    """Games with gid % 7 == 0 carry the double-encoded 'Ü' — the C7
    chain must decode it (utils.py:78-86)."""
    eng, _, _ = crawl_run
    names = {
        r["bgg_id"]: r["name"]
        for r in eng.games.read().where(F.col("bgg_id").isNotNull()).collect()
    }
    hacked = {g: n for g, n in names.items() if g % 7 == 0}
    assert hacked
    for gid, name in hacked.items():
        assert name == f"Game Über {gid}"


def test_rating_composite_key(crawl_run):
    """RatingItem id = '{user}:{bgg_id}' lowercased (bgg.py:709-710)."""
    eng, _, _ = crawl_run
    rows = eng.ratings.read().limit(50).collect()
    assert rows
    for r in rows:
        assert r["item_id"] == f"{r['bgg_user_name']}:{r['bgg_id']}"
        assert r["bgg_user_name"] == r["bgg_user_name"].lower()


def test_metrics_lineage_present(crawl_run):
    eng, _, metrics = crawl_run
    snap = eng.frontier.current_snapshot()
    assert snap["lineage"]["round"] >= 1
    assert "scheduled" in snap["metrics"]
    m = eng.metrics.read()
    assert m.where(F.col("host") == "boardgamegeek.com").count() >= 1


def test_resume_exact(spark, corpus_small, tmp_path_factory):
    """Kill between rounds → new engine resumes → identical final state
    (reference JOBDIR resume, __main__.py:139-171)."""
    seeds_pd, pages_pd = corpus_small
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)

    root_a = tmp_path_factory.mktemp("resume_a")
    eng_a = CrawlEngine(spark, root_a, pages)
    eng_a.seed(seeds)
    eng_a.crawl(4)

    root_b = tmp_path_factory.mktemp("resume_b")
    eng_b = CrawlEngine(spark, root_b, pages)
    eng_b.seed(seeds)
    eng_b.crawl(2)
    # "restart": a brand-new engine object over the same root resumes
    eng_b2 = CrawlEngine(spark, root_b, pages)
    assert eng_b2.last_round() == 2
    eng_b2.crawl(2)

    for name in ("seen", "documents", "games", "ratings"):
        a = getattr(eng_a, name).read()
        b = getattr(eng_b2, name).read()
        key = a.columns[0]
        assert sorted(map(tuple, a.select(key).collect()), key=str) == sorted(
            map(tuple, b.select(key).collect()), key=str
        ), name
    fa = {tuple(r) for r in eng_a.frontier.read()
          .select("url_canon", "priority", "attempt", "not_before_round")
          .collect()}
    fb = {tuple(r) for r in eng_b2.frontier.read()
          .select("url_canon", "priority", "attempt", "not_before_round")
          .collect()}
    assert fa == fb


def test_frontier_delta_commits_are_incremental(spark, tmp_path):
    """Merge-on-read frontier (VERDICT r01 #2): each round commits only
    appended retries/fresh + an equality-delete file — never a full
    rewrite; compact() folds deletes and preserves the visible rows."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=6, n_other=2)
    pages = spark.createDataFrame(pages_pd, schemas.PAGES)
    seeds = spark.createDataFrame(seeds_pd, schemas.SEEDS)
    eng = CrawlEngine(spark, tmp_path / "mor", pages, window_sec=3600.0,
                      compact_every=0)
    eng.seed(seeds)
    snap0 = eng.frontier.current_snapshot()
    assert snap0["mode"] == "overwrite" and snap0["delete_files"] == []

    for r in (1, 2):
        old_files = list(snap0["files"])
        n_dels = len(snap0["delete_files"])
        m = eng.run_round(r)
        snap0 = eng.frontier.current_snapshot()
        assert snap0["mode"] == "delta"
        # O(delta) commits: one retries dir + (when discoveries exist)
        # one fresh dir appended, plus one delete file — never a
        # rewrite of previously-committed dirs
        assert len(old_files) + 1 <= len(snap0["files"]) <= len(old_files) + 2
        assert set(old_files) <= set(snap0["files"])
        assert len(snap0["delete_files"]) == n_dels + 1
        assert snap0["delete_keys"] == ["url_hash", "attempt",
                                        "discovery_round"]
        assert snap0["metrics"]["scheduled"] == m["scheduled"]

    before = {tuple(r) for r in eng.frontier.read()
              .select("url_hash", "attempt").collect()}
    eng.frontier.compact(lineage={"round": 2, "stage": "compact"})
    snap = eng.frontier.current_snapshot()
    assert snap["mode"] == "overwrite" and snap["delete_files"] == []
    after = {tuple(r) for r in eng.frontier.read()
             .select("url_hash", "attempt").collect()}
    assert before == after
    # resume marker survives compaction
    assert eng.last_round() == 2


def test_future_retries_not_stranded(spark, tmp_path):
    """A round whose frontier holds ONLY future-dated backoff retries
    must not report done: crawl() fast-forwards to their eligibility
    round and fetches them (ADVICE r03 #2)."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = make_engine(spark, pages_pd, tmp_path / "fr")
    seed_one(spark, eng)
    # Push the seeded row's eligibility to round 5 (a backoff retry shape).
    delayed = eng.frontier.read().withColumn(
        "not_before_round", F.lit(5))
    eng.frontier.overwrite(delayed, lineage={"round": 0, "stage": "seed"})

    m = eng.run_round(1)
    assert m["done"] is False
    assert m["pending"] == 1
    assert m["next_eligible_round"] == 5
    # resume still points before round 1 (nothing committed)
    ms = eng.crawl(10)
    fetched = sum(x["fetched"] for x in ms)
    assert fetched >= 1, ms
    assert any(x["round"] == 5 and x["scheduled"] == 1 for x in ms), ms


def test_crawl_side_table_file_counts_bounded(spark, tmp_path):
    """A many-round crawl must not accumulate url_seen/metrics files
    forever — the compact_every cadence now folds them too (VERDICT r04
    'wrong' #2)."""
    _seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
    eng = make_engine(spark, pages_pd, tmp_path / "c", compact_every=3)
    seeds_pd = pd.DataFrame(
        [{"url": synth.browse_url(1), "source": "bgg", "priority": 0}])
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    eng.crawl(8)
    for table in (eng.seen, eng.metrics):
        snap = table.current_snapshot()
        if snap is None:
            continue
        assert len(snap["files"]) <= 8, table.path
    # resume marker still exact after side-table folds
    assert eng.last_round() >= 2
    assert eng.documents.read().count() > 0


def test_quiet_rounds_commit_no_empty_frontier_dirs(spark, tmp_path):
    """A round with zero retries must not commit an empty retries delta
    dir (ADVICE r05 #3): every data dir referenced by every frontier
    manifest holds at least one row."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=6, n_other=4)
    pages_pd = pages_pd.copy()
    pages_pd["status"] = 200  # nothing retryable anywhere
    eng = make_engine(spark, pages_pd, tmp_path / "c", window_sec=1e6,
                      compact_every=0)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    metrics = eng.crawl(6)
    assert sum(m.get("scheduled", 0) for m in metrics) > 0
    seen_rels = set()
    for snap in eng.frontier.snapshots():
        for rel in snap["files"]:
            seen_rels.add(rel)
    assert seen_rels, "crawl committed no frontier data dirs"
    for rel in sorted(seen_rels):
        p = eng.frontier.path / rel
        if not p.exists():
            continue
        n = spark.read.schema(schemas.FRONTIER).parquet(str(p)).count()
        assert n > 0, f"empty delta dir committed: {rel}"


def test_committed_layout_reads_without_spark(spark, tmp_path):
    """The on-disk layout readers outside Spark rely on (perfbench's
    output checks read it with pyarrow): every items dir a round adds
    has an ``item_kind=fetch`` leaf, and the url_seen dirs the manifest
    lists hold exactly the seen set."""
    import pyarrow.parquet as pq

    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=2)
    eng = make_engine(spark, pages_pd, tmp_path / "lay")
    seed_one(spark, eng)
    eng.crawl(2)
    added = [rel for snap in eng.items.snapshots()
             for rel in snap["added"]]
    assert len(added) == 2
    for rel in added:
        fetch = pq.read_table(eng.items.path / rel / "item_kind=fetch")
        assert fetch.num_rows > 0
    seen = set()
    for rel in eng.seen.current_snapshot()["files"]:
        seen.update(pq.read_table(eng.seen.path / rel, columns=["url_canon"])
                    .column("url_canon").to_pylist())
    assert seen == {r["url_canon"] for r in eng.seen.read().collect()}


def test_frontier_rows_manifest_arithmetic_and_resume(spark, tmp_path,
                                                      monkeypatch):
    """Driving counts must be execution-count-independent: the frontier
    row count is maintained by manifest arithmetic (seed n, then
    +appended −deleted per commit) and persisted in each frontier
    manifest — an Observation on the cached frontier frame double-fires
    when a broadcast build and the main job materialize the same cached
    partitions on different executors (measured on local-cluster[4,8]:
    scheduled reported 4895 of 2463 rows, pending went negative)."""
    _, pages_pd = synth.corpus(n_browse=4, n_users=6, n_other=2)
    eng = make_engine(spark, pages_pd, tmp_path / "fr")
    seeds_pd = pd.DataFrame(
        {"url": pages_pd.url_canon, "source": "t", "priority": 0})
    n = eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    assert eng.frontier_rows() == n == eng.frontier.read().count()

    ms = eng.crawl(8)
    # after every round the manifest metric equals the true table count
    assert eng.frontier_rows() == eng.frontier.read().count()
    assert ms[-1]["pending"] == eng.frontier_rows()
    # the metric rides the manifest chain
    snap = eng.frontier.current_snapshot()
    walked = None
    while snap is not None and walked is None:
        walked = (snap.get("metrics") or {}).get("frontier_rows")
        parent = snap.get("parent")
        snap = (json.loads(
            (eng.frontier.path / "snapshots" / parent).read_text())
            if parent else None)
    assert walked == eng.frontier_rows()

    # a fresh engine (resume) recovers the count without a Spark job
    eng2 = make_engine(spark, pages_pd, tmp_path / "fr")
    assert eng2.frontier_rows() == eng.frontier_rows()
    # ...and plans its first round from it as the uninterrupted engine
    # would: the small frontier takes schedule()'s lean plan
    from board_game_scraper_spark.plans import crawl

    leans = []

    def recording_schedule(*args, **kwargs):
        leans.append(kwargs.get("lean"))
        return orig_schedule(*args, **kwargs)

    orig_schedule = crawl.schedule
    monkeypatch.setattr(crawl, "schedule", recording_schedule)
    eng2.run_round(eng2.last_round() + 1)
    assert leans[:1] == [True]

    # scheduled counts come from the write job's fetch rows, not the
    # raced frame: round 1 scheduled exactly the seeded URLs
    assert ms[0]["scheduled"] == n


def test_frontier_rows_resyncs_on_compact(spark, tmp_path):
    """Manifest-arithmetic drift (simulated) is corrected by the exact
    count observed on the compaction rewrite job (ADVICE r05 #1), and
    the re-synced value survives resume."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=6, n_other=4)
    eng = make_engine(spark, pages_pd, tmp_path / "c", window_sec=1e6,
                      compact_every=1)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    # inject drift into the tracked count
    eng._frontier_rows = eng.frontier_rows() + 7
    with pytest.warns(UserWarning, match="arithmetic drift"):
        eng.run_round(1)
    exact = eng.frontier.read().count()
    assert eng.frontier_rows() == exact
    # resume: a fresh engine recovers the exact value from the manifest
    eng2 = make_engine(spark, pages_pd, tmp_path / "c", window_sec=1e6)
    assert eng2.frontier_rows() == exact


# ------------------------------------------- double-buffering equivalence

def _crawl_all(spark, pages_pd, seeds_pd, tmp, spec_off, monkeypatch,
               rounds=8, **kw):
    if spec_off:
        # the reference run never launches a speculative fused stage
        monkeypatch.setattr(CrawlEngine, "_launch_speculation",
                            lambda *a, **k: None)
    eng = make_engine(spark, pages_pd, tmp, window_sec=1e6, **kw)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    metrics = eng.crawl(rounds)
    frontier_rows = eng.frontier.read().count()
    items_rows = eng.items.read().count()
    return eng, metrics, frontier_rows, items_rows


def test_double_buffer_rounds_identical(spark, tmp_path, monkeypatch):
    """A crawl with the speculative fused stage produces byte-identical
    round metrics and table row counts to one without it — the
    speculation is the SAME expression run earlier, never a different
    computation."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
    pages_pd = with_retryables(pages_pd)
    eng_on, m_on, f_on, i_on = _crawl_all(
        spark, pages_pd, seeds_pd, tmp_path / "on", False, monkeypatch)
    eng_off, m_off, f_off, i_off = _crawl_all(
        spark, pages_pd, seeds_pd, tmp_path / "off", True, monkeypatch)
    assert m_on == m_off
    assert (f_on, i_on) == (f_off, i_off)
    # the run with speculation enabled actually exercised it (the corpus
    # has retryable statuses, so the crawl has retry-only tail rounds)
    assert eng_on._spec_hits > 0
    assert eng_off._spec_hits == 0


# ------------------------- compact-cadence re-sync through a full crawl

def test_compact_resync_mid_crawl_converges(spark, tmp_path):
    """VERDICT r06 next #5: corrupt the tracked frontier_rows MID-CRAWL
    and assert the crawl converges anyway — the compact cadence re-syncs
    the arithmetic from the exact count observed on the rewrite job
    within one cadence, and the final state matches the table."""
    seeds_pd, pages_pd = synth.corpus(n_browse=4, n_users=8, n_other=4)
    eng = make_engine(spark, pages_pd, tmp_path / "c", window_sec=1e6,
                      compact_every=2)
    eng.seed(spark.createDataFrame(seeds_pd, schemas.SEEDS))
    m1 = eng.run_round(1)
    assert m1["scheduled"] > 0
    # corrupt the arithmetic (the ADVICE r05 #1 failure class: a delete
    # tuple matching several rows under a non-unique key)
    eng._frontier_rows = eng.frontier_rows() + 13
    with pytest.warns(UserWarning, match="arithmetic drift"):
        out = eng.crawl(6, start_round=2)
    # converged: tracked == exact, and the crawl ran to quiescence
    assert eng.frontier_rows() == eng.frontier.read().count()
    assert out, "crawl ran no rounds"


def test_dispatch_rules_agree(spark):
    """The engine's JVM dispatch (callback_kind_col) and the simulator's
    reference (synth.callback_kind_for) pick the same parser for every
    corpus URL and for the edge cases their rule order exists for."""
    from board_game_scraper_spark.plans.crawl import callback_kind_col

    urls = set(synth.corpus()[1].url_canon)
    for pages in (synth.extended_corpus(), synth.rankings_corpus(),
                  synth.dbpedia_corpus()):
        urls |= set(pages.url_canon)
    urls |= {
        "https://boardgamegeek.com/geeklist/66420/bgg-top50-2010",
        "https://www.example.com/top50.htm",
        synth.canonicalize_one(synth.dbpedia_game_url(3)),
        "https://www.luding.org/robots.txt",
        "https://gesellschaftsspiele.spielen.de/robots.txt",
    }
    df = spark.createDataFrame([(u,) for u in sorted(urls)], "u string")
    got = {r["u"]: r["k"] for r in df.select(
        "u", callback_kind_col(F.col("u")).alias("k")).collect()}
    assert got == {u: synth.callback_kind_for(u) for u in urls}
    # a robots.txt is read by the robots stage, never by a page parser
    assert {got["https://www.luding.org/robots.txt"],
            got["https://gesellschaftsspiele.spielen.de/robots.txt"]} == {
        "unknown"}
    assert {"bgg_geeklist", "unknown", "dbpedia_game",
            "luding_game"} <= set(got.values())


def test_seed_releases_its_cached_rows(spark, tmp_path):
    """seed() caches its rows for the seen + frontier writes and drops
    that cache before it returns."""
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    eng = make_engine(spark, pages_pd, tmp_path / "sd")
    sc = spark.sparkContext
    persisted = lambda: sc._jsc.getPersistentRDDs().size()  # a snapshot
    before = persisted()
    seed_one(spark, eng)
    assert persisted() == before


def test_seed_tie_keeps_least_raw_url(spark, tmp_path):
    """Two raw seeds with one canonical URL and equal priority: the
    frontier stores the least raw url, whatever the input order."""
    a = "https://boardgamegeek.com/xmlapi2/thing?stats=1&id=13"
    b = "https://boardgamegeek.com/xmlapi2/thing?id=13&stats=1"
    _, pages_pd = synth.corpus(n_browse=3, n_users=5, n_other=3)
    for i, order in enumerate(([a, b], [b, a])):
        eng = make_engine(spark, pages_pd, tmp_path / f"tie{i}")
        eng.seed(spark.createDataFrame(pd.DataFrame(
            {"url": order, "source": "bgg", "priority": 0}), schemas.SEEDS))
        assert [r["url"] for r in eng.frontier.read().collect()] == [b]
