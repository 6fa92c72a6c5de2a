"""Golden end-to-end: Spark pipeline vs single-node oracle on the
synthetic corpus (SURVEY.md §5.2) — identical dictionary (term, df,
cf, idf), doc stats, and rank-identical top-k with BM25 scores to
1e-9, honoring quirks Q2-Q4 as documented."""

import math
import uuid

import pytest
from pyspark.sql import functions as F

from search_engine_spark.fixtures import REFERENCE_QUERIES, STOP_WORDS, make_pages
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.searcher import SearchEngine

N_DOCS = 300


@pytest.fixture(scope="session")
def oracle():
    ix = OracleIndex(frozenset(STOP_WORDS), stem=True)
    ix.build(make_pages(N_DOCS, seed=42))
    return ix


def test_dictionary_matches_oracle(spark, built_index, oracle):
    out, cfg, meta = built_index
    rows = spark.read.parquet(f"{out}/dictionary").collect()
    got = {r["term_key"]: (r["df"], r["cf"], r["display"], r["capital"]) for r in rows}
    want = {k: (e.df, e.cf, e.display, e.capital) for k, e in oracle.dictionary.items()}
    assert got == want
    for r in rows:
        assert math.isclose(r["idf"], math.log2(N_DOCS / r["df"]), rel_tol=1e-12)


def test_doc_stats_match_oracle(spark, built_index, oracle):
    out, cfg, meta = built_index
    rows = spark.read.parquet(f"{out}/doc_stats").collect()
    got = {r["url"]: (r["length"], r["max_tf"], r["unique_terms"]) for r in rows}
    want = {u: (s.length, s.max_tf, s.unique_terms) for u, s in oracle.doc_stats.items()}
    assert got == want
    assert meta["n_docs"] == N_DOCS
    assert math.isclose(meta["avgdl"], oracle.avgdl, rel_tol=1e-12)
    # local ids are url-ordered and dense within each shard
    import collections

    by_shard = collections.defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append((r["local_id"], r["url"]))
    for shard, pairs in by_shard.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, len(pairs) + 1))
        urls = [p[1] for p in pairs]
        assert urls == sorted(urls)


def test_topk_rank_identical(spark, built_index, oracle):
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    for qid, title, desc in REFERENCE_QUERIES:
        q = title + ("@" + desc if desc else "")
        got = [(r["url"], r["score"]) for r in eng.search(q, 20).collect()]
        want = oracle.search(q, 20)
        assert [u for u, _ in got] == [u for u, _ in want], f"{qid}: doc order differs"
        for (gu, gs), (wu, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, f"{qid}: score {gu} {gs} != {ws}"


def test_batch_matches_single(spark, built_index):
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    queries = [(qid, t + ("@" + d if d else "")) for qid, t, d in REFERENCE_QUERIES[:6]]
    batch = eng.search_batch(queries, 10).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for qid, q in queries:
        single = [(r["rank"], r["url"], r["score"]) for r in eng.search(q, 10).collect()]
        got = sorted(by_qid.get(qid, []))
        assert [(u, round(s, 9)) for _, u, s in got] == [
            (u, round(s, 9)) for _, u, s in single
        ], qid


def test_empty_and_miss_queries(spark, built_index):
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    assert eng.search("the of and", 10).count() == 0
    assert eng.search("zzzunknownterm", 10).count() == 0


def _jobs_run_by(spark, fn) -> int:
    """The Spark jobs ``fn()`` starts, read from the status tracker
    under a job group of their own."""
    sc = spark.sparkContext
    gid = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_empty_results_run_no_spark_job(spark, built_index):
    """A stop-word-only query returns its empty frame with no Spark
    job, on the single, batch and WAND paths alike."""
    from search_engine_spark import wand

    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    assert _jobs_run_by(spark, lambda: eng.search("world trade", 10).collect()) > 0
    assert _jobs_run_by(spark, lambda: eng.search("the of and", 10).collect()) == 0
    assert _jobs_run_by(
        spark, lambda: eng.search_batch([("q", "the of and")], 10).collect()) == 0
    assert _jobs_run_by(
        spark, lambda: wand.wand_search(eng, "the of and", 10).collect()) == 0
    assert _jobs_run_by(
        spark, lambda: wand.wand_search_batch(eng, [("q", "the")], 10).collect()) == 0


def test_index_is_compressed_binary(spark, built_index):
    out, cfg, meta = built_index
    ix = spark.read.parquet(f"{out}/index")
    row = ix.filter(F.col("n") > 5).first()
    assert row is not None
    # postings bytes are a fraction of a text encoding
    assert len(bytes(row["doc_ids"])) <= 2 * row["n"] + 9
    from search_engine_spark.codec import delta_decode

    ids = delta_decode(bytes(row["doc_ids"]))
    assert list(ids) == sorted(ids)


def test_pruned_scan_plan(spark, built_index):
    """The query-path index scan must prune partitions (bucket) and
    push the term filter to parquet."""
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    resolved = eng.resolve_terms(eng.parse_query("world trade"))
    scan = eng._scan_index(resolved)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan
    explained = scan._jdf.queryExecution().toString()
    assert "PushedFilters" in explained or "term_key" in explained


def _reference_postings(out: str, resolved, meta: dict):
    """UNPACKED_SCHEMA rows for the resolved terms, decoded one index
    row at a time from a pyarrow read (no Spark, no batch kernel)."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from search_engine_spark.codec import bm25_contribution, unpack_postings

    idf = dict(zip(resolved["term_key"], resolved["idf"].astype(float)))
    rows = pq.read_table(f"{out}/index",
                         filters=[("term_key", "in", sorted(idf))]).to_pylist()
    parts = []
    for row in rows:
        u = unpack_postings(row)
        n = int(row["n"])
        parts.append(pd.DataFrame({
            "term_key": [row["term_key"]] * n,
            "shard": np.full(n, row["shard"], dtype=np.int32),
            "local_id": u["doc_ids"].astype(np.int64),
            "contrib": bm25_contribution(u["tfs"], u["lens"], idf[row["term_key"]],
                                         meta["k1"], meta["b"], meta["avgdl"]),
            "bonus": np.where(u["imps"], 1.2, 1.0),
        }))
    return pd.concat(parts, ignore_index=True)


def _sorted_rows(pdf):
    keys = ["term_key", "shard", "local_id"]
    return pdf.sort_values(keys).reset_index(drop=True)[keys + ["contrib", "bonus"]]


def test_postings_bit_identical_to_per_row_decode(spark, built_index):
    """The batch-decoded, scored posting rows of a query equal a
    one-row-at-a-time decode exactly (==, not a tolerance), and a
    tombstone overlay removes exactly the deleted docs' rows."""
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    keys = eng.parse_query("world trade")
    want = _sorted_rows(_reference_postings(out, eng.resolve_terms(keys), eng.meta))
    got = _sorted_rows(eng._postings(keys).toPandas())
    assert len(got) == len(want) > 0
    assert (got == want).all().all()
    assert eng._postings(eng.parse_query("the and of")) is None

    victims = [r["url"] for r in eng.search("world trade", 3).collect()]
    gone = {(r["shard"], r["local_id"])
            for r in eng._doc_map().filter(F.col("url").isin(victims)).collect()}
    assert len(gone) == len(victims) == 3
    dead = SearchEngine(spark, out, cfg, deleted_urls=victims)
    got_dead = _sorted_rows(dead._postings(keys).toPandas())
    hit = [(s, i) in gone for s, i in zip(want["shard"], want["local_id"])]
    want_dead = want[[not h for h in hit]].reset_index(drop=True)
    assert sum(hit) >= len(gone)
    assert (got_dead == want_dead).all().all()


def test_boolean_search_semantics(spark, built_index):
    """Lucene-BooleanQuery contract on the packed index: should-only
    ranks identically to search(); MUST results all contain every
    must term and none contain a must_not term (membership checked
    against the engine's own pre-pack postings); the boolean ranking
    equals the plain search over must+should terms restricted to the
    gate sets; a must term missing from the dictionary and a
    stop-word-only query both return empty."""
    from search_engine_spark import twin as TW

    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)

    q = "water river flood"
    got = [(r["url"], round(r["score"], 9))
           for r in eng.boolean_search(should=q, k=15).collect()]
    want = [(r["url"], round(r["score"], 9))
            for r in eng.search(q, 15).collect()]
    assert got == want and got

    raw = TW.raw_postings(spark, eng)

    def docs_with(word: str) -> set[str]:
        keys = eng.parse_query(word)
        return {
            r["url"]
            for r in raw.filter(F.col("term_key").isin(keys))
            .select("url").distinct().collect()
        }

    res = [(r["url"], round(r["score"], 9))
           for r in eng.boolean_search(must="nation",
                                       should="policy report",
                                       must_not="growth", k=50).collect()]
    assert res
    with_must, with_not = docs_with("nation"), docs_with("growth")
    assert all(u in with_must for u, _ in res)
    assert all(u not in with_not for u, _ in res)

    comb = eng.search("nation policy report", N_DOCS).collect()
    expect = [(r["url"], round(r["score"], 9)) for r in comb
              if r["url"] in with_must and r["url"] not in with_not][:50]
    assert res == expect

    assert eng.boolean_search(must="zzqzzq", should="policy", k=5).count() == 0
    assert eng.boolean_search(should="the of and", k=5).count() == 0


def test_boolean_min_should_match(spark, built_index):
    """setMinimumNumberShouldMatch contract: msm results are exactly
    the plain should-only ranking restricted to docs carrying >= m
    distinct should terms (membership from the engine's own pre-pack
    postings); msm=0 is the unchanged should query; a threshold above
    the resolvable should-term count is unsatisfiable (empty)."""
    from search_engine_spark import twin as TW

    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    q = "nation policy report"
    keys = eng.parse_query(q)
    raw = TW.raw_postings(spark, eng)
    per_doc = {
        r["url"]: r["ns"]
        for r in raw.filter(F.col("term_key").isin(keys))
        .groupBy("url").agg(F.countDistinct("term_key").alias("ns"))
        .collect()
    }

    base = [(r["url"], round(r["score"], 9))
            for r in eng.boolean_search(should=q, k=N_DOCS).collect()]
    for m in (2, 3):
        got = [(r["url"], round(r["score"], 9))
               for r in eng.boolean_search(should=q, k=N_DOCS,
                                           min_should_match=m).collect()]
        expect = [(u, s) for u, s in base if per_doc.get(u, 0) >= m]
        assert got == expect
    assert [x[:1] for x in base] == [
        (r["url"],) for r in eng.boolean_search(
            should=q, k=N_DOCS, min_should_match=0).collect()]
    # more required matches than should clauses -> unsatisfiable
    assert eng.boolean_search(should=q, k=5, min_should_match=4).count() == 0
    # msm=2 must actually prune something on this corpus
    assert any(v < 2 for v in per_doc.values())


def test_search_after_keyset_paging(spark, built_index):
    """searchAfter contract: chaining url-only cursors walks the
    SAME total order as one deep top-k — no row duplicated, none
    skipped, page-local ranks — and an off-query cursor url (never on
    any result page) yields the empty page."""
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    q = "nation policy report"
    deep = [(r["url"], round(r["score"], 9))
            for r in eng.search(q, k=30).collect()]
    assert len(deep) == 30

    walked, cursor = [], None
    for page_no in range(3):
        if page_no == 0:
            rows = eng.search(q, k=10).collect()
        else:
            rows = eng.search_after(q, cursor, k=10).collect()
        assert [r["rank"] for r in rows] == list(range(1, 11))
        walked += [(r["url"], round(r["score"], 9)) for r in rows]
        cursor = rows[-1]["url"]
    assert walked == deep

    # cursor at rank 30 -> exactly the ranks-31..40 slice of a deep cut
    tail = eng.search_after(q, deep[-1][0], k=10).collect()
    rest = [r["url"] for r in eng.search(q, k=40).collect()[30:40]]
    assert [r["url"] for r in tail] == rest
    # a url that never matched the query is not a valid cursor
    assert eng.search_after(q, "zz://nowhere", k=10).count() == 0


def test_search_filtered_context(spark, built_index):
    """Filter-context contract: filtered top-k = the unfiltered deep
    ranking restricted to the allowed set (dense re-ranks, SCORES
    UNCHANGED — the filter constrains matching, never idf/avgdl);
    an empty allowed set yields the empty page."""
    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    q = "nation policy report"
    deep = [(r["url"], round(r["score"], 9))
            for r in eng.search(q, k=N_DOCS).collect()]
    allowed_urls = sorted({u for u, _ in deep})[::2]  # every other url
    allowed = spark.createDataFrame([(u,) for u in allowed_urls], "url string")

    got = [(r["url"], round(r["score"], 9), r["rank"])
           for r in eng.search_filtered(q, allowed, k=15).collect()]
    want = [(u, s) for u, s in deep if u in set(allowed_urls)][:15]
    assert got == [(u, s, i + 1) for i, (u, s) in enumerate(want)]

    empty = allowed.limit(0)
    assert eng.search_filtered(q, empty, k=5).count() == 0


def test_search_sorted_by_field(spark, built_index):
    """Sort-by-field contract: the page is the MATCHING set (>= 1
    query term, same candidate rule as facets) ordered by the
    caller's key — relevance plays no part; ascending flips the
    page; an unknown query yields the empty frame; ties break
    url asc."""
    from pyspark.sql import functions as F

    from search_engine_spark.twin import twin_sorted_topk

    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    q = "nation policy report"
    # deterministic keys with deliberate TIES: url length
    pages_urls = eng._doc_map().select("url")
    keys = pages_urls.select(
        "url", F.length("url").cast("long").alias("sort_key"))

    got = [(r["url"], r["sort_key"], r["rank"])
           for r in eng.search_sorted(q, keys, 12).collect()]
    want = [(r["url"], r["sort_key"], r["rank"])
            for r in twin_sorted_topk(spark, eng, q, keys, 12).collect()]
    assert got == want and len(got) == 12
    # descending by key, ties url asc
    ks = [k for _, k, _ in got]
    assert ks == sorted(ks, reverse=True)
    for (u1, k1, _), (u2, k2, _) in zip(got, got[1:]):
        if k1 == k2:
            assert u1 < u2

    asc = [(r["url"], r["sort_key"])
           for r in eng.search_sorted(q, keys, 12, descending=False).collect()]
    ka = [k for _, k in asc]
    assert ka == sorted(ka)

    assert eng.search_sorted("zzzunknownterm", keys, 5).count() == 0
