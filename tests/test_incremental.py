"""Segment-based incremental ingest ≡ full rebuild (incremental.py).

The invariant: build(A) + add_documents(B1) + add_documents(B2) must
answer every query exactly as build(A ∪ B1 ∪ B2) — same urls, same
scores — while having packed only the deltas.  WAND must stay
rank-identical on the segmented index (its baked bounds are stale and
re-bounded by dictionary.bound_scale).  compact_index then collapses
the segments back to one row per (term, shard) without changing any
answer.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.fixtures import REFERENCE_QUERIES
from search_engine_spark.incremental import add_documents, compact_index
from search_engine_spark.indexer import IndexPaths, build_index
from search_engine_spark.searcher import SearchEngine
from search_engine_spark.wand import wand_search

QUERIES = [t + ("@" + d if d else "") for _, t, d in REFERENCE_QUERIES[:8]]


@pytest.fixture(scope="module")
def inc_index(spark, fixture_pages_parquet, tmp_path_factory):
    """Index built over ~1/3 of the fixture corpus, then grown to the
    full corpus through two add_documents segments."""
    cfg = EngineConfig(n_doc_shards=8, n_term_buckets=8, n_bucket_groups=4)
    out = str(tmp_path_factory.mktemp("inc_index"))
    pages = spark.read.parquet(fixture_pages_parquet)
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    build_index(spark, pages.filter(part == 0), out, cfg)
    add_documents(spark, pages.filter(part == 1), out, cfg)
    add_documents(spark, pages.filter(part == 2), out, cfg)
    return out, cfg


def _top(df):
    return [(r["url"], r["score"]) for r in df.collect()]


def _schemas(spark, out):
    paths = IndexPaths(out)
    return {t: spark.read.parquet(getattr(paths, t)).schema
            for t in ("dictionary", "doc_stats", "entities")}


def _bound_scales(spark, out):
    return {r["bound_scale"] for r in
            spark.read.parquet(IndexPaths(out).dictionary)
            .select("bound_scale").distinct().collect()}


def test_meta_matches_full_build(spark, built_index, inc_index):
    _, _, full_meta = built_index
    out, _ = inc_index
    with open(IndexPaths(out).meta) as fh:
        meta = json.load(fh)
    assert meta["n_docs"] == full_meta["n_docs"]
    assert abs(meta["avgdl"] - full_meta["avgdl"]) < 1e-9


def test_dictionary_merge_is_exact(spark, built_index, inc_index):
    full_out, _, _ = built_index
    inc_out, _ = inc_index
    cols = ["term_key", "df", "cf", "capital", "display"]
    full = {r["term_key"]: r for r in
            spark.read.parquet(IndexPaths(full_out).dictionary).select(*cols, "idf").collect()}
    inc = {r["term_key"]: r for r in
           spark.read.parquet(IndexPaths(inc_out).dictionary).select(*cols, "idf").collect()}
    assert set(full) == set(inc)
    for key, fr in full.items():
        ir = inc[key]
        assert tuple(fr[c] for c in cols) == tuple(ir[c] for c in cols), key
        assert abs(fr["idf"] - ir["idf"]) < 1e-9, key


def test_fresh_build_bounds_are_exact(spark, built_index):
    """A fresh build stamps every dictionary row with bound_scale 1.0:
    its baked WAND bounds are tight."""
    full_out, _, _ = built_index
    assert _bound_scales(spark, full_out) == {1.0}


def test_appended_tables_keep_the_build_schema(spark, built_index, inc_index):
    """One table schema: segment appends write the dictionary,
    doc_stats and entities with exactly the build's columns."""
    full_out, _, _ = built_index
    inc_out, _ = inc_index
    assert _schemas(spark, inc_out) == _schemas(spark, full_out)


def test_index_actually_has_segments(spark, inc_index):
    out, _ = inc_index
    seg_rows = (
        spark.read.parquet(IndexPaths(out).index)
        .groupBy("term_key", "shard").count().filter(F.col("count") > 1).count()
    )
    assert seg_rows > 0, "expected multi-segment (term, shard) rows"


def test_search_identical_to_full_rebuild(spark, built_index, inc_index):
    full_out, full_cfg, _ = built_index
    inc_out, cfg = inc_index
    full_eng = SearchEngine(spark, full_out, full_cfg)
    inc_eng = SearchEngine(spark, inc_out, cfg)
    for q in QUERIES:
        full = _top(full_eng.search(q, 20))
        inc = _top(inc_eng.search(q, 20))
        assert [u for u, _ in full] == [u for u, _ in inc], q
        for (_, fs), (_, is_) in zip(full, inc):
            assert abs(fs - is_) < 1e-9, q


def test_wand_rank_identical_on_segments(spark, inc_index):
    out, cfg = inc_index
    eng = SearchEngine(spark, out, cfg)
    scales = [r["bound_scale"] for r in
              spark.read.parquet(IndexPaths(out).dictionary)
              .select("bound_scale").collect()]
    assert all(s >= 1.0 for s in scales)
    assert any(s > 1.0 for s in scales), "adds must have inflated some bound"
    for q in QUERIES:
        exact = _top(eng.search(q, 20))
        wand = _top(wand_search(eng, q, 20))
        assert [u for u, _ in exact] == [u for u, _ in wand], q
        for (_, es), (_, ws) in zip(exact, wand):
            assert abs(es - ws) < 1e-9, q


def test_entities_match_full_build(spark, built_index, inc_index):
    full_out, full_cfg, _ = built_index
    inc_out, cfg = inc_index
    full_eng = SearchEngine(spark, full_out, full_cfg)
    inc_eng = SearchEngine(spark, inc_out, cfg)
    urls = [r["url"] for r in
            spark.read.parquet(IndexPaths(inc_out).doc_stats)
            .orderBy("url").limit(5).collect()]
    f = {(r["url"], r["rank"]): (r["term"], r["score"])
         for r in full_eng.entities_top5(urls).collect()}
    i = {(r["url"], r["rank"]): (r["term"], r["score"])
         for r in inc_eng.entities_top5(urls).collect()}
    assert f == i


def test_layout_mismatch_rejected(spark, fixture_pages_parquet, inc_index):
    out, _ = inc_index
    pages = spark.read.parquet(fixture_pages_parquet).limit(1)
    with pytest.raises(ValueError, match="layout"):
        add_documents(spark, pages, out, EngineConfig(n_doc_shards=4))


def test_duplicate_url_rejected_before_publish(spark, fixture_pages_parquet, inc_index):
    """Re-adding an indexed url must fail BEFORE any raw publish — a
    second (shard, local_id) for the same url would double-count it."""
    out, cfg = inc_index
    pages = spark.read.parquet(fixture_pages_parquet)
    seg_files_before = sorted(
        fn for _, _, fs in os.walk(IndexPaths(out).postings_raw) for fn in fs)
    with pytest.raises(ValueError, match="already indexed"):
        add_documents(spark, pages.limit(3), out, cfg)
    seg_files_after = sorted(
        fn for _, _, fs in os.walk(IndexPaths(out).postings_raw) for fn in fs)
    assert seg_files_before == seg_files_after


def test_duplicate_url_within_delta_rejected(spark, fixture_pages_parquet, inc_index):
    """A url appearing twice INSIDE one delta would collapse to one
    doc_stats row while its postings/df count twice — rejected before
    any publish."""
    out, cfg = inc_index
    one = (spark.read.parquet(fixture_pages_parquet).limit(1)
           .withColumn("url", F.lit("dup://same")))
    with pytest.raises(ValueError, match="WITHIN the delta"):
        add_documents(spark, one.unionByName(one), out, cfg)


def test_keep_positions_mismatch_rejected(spark, fixture_pages_parquet, inc_index):
    """A keep_positions mismatch must fail the UP-FRONT layout check —
    failing later (at pack) would leave doc_stats/dictionary already
    mutated with no postings behind them."""
    out, _ = inc_index
    pages = (spark.read.parquet(fixture_pages_parquet).limit(1)
             .withColumn("url", F.lit("new://kp")))
    with pytest.raises(ValueError, match="keep_positions.*layout"):
        add_documents(spark, pages, out,
                      EngineConfig(n_doc_shards=8, n_term_buckets=8,
                                   n_bucket_groups=4, keep_positions=True))


def test_pending_marker_blocks_readers_and_appends(spark, fixture_pages_parquet, inc_index):
    """A crashed append leaves the pending_segment marker: readers and
    further appends must refuse (the derived tables may be torn), and
    the guard fires before any raw publish."""
    from search_engine_spark.incremental import pending_segment_marker

    out, cfg = inc_index
    marker = pending_segment_marker(IndexPaths(out))
    with open(marker, "w") as fh:
        fh.write("99")
    try:
        with pytest.raises(RuntimeError, match="pending_segment"):
            SearchEngine(spark, out, cfg)
        pages = (spark.read.parquet(fixture_pages_parquet).limit(1)
                 .withColumn("url", F.lit("new://pending")))
        seg_before = sorted(
            fn for _, _, fs in os.walk(IndexPaths(out).postings_raw) for fn in fs)
        with pytest.raises(RuntimeError, match="pending_segment"):
            add_documents(spark, pages, out, cfg)
        assert seg_before == sorted(
            fn for _, _, fs in os.walk(IndexPaths(out).postings_raw) for fn in fs)
    finally:
        os.remove(marker)
    SearchEngine(spark, out, cfg)   # clean again


# -- compaction (mutates inc_index: keep these LAST in the module) ----------

def test_compact_collapses_segments_and_keeps_answers(
        spark, built_index, inc_index):
    full_out, full_cfg, _ = built_index
    inc_out, cfg = inc_index
    full_eng = SearchEngine(spark, full_out, full_cfg)
    before = {q: _top(SearchEngine(spark, inc_out, cfg).search(q, 20))
              for q in QUERIES}
    compact_index(spark, inc_out, cfg)
    eng = SearchEngine(spark, inc_out, cfg)
    multi = (
        spark.read.parquet(IndexPaths(inc_out).index)
        .groupBy("term_key", "shard").count().filter(F.col("count") > 1).count()
    )
    assert multi == 0, "compaction must leave one row per (term, shard)"
    # the bounds are tight again, and the tables keep the one schema
    assert _bound_scales(spark, inc_out) == {1.0}
    assert _schemas(spark, inc_out) == _schemas(spark, full_out)
    for q in QUERIES:
        got = _top(eng.search(q, 20))
        assert [u for u, _ in got] == [u for u, _ in before[q]], q
        full = _top(full_eng.search(q, 20))
        assert [u for u, _ in got] == [u for u, _ in full], q
        wand = _top(wand_search(eng, q, 20))
        assert [u for u, _ in got] == [u for u, _ in wand], q
