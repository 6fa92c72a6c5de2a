"""Round-3 tests: the post-limit rank step, packed-engine ≡
plain-twin equivalence rows, the max_hamming-derived SimHash candidate
scheme, and city-tag reachability."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import dedup as D
from search_engine_spark.searcher import topk

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# rank step: searcher.topk — row_number over the orderBy().limit(k) cut,
# one execution

def test_rank_step_matches_reference(spark):
    df = spark.range(500).repartition(8).select(
        (F.col("id") % 83).alias("v"), F.col("id").alias("k")
    )
    out = topk(df, 12, (F.desc("v"), F.asc("k")))
    want = sorted(((i % 83), i) for i in range(500))
    want = sorted(want, key=lambda t: (-t[0], t[1]))[:12]
    # unsorted: collect() order must already be rank order
    rows = [(r["rank"], r["v"], r["k"]) for r in out.collect()]
    assert rows == [(i + 1, v, k) for i, (v, k) in enumerate(want)]
    assert out.dtypes[-1] == ("rank", "int")


def test_rank_step_ties_on_nonfinal_keys(spark):
    # equal primary keys must resolve by the unique tie-break
    df = spark.createDataFrame(
        [(5, "b"), (5, "a"), (3, "c")], "v long, k string"
    )
    out = {r["k"]: r["rank"]
           for r in topk(df, 3, (F.desc("v"), F.asc("k"))).collect()}
    assert out == {"a": 1, "b": 2, "c": 3}


def test_rank_step_collect_order_is_rank_order(spark, built_index):
    """search() rows come back in rank order, with no re-sort after
    the window."""
    from search_engine_spark.searcher import SearchEngine

    out_dir, cfg, _ = built_index
    rows = SearchEngine(spark, out_dir, cfg).search("world trade", 10).collect()
    assert rows and [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert [(-r["score"], r["url"]) for r in rows] == sorted(
        (-r["score"], r["url"]) for r in rows)


# ---------------------------------------------------------------------------
# packed engine ≡ plain twin (the driver's former no_oracle rows)

@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as E

    return E


@pytest.mark.parametrize("name,n_expected", [
    ("search_bm25_topk", 20),
    ("search_wand_topk", 20),
    ("search_batch", 20),
    ("search_city_filtered", 20),
    ("search_phrase", 20),
    ("ir_search_eval", 2),   # run->eval loop: one all-true row per qid
    ("search_facets", 5),    # one all-true row per language facet
])
def test_equivalence_rows_all_true(spark, entry_mod, name, n_expected):
    rows = entry_mod.queries()[name](spark, SF_001).collect()
    assert len(rows) == n_expected, name
    for r in rows:
        d = r.asDict()
        for col, val in d.items():
            if col.endswith("_match"):
                assert val is True, (name, d)


# ---------------------------------------------------------------------------
# SimHash: the max_hamming-derived combo scheme emits exactly the
# legacy banded scheme's verified pairs (both have full recall)

def _docs(spark):
    return spark.read.parquet(os.path.join(SF_001, "documents.parquet"))


@pytest.mark.parametrize("h,legacy_bands", [(1, 2), (2, 4), (3, 4)])
def test_simhash_combo_equals_legacy(spark, h, legacy_bands):
    docs = _docs(spark)
    combo = {(r["doc_a"], r["doc_b"], r["hamming"])
             for r in D.simhash_near_pairs(docs, max_hamming=h).collect()}
    legacy = {(r["doc_a"], r["doc_b"], r["hamming"])
              for r in D.simhash_near_pairs(docs, max_hamming=h,
                                            n_bands=legacy_bands).collect()}
    assert combo == legacy


def test_simhash_exactly_once_no_duplicate_pairs(spark):
    docs = _docs(spark)
    out = D.simhash_near_pairs(docs, max_hamming=3)
    total = out.count()
    distinct = out.select("doc_a", "doc_b").distinct().count()
    assert total == distinct


# ---------------------------------------------------------------------------
# city tags: every city in the dim must be reachable (the old
# single-hash pick made half the dim unreachable: h%4==0 => h%6 even)

def test_make_city_docs_reaches_every_city(spark):
    from search_engine_spark.operators.cities import _DEMO_CITIES, make_city_docs
    from search_engine_spark.sources.pages import load_documents_as_pages

    pages = load_documents_as_pages(spark, SF_001)
    got = {r["city"] for r in make_city_docs(pages).select("city").distinct().collect()}
    assert got == {c[0] for c in _DEMO_CITIES}


# ---------------------------------------------------------------------------
# scoped shingle persist: same corpus -> same frame object; a new
# corpus evicts (and unpersists) the oldest entry

def test_shared_shingles_scoped_cache(spark):
    D.clear_shingle_cache()
    docs1 = _docs(spark)
    sh1 = D._shared_shingles(docs1, 3)
    assert D._shared_shingles(_docs(spark), 3) is sh1  # same plan -> same object
    corpora = [
        spark.createDataFrame([(i, f"a b c d {i}")], "doc_id long, text string")
        for i in range(3)
    ]
    for c in corpora:
        D._shared_shingles(c, 3)
    assert len(D._SHINGLE_CACHE) <= D._SHINGLE_CACHE_MAX
    assert sh1.storageLevel.useMemory is False  # evicted entry unpersisted
    D.clear_shingle_cache()
    assert not D._SHINGLE_CACHE


# ---------------------------------------------------------------------------
# real media decode (optional PIL)

def test_decode_media_real_requires_pil_or_works(spark):
    from search_engine_spark.operators import multimodal as MM

    media = MM.make_media_table(spark, n=6)
    if not MM._have_pil():
        with pytest.raises(NotImplementedError):
            MM.decode_media(media, fake_decode=False)
        pytest.skip("PIL not installed in this container")
    # random bytes are not decodable images -> null features, no crash
    rows = MM.decode_media(media, fake_decode=False).collect()
    assert len(rows) == 6
    assert all(r["features"] is None for r in rows)


@pytest.mark.skipif(
    not __import__("importlib.util", fromlist=["util"]).find_spec("PIL"),
    reason="PIL not installed in this container",
)
def test_decode_media_real_image_histogram(spark):
    import io

    from PIL import Image

    from search_engine_spark.operators import multimodal as MM

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=200).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()), 8, 8, 0, "png")],
        MM.MEDIA_SCHEMA,
    )
    row = MM.decode_media(media, fake_decode=False).collect()[0]
    feats = row["features"]
    assert abs(sum(feats) - 1.0) < 1e-6
    assert feats[200 // 16] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# webquality: Gopher stats/flags, stratified sampling, source rollup

def test_gopher_stats_handcrafted(spark):
    from search_engine_spark.operators import webquality as WQ

    docs = spark.createDataFrame(
        [
            (1, "the cat the cat sat"),          # 5 words, top 'the'/'cat'=2, top bigram 'the cat'=2
            (2, "one"),                           # single word -> no bigrams
            (3, "a b c d"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in WQ.gopher_stats(docs).collect()}
    assert got[1]["n_words"] == 5 and got[1]["n_distinct"] == 3
    assert got[1]["top_word"] == 2 and got[1]["n_bigrams"] == 4
    assert got[1]["top_bigram"] == 2            # 'the cat' twice
    assert got[1]["tok_chars"] == 3 + 3 + 3 + 3 + 3
    assert got[1]["n_stop"] == 1                 # only 'the' is a stop word
    assert got[2] == {"doc_id": 2, "n_words": 1, "n_distinct": 1, "top_word": 1,
                      "n_bigrams": 0, "top_bigram": 0, "tok_chars": 3, "n_stop": 0}
    assert got[3]["n_stop"] == 1                 # 'a'


def test_gopher_stats_plan_is_map_only(spark):
    from search_engine_spark.operators import webquality as WQ

    docs = spark.read.parquet(os.path.join(SF_001, "documents.parquet"))
    plan = WQ.gopher_quality(docs)._jdf.queryExecution().executedPlan().toString()
    # one Arrow pass, no shuffle: flags are codegen over the kernel output
    assert "Exchange hashpartitioning" not in plan


def test_gopher_flags_non_degenerate(spark):
    from search_engine_spark.operators import webquality as WQ

    docs = spark.read.parquet(os.path.join(SF_001, "documents.parquet"))
    rows = WQ.gopher_quality(docs).collect()
    n_pass = sum(r["ok_words"] for r in rows)
    assert 0 < n_pass < len(rows)               # the word-count band splits the corpus


def test_sample_stratified_deterministic_and_rated(spark):
    from search_engine_spark.operators import webquality as WQ

    docs = spark.read.parquet(os.path.join(SF_001, "documents.parquet")) \
        .select("doc_id", "lang", "source")
    rates = {"en": 0.5, "de": 0.0}
    a = {r["doc_id"] for r in WQ.sample_stratified(docs, rates, salt="s").collect()}
    b = {r["doc_id"] for r in WQ.sample_stratified(docs, rates, salt="s").collect()}
    assert a == b and a                          # deterministic, non-empty
    c = {r["doc_id"] for r in WQ.sample_stratified(docs, rates, salt="t").collect()}
    assert a != c                                # salt changes the cut
    kept = WQ.sample_stratified(docs, rates, salt="s")
    assert kept.filter(F.col("lang") == "de").count() == 0       # rate 0 strata drop
    n_en = docs.filter(F.col("lang") == "en").count()
    k_en = kept.filter(F.col("lang") == "en").count()
    assert abs(k_en / n_en - 0.5) < 0.25         # ~rate at small n


def test_unigram_surprisal_handcrafted(spark):
    import math

    from search_engine_spark.operators import webquality as WQ

    # corpus LM: cf(a)=3, cf(b)=2, cf(c)=1, total=6
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in WQ.unigram_surprisal(docs).collect()}
    s1 = (2 * -math.log2(3 / 6) + 1 * -math.log2(2 / 6)) / 3
    s2 = (-math.log2(3 / 6) - math.log2(2 / 6) - math.log2(1 / 6)) / 3
    assert abs(out[1]["s_raw"] - s1) < 1e-12 and out[1]["n_tokens"] == 3
    assert abs(out[2]["s_raw"] - s2) < 1e-12
    assert out[1]["s_raw"] < out[2]["s_raw"]    # rarer tokens -> higher surprisal


def test_surprisal_buckets_non_degenerate_and_exact_grid(spark):
    from search_engine_spark.operators import webquality as WQ

    docs = spark.read.parquet(os.path.join(SF_001, "documents.parquet"))
    rows = WQ.surprisal_buckets(docs).collect()
    assert len(rows) == docs.count()
    buckets = {r["bucket"] for r in rows}
    assert "middle" in buckets and buckets <= {"head", "middle", "tail"}
    # surprisal sits exactly on the 1e-6 micro grid (integer division)
    for r in rows[:20]:
        assert abs(r["surprisal"] * 1_000_000 - round(r["surprisal"] * 1_000_000)) < 1e-6


def test_source_rollup_totals(spark):
    from search_engine_spark.operators import webquality as WQ

    docs = spark.read.parquet(os.path.join(SF_001, "documents.parquet"))
    roll = WQ.source_rollup(docs).collect()
    assert sum(r["n_docs"] for r in roll) == docs.count()
    assert all(0.0 <= r["avg_quality"] <= 1.0 for r in roll)
