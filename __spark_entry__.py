"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``      — flagship: full inverted-index build + batch
                        BM25 search over the sf0.001 documents table
                        mapped onto the BASELINE ``pages`` shape.
``queries()``         — one callable per implemented operator from
                        SURVEY.md §2 (plus the training-data-pipeline
                        operators: dedup / similarity / text analysis
                        / multimodal).
``oracle_sql()``      — exact DuckDB ANSI-SQL twins for EVERY query.
                        SQL-expressible paths are recomputed by
                        DuckDB outright; the packed-engine paths
                        (full N1-N15 parser + Porter + codec + WAND)
                        are equivalence rows — the Spark side joins
                        the engine result to an independent
                        plain-postings twin (twin.py) per rank and
                        the oracle states the constant all-match
                        expectation, so the driver hash still fails
                        on any divergence.

Numeric-compare policy: every float aggregate is rounded IN BOTH
ENGINES, at a precision strictly finer than the value grid of the
underlying data (money columns are on a 1e-2 grid -> round 2 is
exact; products of two 2dp values -> round 4; scores -> round 6), so
double-summation order differences can never flip the driver's
value hash.  Integer outputs are cast to BIGINT on both sides
(DuckDB's sum() returns INT128 otherwise).
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from search_engine_spark import aliases as AL
from search_engine_spark.config import EngineConfig
from search_engine_spark.incremental import add_documents
from search_engine_spark.indexer import build_index
from search_engine_spark.operators import classify as CL
from search_engine_spark.operators import collapse as CO
from search_engine_spark.operators import curation as CU
from search_engine_spark.operators import dedup as D
from search_engine_spark.operators import embed as EM
from search_engine_spark.operators import fielded as FLD
from search_engine_spark.operators import graph as GR
from search_engine_spark.operators import hybrid as HY
from search_engine_spark.operators import ireval as IR
from search_engine_spark.operators import kgram as KG
from search_engine_spark.operators import ltr as LTR
from search_engine_spark.operators import mlt as MLT
from search_engine_spark.operators import multimodal as MM
from search_engine_spark.operators import packing as PK
from search_engine_spark.operators import pii as PII
from search_engine_spark.operators import pipelineagg as PA
from search_engine_spark.operators import qcache as QC
from search_engine_spark.operators import similarity as SIM
from search_engine_spark.operators import sketches as SK
from search_engine_spark.operators import snippets as SN
from search_engine_spark.operators import textstats as TS
from search_engine_spark.operators import urls as UR
from search_engine_spark.operators import webquality as WQ
from search_engine_spark import twin as TW
from search_engine_spark.searcher import SearchEngine
from search_engine_spark.sources.pages import extract_text, load_documents_as_pages
from search_engine_spark.wand import wand_search

# ---------------------------------------------------------------------------
# shared helpers

BM25_K1, BM25_B = 1.2, 0.75          # Ranker.java:33 constants
FT_QUERY_TERMS = ("table", "join", "query")
ENGINE_QUERY = "data table row"
# typo-tolerant retrieval: misspellings whose corrections are stable
# across scales ('merge' exact-hits at dist 0, 'qery'→'query' at 1,
# 'tabel'→'table' at 2, 'xqzv' has no candidate within 2 and drops)
FT_FUZZY_TERMS = ("tabel", "qery", "merge", "xqzv")
FUZZY_ENGINE_QUERY = "data tabel qery zzzzqqq"
SESSION_GAP_US = 8 * 3600 * 1_000_000  # 8h session gap (median per-user gap ~7.3h)

_ENTRY_CFG = EngineConfig(n_doc_shards=8, n_term_buckets=8, n_bucket_groups=2,
                          keep_positions=True)
_INDEX_CACHE: dict[str, str] = {}
_INC_CACHE: dict[str, str] = {}
_UPD_CACHE: dict[str, str] = {}
_DBQ_CACHE: dict[str, str] = {}
_ANN_CACHE: dict[str, str] = {}
_MLT_CACHE: dict[str, str] = {}
_SUGGEST_CACHE: dict[str, str] = {}
_RESHARD_CACHE: dict[str, str] = {}
_DEDUPIX_CACHE: dict[str, str] = {}
_ANCHOR_CACHE: dict[str, str] = {}
_AC_CACHE: dict[str, str] = {}
_DOCSTORE_CACHE: dict[str, str] = {}
_TV_CACHE: dict[str, str] = {}
_KGRAM_CACHE: dict[str, str] = {}
_KGRAM_ENG_CACHE: dict[str, str] = {}
_FED_CACHE: dict[str, str] = {}
_ALIAS_CACHE: dict[str, str] = {}

# suggest-box prefixes for the autocomplete rows (typed first letters)
AC_PREFIXES = ("c", "d", "s")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _atomic_publish(out: str, build_into, marker: str = "_DONE") -> str:
    """Build a /tmp artifact cache into a unique scratch dir and
    os.rename it into place — ATOMIC publish, so two concurrent driver
    invocations on the same sf_dir can never observe (or rmtree) a
    half-built directory.  ``build_into(tmp_dir)`` materializes the
    artifact; the marker file is written inside the scratch dir BEFORE
    the rename, so ``out`` either doesn't exist or is complete.  The
    loser of a publish race discards its scratch build and uses the
    winner's."""
    done = os.path.join(out, marker)
    if os.path.exists(done):
        return out
    tmp = f"{out}.build{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    build_into(tmp)
    with open(os.path.join(tmp, marker), "w") as fh:
        fh.write("ok")
    # a partial dir left by a crashed PRE-atomic build (no marker) is
    # garbage — clear it so the rename can land
    if os.path.isdir(out) and not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
    try:
        os.rename(tmp, out)
    except OSError:
        # another process published first; keep theirs
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(done):
            raise
    return out


def _engine_for(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Build (once, cached on disk per sf_dir) the full packed index
    over documents-as-pages, then open a SearchEngine on it."""
    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        # the cfg is part of the cache key: a layout change (e.g.
        # keep_positions) must not be served from a stale /tmp index
        tag = hashlib.md5(f"{key}|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_index_{tag}")
        # ALWAYS enter the resume path — it is a cheap no-op when the
        # lineage table says every stage is done, and it repairs a
        # cache dir left half-built by a killed process (a mere
        # meta.json existence check would serve a partial index
        # forever).
        pages = load_documents_as_pages(spark, key)
        build_index(spark, pages, out, _ENTRY_CFG, resume=True)
        _INDEX_CACHE[key] = out
    return SearchEngine(spark, _INDEX_CACHE[key], _ENTRY_CFG)


def _inc_engine_for(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Segmented twin of :func:`_engine_for`: the SAME corpus, but
    built as build(1/3) + two ``add_documents`` deltas
    (search_engine_spark/incremental.py), leaving multi-segment
    (term, shard) rows and stale-but-rescaled WAND bounds.  Cached on
    disk per sf_dir behind a _DONE marker; a half-built cache (killed
    process) is wiped and rebuilt — unlike build_index's lineage
    resume, a replayed add_documents would double-append doc_stats,
    so partial incremental caches are not resumable."""
    key = os.path.abspath(sf_dir)
    if key not in _INC_CACHE:
        tag = hashlib.md5(f"{key}|inc|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_incix_{tag}")

        def build(tmp: str) -> None:
            pages = load_documents_as_pages(spark, key)
            part = F.pmod(F.xxhash64("url"), F.lit(3))
            build_index(spark, pages.filter(part == 0), tmp, _ENTRY_CFG)
            add_documents(spark, pages.filter(part == 1), tmp, _ENTRY_CFG)
            add_documents(spark, pages.filter(part == 2), tmp, _ENTRY_CFG)

        _INC_CACHE[key] = _atomic_publish(out, build, marker="_SEGMENTS_DONE")
    return SearchEngine(spark, _INC_CACHE[key], _ENTRY_CFG)


RECRAWL_PREFIX = "recrawl fresh revision "


def _upd_engine_for(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Recrawl-superseded twin of :func:`_engine_for`: the same corpus
    built whole, then every 11th url re-crawled with CHANGED text (a
    marker prefix + a 64-char stub of the old body, so the versions
    share terms) through ONE ``update_documents`` call
    (incremental.py) — version tombstones + a replacement segment,
    latest-wins immediately, NO compaction.  Cached on disk per
    sf_dir behind the atomic publish."""
    key = os.path.abspath(sf_dir)
    if key not in _UPD_CACHE:
        tag = hashlib.md5(f"{key}|upd|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_updix_{tag}")

        def build(tmp: str) -> None:
            from search_engine_spark.incremental import update_documents

            pages = load_documents_as_pages(spark, key)
            build_index(spark, pages, tmp, _ENTRY_CFG)
            recrawl = (
                pages.filter(F.pmod(F.xxhash64("url"), F.lit(11)) == 0)
                .withColumn("text", F.concat(
                    F.lit(RECRAWL_PREFIX), F.substring(F.col("text"), 1, 64)))
            )
            update_documents(spark, recrawl, tmp, _ENTRY_CFG)

        _UPD_CACHE[key] = _atomic_publish(out, build, marker="_UPDATED_DONE")
    return SearchEngine(spark, _UPD_CACHE[key], _ENTRY_CFG)


DBQ_QUERY = "vectorized"


def _dbq_engine_for(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Delete-by-query twin of :func:`_engine_for`: the same corpus
    built whole, then ONE ``delete_by_query(DBQ_QUERY)`` call
    (incremental.py) — the ES ``_delete_by_query`` contract: every
    live doc matching >=1 query term is tombstoned at call time,
    through the index's own pruned scan (dictionary lookup -> the
    query terms' posting rows, never a corpus pass).  DBQ_QUERY
    matches ~77% of the synthetic corpus and kills most of
    ENGINE_QUERY's pristine top-10, so the serving rows exercise the
    tombstone mask hard while ENGINE_QUERY keeps a deep live match
    set.  Cached on disk per sf_dir behind the atomic publish."""
    key = os.path.abspath(sf_dir)
    if key not in _DBQ_CACHE:
        tag = hashlib.md5(f"{key}|dbq|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_dbqix_{tag}")

        def build(tmp: str) -> None:
            from search_engine_spark.incremental import delete_by_query

            pages = load_documents_as_pages(spark, key)
            build_index(spark, pages, tmp, _ENTRY_CFG)
            delete_by_query(spark, DBQ_QUERY, tmp, _ENTRY_CFG)

        _DBQ_CACHE[key] = _atomic_publish(out, build, marker="_DBQ_DONE")
    return SearchEngine(spark, _DBQ_CACHE[key], _ENTRY_CFG)


def _ann_layouts_for(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Materialize (once per sf_dir, cached on disk) the stored ANN
    layouts — embeddings partitioned by sign-LSH bucket and by IVF
    centroid — so the driver rows exercise the partition-pruned scan
    the 100 TB path uses, not a per-query recompute of every bucket."""
    key = os.path.abspath(sf_dir)
    if key not in _ANN_CACHE:
        # tag covers the layout CONTENTS — adding the PQ codes table
        # must never serve from a pre-PQ /tmp cache (the MLT-v2 rule)
        tag = hashlib.md5(f"{key}|planes8|cents16|pq8x16".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_ann_{tag}")

        def build(tmp: str) -> None:
            emb = _tbl(spark, key, "embeddings")
            SIM.write_bucketed_embeddings(emb, os.path.join(tmp, "lsh"),
                                          n_planes=8, dim=64)
            SIM.write_ivf_index(emb, os.path.join(tmp, "ivf"), n_centroids=16)
            SIM.write_pq_index(emb, os.path.join(tmp, "pq"))

        _ANN_CACHE[key] = _atomic_publish(out, build)
    out = _ANN_CACHE[key]
    return (os.path.join(out, "lsh"), os.path.join(out, "ivf"),
            os.path.join(out, "pq"))


def _mlt_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the stored MLT
    statistics layout — term-bucketed tf-idf weights + dictionary,
    per-doc norms, corpus N — so the driver row exercises the
    pruned per-query plan (PartitionFilters on the query's term
    buckets), not a per-query corpus pass."""
    key = os.path.abspath(sf_dir)
    if key not in _MLT_CACHE:
        # v2: per-doc norm denormalized onto the weights rows — a
        # layout change must never be served from a stale /tmp cache
        tag = hashlib.md5(f"{key}|mltv2-{MLT.DEFAULT_MLT_BUCKETS}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_mlt_{tag}")
        _MLT_CACHE[key] = _atomic_publish(
            out, lambda tmp: MLT.write_mlt_index(_tbl(spark, key, "documents"), tmp))
    return _MLT_CACHE[key]


RESHARD_TO = 5  # deliberately coprime-ish with the entry layout's 8


def _resharded_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) a RESHARDED copy
    of the entry index: snapshot + reshard_index to RESHARD_TO doc
    shards (ES _shrink/_split — incremental.reshard_index), so the
    driver row compares the same corpus served from two different
    physical layouts."""
    from search_engine_spark.incremental import reshard_index
    from search_engine_spark.indexer import snapshot_index

    key = os.path.abspath(sf_dir)
    if key not in _RESHARD_CACHE:
        _engine_for(spark, key)  # ensure the source index exists
        tag = hashlib.md5(
            f"{key}|resh{RESHARD_TO}|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_resh_{tag}")

        def build(tmp: str) -> None:
            dst = os.path.join(tmp, "ix")
            snapshot_index(_INDEX_CACHE[key], dst)
            reshard_index(spark, dst, RESHARD_TO, _ENTRY_CFG)

        _RESHARD_CACHE[key] = _atomic_publish(out, build)
    return os.path.join(_RESHARD_CACHE[key], "ix")


def q_search_resharded(spark, sf):
    """Resharding identity (ES _shrink/_split): the SAME corpus served
    from two physical layouts — the entry index (8 doc shards) vs its
    snapshot resharded in place to 5 (incremental.reshard_index: a
    derived-stage rebuild; raw postings never rewrite, shard =
    pmod(xxhash64(url), n) re-derives) — must return the identical
    BM25 top-20, per rank.  The doc shard is the engine's explicit
    skew control; this row pins that it is pure layout, never
    semantics."""
    eng = _engine_for(spark, sf)
    new_cfg = dataclasses.replace(_ENTRY_CFG, n_doc_shards=RESHARD_TO)
    r_eng = SearchEngine(spark, _resharded_index_for(spark, sf), new_cfg)
    return _rank_eq(
        r_eng.search(ENGINE_QUERY, 20),
        eng.search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


DEDUP_GATE_MIN_AGREE = 2  # gate at estimated Jaccard >= 2/8


def _dedup_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the stored
    MinHash side-car over the CORPUS split (doc_id % 10 != 0) —
    signatures + band buckets (dedup.write_dedup_index) — so the
    ingest-gate row pays only the delta's own pass at serve time."""
    key = os.path.abspath(sf_dir)
    if key not in _DEDUPIX_CACHE:
        tag = hashlib.md5(f"{key}|dedupix1".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_dedupix_{tag}")
        corpus = _tbl(spark, key, "documents").filter(F.col("doc_id") % 10 != 0)
        _DEDUPIX_CACHE[key] = _atomic_publish(
            out, lambda tmp: D.write_dedup_index(corpus, tmp))
    return _DEDUPIX_CACHE[key]


def q_dedup_ingest_gate(spark, sf):
    """Incremental near-dup gate, fully SQL-checkable: the crawl delta
    (doc_id % 10 == 0) dedups against the STORED corpus signatures
    (dedup.write_dedup_index / ingest_near_dups) — LSH band-bucket
    candidates, then the MinHash agreement count (n_agree of 8, the
    exact-integer Jaccard estimate) gated at >= 2.  The oracle
    recomputes the whole pipeline — shingles, md5 minhashes, band
    buckets, candidate join, agreement sum — from the raw documents
    table, so a stored layout that dropped or duplicated a signature
    flips the row."""
    docs = _tbl(spark, sf, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return D.ingest_near_dups(delta, _dedup_index_for(spark, sf),
                              min_agree=DEDUP_GATE_MIN_AGREE)


def q_search_resharded_wand(spark, sf):
    """Block-max WAND through the RESHARDED layout ≡ the original
    index's exhaustive scorer, per rank: resharding re-bakes every
    (term, shard) block-max bound for the new doc grouping, and a
    bound baked too tight would silently drop a true top-k doc — this
    row pins the re-baked bounds against an engine that never saw
    them."""
    eng = _engine_for(spark, sf)
    new_cfg = dataclasses.replace(_ENTRY_CFG, n_doc_shards=RESHARD_TO)
    r_eng = SearchEngine(spark, _resharded_index_for(spark, sf), new_cfg)
    return _rank_eq(
        wand_search(r_eng, ENGINE_QUERY, 20),
        eng.search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def _docstore_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the url-bucketed
    stored-fields docstore beside the entry index, stamped with its
    lineage position (operators/docstore.py), so the result-page row
    serves text from a bucket+url-pruned fetch instead of a corpus
    scan."""
    from search_engine_spark.operators import docstore as DS

    key = os.path.abspath(sf_dir)
    if key not in _DOCSTORE_CACHE:
        _engine_for(spark, key)  # ensure the index exists for the stamp
        tag = hashlib.md5(f"{key}|docs1|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_docs_{tag}")

        def build(tmp: str) -> None:
            pages = load_documents_as_pages(spark, key)
            DS.write_docstore(pages, os.path.join(tmp, "store"),
                              index_dir=_INDEX_CACHE[key])

        published = _atomic_publish(out, build)
        # self-heal: a cached store stamped at an older lineage
        # position (e.g. built before the index's no-op-resume
        # lineage growth was frozen) is stale by the guard's rules —
        # wipe and rebuild rather than serve a refusal to the driver
        store = os.path.join(published, "store")
        try:
            DS.check_docstore_fresh(DS._load_meta(store), store)
        except RuntimeError:
            shutil.rmtree(published, ignore_errors=True)
            published = _atomic_publish(out, build)
        _DOCSTORE_CACHE[key] = published
    return os.path.join(_DOCSTORE_CACHE[key], "store")


def _tv_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the doc-major
    term-vector layout beside the entry index, stamped with its
    lineage position (operators/termvectors.py), so the PRF row's
    feedback fetch is a bucket+url-pruned scan, never a corpus pass."""
    from search_engine_spark.operators import termvectors as TV

    key = os.path.abspath(sf_dir)
    if key not in _TV_CACHE:
        eng = _engine_for(spark, key)  # ensure the index exists for the stamp
        tag = hashlib.md5(f"{key}|tv1|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_tv_{tag}")

        def build(tmp: str) -> None:
            TV.write_term_vectors(TW.raw_postings(spark, eng),
                                  os.path.join(tmp, "tv"),
                                  index_dir=_INDEX_CACHE[key])

        published = _atomic_publish(out, build)
        # self-heal a cache stamped at an older lineage position
        # (the docstore pattern): rebuild rather than refuse
        tv_dir = os.path.join(published, "tv")
        try:
            TV.fetch_term_vectors(spark, tv_dir, [])
        except RuntimeError:
            shutil.rmtree(published, ignore_errors=True)
            published = _atomic_publish(out, build)
        _TV_CACHE[key] = published
    return os.path.join(_TV_CACHE[key], "tv")


def _federated_halves_for(spark: SparkSession, sf_dir: str) -> list[str]:
    """Materialize (once per sf_dir, cached on disk) TWO separately
    built half-corpus indexes (doc_id parity split — disjoint, same
    cfg as the full entry index) for the federated-search row."""
    key = os.path.abspath(sf_dir)
    if key not in _FED_CACHE:
        tag = hashlib.md5(f"{key}|fed1|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_fed_{tag}")

        def build(tmp: str) -> None:
            pages = load_documents_as_pages(spark, key)
            even = pages.filter(F.col("url").cast("long") % 2 == 0)
            odd = pages.filter(F.col("url").cast("long") % 2 == 1)
            build_index(spark, even, os.path.join(tmp, "ix_even"), _ENTRY_CFG)
            build_index(spark, odd, os.path.join(tmp, "ix_odd"), _ENTRY_CFG)

        _FED_CACHE[key] = _atomic_publish(out, build)
    root = _FED_CACHE[key]
    return [os.path.join(root, "ix_even"), os.path.join(root, "ix_odd")]


def _alias_rollover_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) an ALIAS whose
    members were created by the rollover lifecycle itself: the corpus
    ingested as three url-disjoint crawl batches through
    `aliases.rollover_ingest` with max_docs = half the corpus, which
    forces build -> segment-append -> roll (two members, one of them
    segmented).  The builder REFUSES to publish if the lifecycle did
    not take those exact decisions."""
    key = os.path.abspath(sf_dir)
    if key not in _ALIAS_CACHE:
        tag = hashlib.md5(f"{key}|alias1|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_alias_{tag}")

        def build(tmp: str) -> None:
            pages = load_documents_as_pages(spark, key)
            alias_dir = os.path.join(tmp, "alias")
            AL.create_alias(alias_dir)
            n = pages.count()
            batches = [pages.filter(F.col("url").cast("long") % 3 == i)
                       for i in range(3)]
            cap = max(n // 2, 1)
            s0 = AL.rollover_ingest(spark, alias_dir, batches[0], cap,
                                    _ENTRY_CFG)
            s1 = AL.rollover_ingest(spark, alias_dir, batches[1], cap,
                                    _ENTRY_CFG)
            s2 = AL.rollover_ingest(spark, alias_dir, batches[2], cap,
                                    _ENTRY_CFG)
            if not (s0["rolled"] and not s1["rolled"] and s2["rolled"]):
                raise RuntimeError(
                    f"rollover lifecycle diverged: {s0}, {s1}, {s2}")

        _ALIAS_CACHE[key] = _atomic_publish(out, build)
    return os.path.join(_ALIAS_CACHE[key], "alias")


def q_search_rollover(spark, sf):
    """The ES alias + rollover lifecycle end-to-end: three crawl
    batches ingested THROUGH the alias (fresh member -> segment
    append -> rollover to a second member at the max_docs condition),
    then one alias query served by `federated_search` over the
    members ≡ the ONE index built over the whole corpus, per rank —
    the ILM serving shape of a 10^12-doc deployment, where statistics
    stay global across generations."""
    eng = _engine_for(spark, sf)
    alias_dir = _alias_rollover_for(spark, sf)
    fed = AL.alias_search(spark, alias_dir, ENGINE_QUERY, 20, _ENTRY_CFG)
    return _rank_eq(
        fed, eng.search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_federated(spark, sf):
    """Federated multi-index search (Lucene's MultiReader contract):
    two SEPARATELY BUILT half-corpus indexes searched together with
    global collection statistics (Σdf, ΣN, exact global avgdl; idf
    through the build stage's own Spark expression) ≡ the ONE index
    built over the whole corpus, per rank.  A member scoring with its
    local stats — the naive federation bug — flips ranks and goes
    red."""
    from search_engine_spark.federated import federated_search

    eng = _engine_for(spark, sf)
    halves = _federated_halves_for(spark, sf)
    fed = federated_search(spark, halves, ENGINE_QUERY, 20, _ENTRY_CFG)
    return _rank_eq(
        fed, eng.search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def _kgram_docs_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the k-gram
    wildcard table over the documents vocabulary, so the ft row's
    infix expansion is a gram-IN pruned lookup, never a vocab regex
    scan.  No staleness stamp: the documents table never mutates."""
    key = os.path.abspath(sf_dir)
    if key not in _KGRAM_CACHE:
        tag = hashlib.md5(f"{key}|kgram1".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_kgram_{tag}")

        def build(tmp: str) -> None:
            vocab = _doc_tf(_tbl(spark, key, "documents")).groupBy("tok").agg(
                F.count(F.lit(1)).cast("long").alias("df"))
            KG.write_kgram_index(vocab, os.path.join(tmp, "ix"),
                                 term_col="tok", df_col="df")

        _KGRAM_CACHE[key] = _atomic_publish(out, build)
    return os.path.join(_KGRAM_CACHE[key], "ix")


def _kgram_engine_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the k-gram
    wildcard table over the PACKED index's dictionary, stamped with
    its lineage position, so the infix-wildcard search row expands
    patterns from a stored pruned layout exactly like the engine
    would at 10^12 docs."""
    key = os.path.abspath(sf_dir)
    if key not in _KGRAM_ENG_CACHE:
        eng = _engine_for(spark, key)  # ensure the index exists for the stamp
        tag = hashlib.md5(f"{key}|kgrameng1|{_ENTRY_CFG}".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_kgrameng_{tag}")

        def build(tmp: str) -> None:
            KG.write_kgram_index(eng._dictionary, os.path.join(tmp, "ix"),
                                 term_col="term_key", df_col="df",
                                 index_dir=_INDEX_CACHE[key])

        published = _atomic_publish(out, build)
        # self-heal a cache stamped at an older lineage position
        # (the docstore pattern): rebuild rather than refuse
        try:
            KG._check_fresh(os.path.join(published, "ix"))
        except RuntimeError:
            shutil.rmtree(published, ignore_errors=True)
            published = _atomic_publish(out, build)
        _KGRAM_ENG_CACHE[key] = published
    return os.path.join(_KGRAM_ENG_CACHE[key], "ix")


def _autocomplete_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the range-sorted
    autocomplete vocabulary over the documents dictionary, so the
    driver row serves the suggest box from a startswith-pruned stored
    scan instead of recomputing the dictionary per keystroke."""
    key = os.path.abspath(sf_dir)
    if key not in _AC_CACHE:
        tag = hashlib.md5(f"{key}|acomp1".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_ac_{tag}")

        def build(tmp: str) -> None:
            dic = _doc_tf(_tbl(spark, key, "documents")).groupBy("tok").agg(
                F.sum("tf").cast("long").alias("cf"))
            SN.write_autocomplete_index(dic, os.path.join(tmp, "ix"),
                                        term_col="tok", cf_col="cf")

        _AC_CACHE[key] = _atomic_publish(out, build)
    return os.path.join(_AC_CACHE[key], "ix")


def _suggest_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the SymSpell
    deletion-neighborhood table over the documents vocabulary — the
    vocab-sized artifact built beside the dictionary — so the driver
    row answers 'did you mean' with a pruned variant lookup instead
    of a per-query vocabulary scan."""
    key = os.path.abspath(sf_dir)
    if key not in _SUGGEST_CACHE:
        tag = hashlib.md5(f"{key}|symspell2".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_sug_{tag}")

        def build(tmp: str) -> None:
            vocab = _doc_tf(_tbl(spark, key, "documents")).groupBy("tok").agg(
                F.count(F.lit(1)).alias("df"))
            SN.write_suggest_index(vocab, os.path.join(tmp, "ix"),
                                   max_dist=2, term_col="tok", df_col="df")

        _SUGGEST_CACHE[key] = _atomic_publish(out, build)
    return os.path.join(_SUGGEST_CACHE[key], "ix")


def _doc_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) under the simple ML-pipeline tokenization."""
    ex = docs.select("doc_id", F.explode(TS.simple_tokens()).alias("tok"))
    return ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))


# DuckDB twin of TS.simple_tokens + _doc_tf, shared by the ft_* oracles
_TOK_CTE = (
    "tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)"
)
_TF_CTE = (
    _TOK_CTE + ", ex AS (SELECT doc_id, unnest(toks) AS tok FROM tok), "
    "tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM ex GROUP BY doc_id, tok)"
)


# ---------------------------------------------------------------------------
# flagship

def entry(spark: SparkSession) -> DataFrame:
    """Full pipeline on sf0.001: tokenize (N1-N15 + Porter) -> SPIMI
    build -> delta+varint packed index -> batch BM25 top-10 for three
    queries in ONE job (SURVEY §3.3)."""
    eng = _engine_for(spark, "/root/testdata/sf0.001")
    qs = [("q1", ENGINE_QUERY), ("q2", "query plan join"), ("q3", "fast scan filter")]
    return eng.search_batch(qs, 10)


# ---------------------------------------------------------------------------
# queries — full-text relational core (documents table, simple tokens)

def q_ft_doc_stats(spark, sf):
    # A5: per-doc length / max_tf / unique_terms
    return (
        _doc_tf(_tbl(spark, sf, "documents"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("length"),
            F.max("tf").alias("max_tf"),
            F.count(F.lit(1)).alias("unique_terms"),
        )
    )


def q_ft_term_stats(spark, sf):
    # A3/A4: dictionary df/cf/idf with idf = log2(N/df)
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    return (
        _doc_tf(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .withColumn("idf", F.round(F.log2(F.lit(float(n_docs)) / F.col("df")), 6))
    )


def q_ft_term_first_pos(spark, sf):
    # A1/N15: per (doc, term) tf + first position + importance flag
    docs = _tbl(spark, sf, "documents")
    ex = docs.select(
        "doc_id", F.posexplode(TS.simple_tokens()).alias("pos0", "tok")
    ).withColumn("pos", F.col("pos0") + 1)
    return (
        ex.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("pos").cast("long").alias("first_pos"))
        .withColumn("important", F.col("first_pos") <= 30)
    )


def q_ft_bm25_topk(spark, sf):
    # R1/R4 relational BM25 top-20, fully SQL-checkable
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    # top-k pattern (searcher.py search()): orderBy+limit plans as
    # TakeOrderedAndProject (per-partition heaps, k rows to the
    # driver); the window then ranks only the k surviving rows.  The
    # previous full-table Window.orderBy ranked EVERY row in a single
    # partition — a driver-bottleneck at scale.
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


DISMAX_TIE = 0.3


def q_ft_dismax_topk(spark, sf):
    """Lucene DisjunctionMax scoring, fully SQL-checkable: per-doc
    score = best single term contribution + 0.3 x the others (the
    best-fields rule that stops several weak matches outranking one
    strong match), over the same relational BM25 chain as
    ft_bm25_topk — max and sum ride ONE hash agg."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = (
        contrib.groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("sm"))
        .select("doc_id",
                F.round(F.col("mx") + F.lit(DISMAX_TIE)
                        * (F.col("sm") - F.col("mx")), 6).alias("score"))
    )
    order = (F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(*order).limit(20)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("doc_id", "score", "rank")
    )


def q_search_dismax(spark, sf):
    """DisMax served through the PACKED index
    (searcher.dismax_search: the ordinary pruned scan, max+sum in the
    same per-doc hash agg) ≡ the raw-postings twin recomputing the
    per-term blended parts independently, per rank."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.dismax_search(ENGINE_QUERY, 20, tie=DISMAX_TIE),
        TW.twin_dismax_topk(spark, eng, ENGINE_QUERY, DISMAX_TIE, 20),
        exact=["url"], approx=["score"],
    )


def q_ft_matched_topk(spark, sf):
    """Relational BM25 top-20 carrying per-hit match evidence
    (Lucene/ES matched_queries), fully SQL-checkable: ``matched`` is
    the sorted, space-joined list of the query terms present in the
    doc — one extra collect_set riding the same per-doc agg as
    ft_bm25_topk, no new scan or shuffle."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("c"), 6).alias("score"),
        F.array_join(F.sort_array(F.collect_set("tok")), " ").alias("matched"),
    )
    order = (F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(*order).limit(20)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("doc_id", "score", "rank", "matched")
    )


def q_search_matched(spark, sf):
    """Packed-index matched-terms search ≡ plain-postings twin, per
    rank: the engine's matched evidence rides its single score agg
    (searcher.search_matched); the twin recomputes the set in a
    SEPARATE raw-postings agg joined back on url — the sorted
    space-joined term keys must agree exactly alongside url/score."""
    eng = _engine_for(spark, sf)
    e = eng.search_matched(ENGINE_QUERY, 20).withColumn(
        "matched", F.array_join("matched", " "))
    t = TW.twin_matched_topk(spark, eng, ENGINE_QUERY, 20).withColumn(
        "matched", F.array_join("matched", " "))
    return _rank_eq(e, t, exact=["url", "matched"], approx=["score"])


BATCH_COUNT_QUERIES = [("q_data", "data"), ("q_table", "table"),
                       ("q_row", "row"), ("q_none", "zzzzqqqq")]


def q_search_count_batch(spark, sf):
    """ES `filters` aggregation through the packed index ≡ the
    plain-postings twin, per named query: the engine counts N saved
    searches in ONE pruned scan (union of all terms + a broadcast
    (qid, term_key) fan-out map — searcher.count_hits_batch); the twin
    deliberately pays one raw-postings scan PER query.  The
    out-of-vocabulary query must keep its ZERO bucket on both sides
    (the ES empty-bucket contract)."""
    eng = _engine_for(spark, sf)
    e = eng.count_hits_batch(BATCH_COUNT_QUERIES)
    t = TW.twin_count_batch(spark, eng, BATCH_COUNT_QUERIES)
    return TW.compare_topk(e, t, ["qid"], exact_cols=["n_docs"],
                           approx_cols=[])


def q_search_adjacency(spark, sf):
    """ES `adjacency_matrix` through the packed index ≡ the twin, per
    (qid_a, qid_b) cell: per-query counts on the diagonal, pairwise
    co-match counts off it (qid_a < qid_b).  Engine: one-scan match
    sets self-joined on the co-partitioned (shard, local_id) doc key;
    twin: per-query raw scans self-joined on url — different key,
    different plan, identical matrix."""
    eng = _engine_for(spark, sf)
    qs = BATCH_COUNT_QUERIES[:3]
    e = eng.adjacency_matrix(qs)
    t = TW.twin_adjacency(spark, eng, qs)
    return TW.compare_topk(e, t, ["qid_a", "qid_b"],
                           exact_cols=["n_docs"], approx_cols=[])


def q_ft_adjacency(spark, sf):
    """Relational adjacency matrix over simple tokens, fully
    SQL-checkable: three named single-term queries, (qid, doc)
    distinct match sets, doc-keyed self-join with the sorted-pair rule
    (a.qid <= b.qid), exact BIGINT cell counts."""
    qmap = spark.createDataFrame(
        [("q_data", "data"), ("q_table", "table"), ("q_row", "row")],
        "qid string, tok string")
    m = (
        _doc_tf(_tbl(spark, sf, "documents"))
        .join(F.broadcast(qmap), "tok")
        .select("qid", "doc_id").distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.qid") <= F.col("b.qid")),
    ).select(F.col("a.qid").alias("qid_a"), F.col("b.qid").alias("qid_b"))
    return pairs.groupBy("qid_a", "qid_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))


FT_BOOSTS = {"table": 2.0, "join": 1.0, "query": 0.5}


def q_ft_boosted_topk(spark, sf):
    """Boosted relational BM25 top-20, fully SQL-checkable: each query
    term's contribution is multiplied by its boost (table^2 join
    query^0.5) before the per-doc sum — the relational statement of
    the packed engine's boosted_search semantics.  The weight rides a
    literal map lookup (codegen, no extra shuffle vs ft_bm25_topk)."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_BOOSTS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wmap = F.create_map(*[F.lit(x) for t, w in sorted(FT_BOOSTS.items())
                          for x in (t, float(w))])
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            wmap[F.col("tok")] * F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_ft_top_hits(spark, sf):
    """Relational ES ``top_hits``: per-language top-3 of the
    ft_bm25_topk scored set plus each bucket's total match count,
    fully SQL-checkable.  One window pass over the match-set-sized
    frame serves both the rank and the count — never a corpus sort;
    a hot language pays only its own bucket's window."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = (
        contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored
        .withColumn("bucket_rank", F.row_number().over(w).cast("long"))
        .withColumn("n_docs",
                    F.count(F.lit(1)).over(Window.partitionBy("lang"))
                    .cast("long"))
        .filter(F.col("bucket_rank") <= 3)
        .select("lang", "n_docs", "bucket_rank", "doc_id", "score")
    )


def q_ft_bm25f_topk(spark, sf):
    """Simple BM25F (Zaragoza et al. 2004) top-20 over the fielded
    split (title = first 8 tokens at weight 2, body the rest), fully
    SQL-checkable: per-field length-normalized tf blended across
    fields BEFORE one saturation, doc-level idf — the fielded scorer
    naive per-field BM25 gets wrong (operators/fielded.py)."""
    return FLD.bm25f_topk(_tbl(spark, sf, "documents"),
                          list(FT_QUERY_TERMS), 20)


def _repetition_input(spark, sf):
    """The lined corpus with an intra-doc duplicate line appended for
    every doc_id%3==0 doc (re-stating the nav header), so the
    duplicate-LINE metrics are non-trivial — the banner/notice lines
    are cross-doc boilerplate (dedup_lines' job) but unique within a
    doc.  The zipfian token stream already repeats n-grams naturally
    ("batch batch batch"), so the gram metrics are exercised by the
    corpus itself."""
    lined = CU.synthetic_lined(_tbl(spark, sf, "documents"))
    return lined.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\nnav home about contact")))
        .otherwise(F.col("text")),
    )


def q_text_repetition(spark, sf):
    """Gopher repetition-removal signals (Rae et al. 2021 App. A) per
    doc in one map-only Arrow pass, fully SQL-checkable: duplicate
    intra-doc lines (count + characters), most-frequent n-gram
    containment (n=2..4, occurrences x token chars, integer-max tie
    rule), and duplicate n-gram POSITION-COVERAGE characters
    (n=5..10, overlapping repeats counted once).  The oracle
    recomputes all 15 integers relationally (gram explodes + per-doc
    windows — the shuffling plan the kernel avoids)."""
    return WQ.repetition_stats(_repetition_input(spark, sf))


FT_SYNONYMS = (("table", "table"), ("row", "table"),
               ("join", "join"), ("query", "query"), ("scan", "query"))


def q_ft_synonym_topk(spark, sf):
    """Relational Lucene SynonymQuery top-20, fully SQL-checkable:
    each query concept is a GROUP of terms (table|row, join,
    query|scan) scored as one pseudo-term — tf summed across members
    BEFORE the BM25 saturation, group df = MAX member df (blended
    docFreq, so a rare synonym cannot smuggle a huge idf into a
    common concept)."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    mem = spark.createDataFrame(list(FT_SYNONYMS), "tok string, gid string")
    dfreq = (
        tf.filter(F.col("tok").isin([m for m, _ in FT_SYNONYMS]))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    gdf = (
        dfreq.join(F.broadcast(mem), "tok")
        .groupBy("gid").agg(F.max("df").alias("df_g"))
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df_g")))
    )
    blended = (
        tf.join(F.broadcast(mem), "tok")
        .groupBy("gid", "doc_id").agg(F.sum("tf").alias("tf"))
        .join(F.broadcast(gdf.select("gid", "idf")), "gid")
        .join(dl, "doc_id")
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = blended.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_ft_fuzzy_topk(spark, sf):
    """Typo-tolerant relational BM25 top-20, fully SQL-checkable: each
    misspelled query term corrects to its single closest vocabulary
    term within 2 edits (ties: higher df, then term asc — the
    spell-suggest rule), exact hits self-correct at distance 0,
    hopeless terms drop out, and the corrected term set feeds the SAME
    BM25 chain as ft_bm25_topk.  The correction joins the 4-row query
    broadcast against the term-level vocabulary (length-prefiltered
    codegen levenshtein — vocab-linear, never corpus-linear) and stays
    in ONE plan: no collect between correction and scoring."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    vocab = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("vdf"))
    q = spark.createDataFrame([(t,) for t in FT_FUZZY_TERMS], "term string")
    cand = (
        vocab.join(F.broadcast(q),
                   F.abs(F.length("tok") - F.length("term")) <= 2)
        .withColumn("dist", F.levenshtein("term", "tok"))
        .filter(F.col("dist") <= 2)
    )
    best = (
        cand.groupBy("term")
        .agg(F.min(F.struct(
            F.col("dist"), (-F.col("vdf")).alias("neg_df"), F.col("tok")
        )).alias("b"))
        .select(F.col("b.tok").alias("tok")).distinct()
    )
    # provably <= |query terms| rows — broadcast is safe by construction
    qtf = tf.join(F.broadcast(best), "tok")
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_ft_highlight_topk(spark, sf):
    """The assembled result page, fully SQL-checkable: BM25 top-10
    (the ft_bm25_topk chain) joined to the keyword-in-context excerpt
    around the earliest query-term hit (the text_snippets kernel).
    The 10-row cut is collected once and feeds both the snippet pass
    and the final join, so both read the same ranked rows.  The
    snippet pass tokenizes the top-10 documents only (semi-joined to
    the cut before tokenization, broadcast), never the corpus."""
    docs = _tbl(spark, sf, "documents")
    cut = q_ft_bm25_topk(spark, sf).filter(F.col("rank") <= 10)
    topk = spark.createDataFrame(cut.collect(), cut.schema)
    hits = docs.join(F.broadcast(topk.select("doc_id")), "doc_id")
    snip = SN.best_snippet(hits, list(FT_QUERY_TERMS), 5)
    return (
        topk.join(snip, "doc_id")
        .select("doc_id", "score", "rank", "match_pos", "snippet")
    )


def q_ft_proximity_topk(spark, sf):
    """Proximity-ranked relational top-20, fully SQL-checkable: docs
    containing at least two DISTINCT query terms, ranked by the
    smallest token distance between any pair of distinct terms
    (min_dist asc), then BM25 (score desc), then doc_id — the Lucene
    sloppy-phrase idea without phrase order.  The pairwise minimum is
    a self-equi-join on doc_id restricted to tok_a < tok_b over the
    query terms' position rows only — per-doc work is tf(a)·tf(b) on
    candidate docs, never a corpus pass."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    ex = docs.select(
        "doc_id", F.posexplode(TS.simple_tokens()).alias("pos0", "tok")
    ).withColumn("pos", (F.col("pos0") + 1).cast("long"))
    tf = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qpos = ex.filter(F.col("tok").isin(*FT_QUERY_TERMS)).select(
        "doc_id", "tok", "pos")
    a, b = qpos.alias("a"), qpos.alias("b")
    mind = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min(F.abs(F.col("a.pos") - F.col("b.pos")))
             .cast("long").alias("min_dist"))
    )
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.asc("min_dist"), F.desc("score"), F.asc("doc_id"))
    return (
        mind.join(scored, "doc_id")
        .orderBy(*order).limit(20)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("doc_id", "min_dist", "score", "rank")
    )


# boolean clauses for the ft_boolean_topk row (simple tokenization)
BOOL_MUST = ("data",)
BOOL_SHOULD = ("join", "query")
BOOL_MUST_NOT = ("dup",)

# pure-SHOULD clause set for the minimum-should-match rows
MSM_SHOULD = ("data", "join", "row", "query")
MSM_MIN = 2


def q_ft_boolean_topk(spark, sf):
    """Relational Lucene-BooleanQuery top-20, fully SQL-checkable:
    MUST terms gate candidates (countDistinct == |must| over the
    must-filtered slice), SHOULD terms add BM25 score alongside the
    MUST terms, MUST_NOT excludes via a distinct-doc anti-join.  Every
    clause touches only its own terms' rows."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    score_terms = sorted(set(BOOL_MUST) | set(BOOL_SHOULD))
    qtf = tf.filter(F.col("tok").isin(*score_terms))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    cand = (
        tf.filter(F.col("tok").isin(*BOOL_MUST))
        .groupBy("doc_id").agg(F.countDistinct("tok").alias("nm"))
        .filter(F.col("nm") == len(BOOL_MUST)).select("doc_id")
    )
    excl = (tf.filter(F.col("tok").isin(*BOOL_MUST_NOT))
            .select("doc_id").distinct())
    scored = (
        contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
        .join(cand, "doc_id", "leftsemi")
        .join(excl, "doc_id", "left_anti")
    )
    order = (F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(*order).limit(20)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("doc_id", "score", "rank")
    )


def q_ft_diversified_topk(spark, sf):
    """R4 + host-collapse: the relational BM25 scored set diversified
    to at most 2 results per source (the classic two-per-host result
    page rule), then the global top-10 — fully SQL-checkable.  The
    per-source cap is a row_number window PARTITIONED BY source
    (bounded cardinality — never a global single-partition sort); the
    final cut plans as TakeOrderedAndProject."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    src = scored.join(docs.select("doc_id", "source"), "doc_id")
    out = CO.collapse_run(src, group_col="source", per_group=2, k=10,
                          score_col="score", id_col="doc_id")
    return (out.withColumn("rank", F.col("rank").cast("long"))
            .select("doc_id", "source", "score", "rank"))


def q_text_autocomplete(spark, sf):
    """Suggest box: top-4 completions per typed prefix by collection
    frequency (BIGINT — exact), completion asc under ties.  The plan
    broadcasts the handful of prefixes against the dictionary; the
    stored serving layout is exercised by search_autocomplete_indexed
    against the SAME oracle."""
    dic = _doc_tf(_tbl(spark, sf, "documents")).groupBy("tok").agg(
        F.sum("tf").cast("long").alias("cf"))
    return SN.autocomplete(dic, list(AC_PREFIXES), k=4,
                           term_col="tok", cf_col="cf")


def q_search_autocomplete_indexed(spark, sf):
    """The suggest box served from the STORED range-sorted vocabulary
    (built once per corpus, cached): identical output to
    text_autocomplete — same SQL oracle — but the scan is a
    startswith pushdown over term-range-sorted parquet, so only row
    groups overlapping the typed prefixes decompress
    (plan-asserted in tests/test_autocomplete.py)."""
    return SN.autocomplete_indexed(
        spark, _autocomplete_index_for(spark, sf), list(AC_PREFIXES), k=4)


# ---------------------------------------------------------------------------
# queries — full engine equivalence rows.  The packed-index paths are
# not SQL-expressible (the N1-N15 parser + Porter stemming feed them),
# so each row joins the ENGINE output per rank against an independent
# plain-DataFrame twin recomputed from the pre-pack postings_raw table
# (search_engine_spark/twin.py) and emits per-rank match flags whose
# expected value is constant — an exact hash-checkable DuckDB oracle
# (SELECT rank, true, true FROM range(...)).  A wrong rank count,
# wrong doc at any rank, or score off by >1e-9 flips the row red.
# Rank-identity vs the single-node oracle is additionally asserted in
# pytest (tests/test_spark_index.py, test_wand.py, test_round2.py).

def _rank_eq(engine_out, twin_out, exact, approx):
    e = engine_out.withColumn("rank", F.col("rank").cast("long"))
    t = twin_out.withColumn("rank", F.col("rank").cast("long"))
    return TW.compare_topk(e, t, ["rank"], exact, approx)


def q_search_bm25_topk(spark, sf):
    """Packed-index BM25 top-20 ≡ plain-postings twin, per rank."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.search(ENGINE_QUERY, 20),
        TW.twin_bm25_topk(spark, eng, ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_fuzzy(spark, sf):
    """Typo-tolerant packed-index search ≡ plain-postings twin, per
    rank: 'data' resolves exactly, the misspellings correct through
    the dictionary's (dist asc, df desc, term asc) rule — engine via a
    min_by struct over the levenshtein-filtered vocabulary scan
    (snippets.suggest_terms), twin via a row_number window over
    stats-as-packed raw-posting df (a DIFFERENT physical plan) — and
    the hopeless term drops out on both sides before the shared BM25
    tail scores the corrected keys."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.fuzzy_search(FUZZY_ENGINE_QUERY, 20),
        TW.twin_fuzzy_topk(spark, eng, FUZZY_ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_proximity(spark, sf):
    """Proximity-ranked packed-index search ≡ plain-postings twin, per
    rank: min pairwise token distance between distinct query terms
    (exact BIGINT — primary sort key), BM25 blend as the tiebreak.
    Engine unpacks the packed ``poss`` blobs per term through the
    pruned positional scan; the twin explodes the raw ``positions``
    arrays — two independent position decodings pinned against each
    other."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.proximity_search(ENGINE_QUERY, 20),
        TW.twin_proximity_topk(spark, eng, ENGINE_QUERY, 20),
        exact=["url", "min_dist"], approx=["score"],
    )


def q_search_highlight(spark, sf):
    """The stored-artifacts result page ≡ plain twin, per rank: BM25
    top-10, first query-term match position, and the ±5-token excerpt.
    Engine side: packed poss blobs + the bucket/url-pruned docstore
    (operators/docstore.py).  Twin side: raw positions arrays + the
    pages frame.  The excerpt kernel is shared driver-side code with
    its own pytest golden; url, match_pos, and the snippet STRING all
    compare exact."""
    eng = _engine_for(spark, sf)
    store = _docstore_for(spark, sf)
    pages = load_documents_as_pages(spark, sf)
    return _rank_eq(
        eng.search_with_snippets(ENGINE_QUERY, store, k=10),
        TW.twin_search_snippets(spark, eng, pages, ENGINE_QUERY, 10),
        exact=["url", "match_pos", "snippet"], approx=["score"],
    )


def q_search_explain(spark, sf):
    """Lucene-style score explanation for the top-1 result: per-term
    BM25 contribution + importance bonus + blended part, engine
    (packed unpack, 1-row doc restriction) ≡ twin (raw postings,
    stats-as-packed df) — aggregated to one summary row because the
    per-term cardinality is data-dependent: same term set, every
    contribution/bonus within 1e-9, and the per-term parts sum back
    to the document's ACTUAL search score (the Explanation
    invariant)."""
    eng = _engine_for(spark, sf)
    top = eng.search(ENGINE_QUERY, 1).collect()[0]
    e = eng.explain_score(ENGINE_QUERY, top["url"]).collect()
    t = TW.twin_explain(spark, eng, ENGINE_QUERY, top["url"]).collect()
    em = {r["term_key"]: r for r in e}
    tm = {r["term_key"]: r for r in t}
    terms_match = bool(em) and set(em) == set(tm)
    values_match = terms_match and all(
        abs(em[k]["bm25_contrib"] - tm[k]["bm25_contrib"]) <= 1e-9
        and abs(em[k]["bonus"] - tm[k]["bonus"]) <= 1e-9
        for k in em
    )
    parts_sum = abs(sum(r["part"] for r in e) - top["score"]) <= 1e-9
    return spark.createDataFrame(
        [(terms_match, values_match, bool(parts_sum))],
        "terms_match boolean, values_match boolean, parts_sum_to_score boolean",
    )


def q_search_boolean(spark, sf):
    """Lucene-BooleanQuery semantics on the packed index ≡ the
    plain-postings twin, per rank: MUST ('data') required via a
    countDistinct gate on the already-unpacked rows, SHOULD
    ('table row') adds score, MUST_NOT ('dup') excluded by an
    anti-join that reads only its own posting list.  Scoring reads
    only the must+should postings — no clause touches non-matching
    documents."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.boolean_search(must="data", should="table row",
                           must_not="dup", k=20),
        TW.twin_boolean_topk(spark, eng, "data", "table row", "dup", 20),
        exact=["url"], approx=["score"],
    )


def q_ft_msm_topk(spark, sf):
    """Relational Lucene minimum-should-match top-20, fully
    SQL-checkable: four SHOULD terms, a document qualifies only with
    at least MSM_MIN distinct ones present (the
    BooleanQuery.setMinimumNumberShouldMatch gate), qualifying docs
    score the ordinary BM25 sum over their matched terms.  The gate is
    one countDistinct agg over the already-filtered query-term rows —
    never a second corpus pass."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*MSM_SHOULD))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    cand = (
        qtf.groupBy("doc_id").agg(F.countDistinct("tok").alias("ns"))
        .filter(F.col("ns") >= MSM_MIN).select("doc_id")
    )
    scored = (
        contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
        .join(cand, "doc_id", "leftsemi")
    )
    order = (F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(*order).limit(20)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("doc_id", "score", "rank")
    )


def q_search_msm(spark, sf):
    """Minimum-should-match on the packed index ≡ the plain-postings
    twin, per rank: four SHOULD clauses, a doc must match at least two
    distinct ones (Lucene setMinimumNumberShouldMatch).  Engine gates
    with a countDistinct over its unpacked posting rows, the twin with
    the same gate over live raw rows — two physical plans, one
    contract."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.boolean_search(should="table row data query", k=20,
                           min_should_match=2),
        TW.twin_boolean_topk(spark, eng, "", "table row data query", "",
                             20, min_should_match=2),
        exact=["url"], approx=["score"],
    )


# crawl-ts window for the filter-context row: docs 100..349 of 500
# (load_documents_as_pages stamps warc_ts = 2024-01-01 + doc_id sec)
TS_FILTER_LO = "2024-01-01 00:01:40"
TS_FILTER_HI = "2024-01-01 00:05:49"


def q_search_ts_filtered(spark, sf):
    """Filter-context search ≡ twin, per rank: BM25 top-20 restricted
    to a crawl-timestamp window over the pages metadata (250 of the
    500 docs) — the Lucene filter-clause contract: the allowed set is
    a PREDICATE FRAME from the metadata table (partition-pruned at
    scale), matching is restricted, scoring is not (idf/avgdl stay
    corpus-global).  Engine semi-joins (shard, local_id) into the
    per-posting rows BEFORE its score agg; the twin semi-joins urls
    AFTER scoring — different stages, identical ranking."""
    eng = _engine_for(spark, sf)
    pages = load_documents_as_pages(spark, sf)
    allowed = pages.filter(
        (F.col("warc_ts") >= F.lit(TS_FILTER_LO).cast("timestamp"))
        & (F.col("warc_ts") <= F.lit(TS_FILTER_HI).cast("timestamp"))
    ).select("url")
    return _rank_eq(
        eng.search_filtered(ENGINE_QUERY, allowed, 20),
        TW.twin_filtered_topk(spark, eng, ENGINE_QUERY, allowed, 20),
        exact=["url"], approx=["score"],
    )


def q_search_collapse(spark, sf):
    """Two-per-source result-page collapse over the packed-index BM25
    top-50 pool ≡ the SAME collapse over the plain-postings twin pool
    — through two DIFFERENT physical plans (window row_number vs
    sort_array/slice aggregation, collapse.py), per rank.  The pool
    cut is deterministic on both sides ((score desc, url asc) total
    order), so the equivalence pins pool + grouping join + cap +
    re-rank end to end."""
    eng = _engine_for(spark, sf)
    src = _tbl(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "source")
    pool_e = (eng.search(ENGINE_QUERY, 50).select("url", "score")
              .join(src, "url"))
    e = CO.collapse_run(pool_e, group_col="source", per_group=2, k=10,
                        score_col="score", id_col="url")
    pool_t = (TW.twin_bm25_topk(spark, eng, ENGINE_QUERY, 50)
              .select("url", "score").join(src, "url"))
    t = CO.collapse_run_agg(pool_t, group_col="source", per_group=2, k=10,
                            score_col="score", id_col="url")
    return _rank_eq(
        e.select("url", "score", "rank"), t.select("url", "score", "rank"),
        exact=["url"], approx=["score"],
    )


def q_search_wand_topk(spark, sf):
    """Block-max WAND ≡ the exhaustive packed scorer, per rank (WAND
    is a pruning strategy, not an approximation)."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        wand_search(eng, ENGINE_QUERY, 20),
        eng.search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_batch(spark, sf):
    """One-job batch search ≡ the per-query loop, per (qid, rank)."""
    eng = _engine_for(spark, sf)
    qs = [("q1", ENGINE_QUERY), ("q2", "query plan join")]
    batch = eng.search_batch(qs, 10).withColumn("rank", F.col("rank").cast("long"))
    loop = None
    for qid, q in qs:
        one = eng.search(q, 10).select(
            F.lit(qid).alias("qid"), F.col("rank").cast("long").alias("rank"),
            "url", "score",
        )
        loop = one if loop is None else loop.unionByName(one)
    return TW.compare_topk(batch, loop, ["qid", "rank"],
                           exact_cols=["url"], approx_cols=["score"])


def q_search_wand_batch(spark, sf):
    """Batched block-max WAND (one job, shared block decode across the
    batch) ≡ the exhaustive batch scorer, per (qid, rank)."""
    from search_engine_spark.wand import wand_search_batch

    eng = _engine_for(spark, sf)
    qs = [("q1", ENGINE_QUERY), ("q2", "query plan join")]
    batch = wand_search_batch(eng, qs, 10).withColumn(
        "rank", F.col("rank").cast("long"))
    full = eng.search_batch(qs, 10).withColumn("rank", F.col("rank").cast("long"))
    return TW.compare_topk(batch, full, ["qid", "rank"],
                           exact_cols=["url"], approx_cols=["score"])


def q_search_incremental(spark, sf):
    """Segment-grown index ≡ one-shot full build, per rank.

    The incremental engine indexed the SAME corpus as build(1/3) +
    two add_documents segments (incremental.py): old packed rows were
    never touched, the dictionary was merged additively, and a (term,
    shard) may hold several segment rows.  Exhaustive BM25 top-20 must
    be bit-for-rank identical to the one-shot build."""
    return _rank_eq(
        _inc_engine_for(spark, sf).search(ENGINE_QUERY, 20),
        _engine_for(spark, sf).search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_incremental_wand(spark, sf):
    """Block-max WAND on the segment-grown index ≡ the one-shot
    build's exhaustive scorer, per rank.  Exercises the stale-bound
    path: old segments' baked block_max no longer bound fresh scores
    (N/df/avgdl all moved), so WAND consumes the dictionary's
    accumulated bound_scale (incremental.py module docstring) — a
    too-tight bound would skip a true top-k doc and flip a rank."""
    return _rank_eq(
        wand_search(_inc_engine_for(spark, sf), ENGINE_QUERY, 20),
        _engine_for(spark, sf).search(ENGINE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def _delete_case(spark, sf):
    """Shared setup for the tombstone rows: delete every third doc of
    the flagship query's top-20 via the in-memory overlay (no disk
    mutation of the shared index cache), and derive the expected
    post-delete top-10 from the pre-delete ranking — valid because
    tombstone semantics keep surviving scores bit-identical (stats
    stay as-packed until compaction, incremental.delete_documents)."""
    full = _engine_for(spark, sf)
    top = full.search(ENGINE_QUERY, 20).orderBy("rank").collect()
    dead = {r["url"] for r in top if int(r["rank"]) % 3 == 0}
    eng = SearchEngine(spark, full.paths.root, _ENTRY_CFG, deleted_urls=sorted(dead))
    live = [(r["url"], float(r["score"])) for r in top if r["url"] not in dead][:10]
    twin = spark.createDataFrame(
        [(i + 1, u, s) for i, (u, s) in enumerate(live)],
        "rank long, url string, score double",
    )
    return eng, twin


def q_search_deletes(spark, sf):
    """Tombstoned engine top-10 ≡ pre-delete ranking minus the deleted
    urls, per rank.  A deleted url appearing, a survivor missing, or
    any surviving score moving (stale-stats contract) flips a flag."""
    eng, twin = _delete_case(spark, sf)
    return _rank_eq(eng.search(ENGINE_QUERY, 10), twin,
                    exact=["url"], approx=["score"])


def q_search_deletes_wand(spark, sf):
    """Block-max WAND on the tombstoned engine ≡ the same expected
    frame: exercises the θ-soundness path (deleted postings are masked
    before the bootstrap, shipped per shard via cogroup) — a dead high
    scorer pruning a live doc's block would drop a rank."""
    eng, twin = _delete_case(spark, sf)
    return _rank_eq(wand_search(eng, ENGINE_QUERY, 10), twin,
                    exact=["url"], approx=["score"])


UPDATE_QUERY = ENGINE_QUERY + " recrawl revision"


def q_search_updates(spark, sf):
    """Recrawl-superseded index (update_documents: version-tombstone
    the old generation + append the new in ONE O(delta) call — no
    compaction) ≡ the gen-aware raw-postings twin, per rank.

    The query mixes surviving terms with the recrawl marker, so the
    top-20 must rank the NEW text while the superseded generation —
    which still shares terms with it — surfaces nothing (a masking
    slip would show the url twice or with the old score).  The twin
    recomputes df stats-as-packed (every generation counts, Lucene's
    collection-statistics contract) but tf/dl from LIVE rows only —
    exactly the engine's additive dictionary + masked unpack."""
    eng = _upd_engine_for(spark, sf)
    return _rank_eq(
        eng.search(UPDATE_QUERY, 20),
        TW.twin_bm25_topk(spark, eng, UPDATE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_updates_wand(spark, sf):
    """Block-max WAND on the superseded index ≡ its exhaustive
    scorer, per rank: the version tombstones ride the same cogroup
    masking as deletes, and the replacement segment's fresh bounds
    coexist with the base segment's bound_scale-rescaled ones."""
    eng = _upd_engine_for(spark, sf)
    return _rank_eq(
        wand_search(eng, UPDATE_QUERY, 20),
        eng.search(UPDATE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_delete_by_query(spark, sf):
    """Post-delete-by-query BM25 top-10 ≡ the gen-aware live-postings
    twin, per rank.  delete_by_query(DBQ_QUERY) tombstones ~77% of
    the corpus — including most of ENGINE_QUERY's pristine top-10 —
    so the serving scan must surface the deep survivors under
    stale-stats scoring (df/avgdl as packed); the twin recomputes
    from LIVE raw postings through a different plan.  A dead doc
    appearing, a survivor missing, or any score moving flips a
    flag."""
    eng = _dbq_engine_for(spark, sf)
    return _rank_eq(
        eng.search(ENGINE_QUERY, 10),
        TW.twin_bm25_topk(spark, eng, ENGINE_QUERY, 10),
        exact=["url"], approx=["score"],
    )


def q_search_delete_by_query_empty(spark, sf):
    """The deleting query itself matches NOTHING afterwards, on every
    read path: exact count_hits (pruned-scan distinct), exhaustive
    search, and block-max WAND (whose θ-bootstrap must survive a
    posting list that is 100% tombstones).  Also pins idempotence:
    a second delete_by_query of the same string tombstones zero urls
    (matching_urls is tombstone-masked, the snapshot-at-call
    contract)."""
    from search_engine_spark.incremental import delete_by_query

    eng = _dbq_engine_for(spark, sf)
    n_again = delete_by_query(spark, DBQ_QUERY, eng.paths.root, _ENTRY_CFG)
    return spark.createDataFrame(
        [(int(eng.count_hits(DBQ_QUERY)),
          int(eng.search(DBQ_QUERY, 10).count()),
          int(wand_search(eng, DBQ_QUERY, 10).count()),
          int(n_again))],
        "n_hits long, n_search long, n_wand long, n_redelete long",
    )


def q_extract_text_roundtrip(spark, sf):
    # S2 per-row invariant: extracted text byte-identical per url
    pages = load_documents_as_pages(spark, sf)
    ext = extract_text(pages).withColumnRenamed("text", "ext_text")
    joined = pages.select("url", "text").join(ext, "url")
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("text") != F.col("ext_text"), 1).otherwise(0)).alias("n_mismatch"),
    )


# ---------------------------------------------------------------------------
# queries — relational operator coverage (TPC-H-ish tables)

def q_tpch_q1_pricing(spark, sf):
    # A3/A5-analog scan+filter+hash-agg; filter pushed to parquet
    li = _tbl(spark, sf, "lineitem").filter(F.col("l_quantity") <= 45)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_revenue_by_nation(spark, sf):
    # J1/J2-analog: fact ⋈ broadcast dims -> agg
    orders = _tbl(spark, sf, "orders")
    cust = _tbl(spark, sf, "customer")
    nation = _tbl(spark, sf, "nation")
    region = _tbl(spark, sf, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_topk_orders(spark, sf):
    # K4: deterministic global top-50 as TakeOrdered (orderBy+limit),
    # never a single-partition full-table window
    order = (F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _tbl(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(*order).limit(50)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
    )


def q_window_top5_parts(spark, sf):
    # A8-analog: per-group top-5 via window
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        _tbl(spark, sf, "part")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


def q_semi_join_urgent_customers(spark, sf):
    # F2/J4: broadcast left-semi join
    cust = _tbl(spark, sf, "customer")
    urgent = _tbl(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_anti_join_idle_customers(spark, sf):
    cust = _tbl(spark, sf, "customer")
    orders = _tbl(spark, sf, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_set_union_nations(spark, sf):
    # U1: union-distinct
    c = _tbl(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _tbl(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


def q_set_except_nations(spark, sf):
    c = _tbl(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _tbl(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s).distinct()


def q_distinct_langs(spark, sf):
    # A9: distinct languages dim
    return _tbl(spark, sf, "documents").groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def q_events_hourly(spark, sf):
    # streaming-shaped tumbling-window agg computed batch
    ev = _tbl(spark, sf, "events")
    return (
        ev.withColumn("hour", F.date_format("ts", "yyyy-MM-dd HH:00:00"))
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def q_events_sessionize(spark, sf):
    # gap-based sessionization (lag + running sum) — the batch twin of
    # a streaming session window
    ev = _tbl(spark, sf, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev = ev.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return ev.groupBy("user_id", "session").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


_STREAM_SEQ = {"dedup": 0, "hourly": 0, "perc": 0, "trending": 0}


def q_streaming_events_hourly(spark, sf):
    """REAL Structured Streaming windowed aggregation: the watermarked
    tumbling-hour counts of streaming/aggregates.py driven availableNow
    over the events table into a memory sink.  Complete output mode so
    the final table holds EVERY window (append would withhold windows
    younger than the watermark at stream end); the append-mode
    late-data semantics are covered by tests/test_streaming.py."""
    from search_engine_spark.streaming.aggregates import windowed_event_counts

    path = os.path.join(sf, "events.parquet")
    schema = spark.read.parquet(path).schema
    _STREAM_SEQ["hourly"] += 1
    name = f"stream_hourly_{_STREAM_SEQ['hourly']}"
    ckpt = tempfile.mkdtemp(prefix="se_stream_hourly_ckpt_")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf))
    q = (windowed_event_counts(stream.withColumn("ts", F.col("ts").cast("timestamp")))
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:00:00").alias("hour"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


def q_streaming_trending(spark, sf):
    """Trending items over the event stream: REAL Structured
    Streaming windowed (window, item) counts — item = the props
    payload's k key, regex-extracted so both engines state one rule —
    with the top-3-per-hour CUT applied at read over the sink
    (ranking inside an append stream would need retractions; heavy
    state in the stream, cheap rank at read — the serving split).
    Ties break (count desc, item asc); the oracle recomputes hourly
    top-3 relationally."""
    from search_engine_spark.streaming.aggregates import (
        top_items_per_window, windowed_item_counts)

    path = os.path.join(sf, "events.parquet")
    schema = spark.read.parquet(path).schema
    _STREAM_SEQ["trending"] += 1
    name = f"stream_trending_{_STREAM_SEQ['trending']}"
    ckpt = tempfile.mkdtemp(prefix="se_stream_trend_ckpt_")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf))
    q = (windowed_item_counts(
            stream.withColumn("ts", F.col("ts").cast("timestamp")))
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return top_items_per_window(spark.table(name), 3).select(
        F.date_format("window_start", "yyyy-MM-dd HH:00:00").alias("hour"),
        "rank", "item", "n",
    )


def q_streaming_dedup(spark, sf):
    # REAL Structured Streaming path (not a batch twin): the
    # applyInPandasWithState first-seen keep-list from
    # streaming/dedup.py, run to completion with availableNow over the
    # documents table and landed in a memory sink.  All files arrive
    # before the trigger so the stream admits min(doc_id) per content
    # hash — exactly the SQL oracle; the streamed-across-micro-batches
    # semantics are covered by tests/test_streaming.py.
    from search_engine_spark.streaming.dedup import dedup_stream

    path = os.path.join(sf, "documents.parquet")
    schema = spark.read.parquet(path).schema
    _STREAM_SEQ["dedup"] += 1
    name = f"stream_dedup_{_STREAM_SEQ['dedup']}"
    ckpt = tempfile.mkdtemp(prefix="se_stream_dedup_ckpt_")
    # FileStreamSource requires a directory basePath; the testdata tables
    # are flat files, so stream the sf dir with a glob filter.
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf))
    q = (dedup_stream(stream.select("doc_id", "text"))
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# queries — training-data-pipeline operators

def q_dedup_exact(spark, sf):
    return D.exact_duplicates(_tbl(spark, sf, "documents"))


def q_dedup_minhash_lsh(spark, sf):
    return D.lsh_candidate_pairs(_tbl(spark, sf, "documents"))


def q_dedup_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(_tbl(spark, sf, "documents"), threshold=0.5)


def q_dedup_near_pairs(spark, sf):
    # the 100 TB dedup pipeline: LSH candidates -> exact Jaccard on
    # candidates only (vs the all-pairs verifier above)
    return D.near_dup_pairs(_tbl(spark, sf, "documents"), threshold=0.5)


def q_dedup_clusters(spark, sf):
    # the keep-list: connected components over the verified near-dup
    # pairs (iterative min-label propagation; the DuckDB twin is a
    # recursive-CTE transitive closure)
    pairs = D.near_dup_pairs(_tbl(spark, sf, "documents"), threshold=0.5)
    return D.dedup_clusters(pairs)


def q_ann_dup_pairs(spark, sf):
    # LSH-bucketed embedding near-dup (the scale path for
    # dedup_embedding_cosine): cosine only within a sign bucket
    return SIM.ann_dup_pairs(_tbl(spark, sf, "embeddings"), threshold=0.35)


def q_dedup_simhash(spark, sf):
    # 64-bit SimHash near-pairs at the RECOMMENDED production default
    # Hamming<=1: the recall-cheap prefilter (2 keys/doc of 32 bits,
    # full recall by pigeonhole) whose candidate-exchange write
    # amplification is 2x — versus 56 keys/doc at h=3, the expensive
    # high-recall setting (kept exercised at h=3 in
    # tests/test_round3.py).  Candidates come from the
    # block-combination scheme derived from max_hamming
    # (dedup._simhash_layout); the DuckDB twin keeps the simple
    # 4-band candidates, which also have full recall at h<=3, so the
    # verified outputs are identical.
    return D.simhash_near_pairs(_tbl(spark, sf, "documents"), max_hamming=1)


def q_dedup_embedding_cosine(spark, sf):
    return D.embedding_dup_pairs(_tbl(spark, sf, "embeddings"), threshold=0.35)


def q_ann_cosine_topk(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    order = (F.desc("cosine"), F.asc("vec_id"))
    return SIM.cosine_topk(emb, qvec, k=10).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def _ts_keys(spark, sf):
    """(url, sort_key): crawl time in seconds RELATIVE to the corpus
    min (broadcast scalar subquery — epoch/timezone skew cancels)."""
    pages = load_documents_as_pages(spark, sf)
    mn = pages.select(F.min(F.col("warc_ts").cast("long")).alias("mn"))
    return pages.crossJoin(F.broadcast(mn)).select(
        "url",
        (F.col("warc_ts").cast("long") - F.col("mn")).alias("sort_key"))


def q_ft_sort_by_time(spark, sf):
    """Sort-by-field retrieval, fully SQL-checkable: the 20 NEWEST
    docs containing 'data' — matching from the shared tokenization,
    ordered by the relative crawl time desc, doc asc."""
    match = (
        _doc_tf(_tbl(spark, sf, "documents"))
        .filter(F.col("tok") == "data")
        .select(F.col("doc_id").cast("string").alias("url")).distinct()
    )
    keyed = match.join(_ts_keys(spark, sf), "url")
    order = (F.desc("sort_key"), F.asc("url"))
    return keyed.orderBy(*order).limit(20).select(
        F.col("url").cast("long").alias("doc_id"), "sort_key",
        F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"))


def q_search_sort_by_time(spark, sf):
    """The same newest-first page served through the PACKED index
    (searcher.search_sorted: pruned scan -> distinct candidates ->
    sort-key join -> TakeOrderedAndProject; relevance skipped
    entirely) ≡ the plain-postings twin, per rank."""
    eng = _engine_for(spark, sf)
    keys = _ts_keys(spark, sf)
    return _rank_eq(
        eng.search_sorted(ENGINE_QUERY, keys, 20),
        TW.twin_sorted_topk(spark, eng, ENGINE_QUERY, keys, 20),
        exact=["url", "sort_key"], approx=[],
    )


HIST_BUCKET_SECS = 60  # date-histogram bucket (sandbox corpus spans ~500s)


def _time_dims(spark, sf):
    """(url, t_bucket): crawl time bucketed RELATIVE to the corpus min
    (the min joins as a broadcast 1-row scalar subquery) — the offset
    subtraction cancels any epoch/timezone skew between engines, the
    recency-prior discipline applied to bucketing."""
    pages = load_documents_as_pages(spark, sf)
    mn = pages.select(F.min(F.col("warc_ts").cast("long")).alias("mn"))
    return pages.crossJoin(F.broadcast(mn)).select(
        "url",
        ((F.col("warc_ts").cast("long") - F.col("mn"))
         / F.lit(HIST_BUCKET_SECS)).cast("long").alias("t_bucket"),
    )


def q_ft_date_histogram(spark, sf):
    """ES-style date_histogram under a query context, fully
    SQL-checkable: distinct docs containing 'data', counted per
    relative crawl-time bucket.  Spark buckets pages.warc_ts seconds;
    the oracle buckets the doc_id offset the synthetic timestamps are
    built from — equal because the corpus-min subtraction cancels the
    epoch."""
    dims = _time_dims(spark, sf)
    match = (
        _doc_tf(_tbl(spark, sf, "documents"))
        .filter(F.col("tok") == "data")
        .select(F.col("doc_id").cast("string").alias("url")).distinct()
    )
    return (
        match.join(dims, "url")
        .groupBy("t_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_search_date_histogram(spark, sf):
    """The same histogram served through the PACKED index: the facets
    kernel (pruned scan -> distinct candidates -> doc_map -> dim join
    -> hash agg) fed the derived time dimension, compared per bucket
    against the plain-postings twin."""
    eng = _engine_for(spark, sf)
    dims = _time_dims(spark, sf).withColumnRenamed("t_bucket", "facet")
    e = eng.search_facets(ENGINE_QUERY, dims, "facet")
    t = TW.twin_facets(spark, eng, ENGINE_QUERY, dims, "facet")
    return TW.compare_topk(e, t, ["facet"], exact_cols=["n_docs"],
                           approx_cols=[])


def q_ft_date_pipeline(spark, sf):
    """ES pipeline aggregations over the date-histogram buckets, fully
    SQL-checkable: cumulative_sum, derivative (NULL first bucket), and
    the trailing-3 simple moving average on the half-up 1e-6 integer
    grid (operators/pipelineagg.py) — second-stage aggregations that
    consume the BUCKET frame, so the global-order window runs over
    bucket cardinality, never the corpus.  The oracle recomputes the
    identical window frames and BIGINT grid arithmetic in DuckDB."""
    return PA.bucket_pipeline(
        q_ft_date_histogram(spark, sf), "t_bucket", window=3)


def q_ft_bucket_stats(spark, sf):
    """ES sibling aggregation `stats_bucket` over the date-histogram
    frame, fully SQL-checkable: one summary row — bucket count,
    min/max/sum counts as BIGINTs and the mean on the half-up 1e-6
    integer grid (exact moments, one division — no float running
    sum).  The oracle recomputes the identical arithmetic in
    DuckDB."""
    return PA.bucket_stats(q_ft_date_histogram(spark, sf))


SDIFF_LAG, SDIFF_MIN = 2, 1


def q_ft_serial_diff(spark, sf):
    """ES `serial_diff` + `bucket_selector` pipeline aggregations over
    the date-histogram frame, fully SQL-checkable: the lag-2
    (seasonal) count difference with NULL for the first two buckets,
    then the selector's threshold filter applied AFTER the diff (the
    ES pipeline order — a dropped bucket still participates in its
    neighbours' lags)."""
    d = PA.serial_diff(q_ft_date_histogram(spark, sf), "t_bucket",
                       lag=SDIFF_LAG)
    # the unique bucket key must sort FIRST alphabetically ("bucket" <
    # "n_docs" < "sdiff_docs"): the driver's row normalization sorts
    # tuples column-name-ordered, and a tie reaching the NULL lag
    # cells would compare int against None
    return (PA.bucket_selector(d, min_count=SDIFF_MIN)
            .withColumnRenamed("t_bucket", "bucket"))


HIST_DL_INTERVAL = 32  # doc-length histogram band (tokens)


def q_ft_histogram(spark, sf):
    """ES numeric `histogram` aggregation, fully SQL-checkable:
    distinct docs containing 'data' counted per fixed-width
    doc-length band (token count div 32) — the bucket key is the
    exact BIGINT floor multiple ``dl - pmod(dl, 32)``
    (searcher.search_histogram's derivation run relationally)."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    match = (
        tf.filter(F.col("tok") == "data").select("doc_id").distinct()
    )
    i = F.lit(HIST_DL_INTERVAL)
    return (
        match.join(dl, "doc_id")
        .select((F.col("dl") - F.pmod(F.col("dl"), i)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_search_histogram(spark, sf):
    """The same histogram served through the PACKED index
    (searcher.search_histogram -> the audited facets kernel over the
    derived bucket dimension), compared per bucket against the
    plain-postings twin.  The attribute is the crawl-relative
    timestamp seconds (the sort-key table), bucketed at 90s — a
    DIFFERENT width than the 60s date-histogram row, so the floor
    arithmetic is exercised off the bucket grid the other row pins."""
    eng = _engine_for(spark, sf)
    vals = _ts_keys(spark, sf)
    e = eng.search_histogram(ENGINE_QUERY, vals, "sort_key", 90)
    i = F.lit(90)
    dims = vals.select(
        "url",
        (F.col("sort_key") - F.pmod(F.col("sort_key"), i)).alias("facet"))
    t = TW.twin_facets(spark, eng, ENGINE_QUERY, dims, "facet")
    return TW.compare_topk(
        e.withColumnRenamed("bucket", "facet"), t, ["facet"],
        exact_cols=["n_docs"], approx_cols=[])


# ES `range` aggregation bands over the doc-length attribute:
# an unbounded-low band, an OVERLAPPING middle band (a doc at dl 48
# counts in both — the ES multi-band contract), an unbounded-high
# band, and a deliberately empty band (the zero-fill contract)
RANGE_BANDS = [(None, 64), (32, 128), (64, None), (100000, None)]


def q_ft_range_agg(spark, sf):
    """ES `range` aggregation under a query context, fully
    SQL-checkable: distinct docs containing 'data' counted per
    caller-defined half-open [frm, to) doc-length band — bands
    overlap (a doc counts in every band it falls into) and every
    requested band returns a row, zero-count bands included.  The
    relational form mirrors the twin's band-table theta join; the
    engine's codegen when()-array plan is pinned by
    `search_range_agg`."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("v"))
    match = tf.filter(F.col("tok") == "data").select("doc_id").distinct()
    vals = match.join(dl, "doc_id")
    spec = spark.createDataFrame(
        [(i, None if frm is None else int(frm),
          None if to is None else int(to)) for i, (frm, to) in
         enumerate(RANGE_BANDS)],
        "band long, frm long, to long")
    hits = vals.join(
        spec,
        (F.col("frm").isNull() | (F.col("v") >= F.col("frm")))
        & (F.col("to").isNull() | (F.col("v") < F.col("to"))),
    )
    counts = (
        hits.select("doc_id", "band").distinct()
        .groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        spec.join(counts, "band", "left")
        .select("band",
                F.coalesce(F.col("n"), F.lit(0)).cast("long")
                .alias("n_docs"))
    )


def q_search_range_agg(spark, sf):
    """The same band counts served through the PACKED index
    (searcher.search_range_agg: the facets kernel with band
    membership as a codegen when()-array — no band-table join in the
    engine plan) ≡ the plain-postings twin whose membership IS a
    band-table theta join, exact per band.  The attribute is the
    crawl-relative timestamp seconds, banded differently than the
    ft row's doc-length bands."""
    eng = _engine_for(spark, sf)
    vals = _ts_keys(spark, sf)
    bands = [(None, 120), (60, 300), (120, None), (10**9, None)]
    e = eng.search_range_agg(ENGINE_QUERY, vals, "sort_key", bands)
    t = TW.twin_range_agg(spark, eng, ENGINE_QUERY, vals, "sort_key", bands)
    return TW.compare_topk(e, t, ["band"],
                           exact_cols=["frm", "to", "n_docs"],
                           approx_cols=[])


RARE_MAX_DOCS = 2


def q_ft_rare_terms(spark, sf):
    """ES `rare_terms` aggregation under a query context, fully
    SQL-checkable: the doc-length values carried by at most
    RARE_MAX_DOCS distinct docs containing 'data' — the exact
    long-tail answer ES approximates with a CuckooFilter (the facets
    kernel aggregates globally, so count-ASC selection is exact
    here).  Doc length is a naturally long-tailed dimension at every
    scale."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    match = tf.filter(F.col("tok") == "data").select("doc_id").distinct()
    return (
        match.join(dl, "doc_id")
        .groupBy(F.col("dl").alias("facet"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") <= RARE_MAX_DOCS)
    )


def q_search_rare_terms(spark, sf):
    """The same rare-tail selection served through the PACKED index
    (searcher.search_rare_terms = the audited facets kernel + the
    count ceiling) ≡ the plain-postings twin facets filtered by the
    same ceiling, exact per facet.  The dimension is the n_chars
    attribute — high-cardinality, so the rare tail is non-trivial at
    both driver scales."""
    eng = _engine_for(spark, sf)
    dims = _tbl(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("n_chars").alias("nc"))
    e = eng.search_rare_terms(ENGINE_QUERY, dims, "nc",
                              max_doc_count=RARE_MAX_DOCS)
    t = TW.twin_facets(spark, eng, ENGINE_QUERY, dims, "nc").filter(
        F.col("n_docs") <= RARE_MAX_DOCS)
    cmp = TW.compare_topk(e, t, ["facet"], exact_cols=["n_docs"],
                          approx_cols=[])
    # the rare facet SET is data-dependent (the oracle cannot re-derive
    # the engine's stemmed match set in SQL), so the row reduces to a
    # deterministic summary: every bucket matched, and the tail was
    # non-trivial on this corpus
    return cmp.agg(
        F.coalesce(F.bool_and("n_docs_match"), F.lit(False))
        .alias("all_match"),
        (F.count(F.lit(1)) >= 1).alias("non_trivial"))


MISSING_MOD = 7   # docs with doc_id % 7 == 0 carry no attribute row


def q_ft_missing(spark, sf):
    """ES `missing` aggregation, fully SQL-checkable: docs containing
    'data' with NO row in the attribute table (here every doc whose
    id is not a multiple of 7 carries a value, so missing = the
    multiples of 7 among the matches)."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    match = tf.filter(F.col("tok") == "data").select("doc_id").distinct()
    has_val = (_tbl(spark, sf, "documents")
               .filter(F.col("doc_id") % MISSING_MOD != 0)
               .select("doc_id"))
    return (
        match.join(has_val, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_search_missing(spark, sf):
    """The same missing count served through the PACKED index
    (searcher.search_missing: the facets kernel's candidate set
    anti-joined against the dimension table, no forced broadcast) ≡
    the plain-postings twin, exact — and non-trivial on this
    corpus."""
    eng = _engine_for(spark, sf)
    dims = (_tbl(spark, sf, "documents")
            .filter(F.col("doc_id") % MISSING_MOD != 0)
            .select(F.col("doc_id").cast("string").alias("url")))
    e = eng.search_missing(ENGINE_QUERY, dims).first()["n_docs"]
    t = TW.twin_missing(spark, eng, ENGINE_QUERY, dims).first()["n_docs"]
    return spark.createDataFrame(
        [(bool(e == t), bool(e > 0))], "n_docs_match boolean, non_trivial boolean")


SAMPLER_PPM, SAMPLER_SALT = 400_000, ":smp"


def q_ft_sampler(spark, sf):
    """ES `sampler` aggregation, fully SQL-checkable: per-language
    counts over a DETERMINISTIC 40% md5-bucket sample of the docs
    containing 'data' — the hash rule (first 8 md5 hex chars of
    doc_id||salt, mod 1e6) is the sample_bucket convention both
    engines evaluate identically, so the sampled aggregation is
    exactly reproducible."""
    docs = _tbl(spark, sf, "documents")
    tf = _doc_tf(docs)
    match = tf.filter(F.col("tok") == "data").select("doc_id").distinct()
    sampled = match.filter(
        F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"),
                           F.lit(SAMPLER_SALT))), 1, 8),
            16, 10).cast("long") % 1_000_000 < SAMPLER_PPM)
    return (
        sampled.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("facet"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_search_sampler(spark, sf):
    """The sampler served through the PACKED index
    (searcher.search_facets_sampled: the facets kernel + one codegen
    md5-ppm filter on the candidate urls) ≡ the plain-postings twin
    applying the same deterministic rule — reduced to the
    summary-row form (the sampled facet set is data-dependent)."""
    eng = _engine_for(spark, sf)
    dims = load_documents_as_pages(spark, sf).select("url", "lang")
    e = eng.search_facets_sampled(ENGINE_QUERY, dims, "lang",
                                  SAMPLER_PPM, SAMPLER_SALT)
    t = TW.twin_facets_sampled(spark, eng, ENGINE_QUERY, dims, "lang",
                               SAMPLER_PPM, SAMPLER_SALT)
    cmp = TW.compare_topk(e, t, ["facet"], exact_cols=["n_docs"],
                          approx_cols=[])
    return cmp.agg(
        F.coalesce(F.bool_and("n_docs_match"), F.lit(False))
        .alias("all_match"),
        (F.count(F.lit(1)) >= 1).alias("non_trivial"))


CHUNK_WINDOW, CHUNK_STRIDE = 32, 24  # context-window chunking (sandbox-sized)


def q_chunk_windows(spark, sf):
    """Overlapping fixed-token-window chunking (the context-window
    materialization between curation and shard packing): one map-only
    codegen projection — tokenize, sequence() explode of the chunk
    index, slice + array_join.  Pure integer chunk arithmetic, so the
    DuckDB oracle recomputes the identical layout."""
    return PK.chunk_documents(_tbl(spark, sf, "documents"),
                              CHUNK_WINDOW, CHUNK_STRIDE)


PACK_BUDGET = 2000  # tokens per training shard (sandbox-sized)


def q_pack_shards(spark, sf):
    """Token-budget shard packing — next-fit over the doc-id total
    order: shard = floor(exclusive-prefix-sum / budget), documents
    never split.  Spark runs the distributed scan (range partition →
    per-partition totals → offset broadcast → one Arrow pass); the
    DuckDB oracle is the single global window — equal row for row
    because the assignment depends only on (order, weights, budget)."""
    docs = _tbl(spark, sf, "documents")
    w = docs.select(
        "doc_id", F.size(TS.simple_tokens()).cast("long").alias("n_tokens"))
    return PK.pack_shards(w, PACK_BUDGET, n_parts=8)


def q_ann_int8_topk(spark, sf):
    """int8 scalar-quantized MIPS top-10 (Lucene 9.10 SQ / FAISS SQ8
    storage form): corpus AND query (vec_id=0) quantize half-up on the
    shared corpus-absmax grid, score by the exact BIGINT dot product.
    The DuckDB oracle recomputes the WHOLE path — absmax, grid,
    integer dot, ranking — so quantization itself is exactness-gated,
    not an unverified approximation."""
    return SIM.ann_int8_topk(_tbl(spark, sf, "embeddings"),
                             query_id=0, k=10)


def q_ann_lsh_topk(spark, sf):
    # deterministic ANN: exact cosine top-k within the probed LSH
    # buckets (bucket = vectorized matmul sign-hash; probe = Hamming<=1
    # neighborhood of the query's bucket) — the DuckDB twin recomputes
    # the identical bucket + probe + score.  The row queries the
    # STORED bucket-partitioned layout, so the probe is a
    # PartitionFilter on the scan (the 100 TB path), not a per-query
    # bucket recompute over the whole corpus.
    emb = _tbl(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    lsh_path, _, _ = _ann_layouts_for(spark, sf)
    order = (F.desc("cosine"), F.asc("vec_id"))
    return SIM.ann_lsh_topk_pruned(spark, lsh_path, qvec, k=10).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_ann_ivf_topk(spark, sf):
    # IVF ANN: deterministic seed-vector centroids (vec_id < 16),
    # matmul assignment, nprobe=4 probe — exact cosine top-k within
    # the probed inverted lists; DuckDB recomputes the whole
    # structure.  Queries the STORED centroid-partitioned layout
    # (probe = PartitionFilter); the embeddings table is consulted
    # only for the 16 centroid seed vectors.
    emb = _tbl(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    _, ivf_path, _ = _ann_layouts_for(spark, sf)
    order = (F.desc("cosine"), F.asc("vec_id"))
    return SIM.ivf_topk_pruned(spark, ivf_path, emb, qvec, k=10).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_ann_pq_topk(spark, sf):
    """Product-quantization ANN (Jegou et al. 2011): 8 subspaces x 16
    seed codewords on the 1e-6 integer grid, asymmetric-distance
    top-10 served from the STORED codes table (m bytes per vector —
    the 32x-compressed serving layout; the float embeddings are
    consulted only for the query vector).  Every distance is an exact
    BIGINT, so DuckDB recomputes codes, the query distance table, and
    the ADC ranking bit for bit."""
    emb = _tbl(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    _, _, pq_path = _ann_layouts_for(spark, sf)
    return SIM.pq_topk_stored(spark, pq_path, qvec, k=10)


def q_knn_join_first5(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    out = SIM.knn_join_exact(emb, qs, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_text_token_stats(spark, sf):
    out = TS.token_stats(_tbl(spark, sf, "documents"))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long")).withColumn(
        "n_distinct_tokens", F.col("n_distinct_tokens").cast("long")
    )


def q_text_quality(spark, sf):
    out = TS.quality_score(_tbl(spark, sf, "documents"))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


def q_text_langid(spark, sf):
    out = TS.language_id(_tbl(spark, sf, "documents"))
    return out.withColumn("marker_hits", F.col("marker_hits").cast("long"))


def q_text_fingerprint(spark, sf):
    return TS.fingerprint(_tbl(spark, sf, "documents"))


def q_text_winnow_fingerprint(spark, sf):
    # MOSS-style winnowing: k-gram hash stream -> sliding-window min
    # -> per-doc distinct fingerprint set (summarized as a hash so the
    # row stays one-per-doc); guarantees shared fingerprints for any
    # >= w+k-1 token overlap
    return TS.winnow_fingerprint(_tbl(spark, sf, "documents"))


def q_text_bpe_stats(spark, sf):
    # token counting under the BPE-ish piece regex (LLM token
    # budgeting), beside the whitespace tokenizer's counts
    return TS.token_count_bpe(_tbl(spark, sf, "documents"))


def q_text_gopher_quality(spark, sf):
    # Gopher-rule quality flags (Rae et al. 2021 App. A adapted):
    # every metric is an integer count from ONE map-only Arrow pass
    # and every flag a cross-multiplied integer comparison, so the
    # DuckDB twin (list-function recomputation) is exact with no
    # float rounding anywhere
    return WQ.gopher_quality(_tbl(spark, sf, "documents"))


def q_embed_docs(spark, sf):
    """Feature-hash document embeddings (the docs→vectors link of the
    ANN pipeline), compared through hash-exact scalar projections
    (nnz / integer checksum / rounded l2)."""
    return EM.embed_summary(_tbl(spark, sf, "documents"))


def q_text_surprisal(spark, sf):
    """CCNet-style perplexity-filter stand-in: per-doc mean surprisal
    under the corpus's own unigram LM, bucketed head/middle/tail
    against the corpus mean on an exact integer micro-grid."""
    return WQ.surprisal_buckets(_tbl(spark, sf, "documents"))


def q_text_more_like_this(spark, sf):
    """Related documents for doc 0 by tf-idf cosine over shared terms
    (the inverted-index "more like this").  Runs over the STORED
    statistics layout (weights/dictionary/norms/N materialized once
    per corpus, mlt.write_mlt_index): the per-query plan touches only
    the query terms' bucket partitions + a candidate norm lookup —
    no corpus pass per query.  Exact same rows as the in-memory
    operator (asserted in tests/test_ireval_mlt.py)."""
    mlt_path = _mlt_index_for(spark, sf)
    order = (F.desc("cosine"), F.asc("doc_id"))
    return MLT.more_like_this_indexed(
        spark, mlt_path, _tbl(spark, sf, "documents"), query_doc_id=0, k=10,
    ).withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_ir_eval(spark, sf):
    """trec_eval-style per-query metrics (P@10 / AP / NDCG@10) closing
    the TREC loop: a deterministic term-frequency run over the three
    flagship terms, qrels = docs containing the term with a portable
    md5 coin flip (rel iff first hex of md5(qid:doc) in 0..7)."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS)).withColumn(
        "qid", F.col("tok")
    ).withColumn("url", F.col("doc_id").cast("string"))
    w = Window.partitionBy("qid").orderBy(F.desc("tf"), F.asc("doc_id"))
    run = (
        qtf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "rank", "url")
    )
    coin = F.substring(
        F.md5(F.to_binary(F.concat_ws(":", F.col("qid"), F.col("url")), F.lit("utf-8"))),
        1, 1,
    )
    qrels = qtf.select(
        "qid", "url",
        F.when(coin.isin(*"01234567"), 1).otherwise(0).alias("rel"),
    )
    return IR.ir_metrics(run, qrels, k=10)


def q_ir_eval_summary(spark, sf):
    """Run-level MAP / mean-NDCG / mean-P@10 rollup of the per-query
    metrics — the leaderboard row."""
    return IR.mean_metrics(q_ir_eval(spark, sf))


BOOST_QUERY = "data^2 table row^0.5"


def q_search_boosted(spark, sf):
    """Lucene per-term boosts (``data^2 table row^0.5``) through the
    packed engine ≡ the plain-postings twin, per rank.  The engine
    applies the weight as a driver-literal codegen map lookup over the
    unpacked rows; the twin joins a boosts DataFrame into its
    raw-postings recompute — different physical plans, and the skewed
    weights reshuffle the plain BM25 ranking, so an unweighted slip on
    either side flips a flag."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.query_string_search(BOOST_QUERY, 20),
        TW.twin_boosted_topk(spark, eng, BOOST_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_top_hits(spark, sf):
    """ES ``top_hits`` aggregation — best 3 hits per language plus the
    bucket's total match count, in one window pass over the pruned
    scored set — ≡ the plain-postings twin (scores recomputed from
    raw, counts via a separate groupBy joined back).  Compared per
    (facet, bucket_rank) on url, count, and score."""
    eng = _engine_for(spark, sf)
    dims = load_documents_as_pages(spark, sf).select("url", "lang")
    e = eng.search_top_hits(ENGINE_QUERY, dims, "lang", 3)
    t = TW.twin_top_hits(spark, eng, ENGINE_QUERY, dims, "lang", 3)
    return TW.compare_topk(e, t, ["facet", "bucket_rank"],
                           exact_cols=["url", "n_docs"], approx_cols=["score"])


SYN_TABLE = (("data", "stream"), ("row", "line"))


def q_search_synonyms(spark, sf):
    """Query-time synonym expansion (Lucene SynonymQuery) through the
    packed engine ≡ the plain-postings twin, per rank.  The synonyms
    table maps data→stream and row→line, so two of ENGINE_QUERY's
    three concepts blend a second posting list in — tf summed BEFORE
    the saturation and group df = max member df on both sides, but
    through different plans (engine: pruned packed scan + raw-tf
    unpack + driver-literal group idf map; twin: raw-postings
    recompute with joined group frames)."""
    eng = _engine_for(spark, sf)
    syn = spark.createDataFrame(list(SYN_TABLE), "term string, syn string")
    return _rank_eq(
        eng.synonym_search(ENGINE_QUERY, syn, 20),
        TW.twin_synonym_topk(spark, eng, ENGINE_QUERY, syn, 20),
        exact=["url"], approx=["score"],
    )


def q_search_extended_stats(spark, sf):
    """ES extended_stats + percentiles under a query context through
    the packed engine ≡ the raw-postings twin, per facet: per-language
    count/min/max/sum/mean/stddev/quartiles of n_chars over the FULL
    live matching set.  Every column compares EXACTLY — sums are
    BIGINT, mean and stddev derive from exact BIGINT moments in one
    double expression each, and the interpolated percentiles are
    computed by the same aggregate over the same per-group values —
    so the row pins the match-set resolution (packed pruned scan vs
    raw postings)."""
    eng = _engine_for(spark, sf)
    docs = _tbl(spark, sf, "documents")
    vals = docs.select(F.col("doc_id").cast("string").alias("url"),
                       "lang", "n_chars")
    e = eng.search_extended_stats(ENGINE_QUERY, vals, "lang", "n_chars")
    t = TW.twin_extended_stats(spark, eng, ENGINE_QUERY, vals, "lang", "n_chars")
    return TW.compare_topk(
        e, t, ["facet"],
        exact_cols=["n_docs", "v_min", "v_max", "v_sum", "v_avg",
                    "v_sd", "p25", "p50", "p75"],
        approx_cols=[])


def q_ft_result_stats(spark, sf):
    """Relational extended_stats under a query context, fully
    SQL-checkable: docs matching >= 1 query term (simple tokenizer),
    per-language count/min/max/sum/mean/stddev/quartiles of n_chars.
    Exact-BIGINT moment derivations; the quartiles pin Spark's
    ``percentile`` against DuckDB's ``quantile_cont`` (linear
    interpolation, bit-identical — probed)."""
    docs = _tbl(spark, sf, "documents")
    tfm = _doc_tf(docs).filter(F.col("tok").isin(*FT_QUERY_TERMS))
    match = tfm.select("doc_id").distinct()
    rows = match.join(
        docs.select("doc_id", F.col("lang").alias("facet"),
                    F.col("n_chars").cast("long").alias("v")), "doc_id")
    return (
        rows.groupBy("facet")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
            F.sum("v").cast("long").alias("v_sum"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("_sx2"),
            F.percentile(F.col("v"), 0.25).alias("p25"),
            F.percentile(F.col("v"), 0.5).alias("p50"),
            F.percentile(F.col("v"), 0.75).alias("p75"),
        )
        .withColumn(
            "v_avg",
            F.round(F.col("v_sum").cast("double") / F.col("n_docs"), 6))
        .withColumn(
            "v_sd",
            F.round(F.sqrt(
                (F.col("n_docs") * F.col("_sx2")
                 - F.col("v_sum") * F.col("v_sum")).cast("double")
                / (F.col("n_docs") * F.col("n_docs"))), 6))
        .select("facet", "n_docs", "v_min", "v_max", "v_sum",
                "v_avg", "v_sd", "p25", "p50", "p75")
    )


def q_search_cardinality(spark, sf):
    """ES cardinality agg under a query context: distinct attribute
    values among the matching docs, exact (countDistinct) AND via the
    deterministic md5-HLL sketch (the web-scale register-merge shape;
    approx=True).  Both engine answers must equal the same statistic
    computed over the raw-postings twin's match set, and the HLL
    estimate must land within 20% of exact truth (at this domain size
    the small-range linear-counting correction applies, so it is in
    fact exact-or-near-exact — the slack covers register collisions,
    not engine noise, which the equality columns pin to zero)."""
    eng = _engine_for(spark, sf)
    docs = _tbl(spark, sf, "documents")
    vals = docs.select(F.col("doc_id").cast("string").alias("url"), "source")
    e_exact = int(eng.search_cardinality(
        ENGINE_QUERY, vals, "source").first()["n_values"])
    e_hll = int(eng.search_cardinality(
        ENGINE_QUERY, vals, "source", approx=True).first()["n_values"])
    twin_rows = (
        TW.live_raw_postings(spark, eng)
        .filter(F.col("term_key").isin(eng.parse_query(ENGINE_QUERY)))
        .select("url").distinct()
        .join(vals.select("url", F.col("source").cast("string").alias("v")),
              "url")
    )
    t_exact = int(twin_rows.agg(
        F.countDistinct("v").cast("long").alias("n")).first()["n"])
    t_hll = int(SK.hll_estimate(SK.hll_registers(twin_rows, "v"))
                .select(F.floor(F.col("est") + F.lit(0.5)).cast("long")
                        .alias("n")).first()["n"])
    return spark.createDataFrame(
        [(e_exact == t_exact, e_hll == t_hll,
          abs(e_hll - e_exact) <= 0.2 * max(e_exact, 1))],
        "exact_match boolean, hll_match boolean, hll_close boolean",
    )


_QCACHE_CACHE: dict[str, str] = {}


def _qcache_for(spark: SparkSession, sf_dir: str) -> str:
    """Stored query-result cache (operators/qcache.py) over the entry
    index for the head queries, built once per sf_dir (one batched
    engine job), lineage-stamped against the index."""
    key = os.path.abspath(sf_dir)
    if key not in _QCACHE_CACHE:
        eng = _engine_for(spark, key)
        tag = hashlib.md5(f"{key}|qcache10".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_qcache_{tag}")
        _QCACHE_CACHE[key] = _atomic_publish(
            out, lambda tmp: QC.write_query_cache(
                eng, [ENGINE_QUERY, "query plan join"], tmp, 10))
    return _QCACHE_CACHE[key]


def q_search_cached(spark, sf):
    """Query-result cache (the ES request-cache shape): the stored
    top-10 page — a PartitionFilters-pruned read keyed by the
    normalized-query digest, no postings/dictionary/scoring — must
    equal the live engine's answer per rank, AND a word-order
    permutation of the query must hit the SAME entry (the cache keys
    on parsed term keys, not the raw string)."""
    eng = _engine_for(spark, sf)
    cache = _qcache_for(spark, sf)
    permuted = " ".join(reversed(ENGINE_QUERY.split()))
    hit = QC.cached_search(eng, cache, permuted, 10)
    assert hit is not None, "normalized-query cache lookup missed"
    return _rank_eq(
        hit.withColumn("rank", F.col("rank").cast("int")),
        eng.search(ENGINE_QUERY, 10),
        exact=["url"], approx=["score"],
    )


LTR_WEIGHTS = {"f_bm25": 1.0, "f_match": 0.25, "f_dl": -0.0005}


def q_search_ltr(spark, sf):
    """Two-phase LTR pipeline: BM25 top-50 candidate window -> per-
    candidate features from the SAME pruned scan (blended first-pass
    score, distinct matched terms, doc length) -> micro-grid linear
    rescore (exact BIGINT products; the dl penalty and match bonus
    reshuffle the BM25 order).  Engine features come from the packed
    raw-tf unpack, the twin's from live raw postings — per-rank
    equivalence with a 2-micro score tolerance (the f_bm25
    micro-rounding sits on engine float sums; url ranks compare
    exactly)."""
    eng = _engine_for(spark, sf)
    e = LTR.ltr_rescore(LTR.ltr_features(eng, ENGINE_QUERY, 50),
                        LTR_WEIGHTS, 10)
    t = TW.twin_ltr_topk(spark, eng, ENGINE_QUERY, LTR_WEIGHTS, 50, 10)
    return TW.compare_topk(
        e.withColumn("rank", F.col("rank").cast("long")),
        t.withColumn("rank", F.col("rank").cast("long")),
        ["rank"], exact_cols=["url"], approx_cols=["ltr_micro"], tol=2.0)


def q_search_facets(spark, sf):
    """Facet counts over the FULL matching doc set (the result-page
    sidebar): for every language, the number of distinct docs holding
    >= 1 query term — computed through the packed index (pruned scan
    -> distinct candidates -> doc_map -> dim join -> hash agg) and
    compared per facet against the independent plain-postings twin
    (twin.twin_facets).  Counts must match exactly; the oracle states
    the constant all-true expectation for the corpus's 5 languages."""
    eng = _engine_for(spark, sf)
    dims = load_documents_as_pages(spark, sf).select("url", "lang")
    e = eng.search_facets(ENGINE_QUERY, dims, "lang")
    t = TW.twin_facets(spark, eng, ENGINE_QUERY, dims, "lang")
    return TW.compare_topk(e, t, ["facet"], exact_cols=["n_docs"], approx_cols=[])


def q_search_facets_multi(spark, sf):
    """Every sidebar dimension in ONE candidate pass
    (searcher.search_facets_multi: one pruned scan + one labeled dim
    union + one (dim, facet) hash agg) ≡ a per-dimension
    search_facets loop, across three heterogeneous dimensions (lang,
    source, a numeric doc_id%7 bucket exercising the string cast)."""
    eng = _engine_for(spark, sf)
    docs = _tbl(spark, sf, "documents")
    base = docs.select(
        F.col("doc_id").cast("string").alias("url"), "lang", "source",
        (F.col("doc_id") % 7).alias("b7"),
    )
    specs = [("lang", base, "lang"), ("source", base, "source"),
             ("bucket7", base, "b7")]
    multi = eng.search_facets_multi(ENGINE_QUERY, specs)
    per = None
    for name, dims, col in specs:
        one = eng.search_facets(ENGINE_QUERY, dims, col).select(
            F.lit(name).alias("dim"),
            F.col("facet").cast("string").alias("facet"),
            "n_docs",
        )
        per = one if per is None else per.unionByName(one)
    return TW.compare_topk(multi, per, ["dim", "facet"],
                           exact_cols=["n_docs"], approx_cols=[])


def q_ft_composite(spark, sf):
    """ES ``composite`` aggregation page, fully SQL-checkable: docs
    containing 'data' (simple tokens) bucketed by the (lang, doc_id%7)
    key tuple, the page being the first 7 buckets strictly AFTER the
    ('en', 3) cursor in key order — the keyset-paginated bucket walk
    (searcher.search_composite's plan shape run relationally).  The
    oracle recomputes the match set, the bucket agg, the strict
    lexicographic after-filter, and the ordered cut verbatim."""
    docs = _tbl(spark, sf, "documents")
    match = (
        _doc_tf(docs).filter(F.col("tok") == "data")
        .select("doc_id").distinct()
    )
    dims = docs.select(
        "doc_id", "lang", (F.col("doc_id") % 7).cast("long").alias("b7"))
    pairs = match.join(dims, "doc_id").select("doc_id", "lang", "b7").distinct()
    buckets = pairs.groupBy("lang", "b7").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    cond = (F.col("lang") > "en") | ((F.col("lang") == "en") & (F.col("b7") > 3))
    return buckets.filter(cond).orderBy("lang", "b7").limit(7)


def q_search_composite(spark, sf):
    """Composite-aggregation pagination through the PACKED index ≡ the
    plain-postings twin's global bucket slice, per rank: page 1 (5
    buckets) plus page 2 resumed from ONLY page 1's last key tuple
    (the ES after_key cursor) must tile exactly the twin's first 10
    buckets of the (lang, doc_id%7) key order — the no-skip/no-dup
    pagination contract, checked through a different mechanism
    (keyset filter + TakeOrderedAndProject vs row_number slice)."""
    eng = _engine_for(spark, sf)
    docs = _tbl(spark, sf, "documents")
    base = docs.select(
        F.col("doc_id").cast("string").alias("url"), "lang",
        (F.col("doc_id") % 7).cast("long").alias("b7"),
    )
    specs = [("lang", base, "lang"), ("b7", base, "b7")]
    rank = F.row_number().over(Window.orderBy(F.asc("lang"), F.asc("b7")))
    p1 = eng.search_composite(ENGINE_QUERY, specs, size=5).withColumn("rank", rank)
    last = p1.orderBy(F.desc("rank")).limit(1).collect()[0]
    p2 = eng.search_composite(
        ENGINE_QUERY, specs, size=5, after=(last["lang"], last["b7"]),
    ).withColumn("rank", rank + 5)
    engine_pages = p1.unionByName(p2)
    twin10 = TW.twin_composite(spark, eng, ENGINE_QUERY, specs, 10)
    return _rank_eq(engine_pages, twin10,
                    exact=["lang", "b7", "n_docs"], approx=[])


def q_ir_search_eval(spark, sf):
    """END-TO-END TREC loop over the PACKED index — the composition
    the reference runs as Searcher -> run file -> external trec_eval
    (Searcher.java:166-197): batch BM25 search through the packed
    index -> run table (qid, rank, url) -> ir_metrics against
    deterministic md5-coin qrels over the whole corpus.

    Equivalence oracle (the search_* pattern): the SAME qrels score
    the run of the independent plain-postings twin (twin.py); since
    tests/driver rows already pin run ≡ twin-run per rank, every
    per-qid metric must agree — integer counters exactly, float
    metrics to 1e-9 (both sides round at 6dp; the tolerance only
    absorbs aggregation-order ulps).  Any divergence anywhere in the
    search -> run -> eval chain flips a flag and the driver hash."""
    eng = _engine_for(spark, sf)
    qs = [("q1", ENGINE_QUERY), ("q2", "query plan join")]
    k = 10
    run_e = eng.search_batch(qs, k).select(
        "qid", F.col("rank").cast("long").alias("rank"), "url")
    run_t = None
    for qid, q in qs:
        one = TW.twin_bm25_topk(spark, eng, q, k).select(
            F.lit(qid).alias("qid"), F.col("rank").cast("long").alias("rank"),
            "url")
        run_t = one if run_t is None else run_t.unionByName(one)
    urls = load_documents_as_pages(spark, sf).select("url")
    qids = spark.createDataFrame([(qid,) for qid, _ in qs], "qid string")
    coin = F.substring(
        F.md5(F.to_binary(F.concat_ws(":", F.col("qid"), F.col("url")),
                          F.lit("utf-8"))), 1, 1)
    qrels = qids.crossJoin(urls).select(
        "qid", "url", F.when(coin.isin(*"01234567"), 1).otherwise(0).alias("rel"))
    m_e = IR.ir_metrics(run_e, qrels, k=k)
    m_t = IR.ir_metrics(run_t, qrels, k=k)
    return TW.compare_topk(
        m_e, m_t, ["qid"],
        exact_cols=["n_ret", "n_rel", "n_rel_ret"],
        approx_cols=["p_at_k", "ap", "ndcg"],
    )


MISSPELLED = ("tabel", "joni", "quey", "filtr", "zzzzqqq")


def q_text_snippets(spark, sf):
    """Keyword-in-context excerpts: per doc containing any flagship
    term, the earliest match position and its +-5-token window — one
    map-only codegen pass (operators/snippets.py)."""
    return SN.best_snippet(_tbl(spark, sf, "documents"), list(FT_QUERY_TERMS), 5)


def q_text_suggest(spark, sf):
    """'Did you mean': closest vocab term within 2 edits for a fixed
    misspelling set (ties: higher df, then asc).  Served from the
    STORED SymSpell deletion-neighborhood index (built once per
    corpus, snippets.write_suggest_index): the per-query plan is a
    variant IN-list pushdown lookup + candidate-only levenshtein
    verify — identical rows to the brute vocab scan (SymSpell full
    recall, asserted in tests/test_snippets.py).  zzzzqqq has no
    candidate and must be absent."""
    return SN.suggest_terms_indexed(spark, _suggest_index_for(spark, sf),
                                    list(MISSPELLED), 2)


DYM_TERMS = ("data", "tabel", "quey", "dup", "zzzzqqq")
DYM_GAIN = 4


def q_text_did_you_mean(spark, sf):
    """Whole-query 'did you mean' banner (the ES term-suggester
    suggest_mode=popular rule with a confidence gate): EVERY input
    term keeps a row.  'tabel'/'quey' are out-of-vocabulary and
    correct to their frequent neighbors; 'data' and 'dup' are
    in-vocabulary with no >gain x-more-frequent neighbor within 2
    edits, so they stay (changed=false); 'zzzzqqq' has no candidate
    and stays as itself — a banner never drops words."""
    docs = _tbl(spark, sf, "documents")
    vocab = _doc_tf(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return SN.did_you_mean(vocab, list(DYM_TERMS), max_dist=2,
                           gain=DYM_GAIN, term_col="tok", df_col="df")


# every token is a Porter fixed point, so the analyzed term keys the
# banner rows carry equal the typed tokens (the static oracle lists
# them verbatim); 'tabel'/'quer' correct to the stems 'tabl'/'queri'
DYM_ENGINE_QUERY = "data tabel quer dup zzzzqqq"


def q_search_did_you_mean(spark, sf):
    """Engine banner over the packed dictionary ≡ stats-as-packed
    twin per term: the same gain gate and (dist asc, df desc, term
    asc) pick, engine via one min_by-struct pass, twin via a
    row_number window over raw-posting df — different physical
    plans pinned column-for-column."""
    eng = _engine_for(spark, sf)
    return TW.compare_topk(
        eng.did_you_mean(DYM_ENGINE_QUERY, max_dist=2, gain=DYM_GAIN),
        TW.twin_did_you_mean(spark, eng, DYM_ENGINE_QUERY,
                             max_dist=2, gain=DYM_GAIN),
        ["term"],
        ["suggestion", "dist", "df_term", "df_sugg", "changed"],
        [],
    )


SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}
SAMPLE_SALT = "r3"
SAMPLE_DEFAULT = 0.05

# contamination row: eval set = grams of docs 0..4; n=3 because the
# synthetic corpus is short docs over a tiny vocabulary (real eval
# sets use the operator default n=8+, but at n>=5 this corpus has ~0
# cross-doc collisions — an empty row certifies nothing)
CONTAM_EVAL_DOCS = 5
CONTAM_NGRAM = 3


def q_text_contamination(spark, sf):
    """Eval-set decontamination: docs (outside the eval set) sharing
    any n-gram with the eval docs, with per-doc hit counts — the
    n-gram-overlap check run before training on any crawled corpus."""
    docs = _tbl(spark, sf, "documents")
    ev = CU.eval_grams_from_docs(
        docs.filter(F.col("doc_id") < CONTAM_EVAL_DOCS), n=CONTAM_NGRAM
    )
    return CU.contamination_hits(
        docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS), ev, n=CONTAM_NGRAM
    )


def q_text_contamination_bloom(spark, sf):
    """Decontamination through the Bloom semi-join reduction
    (curation.contamination_hits_bloom): the eval set ships as a
    few-KB bit list, k broadcast semi-joins drop clean grams
    map-side, and the exact join settles the survivors — output
    bit-identical to text_contamination (no false negatives), so the
    SAME SQL oracle pins both forms."""
    docs = _tbl(spark, sf, "documents")
    ev = CU.eval_grams_from_docs(
        docs.filter(F.col("doc_id") < CONTAM_EVAL_DOCS), n=CONTAM_NGRAM
    )
    return CU.contamination_hits_bloom(
        docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS), ev, n=CONTAM_NGRAM
    )


def q_text_decontam_strip(spark, sf):
    """Decontamination by EXCISION (curation.strip_contaminated_spans),
    fully SQL-checkable: every token span matching an eval-set 3-gram
    is cut from the training docs and the survivors re-join in order —
    the GPT-3 App. C "remove the overlapping portions" treatment,
    sharing the span-coverage/reassembly kernel with dedup_span_strip;
    the mark join is the contamination_hits broadcast eval semi-join.
    The oracle re-derives the eval-gram set and the whole excision in
    DuckDB verbatim."""
    docs = _tbl(spark, sf, "documents")
    ev = CU.eval_grams_from_docs(
        docs.filter(F.col("doc_id") < CONTAM_EVAL_DOCS), n=CONTAM_NGRAM
    )
    return CU.strip_contaminated_spans(
        docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS), ev, n=CONTAM_NGRAM
    )


def q_dedup_crossdoc_grams(spark, sf):
    """Cross-document duplicated-gram fraction per doc — the
    corpus-level paragraph-dedup signal (two gram-keyed shuffles,
    shared shingle kernel)."""
    return CU.crossdoc_dup_grams(_tbl(spark, sf, "documents"))


def q_training_mix(spark, sf):
    """The end-to-end curation cut: Gopher quality pass ∧ near-dup
    keep-list survivor ∧ stratified hash sample -> training manifest."""
    return CU.training_mix(
        _tbl(spark, sf, "documents"),
        rates=SAMPLE_RATES, salt=SAMPLE_SALT, default_rate=SAMPLE_DEFAULT,
    )


def q_dedup_lines(spark, sf):
    """Cross-doc line-level dedup (CCNet/RefinedWeb boilerplate pass)
    over the deterministic lined corpus: the constant nav header and
    the doc_id%5 section banners cross the min_docs=30 cut and are
    stripped; the unique body and the doc_id%997 long-tail notices
    survive in order."""
    lined = CU.synthetic_lined(_tbl(spark, sf, "documents"))
    # line_key="text": byte-exact vs the SQL oracle by construction;
    # the production digest key has its own row below
    return CU.dedup_lines(lined, min_docs=30, line_key="text")


def q_dedup_lines_digest(spark, sf):
    """The production setting of the same pass — every exchange keyed
    on md5(line) (32 bytes moved per row instead of the full
    boilerplate text) — pinned against the SAME raw-line SQL oracle:
    identical keep-decisions up to an md5 collision."""
    lined = CU.synthetic_lined(_tbl(spark, sf, "documents"))
    return CU.dedup_lines(lined, min_docs=30, line_key="digest")


SPAN_N, SPAN_MIN_DOCS = 8, 2  # sandbox-sized (Lee et al. use 50 tokens)


def q_dedup_span_strip(spark, sf):
    """Cross-document SPAN removal (the Lee et al. 2021
    exact-substring-dedup text transformation), fully SQL-checkable:
    every token position covered by an 8-gram occurring in >= 2
    distinct docs is removed and the survivors re-join in order —
    seed grams, the overlapping-coverage union, the anti-join
    reassembly and the all-duplicate empty-text contract all
    recomputed verbatim in DuckDB.  The raw-gram key form (the
    production md5-digest key is equivalence-pinned in pytest)."""
    return CU.strip_dup_spans(_tbl(spark, sf, "documents"),
                              n=SPAN_N, min_docs=SPAN_MIN_DOCS,
                              gram_key="text")


def q_sample_stratified(spark, sf):
    # deterministic training-mix cut: per-language keep rates via a
    # portable md5 hash bucket — same doc set on any engine/cluster
    out = WQ.sample_stratified(
        _tbl(spark, sf, "documents").select("doc_id", "lang", "source"),
        rates=SAMPLE_RATES, salt=SAMPLE_SALT, default_rate=SAMPLE_DEFAULT,
    )
    return out.select("doc_id", "lang", "source", F.col("bucket").cast("long").alias("bucket"))


def q_source_rollup(spark, sf):
    # per-(source, lang) corpus rollup: doc/token totals + mean
    # quality — the aggregate a domain-level filter ranks origins by
    return WQ.source_rollup(_tbl(spark, sf, "documents"))


# host blocklist for the url_host_rollup row (curated-table stand-in)
BLOCKED_HOSTS = ("site3.example.com", "site17.example.com")


def q_pagerank(spark, sf):
    """Integer-grid PageRank (8 iterations, damping 17/20) over the
    deterministic doc link graph: the web-scale centrality prior.
    Every step is BIGINT arithmetic, so the oracle comparison is
    exact — no float-sum ordering anywhere."""
    docs = _tbl(spark, sf, "documents")
    return GR.pagerank(docs.select("doc_id"),
                       GR.synthetic_links(docs), n_iters=8,
                       id_col="doc_id")


def q_pagerank_blend(spark, sf):
    """Web-search blend: the BM25 top-20 re-ranked by the PageRank
    prior (3:1 lexical:authority on the micro grid) — the composition
    the reference never had (its ranker is purely lexical,
    Ranker.java), run-sized join + O(1) scalar maxes."""
    run = q_ft_bm25_topk(spark, sf).select("doc_id", "score")
    docs = _tbl(spark, sf, "documents")
    prior = GR.pagerank(docs.select("doc_id"), GR.synthetic_links(docs),
                        n_iters=8, id_col="doc_id")
    return GR.blend_prior(run, prior, alpha_num=1, alpha_den=4, k=10)


def q_link_graph(spark, sf):
    """Link extraction over the crawl table itself: one codegen
    regexp pass pulls the planted <a href> anchors out of the page
    text, BOTH endpoints go through the rule 1-5 URL normalizer, and
    the result must equal the ANALYTICALLY derived edge set (the
    oracle computes which links were planted, so a match certifies
    the extraction recovered exactly them — across six raw spellings
    per resource)."""
    docs = _tbl(spark, sf, "documents")
    return GR.extract_links(GR.synthetic_linked_crawl(docs))


def q_link_anchor_terms(spark, sf):
    """Anchor-text signal over the crawl table: the words OTHER pages
    use when linking to a resource (pooled across its six surface
    spellings by the URL normalizer) counted per (target, term) — the
    BM25F anchor stream the purely-lexical reference ranker never
    had.  Extraction + normalization + term split ride the scan; the
    only shuffle is one map-side-combining (dst, term) agg.  The
    oracle derives the planted anchors analytically, so a match
    certifies tag extraction, href normalization, tokenization and
    counting all recovered exactly what was planted."""
    docs = _tbl(spark, sf, "documents")
    return GR.anchor_term_stats(
        GR.extract_anchors(GR.synthetic_linked_crawl(docs)))


# anchor-field query for the search_anchor_* rows: one rare-ish
# planted topic term per band plus the ubiquitous 'about' (df = every
# anchored target), so the idf weighting visibly separates them
ANCHOR_QUERY_TERMS = ("topic2", "topic5", "about")


def q_search_anchor_topk(spark, sf):
    """Anchor-field retrieval: targets ranked by what OTHER pages say
    when linking to them (n_links x integer-idf weight, BIGINT all
    the way — exact oracle).  The term filter is pushed into the
    anchor-stats scan; df is computable on the filtered slice; one
    map-side-combining per-target sum; deterministic top-k."""
    docs = _tbl(spark, sf, "documents")
    stats = GR.anchor_term_stats(
        GR.extract_anchors(GR.synthetic_linked_crawl(docs)))
    return GR.anchor_search(stats, ANCHOR_QUERY_TERMS, k=10)


def _anchor_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, cached on disk) the term-bucketed
    stored anchor-stats layout so the driver row serves the pruned
    per-query plan (PartitionFilters on the query terms' buckets +
    term-IN pushdown), not a per-query crawl pass."""
    key = os.path.abspath(sf_dir)
    if key not in _ANCHOR_CACHE:
        tag = hashlib.md5(f"{key}|anchorv1-64".encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"se_entry_anchor_{tag}")

        def build(tmp: str) -> None:
            docs = _tbl(spark, key, "documents")
            stats = GR.anchor_term_stats(
                GR.extract_anchors(GR.synthetic_linked_crawl(docs)))
            GR.write_anchor_index(stats, tmp, n_buckets=64)

        _ANCHOR_CACHE[key] = _atomic_publish(out, build)
    return _ANCHOR_CACHE[key]


def q_search_anchor_indexed(spark, sf):
    """Anchor-field retrieval served from the STORED term-bucketed
    layout (built once per corpus, cached): identical results to
    search_anchor_topk — same SQL oracle — but the serving scan
    touches only the query terms' bucket partitions and row groups
    (PartitionFilters + PushedFilters; plan-asserted in
    tests/test_graph.py) instead of recomputing the stats from the
    crawl."""
    return GR.anchor_search_indexed(
        spark, _anchor_index_for(spark, sf), ANCHOR_QUERY_TERMS, k=10)


def q_search_anchor_authority(spark, sf):
    """Rank the web without reading the page: anchor-field top-20
    blended 3:1 with the PageRank prior over the link graph EXTRACTED
    from the same crawl — both signals derive entirely from OTHER
    pages' links, composed on the integer micro grid (run-sized join
    + two O(1) scalar maxes), so the whole two-signal pipeline is
    exact-oracled end to end."""
    docs = _tbl(spark, sf, "documents")
    pages = GR.synthetic_linked_crawl(docs)
    stats = GR.anchor_term_stats(GR.extract_anchors(pages))
    run = (GR.anchor_search(stats, ANCHOR_QUERY_TERMS, k=20)
           .select(F.col("dst").alias("doc_id"),
                   F.col("anchor_score").alias("score")))
    nodes = (UR.normalize_url(pages).select(F.col("norm_url").alias("id"))
             .distinct())
    prior = GR.pagerank(nodes, GR.extract_links(pages), n_iters=8,
                        id_col="id")
    return (GR.blend_prior(run, prior, alpha_num=1, alpha_den=4, k=10)
            .withColumnRenamed("doc_id", "url"))


def q_link_host_graph(spark, sf):
    """Host-level rollup of the extracted page graph — the bounded-
    cardinality edge set host PageRank (the cheaper, skew-resistant
    prior) runs on: cross-host edges only, one hash agg."""
    docs = _tbl(spark, sf, "documents")
    return GR.host_graph(GR.extract_links(GR.synthetic_linked_crawl(docs)))


def q_pagerank_links(spark, sf):
    """The full URL-hygiene -> link-graph -> authority pipeline on
    the input-hint schema: integer-grid PageRank over the edges
    EXTRACTED from the crawl text, nodes = the crawl's distinct
    normalized resources (VARCHAR ids — the iterations only join and
    aggregate on them).  Exact-oracled by the same unrolled
    MATERIALIZED-CTE iterations parameterized with the analytic edge
    set."""
    docs = _tbl(spark, sf, "documents")
    pages = GR.synthetic_linked_crawl(docs)
    nodes = (UR.normalize_url(pages).select(F.col("norm_url").alias("id"))
             .distinct())
    return GR.pagerank(nodes, GR.extract_links(pages), n_iters=8,
                       id_col="id")


def q_trustrank_links(spark, sf):
    """Personalized PageRank / TrustRank over the crawl's extracted
    link graph: teleport mass lands only on a deterministic trusted
    seed set (md5-selected ~1/16 of the normalized resources), rank
    flows outward through links, and nodes unreachable from the seeds
    stay at exactly 0 — the web-spam demotion prior of Gyongyi et
    al. (VLDB 2004).  Integer-grid iterations, exact-oracled by the
    same seed-restricted rules unrolled as MATERIALIZED CTEs."""
    docs = _tbl(spark, sf, "documents")
    pages = GR.synthetic_linked_crawl(docs)
    nodes = (UR.normalize_url(pages).select(F.col("norm_url").alias("id"))
             .distinct())
    seeds = nodes.filter(F.substring(F.md5("id"), 1, 1) == "0")
    return GR.personalized_pagerank(nodes, GR.extract_links(pages), seeds,
                                    n_iters=6, id_col="id")



def q_hits_links(spark, sf):
    """Kleinberg HITS over the crawl's extracted link graph: the
    hub/authority dual of the PageRank prior (a directory page is a
    hub, a cited resource an authority — PageRank conflates them).
    Max-rescaled integer iterations (v * GRID // max(v) instead of an
    L2 norm whose float sqrt is partition-order-dependent), so both
    vectors are exact BIGINTs and the oracle unrolls the same
    iterations as chained CTEs."""
    docs = _tbl(spark, sf, "documents")
    pages = GR.synthetic_linked_crawl(docs)
    nodes = (UR.normalize_url(pages).select(F.col("norm_url").alias("id"))
             .distinct())
    return GR.hits(nodes, GR.extract_links(pages), n_iters=5, id_col="id")


def q_text_related_terms(spark, sf):
    """Corpus-driven related terms ("related searches" / automatic
    query expansion): terms ranked by document-set Jaccard with the
    seed on the half-up 1e-6 integer grid (exact on both engines).
    The seed's doc set is one posting list (semi-join); co-counts are
    one map-side-combining agg over the seed docs' rows only."""
    docs = _tbl(spark, sf, "documents")
    return TS.related_terms(docs, "join", k=15)


def q_pagerank_hosts(spark, sf):
    """Weighted host-level PageRank — the cheaper, skew-resistant
    authority prior most pipelines rank first: the extracted page
    graph rolled up to (src_host, dst_host, n_links) edges, shares
    weighted by link multiplicity ((rank*w) div out_weight — BIGINT
    integer division, exact on both engines), nodes = every crawl
    host.  Host cardinality is bounded (~1e8 hosts vs 1e12 pages), so
    the whole ranking state fits where page-level PageRank shuffles
    terabytes."""
    docs = _tbl(spark, sf, "documents")
    pages = GR.synthetic_linked_crawl(docs)
    hedges = GR.host_graph(GR.extract_links(pages))
    hosts = (UR.normalize_url(pages)
             .select(UR.host_of(F.col("norm_url")).alias("id"))
             .distinct())
    return GR.pagerank(hosts, hedges, n_iters=8, id_col="id",
                       weight_col="n_links")


def q_nb_classify(spark, sf):
    """Multinomial NB lang classifier, trained on the even-doc_id
    split and scored on the odd split: two map-side-combining
    groupBys to train, the BM25-idf join shape to score, argmax on
    the 1e-6 integer micro-grid (a cross-engine flip would need the
    float sum to land within ulps of a grid edge)."""
    docs = _tbl(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    model, classes = CL.train_nb(train, label_col="lang")
    return CL.predict_nb(test, model, classes, label_col="lang")


def q_c4_clean(spark, sf):
    """C4-style per-doc line cleaning (Raffel et al. 2020 §2.2) over
    a synthetic corpus exercising every rule: per-rule keep/drop via
    one higher-order filter riding the scan (zero shuffles, no UDF),
    kept-line counts, the page-drop flag (< 3 surviving lines), and
    the md5 of the re-joined cleaned text — predicate spelled twice
    (Spark codegen, DuckDB list_filter) and pinned."""
    docs = CU.synthetic_c4(_tbl(spark, sf, "documents"))
    return CU.c4_clean(docs).select(
        "doc_id", "n_lines", "n_kept", "kept_doc",
        F.md5(F.col("cleaned")).alias("cleaned_md5"))


def q_pii_scrub(spark, sf):
    """PII masking over the synthetic-injection corpus (each non
    doc_id%7 doc gets one email + ipv4 + phone appended): per-rule
    BIGINT counts on the original text, md5 of the sequentially
    scrubbed text — a zero-shuffle codegen projection, the regex spec
    written twice (Java in Spark, RE2 in DuckDB) and pinned."""
    docs = PII.synthetic_pii(_tbl(spark, sf, "documents"))
    return (
        PII.scrub_pii(docs)
        .select("doc_id", "n_email", "n_ipv4", "n_phone",
                F.md5(F.col("scrubbed")).alias("scrubbed_md5"))
    )


def q_pii_rollup(spark, sf):
    """Per-source PII accounting (docs, docs-with-PII, per-rule match
    totals) over the same injected corpus: ONE map-side-combining
    groupBy on the bounded source key."""
    docs = PII.synthetic_pii(_tbl(spark, sf, "documents"))
    return PII.pii_rollup(docs).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_docs_with_pii").cast("long").alias("n_docs_with_pii"),
        F.col("tot_email").cast("long").alias("tot_email"),
        F.col("tot_ipv4").cast("long").alias("tot_ipv4"),
        F.col("tot_phone").cast("long").alias("tot_phone"),
    )


def q_url_normalize(spark, sf):
    """URL canonicalization over the synthetic crawl (resource id and
    surface form vary independently — doc_id%100 names the resource,
    doc_id//100 the spelling): zero-shuffle codegen expression chain."""
    pages = UR.synthetic_crawl(_tbl(spark, sf, "documents"))
    return UR.normalize_url(pages).select("doc_id", "url", "norm_url")


def q_url_dedup_latest(spark, sf):
    """Latest-crawl-wins per normalized URL: ONE max_by hash agg (no
    row_number window), n_crawls = collapsed spellings per resource."""
    pages = UR.synthetic_crawl(_tbl(spark, sf, "documents"))
    return UR.url_dedup_latest(pages)


CMS_W, CMS_D = 256, 4
CMS_PROBES = ("table", "join", "query", "zzzzqqq")


def q_sketch_cms_cells(spark, sf):
    """Count-min sketch cells over the corpus term frequencies
    (operators/sketches.py): md5-derived row hashes and BIGINT counts
    make the sketch a deterministic function of the corpus — an
    'approximate' structure with an EXACT oracle contract.  Building
    is d map-side projections + ONE (row, col) hash agg; cells ≤ d·w
    rows regardless of corpus size."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    return SK.cms_cells(tf, width=CMS_W, depth=CMS_D)


def q_sketch_cms_estimate(spark, sf):
    """CMS point queries vs truth: per probe term the min-over-rows
    estimate (one-sided: est ≥ exact, equality without collisions)
    next to the exact collection frequency — both BIGINT, both
    SQL-recomputed.  The probe plan touches d cells via a broadcast
    of the ≤ d·w-row sketch, never the corpus."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    cells = SK.cms_cells(tf, width=CMS_W, depth=CMS_D)
    est = SK.cms_estimate(cells, list(CMS_PROBES), width=CMS_W, depth=CMS_D)
    cf = (tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("cf"))
          .filter(F.col("tok").isin(*CMS_PROBES)))
    return (
        est.join(cf, est.term == cf.tok, "left")
        .select("term", "est",
                F.coalesce(F.col("cf"), F.lit(0)).cast("long").alias("exact_cf"))
    )


BLOOM_M, BLOOM_K = 1 << 14, 5


def q_sketch_bloom_bits(spark, sf):
    """Bloom filter over the corpus vocabulary in sparse relational
    form — the distinct set bits ARE the filter (operators/
    sketches.py).  Same md5 hash family as the CMS: the bit set is a
    deterministic function of the key SET (order- and partitioning-
    independent), so the filter oracle-checks exactly.  Build = k
    map-side projections + one distinct."""
    vocab = _doc_tf(_tbl(spark, sf, "documents")).select("tok").distinct()
    return SK.bloom_bits(vocab, key_col="tok",
                         m_bits=BLOOM_M, k_hashes=BLOOM_K)


def q_sketch_bloom_contains(spark, sf):
    """Bloom membership probes beside ground truth: no false
    negatives ever; a false positive, being deterministic, is the
    SAME false positive in both engines — even the filter's errors
    hash-match.  Probe plan: |probes|·k rows against a broadcast of
    the sparse bit list."""
    tf = _doc_tf(_tbl(spark, sf, "documents"))
    vocab = tf.select("tok").distinct()
    bits = SK.bloom_bits(vocab, key_col="tok",
                         m_bits=BLOOM_M, k_hashes=BLOOM_K)
    member = SK.bloom_contains(bits, list(CMS_PROBES),
                               m_bits=BLOOM_M, k_hashes=BLOOM_K)
    truth = vocab.filter(F.col("tok").isin(*CMS_PROBES)).withColumn(
        "_t", F.lit(True))
    return (
        member.join(truth, member.key == truth.tok, "left")
        .select("key", "maybe_present",
                F.coalesce(F.col("_t"), F.lit(False)).alias("actually_present"))
    )


def q_sketch_hll_registers(spark, sf):
    """HyperLogLog register array over the corpus vocabulary —
    sparse (j, reg) rows, max-merged so the state is order- and
    partitioning-independent and mergeable across segments (the
    property that makes HLL the standard distributed distinct
    counter).  The rank uses length(bin(w)) integer/string
    arithmetic, never float log2, so the registers oracle-check
    exactly."""
    vocab = _doc_tf(_tbl(spark, sf, "documents")).select("tok").distinct()
    return SK.hll_registers(vocab, key_col="tok")


def q_sketch_hll_estimate(spark, sf):
    """The HLL cardinality estimate beside the true distinct count:
    the indicator sum is an EXACT BIGINT (sum of 2^(W-reg)), so the
    only float ops are one division (and one log in the
    linear-counting range) — the rounded estimate reproduces
    bit-for-bit across engines."""
    vocab = _doc_tf(_tbl(spark, sf, "documents")).select("tok").distinct()
    est = SK.hll_estimate(SK.hll_registers(vocab, key_col="tok"))
    n = vocab.agg(F.count(F.lit(1)).alias("exact_n"))
    return est.crossJoin(n)


def q_link_host_distinct_hll(spark, sf):
    """Per-host distinct out-neighbor counts via GROUPED HLL beside
    exact truth — THE web-scale per-key distinct pattern:
    count_distinct per group shuffles every (group, key) pair, while
    grouped HLL max-merges fixed-size register state inside one
    ordinary hash agg (exchange bounded by groups × m rows).  Both
    the registers and the derived estimates are deterministic, so the
    approximate column oracle-checks exactly."""
    docs = _tbl(spark, sf, "documents")
    edges = GR.host_graph(GR.extract_links(GR.synthetic_linked_crawl(docs)))
    est = SK.hll_estimate_by(SK.hll_registers_by(edges, "src", "dst"), "src")
    exact = edges.groupBy("src").agg(
        F.countDistinct("dst").cast("long").alias("exact_n"))
    return est.join(exact, "src").select("src", "est", "exact_n")


def q_url_recency_prior(spark, sf):
    """Crawl-freshness prior over warc_ts on the exact 1e-9 integer
    grid (min-max normalized in SECONDS — BIGINT-safe for a
    century-wide span; the delta cancels any epoch/timezone offset):
    blend_prior's (id, rank_nano) shape, the freshness twin of the
    PageRank authority prior (operators/urls.py)."""
    pages = load_documents_as_pages(spark, sf)
    return UR.recency_prior(pages)


def q_search_recency_blend(spark, sf):
    """Relevance × freshness: the BM25 top-20 re-ranked 3:1 by the
    crawl-recency prior on the micro grid — the same integer blend
    kernel as the PageRank authority row, fed a different
    query-independent prior.  Run-sized join + two O(1) scalar
    maxes."""
    run = q_ft_bm25_topk(spark, sf).select("doc_id", "score")
    pages = load_documents_as_pages(spark, sf)
    prior = UR.recency_prior(pages).withColumn(
        "id", F.col("id").cast("long"))
    return GR.blend_prior(run, prior, alpha_num=1, alpha_den=4, k=10)


def q_url_host_rollup(spark, sf):
    """Per-host crawl accounting behind a blocklist anti-join (AQE
    picks the join strategy — no forced broadcast)."""
    pages = UR.synthetic_crawl(_tbl(spark, sf, "documents"))
    bl = spark.createDataFrame([(h,) for h in BLOCKED_HOSTS], "host string")
    return UR.host_rollup(pages, blocklist=bl)


def q_multimodal_features(spark, sf):
    # opaque-binary decode plumbing with an EXACT oracle: media rows
    # derived from documents (blob = utf-8 bytes), features = 16-bin
    # byte-histogram COUNTS (ints — no float normalization in the
    # compared output), DuckDB recomputes per-byte bins from hex(blob)
    media = MM.media_from_docs(_tbl(spark, sf, "documents"))
    return MM.decode_media_counts(media)


def q_entities_top5(spark, sf):
    """A7/A8/R6 analog with an exact SQL twin: new_tf = tf + 10 when
    first position <= 30, score = round(new_tf/df, 3), top-5 per doc
    (score desc, display asc) — the reference's entity ranking
    (Indexer.java:86-93, MainWindowController.java:606-630).

    Entity membership: the synthetic documents corpus is lowercase-
    only, so "doc-level capitalized display" (a per-TERM property in
    the reference: demotion makes all docs agree) is stood in for by
    the deterministic per-term predicate md5(tok)[0] in 0..3 (~1/4 of
    the vocabulary), display = initcap.  Every downstream piece —
    boost, df join, ratio score, per-doc top-5 window — is the real
    operator."""
    docs = _tbl(spark, sf, "documents")
    ex = (
        docs.select("doc_id", F.posexplode(TS.simple_tokens()).alias("pos0", "tok"))
        .select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    per = ex.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"),
        F.min("pos").alias("first_pos"),
    )
    df_tbl = per.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    is_ent = F.substring(F.md5(F.to_binary(F.col("tok"), F.lit("utf-8"))), 1, 1).isin(
        "0", "1", "2", "3"
    )
    ents = (
        per.filter(is_ent)
        .join(df_tbl, "tok")
        .withColumn(
            "new_tf",
            (F.col("tf") + F.when(F.col("first_pos") <= 30, 10).otherwise(0)).cast("long"),
        )
        .withColumn("score", F.round(F.col("new_tf") / F.col("df"), 3))
        .withColumn(
            "display",
            F.concat(F.upper(F.substring("tok", 1, 1)), F.expr("substring(tok, 2)")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("display"))
    return (
        ents.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "display", "new_tf", F.col("df").cast("long").alias("df"),
                "score", "rank")
    )


PHRASE_TERMS = ("hash", "join")


def q_ft_phrase_topk(spark, sf):
    """Positional phrase matching, fully SQL-checkable: docs where
    'hash' is immediately followed by 'join' in the simple token
    stream, ranked by phrase frequency.  The relational shape is the
    engine's phrase plan (co-partitioned join on (doc, pos-offset))
    over the simple tokenizer."""
    docs = _tbl(spark, sf, "documents")
    ex = docs.select("doc_id", F.posexplode(TS.simple_tokens()).alias("pos", "tok"))
    parts = [
        ex.filter(F.col("tok") == t)
        .select("doc_id", (F.col("pos") - F.lit(j)).alias("base"))
        for j, t in enumerate(PHRASE_TERMS)
    ]
    base = parts[0]
    for p in parts[1:]:
        base = base.join(p, ["doc_id", "base"])
    m = base.groupBy("doc_id").agg(F.count(F.lit(1)).alias("phrase_tf"))
    order = (F.desc("phrase_tf"), F.asc("doc_id"))
    return m.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_phrase(spark, sf):
    """Packed positional phrase search (delta+varint ``poss`` blobs)
    ≡ plain twin over the raw ``positions`` arrays, per rank."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.phrase_search("hash join", 20),
        TW.twin_phrase_topk(spark, eng, "hash join", 20),
        exact=["url", "phrase_tf"], approx=[],
    )


PHRASE_PREFIX_QUERY = "hash jo*"  # as-you-type box: head term + prefix


def q_ft_phrase_prefix(spark, sf):
    """Phrase-prefix matching (ES match_phrase_prefix semantics),
    fully SQL-checkable on raw positions: docs where 'hash' is
    immediately followed by a token starting 'jo', ranked by the
    exact occurrence count."""
    docs = _tbl(spark, sf, "documents")
    ex = docs.select(
        "doc_id", F.posexplode(TS.simple_tokens()).alias("pos0", "tok"))
    a = ex.filter(F.col("tok") == "hash").select("doc_id", "pos0")
    b = ex.filter(F.col("tok").startswith("jo")).select(
        "doc_id", (F.col("pos0") - 1).alias("pos0"))
    m = (
        a.join(b, ["doc_id", "pos0"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    )
    order = (F.desc("phrase_tf"), F.asc("doc_id"))
    return m.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_phrase_prefix(spark, sf):
    """The packed-index as-you-type path (phrase chain join + ONE
    expansion leg pruned to the df-capped prefix set) ≡ the plain
    twin whose expansion re-derives from postings_raw, per rank."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.phrase_prefix_search(PHRASE_PREFIX_QUERY, 20,
                                 max_expansions=MAX_EXPANSIONS),
        TW.twin_phrase_prefix_topk(spark, eng, PHRASE_PREFIX_QUERY, 20,
                                   max_expansions=MAX_EXPANSIONS),
        exact=["url", "phrase_tf"], approx=[],
    )


# ordered span-near row: terms in phrase order, slop widens the window
SPAN_TERMS = ("data", "row", "query")
SPAN_SLOP = 4


def q_ft_span_near_topk(spark, sf):
    """Ordered span-near (Lucene SpanNearQuery(ordered, slop)), fully
    SQL-checkable: count position tuples p0 < p1 < p2 in phrase order
    with p2 - p0 <= (n-1) + slop, rank docs by that span_tf.  The
    chain joins key on the doc and carry the window as a band
    predicate — per-doc work bounded by tf × window, never
    all-pairs; the counts are integers, so the oracle is exact."""
    docs = _tbl(spark, sf, "documents")
    ex = docs.select("doc_id", F.posexplode(TS.simple_tokens()).alias("pos", "tok"))
    max_span = (len(SPAN_TERMS) - 1) + SPAN_SLOP
    chain = None
    for i, t in enumerate(SPAN_TERMS):
        part = ex.filter(F.col("tok") == t).select(
            "doc_id", F.col("pos").alias(f"p{i}"))
        if chain is None:
            chain = part
        else:
            chain = chain.join(part, "doc_id").filter(
                (F.col(f"p{i}") > F.col(f"p{i - 1}"))
                & (F.col(f"p{i}") <= F.col("p0") + F.lit(max_span))
            )
    m = chain.groupBy("doc_id").agg(F.count(F.lit(1)).alias("span_tf"))
    order = (F.desc("span_tf"), F.asc("doc_id"))
    return m.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_span_near(spark, sf):
    """Packed positional span-near ≡ plain twin over the raw
    ``positions`` arrays, per rank with EXACT span_tf: 'table row'
    within slop 3, in order.  Engine counts tuples from the pruned
    positional scan's occurrence rows; the twin counts url-keyed from
    the raw arrays — two decodings, one integer count."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.span_near_search("table row", slop=3, k=20),
        TW.twin_span_near_topk(spark, eng, "table row", 3, 20),
        exact=["url", "span_tf"], approx=[],
    )


def q_ft_span_unordered_topk(spark, sf):
    """Unordered span-near (Lucene SpanNearQuery(ordered=false)):
    count tuples — one position per term, ANY order — whose width
    max(p)-min(p) fits (n-1)+slop.  Chain joins carry a symmetric
    p0-anchored band predicate (work stays bounded by tf × window),
    then the exact window filter trims; integer counts, exact
    oracle."""
    docs = _tbl(spark, sf, "documents")
    ex = docs.select("doc_id", F.posexplode(TS.simple_tokens()).alias("pos", "tok"))
    max_span = (len(SPAN_TERMS) - 1) + SPAN_SLOP
    chain = None
    for i, t in enumerate(SPAN_TERMS):
        part = ex.filter(F.col("tok") == t).select(
            "doc_id", F.col("pos").alias(f"p{i}"))
        if chain is None:
            chain = part
        else:
            chain = chain.join(part, "doc_id").filter(
                (F.col(f"p{i}") >= F.col("p0") - F.lit(max_span))
                & (F.col(f"p{i}") <= F.col("p0") + F.lit(max_span))
            )
    ps = [F.col(f"p{i}") for i in range(len(SPAN_TERMS))]
    chain = chain.filter(F.greatest(*ps) - F.least(*ps) <= F.lit(max_span))
    m = chain.groupBy("doc_id").agg(F.count(F.lit(1)).alias("span_tf"))
    order = (F.desc("span_tf"), F.asc("doc_id"))
    return m.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_span_unordered(spark, sf):
    """Packed unordered span-near ≡ plain twin, per rank with EXACT
    span_tf: 'row table' within slop 3, any order (the reversed
    phrase exercises order-independence against the same corpus as
    search_span_near)."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.span_near_search("row table", slop=3, k=20, ordered=False),
        TW.twin_span_near_topk(spark, eng, "row table", 3, 20, ordered=False),
        exact=["url", "span_tf"], approx=[],
    )


# nested boolean tree: (data OR query) AND (table OR row) ANDNOT join
TREE_QUERY = {
    "op": "andnot",
    "kids": [
        {"op": "and", "kids": [
            {"op": "or", "kids": [{"term": "data"}, {"term": "query"}]},
            {"op": "or", "kids": [{"term": "table"}, {"term": "row"}]},
        ]},
        {"term": "join"},
    ],
}
TREE_POS_TOKS = ("data", "query", "table", "row")


def q_ft_tree_topk(spark, sf):
    """Nested boolean query tree, fully SQL-checkable:
    (data OR query) AND (table OR row) ANDNOT join — set algebra over
    per-term doc-id sets (union / semi-join / anti-join; DuckDB spells
    it UNION/INTERSECT/EXCEPT), then the ft_bm25_topk scoring chain
    over the tree's POSITIVE terms restricted to the match set
    (df/idf stay corpus-global, exactly the dictionary contract)."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)

    def dset(tok):
        return tf.filter(F.col("tok") == tok).select("doc_id").distinct()

    left = dset("data").unionByName(dset("query")).distinct()
    right = dset("table").unionByName(dset("row")).distinct()
    match = (
        left.join(right, "doc_id", "left_semi")
        .join(dset("join"), "doc_id", "left_anti")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*TREE_POS_TOKS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(match, "doc_id", "left_semi")
        .join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_tree(spark, sf):
    """Packed-engine nested boolean tree ≡ plain twin per rank: the
    same (data OR query) AND (table OR row) ANDNOT join tree through
    one pruned scan + (shard, local_id) set algebra on the engine
    side, url-keyed raw-postings algebra on the twin side."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.tree_search(TREE_QUERY, 20),
        TW.twin_tree_topk(spark, eng, TREE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_querystring_tree(spark, sf):
    """Parenthesized boolean syntax end-to-end: the ONE-STRING query
    '(data OR query) AND (table OR row) NOT join' parsed by
    parse_boolean_tree on the engine side ≡ the hand-built tree
    through the url-keyed raw-postings twin — the parse and both data
    paths are independent."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.query_string_search(
            "(data OR query) AND (table OR row) NOT join", 20),
        TW.twin_tree_topk(spark, eng, TREE_QUERY, 20),
        exact=["url"], approx=["score"],
    )


RESCORE_WINDOW, RESCORE_WEIGHT = 50, 2.0


def q_ft_rescore_topk(spark, sf):
    """Two-phase ranking (Lucene/ES rescore), fully SQL-checkable:
    BM25 top-50 window (the ft_bm25_topk chain, round-6 scores), then
    min pairwise token distance between distinct query terms computed
    over the WINDOW DOCS ONLY, folded as
    rescore = round(score + 2/(1+min_dist), 6) (no pair -> -1, score
    unchanged), re-cut to 20.  The expensive positional pass is
    candidate-restricted — the semi-join keeps it window-sized no
    matter how common the terms are."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    win = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(RESCORE_WINDOW)
    ex = (
        docs.select("doc_id", F.posexplode(TS.simple_tokens()).alias("pos", "tok"))
        .filter(F.col("tok").isin(*FT_QUERY_TERMS))
        .join(win.select("doc_id"), "doc_id", "left_semi")
    )
    a = ex.select("doc_id", F.col("tok").alias("ta"), F.col("pos").alias("pa"))
    b = ex.select("doc_id", F.col("tok").alias("tb"), F.col("pos").alias("pb"))
    mind = (
        a.join(b, "doc_id").filter(F.col("ta") < F.col("tb"))
        .groupBy("doc_id")
        .agg(F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long").alias("min_dist"))
    )
    out = (
        win.join(mind, "doc_id", "left")
        .withColumn("min_dist",
                    F.coalesce(F.col("min_dist"), F.lit(-1)).cast("long"))
        .withColumn(
            "rescore",
            F.round(
                F.col("score") + F.when(
                    F.col("min_dist") >= 0,
                    F.lit(RESCORE_WEIGHT) / (F.lit(1.0) + F.col("min_dist")),
                ).otherwise(F.lit(0.0)), 6))
    )
    order = (F.desc("rescore"), F.asc("doc_id"))
    return (
        out.orderBy(*order).limit(20)
        .select("doc_id", "min_dist", "rescore")
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
    )


def q_search_rescore(spark, sf):
    """Packed-engine two-phase rescore ≡ plain twin per rank: BM25
    top-window from the pruned scan, proximity second pass restricted
    to the window's docs (engine decodes packed poss blobs, twin
    explodes raw positions arrays), identical fold formula; min_dist
    compared EXACT, the blended rescore approx."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.rescore_search(ENGINE_QUERY, k=20, window=RESCORE_WINDOW,
                           weight=RESCORE_WEIGHT),
        TW.twin_rescore_topk(spark, eng, ENGINE_QUERY, 20,
                             RESCORE_WINDOW, RESCORE_WEIGHT),
        exact=["url", "min_dist"], approx=["rescore"],
    )


def q_trec_topics_roundtrip(spark, sf):
    """S4 round-trip: render the reference query set as a TREC topic
    file, parse it back through the topic source, return the parsed
    rows — the oracle is the canonical tuple list."""
    from search_engine_spark.fixtures import REFERENCE_QUERIES
    from search_engine_spark.sources.queries import parse_topics

    text = "".join(
        f"<top>\n<num> Number: {qid}\n<title> {title}\n"
        + (f"<desc> Description:\nDocuments must discuss {desc}.\n" if desc else "")
        + "</top>\n"
        for qid, title, desc in REFERENCE_QUERIES
    )
    rows = parse_topics(text)
    return spark.createDataFrame(rows, "qid string, title string, descr string")


def q_trec_run_lines(spark, sf):
    """S14: the TREC run sink over a fully SQL-checkable result (the
    relational BM25 top-20) — formatting exactness (printf %.6f, no
    grouping separators) is what the hash certifies."""
    from search_engine_spark.sources.sinks import trec_run_lines

    topk = q_ft_bm25_topk(spark, sf)
    results = topk.select(
        F.lit("q1").alias("qid"),
        F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("string").alias("url"),
        "score",
    )
    return trec_run_lines(results)


def q_city_enrich(spark, sf):
    """S7/S8 with an exact twin: deterministic doc->city tags
    (doc_id-keyed stand-in for <F P=104>) enriched against the static
    cities dim, incl. the Java population formatting rule as a native
    column expression."""
    from search_engine_spark.operators.cities import _DEMO_CITIES, cities_dim

    names = [c[0] for c in _DEMO_CITIES]
    arr = F.array(*[F.lit(c) for c in names])
    docs = _tbl(spark, sf, "documents")
    tagged = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.element_at(arr, (F.col("doc_id") % len(names)).cast("int") + 1).alias("city"),
        "doc_id",
    )
    dim = cities_dim(spark)
    return tagged.join(F.broadcast(dim), "city", "left").select(
        "city", "doc_id", "country", "currency",
        F.col("population").cast("long").alias("population"),
        "population_display",
    )


def q_search_city_filtered(spark, sf):
    """F2/J4/U2 full-engine path: BM25 top-20 semi-joined to the city
    doc set = (city-term posting membership) ∪ (city_docs dim tags) —
    the complete reference semantics (Searcher.java:311-328) — made
    an equivalence row against the plain-postings twin recomputing
    the identical union + scores + top-k."""
    from search_engine_spark.operators.cities import make_city_docs

    eng = _engine_for(spark, sf)
    eng.city_docs = make_city_docs(load_documents_as_pages(spark, sf))
    cities = ["london", "tokyo"]
    return _rank_eq(
        eng.search(ENGINE_QUERY, 20, cities=cities),
        TW.twin_city_filtered_topk(spark, eng, ENGINE_QUERY, cities, 20),
        exact=["url"], approx=["score"],
    )


def q_multimodal_resize(spark, sf):
    """Resize (nearest-neighbor byte sampling to a 256-byte budget)
    over the opaque-binary media rows; compared via exact integer
    projections (sizes, byte sum, first/last byte) that DuckDB
    recomputes from hex(blob)."""
    media = MM.media_from_docs(_tbl(spark, sf, "documents"))
    out = MM.resize_media(media, target_bytes=256)
    first = F.when(F.col("n_bytes_out") > 0,
                   F.conv(F.substring(F.hex("blob_out"), 1, 2), 16, 10).cast("long")).otherwise(F.lit(-1))
    last = F.when(F.col("n_bytes_out") > 0,
                  F.conv(F.expr("substring(hex(blob_out), length(hex(blob_out)) - 1, 2)"), 16, 10).cast("long")).otherwise(F.lit(-1))
    return out.select(
        "media_id", "kind", "n_bytes_in", "n_bytes_out",
        first.alias("b_first"), last.alias("b_last"),
        F.md5(F.to_binary(F.hex("blob_out"), F.lit("utf-8"))).alias("blob_md5"),
    )


def q_ft_hybrid_rrf(spark, sf):
    """Hybrid lexical ⊕ dense retrieval with reciprocal-rank fusion
    (operators/hybrid.py), fully SQL-recomputed: the proven
    ft-relational BM25 chain top-20 fused with feature-hash MIPS
    top-20 (exact BIGINT dot products — the query goes through the
    SAME md5 projection as the documents) via
    rrf_nano = Σ 1e9 DIV (60 + rank) — integer fusion, so the fused
    ORDER is bit-identical across engines."""
    return HY.hybrid_rrf_topk(
        _tbl(spark, sf, "documents"), list(FT_QUERY_TERMS), k=10, candidate_k=20)


def q_search_hybrid_rrf(spark, sf):
    """Hybrid fusion over the PACKED engine: BM25 top-20 from the
    delta+varint index ⊕ the same dense MIPS leg, RRF-fused — made an
    equivalence row: the twin fuses its plain-postings BM25 ranks with
    the identical dense leg, and every fused column (url, both leg
    ranks, the integer rrf score) must match per rank.  The fusion
    consumes only RANKS, so any packed-index scoring divergence
    surfaces as a lex_rank / rrf_nano mismatch."""
    eng = _engine_for(spark, sf)
    # both fusions read the dense leg: collect its k rows once so the
    # two fusions see one execution of it
    dense = spark.createDataFrame(
        HY.dense_mips_topk(
            _tbl(spark, sf, "documents"), ENGINE_QUERY.split(), k=20)
        .select(F.col("doc_id").cast("string").alias("url"), "rank")
        .collect(),
        "url string, rank long")
    e_f = HY.rrf_fuse(eng.search(ENGINE_QUERY, 20).select("url", "rank"),
                      dense, 10, id_col="url")
    t_f = HY.rrf_fuse(TW.twin_bm25_topk(spark, eng, ENGINE_QUERY, 20)
                      .select("url", "rank"),
                      dense, 10, id_col="url")
    return _rank_eq(e_f, t_f,
                    exact=["url", "lex_rank", "dense_rank", "rrf_nano"],
                    approx=[])


FT_PREFIX_PLAIN, FT_PREFIX = "data", "s"   # query: data s*
WILDCARD_ENGINE_QUERY = "data tab*"        # packed-engine query (tab* hits stems)
MAX_EXPANSIONS = 16                        # Lucene TopTermsRewrite-style cap


def q_ft_prefix_topk(spark, sf):
    """Trailing-wildcard relational BM25 top-20, fully SQL-checkable:
    the prefix expands against the corpus vocabulary capped at
    MAX_EXPANSIONS by df desc, tok asc (the deterministic top-terms
    rewrite), the plain term joins the set, and the union feeds the
    SAME BM25 chain as ft_bm25_topk.  One plan: expansion is a
    codegen startswith filter + TakeOrderedAndProject over the vocab,
    no collect between rewrite and scoring."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    vocab = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("vdf"))
    exp = (
        vocab.filter(F.col("tok").startswith(FT_PREFIX))
        .orderBy(F.desc("vdf"), F.asc("tok")).limit(MAX_EXPANSIONS)
        .select("tok")
    )
    terms = exp.unionByName(
        spark.createDataFrame([(FT_PREFIX_PLAIN,)], "tok string")).distinct()
    # provably <= MAX_EXPANSIONS + 1 rows — broadcast safe by construction
    qtf = tf.join(F.broadcast(terms), "tok")
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_wildcard(spark, sf):
    """Trailing-wildcard packed-index search ≡ plain-postings twin,
    per rank: 'data' parses normally, 'tab*' expands (lowercased,
    never stemmed — Lucene's analyzer bypass) against the INDEX
    vocabulary capped by df desc, term asc.  Engine expands from the
    packed dictionary; the twin re-derives the vocabulary and its df
    stats-as-packed from postings_raw — a df divergence between the
    two stores flips the expansion set and the row goes red."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.wildcard_search(WILDCARD_ENGINE_QUERY, 20,
                            max_expansions=MAX_EXPANSIONS),
        TW.twin_wildcard_topk(spark, eng, WILDCARD_ENGINE_QUERY, 20,
                              max_expansions=MAX_EXPANSIONS),
        exact=["url"], approx=["score"],
    )


# regex term query (Lucene RegexpQuery): anchored-prefix gram
# evidence ('sor[a-z]*'), split start+end runs ('win.ow'), an
# optional char leaving only a suffix gram ('da?ta'), alternation ->
# the full-vocab fallback ('gr(ou|u)p.*'), and a no-match pattern
# ('zz+q' — absent from the result on both sides); '.*[aeo].*' is
# gram-less and matches far more than the cap, so the
# df-desc/term-asc TopTermsRewrite cut binds
REGEX_PATTERNS = ["sor[a-z]*", "win.ow", "da?ta", "gr(ou|u)p.*", "zz+q",
                  ".*[aeo].*"]


def q_ft_regex_expand(spark, sf):
    """Regex term expansion served from the STORED k-gram side-car
    (mandatory-literal-run grams -> gram-IN pruned scan +
    count-distinct gate + anchored regex verify; alternation patterns
    fall back to the stored vocab scan) ≡ DuckDB's brute-force
    regexp_full_match over the whole vocabulary — the full-recall
    contract: if the run extractor wrongly dropped ANY true match, or
    the df-desc/term-asc cap diverged, the row goes red."""
    path = _kgram_docs_index_for(spark, sf)
    return KG.expand_regex_indexed(spark, path, REGEX_PATTERNS,
                                   MAX_EXPANSIONS)


# stems: 'queri' <- query/queries, 'group' (fixed point); the plain
# term 'data' rides along through the ordinary analyzer
REGEX_ENGINE_QUERY = "data /quer[a-z]*/ /gr(ou|u)p.*/"


def q_search_regex(spark, sf):
    """Regex search from the packed index + the stamped k-gram
    side-car ≡ plain-postings twin, per rank: the twin expands by
    brute-force anchored regex over a vocabulary re-derived
    stats-as-packed from postings_raw (NO gram table, NO run
    extractor in its path), so an extractor unsoundness or a df
    divergence between the stores flips the expansion set and the
    row goes red."""
    eng = _engine_for(spark, sf)
    kg = _kgram_engine_index_for(spark, sf)
    return _rank_eq(
        eng.regex_search_indexed(REGEX_ENGINE_QUERY, kg, 20,
                                 max_expansions=MAX_EXPANSIONS),
        TW.twin_regex_topk(spark, eng, REGEX_ENGINE_QUERY, 20,
                           max_expansions=MAX_EXPANSIONS),
        exact=["url"], approx=["score"],
    )


# indexed-path + fallback-path + cap, over the documents vocabulary:
# '*ata*' (infix), 's*ow' (anchored suffix gram only), '*er' (suffix),
# '*a*' (gram-less single char -> the fallback vocabulary scan)
KGRAM_PATTERNS = ["*ata*", "s*ow", "*er", "*a*"]


def q_ft_kgram_expand(spark, sf):
    """Infix/leading wildcard expansion served from the STORED k-gram
    side-car (gram-IN pruned scan + count-distinct gate + anchored
    regex verify, capped df desc / term asc) ≡ DuckDB's brute-force
    LIKE over the whole vocabulary — the SymSpell-style full-recall
    contract: if the gram gate dropped ANY true match, or the cap rule
    diverged, the row goes red."""
    path = _kgram_docs_index_for(spark, sf)
    return KG.expand_wildcard_indexed(spark, path, KGRAM_PATTERNS,
                                      MAX_EXPANSIONS)


WILDCARD_INFIX_QUERY = "*ust* s*ow data"  # infix + mid-star + plain term


def q_search_wildcard_infix(spark, sf):
    """Arbitrary-position wildcard search from the packed index + the
    stamped k-gram side-car ≡ plain-postings twin, per rank: the twin
    expands by brute-force regex over a vocabulary re-derived
    stats-as-packed from postings_raw (NO gram table in its path), so
    a k-gram recall hole or a df divergence between the stores flips
    the expansion set and the row goes red."""
    eng = _engine_for(spark, sf)
    kg = _kgram_engine_index_for(spark, sf)
    return _rank_eq(
        eng.wildcard_search_indexed(WILDCARD_INFIX_QUERY, kg, 20,
                                    max_expansions=MAX_EXPANSIONS),
        TW.twin_wildcard_any_topk(spark, eng, WILDCARD_INFIX_QUERY, 20,
                                  max_expansions=MAX_EXPANSIONS),
        exact=["url"], approx=["score"],
    )


FT_PRF_FB_DOCS, FT_PRF_FB_TERMS = 10, 5


def q_ft_prf_topk(spark, sf):
    """Pseudo-relevance-feedback relational BM25 top-20, fully
    SQL-checkable: base BM25 top-10 over the flagship terms, feedback
    terms ranked by Σ tf × idf_micro (idf on the half-up 1e-6 BIGINT
    grid — exact selection), top-5 expansion joins the query, and the
    union feeds the SAME BM25 chain again.  ONE plan: the feedback
    cut, the weighting, and both retrieval passes compose without a
    collect."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])

    def bm25_topk(qtf, k):
        dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        contrib = (
            qtf.join(F.broadcast(dfreq), "tok")
            .join(dl, "doc_id")
            .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
            .withColumn(
                "c",
                F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
                / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
            )
        )
        scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    fb = bm25_topk(tf.filter(F.col("tok").isin(*FT_QUERY_TERMS)),
                   FT_PRF_FB_DOCS).select("doc_id")
    # provably <= FT_PRF_FB_DOCS rows — broadcast safe by construction
    fbtf = tf.join(F.broadcast(fb), "doc_id")
    cand = (
        fbtf.filter(~F.col("tok").isin(*FT_QUERY_TERMS))
        .groupBy("tok").agg(F.sum("tf").alias("tf_sum"))
    )
    dfall = (
        tf.join(cand.select("tok"), "tok", "left_semi")
        .groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    weighted = (
        cand.join(dfall, "tok")
        .withColumn("idf_micro",
                    F.floor(F.log2(F.lit(float(n_docs)) / F.col("df"))
                            * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"))
        .withColumn("weight", (F.col("tf_sum") * F.col("idf_micro")).cast("long"))
    )
    exp = (weighted.orderBy(F.desc("weight"), F.asc("tok"))
           .limit(FT_PRF_FB_TERMS).select("tok"))
    terms = exp.unionByName(
        spark.createDataFrame([(t,) for t in FT_QUERY_TERMS], "tok string")
    ).distinct()
    # <= FT_PRF_FB_TERMS + |query| rows — broadcast safe
    order = (F.desc("score"), F.asc("doc_id"))
    return bm25_topk(tf.join(F.broadcast(terms), "tok"), 20).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_prf(spark, sf):
    """Pseudo-relevance feedback over the PACKED engine ≡ plain twin,
    per rank.  The engine's feedback loop reads three stored
    artifacts — packed BM25 for the base ranks, the doc-major
    term-vector side-car for the feedback vectors, the dictionary
    for idf — while the twin re-derives every stage from postings_raw
    (its own base BM25, live rows as vectors, stats-as-packed df with
    recomputed log2 idf).  A divergence in ANY store flips the
    expansion set or the final ranking and the row goes red."""
    eng = _engine_for(spark, sf)
    tv_path = _tv_index_for(spark, sf)
    return _rank_eq(
        eng.prf_search(ENGINE_QUERY, tv_path, 20,
                       fb_docs=FT_PRF_FB_DOCS, fb_terms=FT_PRF_FB_TERMS),
        TW.twin_prf_topk(spark, eng, ENGINE_QUERY, 20,
                         fb_docs=FT_PRF_FB_DOCS, fb_terms=FT_PRF_FB_TERMS),
        exact=["url"], approx=["score"],
    )


PERC_QUERIES = (
    ("alert0", ("data", "table")),
    ("alert1", ("query", "join", "filter")),
    ("alert2", ("scan", "merge", "sort", "window")),
    ("alert3", ("customer", "batch")),
    ("alert4", ("data", "zzznomatch")),   # absent term -> matches nothing
)


def q_ft_percolate(spark, sf):
    """Reverse search (operators/percolate.py): five registered
    all-MUST alert queries evaluated against every document.  The
    Spark side runs the Lucene-Monitor presearcher plan (rarest-term
    anchor join → candidate-restricted verify); the DuckDB oracle
    computes the NAIVE all-terms join — equality per (doc, query)
    proves the reduction sound, not just fast."""
    from search_engine_spark.operators import percolate as PC

    queries = spark.createDataFrame(
        [(qid, t) for qid, terms in PERC_QUERIES for t in terms],
        "query_id string, term string")
    return PC.percolate(_tbl(spark, sf, "documents"), queries)


def q_streaming_percolate(spark, sf):
    """REAL Structured Streaming path: the stateless alert matcher
    from streaming/percolate.py (anchor join + broadcast
    array-containment gate — no state store, no watermark) run to
    completion with availableNow over the documents table, landed in
    a memory sink.  Output ≡ the batch percolation, so the SAME naive
    all-terms DuckDB oracle as ft_percolate pins it; the chunked
    micro-batch replay semantics are covered by
    tests/test_streaming.py."""
    from search_engine_spark.streaming.percolate import percolate_stream

    path = os.path.join(sf, "documents.parquet")
    schema = spark.read.parquet(path).schema
    _STREAM_SEQ["perc"] += 1
    name = f"stream_perc_{_STREAM_SEQ['perc']}"
    ckpt = tempfile.mkdtemp(prefix="se_stream_perc_ckpt_")
    queries = spark.createDataFrame(
        [(qid, t) for qid, terms in PERC_QUERIES for t in terms],
        "query_id string, term string")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf))
    q = (percolate_stream(stream.select("doc_id", "text"), queries)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def q_ft_significant_terms(spark, sf):
    """Significant terms of the flagship query's top-50 result set
    (operators/textstats.significant_terms — ES significant_terms):
    foreground lift on the exact nano BIGINT grid vs the background
    corpus, query's own terms excluded, min fg_df 3, top-15.  Fully
    SQL-recomputed: base BM25 cut, both document frequencies, the
    cross-multiplied lift, and the (lift, fg_df, term) order."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    fg = (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
          .select("doc_id"))
    out = TS.significant_terms(docs, fg, k=15, min_fg=3,
                               exclude=list(FT_QUERY_TERMS))
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ft_count_hits(spark, sf):
    """Total-hits count in the relational token space, fully
    SQL-checkable: live documents containing ≥1 flagship term."""
    n = (
        _doc_tf(_tbl(spark, sf, "documents"))
        .filter(F.col("tok").isin(*FT_QUERY_TERMS))
        .select("doc_id").distinct().count()
    )
    return spark.createDataFrame([(n,)], "n_hits bigint")


def q_search_count(spark, sf):
    """Lucene totalHits over the PACKED engine ≡ distinct live-url
    count over raw postings (the twin store) — the exact exhaustive
    count both scorers share."""
    eng = _engine_for(spark, sf)
    n_engine = eng.count_hits(ENGINE_QUERY)
    keys = eng.parse_query(ENGINE_QUERY)
    live = TW.live_raw_postings(spark, eng)
    n_twin = (live.filter(F.col("term_key").isin(keys))
              .select("url").distinct().count())
    # the count itself is parser-token-space (not SQL-expressible);
    # the match boolean against the independently-derived raw-store
    # count is the oracled signal, like the equivalence rows' flags
    return spark.createDataFrame(
        [(bool(n_engine == n_twin) and n_engine > 0,)],
        "count_match boolean")


QS_QUERY = "+data tab* -slow"   # must + wildcard + exclusion in ONE string


def q_search_querystring(spark, sf):
    """The Lucene-QueryParser surface (+must, -must_not, trailing
    wildcard, bare SHOULD in one string) ≡ plain twin per rank.  The
    clause split is a shared driver kernel; everything data-side —
    wildcard expansion (packed dictionary vs raw-postings df), the
    MUST gate, the exclusion anti-join, BM25 — re-derives
    independently on each side, so the COMPOSED dispatch is pinned
    end to end, not just its parts."""
    eng = _engine_for(spark, sf)
    return _rank_eq(
        eng.query_string_search(QS_QUERY, 20),
        TW.twin_querystring_topk(spark, eng, QS_QUERY, 20),
        exact=["url"], approx=["score"],
    )


def q_search_page2(spark, sf):
    """The second result page (global ranks 11-20) ≡ the twin's rank
    11-20 slice of its top-20, per rank — pins that pagination is a
    pure suffix of the single deterministic total order (no boundary
    row duplicated or skipped between pages)."""
    eng = _engine_for(spark, sf)
    twin20 = TW.twin_bm25_topk(spark, eng, ENGINE_QUERY, 20)
    return _rank_eq(
        eng.search_page(ENGINE_QUERY, 10, page=2),
        twin20.filter(F.col("rank") > 10),
        exact=["url"], approx=["score"],
    )


def q_ft_search_after(spark, sf):
    """Relational keyset deep paging (ES search_after), fully
    SQL-checkable: the page AFTER the BM25 top-10's last row, fetched
    by the keyset filter ``(score, doc_id) after cursor`` — never by
    materializing ranks 1..20 — with page-local ranks 1..10.  The
    cursor row is computed IN-PLAN (the min-(score, -doc_id) struct of
    the top-10 cut, i.e. its last row), so the row is scale-portable
    across sf dirs.  The oracle slices rows 11-20 of the full
    row_number order instead: keyset-filter ≡ rank-slice IS the
    no-skip/no-dup pagination contract.  Scale shape: the keyset
    page's heap is k rows at any depth (search_page's grows with
    page·k) — the reason serving stacks mandate search_after past
    ~10k results."""
    docs = _tbl(spark, sf, "documents")
    n_docs = docs.count()
    tf = _doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*FT_QUERY_TERMS))
    dfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn(
            "c",
            F.col("idf") * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    order = (F.desc("score"), F.asc("doc_id"))
    top10 = scored.orderBy(*order).limit(10)
    # the cursor = last row of page 1: smallest score, ties -> largest
    # doc_id, i.e. the min of (score, -doc_id) over the 10-row cut
    cur = (
        top10.agg(F.min(F.struct(
            F.col("score").alias("s"),
            (-F.col("doc_id")).alias("nd"))).alias("m"))
        .select(F.col("m.s").alias("_cs"), (-F.col("m.nd")).alias("_cd"))
    )
    page = (
        scored.crossJoin(F.broadcast(cur))
        .filter(
            (F.col("score") < F.col("_cs"))
            | ((F.col("score") == F.col("_cs")) & (F.col("doc_id") > F.col("_cd")))
        )
        .select("doc_id", "score")
        .orderBy(*order)
        .limit(10)
    )
    return page.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def q_search_after(spark, sf):
    """Keyset deep paging on the packed index ≡ the twin's rank-slice,
    per rank: ``search_after`` is handed ONLY the url of page 1's last
    row (the stateless cursor — the score is recomputed inside the
    job, see searcher.search_after) and must reproduce exactly the
    twin's ranks 11-20 re-ranked 1-10.  Two mechanisms, one contract:
    keyset filter with a k-row heap vs global-order slice."""
    eng = _engine_for(spark, sf)
    page1 = eng.search(ENGINE_QUERY, 10).collect()
    cursor = page1[-1]["url"]
    twin20 = TW.twin_bm25_topk(spark, eng, ENGINE_QUERY, 20)
    return _rank_eq(
        eng.search_after(ENGINE_QUERY, cursor, 10),
        twin20.filter(F.col("rank") > 10)
        .select("url", "score", (F.col("rank") - 10).alias("rank")),
        exact=["url"], approx=["score"],
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so the host correctness driver's 50-row check window
    stamps every row that needs a FRESH stamp this round, flagship
    verdict-item rows first (delete-by-query, recrawl updates, link
    graph, digest dedup_lines, multi-facets, MSM), then the earlier
    round-5 serving rows.  Round 5 added far more than 50 new rows,
    so the late additions (boosts, synonyms, extended stats, BM25F,
    cardinality, top-hits, the sketch family, anchor serving, ...)
    sit past the cut on the CI tail oracle:
    tests/test_entry_oracle.py re-runs the ACTUAL tail
    (list(queries())[50:]) against DuckDB every run, and
    INTRODUCED_PAST_WINDOW there is kept exact."""
    return {
        # --- window, part 1: round-5 rows (never driver-stamped);
        # the late-session additions lead so their only oracle pass
        # gets a driver stamp (the displaced tail is CI-oracled)
        "search_rollover": q_search_rollover,
        "dedup_span_strip": q_dedup_span_strip,
        "text_decontam_strip": q_text_decontam_strip,
        "trustrank_links": q_trustrank_links,
        "ft_dismax_topk": q_ft_dismax_topk,
        "search_dismax": q_search_dismax,
        "ft_missing": q_ft_missing,
        "search_missing": q_search_missing,
        "ft_sampler": q_ft_sampler,
        "search_sampler": q_search_sampler,
        "ft_range_agg": q_ft_range_agg,
        "search_range_agg": q_search_range_agg,
        "ft_rare_terms": q_ft_rare_terms,
        "search_rare_terms": q_search_rare_terms,
        "ft_bucket_stats": q_ft_bucket_stats,
        "ft_serial_diff": q_ft_serial_diff,
        "search_delete_by_query": q_search_delete_by_query,
        "search_delete_by_query_empty": q_search_delete_by_query_empty,
        "search_updates": q_search_updates,
        "search_updates_wand": q_search_updates_wand,
        "link_graph": q_link_graph,
        "link_host_graph": q_link_host_graph,
        "pagerank_links": q_pagerank_links,
        "dedup_lines_digest": q_dedup_lines_digest,
        "search_facets_multi": q_search_facets_multi,
        "ft_msm_topk": q_ft_msm_topk,
        "search_msm": q_search_msm,
        "search_boosted": q_search_boosted,
        "ft_regex_expand": q_ft_regex_expand,
        "search_regex": q_search_regex,
        "ft_kgram_expand": q_ft_kgram_expand,
        "search_wildcard_infix": q_search_wildcard_infix,
        "ann_int8_topk": q_ann_int8_topk,
        "pack_shards": q_pack_shards,
        "chunk_windows": q_chunk_windows,
        "ft_date_histogram": q_ft_date_histogram,
        "search_date_histogram": q_search_date_histogram,
        "ft_sort_by_time": q_ft_sort_by_time,
        "search_sort_by_time": q_search_sort_by_time,
        "search_federated": q_search_federated,
        "ft_phrase_prefix": q_ft_phrase_prefix,
        "search_phrase_prefix": q_search_phrase_prefix,
        "text_did_you_mean": q_text_did_you_mean,
        "search_did_you_mean": q_search_did_you_mean,
        "ft_hybrid_rrf": q_ft_hybrid_rrf,
        "search_hybrid_rrf": q_search_hybrid_rrf,
        "ft_prefix_topk": q_ft_prefix_topk,
        "search_wildcard": q_search_wildcard,
        "ft_prf_topk": q_ft_prf_topk,
        "search_prf": q_search_prf,
        "ft_percolate": q_ft_percolate,
        "streaming_percolate": q_streaming_percolate,
        "search_querystring": q_search_querystring,
        "ft_significant_terms": q_ft_significant_terms,
        "ft_count_hits": q_ft_count_hits,
        "search_count": q_search_count,
        "search_page2": q_search_page2,
        "ft_fuzzy_topk": q_ft_fuzzy_topk,
        "search_fuzzy": q_search_fuzzy,
        "ft_proximity_topk": q_ft_proximity_topk,
        "search_proximity": q_search_proximity,
        "ft_highlight_topk": q_ft_highlight_topk,
        "search_highlight": q_search_highlight,
        "url_recency_prior": q_url_recency_prior,
        "search_recency_blend": q_search_recency_blend,
        "sketch_cms_cells": q_sketch_cms_cells,
        "sketch_cms_estimate": q_sketch_cms_estimate,
        "sketch_bloom_bits": q_sketch_bloom_bits,
        "sketch_bloom_contains": q_sketch_bloom_contains,
        "sketch_hll_registers": q_sketch_hll_registers,
        "sketch_hll_estimate": q_sketch_hll_estimate,
        "link_host_distinct_hll": q_link_host_distinct_hll,
        "text_contamination_bloom": q_text_contamination_bloom,
        "search_explain": q_search_explain,
        "ft_diversified_topk": q_ft_diversified_topk,
        "search_collapse": q_search_collapse,
        "text_autocomplete": q_text_autocomplete,
        "search_autocomplete_indexed": q_search_autocomplete_indexed,
        "link_anchor_terms": q_link_anchor_terms,
        "search_anchor_topk": q_search_anchor_topk,
        "search_anchor_authority": q_search_anchor_authority,
        "search_boolean": q_search_boolean,
        "ft_boolean_topk": q_ft_boolean_topk,
        "search_anchor_indexed": q_search_anchor_indexed,
        "pagerank_hosts": q_pagerank_hosts,
        "text_related_terms": q_text_related_terms,
        # --- tail head: round-5 rows past the 50-row stamp window —
        # (the boost/synonym/stats/BM25F/cardinality/top-hits family
        # landed after the verdict-item rows reclaimed the window)
        "ft_boosted_topk": q_ft_boosted_topk,
        "search_cached": q_search_cached,
        "ann_pq_topk": q_ann_pq_topk,
        "streaming_trending": q_streaming_trending,
        "search_ltr": q_search_ltr,
        "hits_links": q_hits_links,
        "ft_synonym_topk": q_ft_synonym_topk,
        "search_synonyms": q_search_synonyms,
        "ft_result_stats": q_ft_result_stats,
        "search_extended_stats": q_search_extended_stats,
        "ft_bm25f_topk": q_ft_bm25f_topk,
        "search_cardinality": q_search_cardinality,
        "ft_top_hits": q_ft_top_hits,
        "search_top_hits": q_search_top_hits,
        # the window is full of this round's verdict-item rows, so
        # these late additions ride the CI tail oracle
        # (tests/test_entry_oracle.py re-runs them vs DuckDB each run)
        # until the next round's rotation stamps them
        "ft_search_after": q_ft_search_after,
        "search_after": q_search_after,
        "search_ts_filtered": q_search_ts_filtered,
        "ft_span_near_topk": q_ft_span_near_topk,
        "search_span_near": q_search_span_near,
        "pii_scrub": q_pii_scrub,
        "pii_rollup": q_pii_rollup,
        "c4_clean": q_c4_clean,
        "ft_span_unordered_topk": q_ft_span_unordered_topk,
        "search_span_unordered": q_search_span_unordered,
        "ft_rescore_topk": q_ft_rescore_topk,
        "search_rescore": q_search_rescore,
        "ft_tree_topk": q_ft_tree_topk,
        "search_tree": q_search_tree,
        "search_querystring_tree": q_search_querystring_tree,
        # --- window, part 2: last stamped r01-r03 (round 4's tail),
        # rotated back inside
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "knn_join_first5": q_knn_join_first5,
        "text_token_stats": q_text_token_stats,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "text_winnow_fingerprint": q_text_winnow_fingerprint,
        "ft_doc_stats": q_ft_doc_stats,
        "ft_term_stats": q_ft_term_stats,
        "ft_term_first_pos": q_ft_term_first_pos,
        "ft_bm25_topk": q_ft_bm25_topk,
        "ft_phrase_topk": q_ft_phrase_topk,
        "extract_text_roundtrip": q_extract_text_roundtrip,
        "trec_topics_roundtrip": q_trec_topics_roundtrip,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "revenue_by_nation": q_revenue_by_nation,
        "topk_orders": q_topk_orders,
        "window_top5_parts": q_window_top5_parts,
        "semi_join_urgent_customers": q_semi_join_urgent_customers,
        "anti_join_idle_customers": q_anti_join_idle_customers,
        "set_union_nations": q_set_union_nations,
        "set_except_nations": q_set_except_nations,
        "distinct_langs": q_distinct_langs,
        "events_hourly": q_events_hourly,
        # --- window, part 3: r04-stamped rows kept inside — the
        # packed-engine equivalence family (this round's gen-aware
        # tombstone changes run through every one of these read
        # paths) and the operators round 5 touched
        "search_bm25_topk": q_search_bm25_topk,
        "search_wand_topk": q_search_wand_topk,
        "search_batch": q_search_batch,
        "search_wand_batch": q_search_wand_batch,
        "search_incremental": q_search_incremental,
        "search_incremental_wand": q_search_incremental_wand,
        "search_deletes": q_search_deletes,
        "search_deletes_wand": q_search_deletes_wand,
        "search_city_filtered": q_search_city_filtered,
        "search_phrase": q_search_phrase,
        "search_facets": q_search_facets,
        "entities_top5": q_entities_top5,
        "dedup_lines": q_dedup_lines,
        "pagerank": q_pagerank,
        "pagerank_blend": q_pagerank_blend,
        "url_normalize": q_url_normalize,
        "nb_classify": q_nb_classify,
        "text_more_like_this": q_text_more_like_this,
        "text_suggest": q_text_suggest,
        # --- past the 50-row window: every row below is green in
        # CORRECTNESS_r04 (driver-stamped last round) and
        # tests/test_entry_oracle.py re-pins the actual tail against
        # its DuckDB oracle every CI run
        "url_dedup_latest": q_url_dedup_latest,
        "url_host_rollup": q_url_host_rollup,
        "text_bpe_stats": q_text_bpe_stats,
        "text_gopher_quality": q_text_gopher_quality,
        "text_repetition": q_text_repetition,
        "text_contamination": q_text_contamination,
        "dedup_crossdoc_grams": q_dedup_crossdoc_grams,
        "training_mix": q_training_mix,
        "text_snippets": q_text_snippets,
        "embed_docs": q_embed_docs,
        "text_surprisal": q_text_surprisal,
        "ir_eval": q_ir_eval,
        "ir_eval_summary": q_ir_eval_summary,
        "ir_search_eval": q_ir_search_eval,
        "sample_stratified": q_sample_stratified,
        "source_rollup": q_source_rollup,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_features": q_multimodal_features,
        "trec_run_lines": q_trec_run_lines,
        "city_enrich": q_city_enrich,
        "events_sessionize": q_events_sessionize,
        "streaming_dedup": q_streaming_dedup,
        "streaming_events_hourly": q_streaming_events_hourly,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_near_pairs": q_dedup_near_pairs,
        "dedup_clusters": q_dedup_clusters,
        "ann_dup_pairs": q_ann_dup_pairs,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ft_composite": q_ft_composite,
        "search_composite": q_search_composite,
        "ft_matched_topk": q_ft_matched_topk,
        "search_matched": q_search_matched,
        "ft_adjacency": q_ft_adjacency,
        "search_count_batch": q_search_count_batch,
        "search_adjacency": q_search_adjacency,
        "ft_date_pipeline": q_ft_date_pipeline,
        "search_resharded": q_search_resharded,
        "search_resharded_wand": q_search_resharded_wand,
        "dedup_ingest_gate": q_dedup_ingest_gate,
        "ft_histogram": q_ft_histogram,
        "search_histogram": q_search_histogram,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles

def _sql_shingles_cte(n: int = D.DEFAULT_SHINGLE) -> str:
    gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return (
        _TOK_CTE + ", sh AS (SELECT doc_id, list_distinct(list_transform("
        f"range(1, greatest(len(toks) - {n - 1}, 0) + 1), "
        f"i -> {gram})) AS shingles FROM tok)"
    )


def _sql_repetition() -> str:
    """DuckDB twin of webquality.repetition_stats over the
    _repetition_input corpus: the relational plan (line groupBys,
    gram explodes with positions, per-doc windows, coverage unions)
    the Arrow kernel avoids."""
    ctes = ["""lined AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || chr(10) || 'nav home about contact'
              ELSE text END AS text
  FROM (""" + CU.DUCKDB_LINED_SQL + """))""",
            """ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS lines FROM lined)""",
            """lx AS (SELECT doc_id, unnest(lines) AS line FROM ln)""",
            """lgrp AS (SELECT doc_id, line, CAST(count(*) AS BIGINT) AS c, len(line) AS l
       FROM lx GROUP BY doc_id, line)""",
            """lstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
              CAST(sum(c) - count(*) AS BIGINT) AS n_dup_lines,
              CAST(sum(c * l) AS BIGINT) AS line_chars,
              CAST(sum(CASE WHEN c > 1 THEN (c - 1) * l ELSE 0 END) AS BIGINT) AS dup_line_chars
       FROM lgrp GROUP BY doc_id)""",
            """tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM lined)""",
            """tchars AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS BIGINT) AS tot_chars FROM tok)""",
            """tokpos AS (SELECT doc_id, e.pos AS pos, CAST(e.tl AS BIGINT) AS tl FROM (
         SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                i -> {'pos': i, 'tl': len(toks[i])})) AS e FROM tok))"""]
    for n in range(2, 11):
        gram = " || ' ' || ".join(
            f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
        ctes.append(
            f"""gg{n} AS (SELECT doc_id, e.pos AS pos, e.g AS g FROM (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1),
         i -> {{'pos': i, 'g': {gram}}})) AS e FROM tok))""")
        ctes.append(
            f"""gc{n} AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c,
              CAST(len(g) - {n - 1} AS BIGINT) AS glen
       FROM gg{n} GROUP BY doc_id, g)""")
    for n in (2, 3, 4):
        ctes.append(
            f"""tp{n} AS (SELECT doc_id, CAST(max(CASE WHEN c = mc THEN c * glen END) AS BIGINT) AS v
       FROM (SELECT doc_id, c, glen, max(c) OVER (PARTITION BY doc_id) AS mc FROM gc{n})
       GROUP BY doc_id)""")
    for n in (5, 6, 7, 8, 9, 10):
        ctes.append(f"""dg{n} AS (SELECT doc_id, g FROM gc{n} WHERE c > 1)""")
        ctes.append(
            f"""cv{n} AS (SELECT DISTINCT o.doc_id, u.p
       FROM gg{n} o JOIN dg{n} d ON o.doc_id = d.doc_id AND o.g = d.g,
            unnest(range(o.pos, o.pos + {n})) AS u(p))""")
        ctes.append(
            f"""dc{n} AS (SELECT c.doc_id, CAST(sum(t.tl) AS BIGINT) AS v
       FROM cv{n} c JOIN tokpos t ON c.doc_id = t.doc_id AND c.p = t.pos
       GROUP BY c.doc_id)""")
    tops = ", ".join(f"coalesce(tp{n}.v, 0) AS top{n}_chars" for n in (2, 3, 4))
    dups = ", ".join(
        f"coalesce(dc{n}.v, 0) AS dup{n}_chars" for n in (5, 6, 7, 8, 9, 10))
    joins = " ".join(
        [f"LEFT JOIN tp{n} ON d.doc_id = tp{n}.doc_id" for n in (2, 3, 4)]
        + [f"LEFT JOIN dc{n} ON d.doc_id = dc{n}.doc_id"
           for n in (5, 6, 7, 8, 9, 10)])
    return f"""
WITH {", ".join(ctes)}
SELECT d.doc_id, l.n_lines, l.n_dup_lines, l.line_chars, l.dup_line_chars,
       tc.tot_chars, {tops}, {dups}
FROM documents d
JOIN lstat l ON d.doc_id = l.doc_id
JOIN tchars tc ON d.doc_id = tc.doc_id
{joins}
"""


def _sql_minhash_lsh() -> str:
    nh, bs = D.DEFAULT_MINHASHES, D.DEFAULT_BAND_SIZE
    mh_cols = ", ".join(
        f"list_min(list_transform(shingles, x -> md5('{s}:' || x))) AS mh{s}"
        for s in range(nh)
    )
    n_bands = nh // bs
    band_exprs = ", ".join(
        "'" + str(b) + "|' || " + " || '|' || ".join(f"mh{b * bs + j}" for j in range(bs))
        for b in range(n_bands)
    )
    return f"""
WITH {_sql_shingles_cte()},
sig AS (SELECT doc_id, {mh_cols} FROM sh),
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band FROM sig)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def _sql_ingest_gate(min_agree: int) -> str:
    """DuckDB twin of the stored-layout ingest gate: the full pipeline
    (shingles, md5 minhashes, band buckets, delta-vs-corpus candidate
    join, signature-agreement count) recomputed from the raw
    documents table with the corpus/delta split inlined."""
    nh, bs = D.DEFAULT_MINHASHES, D.DEFAULT_BAND_SIZE
    mh_cols = ", ".join(
        f"list_min(list_transform(shingles, x -> md5('{s}:' || x))) AS mh{s}"
        for s in range(nh)
    )
    n_bands = nh // bs
    band_exprs = ", ".join(
        "'" + str(b) + "|' || " + " || '|' || ".join(f"mh{b * bs + j}" for j in range(bs))
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN d.mh{s} = c.mh{s} THEN 1 ELSE 0 END)" for s in range(nh)
    )
    return f"""
WITH {_sql_shingles_cte()},
sig AS (SELECT doc_id, {mh_cols} FROM sh),
c AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
d AS (SELECT * FROM sig WHERE doc_id % 10 = 0),
bc AS (SELECT doc_id, unnest([{band_exprs}]) AS band FROM c),
bd AS (SELECT doc_id, unnest([{band_exprs}]) AS band FROM d),
cand AS (SELECT DISTINCT bd.doc_id AS did, bc.doc_id AS cid
         FROM bd JOIN bc ON bd.band = bc.band AND bd.doc_id <> bc.doc_id),
ag AS (SELECT cand.did AS doc_id, cand.cid AS dup_of,
              CAST({agree} AS BIGINT) AS n_agree
       FROM cand JOIN d ON d.doc_id = cand.did JOIN c ON c.doc_id = cand.cid)
SELECT doc_id, dup_of, n_agree FROM ag WHERE n_agree >= {min_agree}
"""


def _sql_near_dup_pairs(threshold: float = 0.5) -> str:
    nh, bs = D.DEFAULT_MINHASHES, D.DEFAULT_BAND_SIZE
    mh_cols = ", ".join(
        f"list_min(list_transform(shingles, x -> md5('{s}:' || x))) AS mh{s}"
        for s in range(nh)
    )
    n_bands = nh // bs
    band_exprs = ", ".join(
        "'" + str(b) + "|' || " + " || '|' || ".join(f"mh{b * bs + j}" for j in range(bs))
        for b in range(n_bands)
    )
    return f"""
WITH {_sql_shingles_cte()},
sig AS (SELECT doc_id, {mh_cols} FROM sh),
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shx GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN shx a ON a.doc_id = c.doc_a
  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, inter,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.doc_a = sa.doc_id
JOIN sizes sb ON inter.doc_b = sb.doc_id
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= {threshold}
"""


def _sql_ann_dup_pairs(threshold: float = 0.35, n_planes: int = 6, dim: int = 64) -> str:
    """Inline the deterministic LCG hyperplanes as list literals so
    DuckDB reproduces the Spark sign-buckets exactly (float literals
    round-trip via repr)."""
    planes = SIM._planes(dim, n_planes)
    dots = ", ".join(
        "list_sum(list_transform(range(1, {d} + 1), i -> CAST(embedding[i] AS DOUBLE) * ([{w}])[i])) AS d{j}".format(
            d=dim, j=j, w=", ".join(repr(v) for v in plane)
        )
        for j, plane in enumerate(planes)
    )
    bucket = " + ".join(f"(CASE WHEN d{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes))
    nrm = ("sqrt(list_sum(list_transform({side}.embedding, "
           "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")
    cos = (
        "round(list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / ("
        + nrm.format(side="a") + " * " + nrm.format(side="b") + "), 6)"
    )
    return f"""
WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings),
bk AS (SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM d)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {threshold}
"""


def _sql_simhash_near_pairs(max_hamming: int = 3, bits: int = 64,
                            n_bands: int = 4) -> str:
    """DuckDB twin of dedup.simhash_near_pairs: identical bit
    definition (bit j = bit (j mod 4) of md5 hex nibble (j div 4),
    via hex-char IN lists), identical bands, band-equality candidates,
    exact bit_count(xor) verification."""
    band_bits = bits // n_bands
    sums = ", ".join(
        f"CAST(sum(CASE WHEN substr(h, {j // 4 + 1}, 1) IN ("
        + ", ".join(f"'{c}'" for c in D.HEX_BIT_SETS[j % 4])
        + f") THEN 1 ELSE -1 END) AS BIGINT) AS s{j}"
        for j in range(bits)
    )
    band_cols = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s{k * band_bits + jj} > 0 THEN {1 << jj} ELSE 0 END)"
            for jj in range(band_bits)
        )
        + f" AS BIGINT) AS b{k}"
        for k in range(n_bands)
    )
    long_union = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band_idx, b{k} AS band_val FROM sig"
        for k in range(n_bands)
    )
    hamming = " + ".join(
        f"bit_count(xor(sa.b{k}, sb.b{k}))" for k in range(n_bands)
    )
    return f"""
WITH {_TOK_CTE},
t AS (SELECT doc_id, md5(unnest(toks)) AS h FROM tok),
agg AS (SELECT doc_id, {sums} FROM t GROUP BY doc_id),
sig AS (SELECT doc_id, {band_cols} FROM agg),
long AS ({long_union}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM long a JOIN long b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b, CAST({hamming} AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE {hamming} <= {max_hamming}
"""


def _sql_ann_lsh_topk(k: int = 10, n_planes: int = 8, dim: int = 64,
                      probe_hamming: int = 1) -> str:
    """DuckDB twin of similarity.ann_lsh_topk: recompute every
    vector's sign bucket from the inlined LCG hyperplanes, probe =
    Hamming(bucket, bucket_of_vec0) <= probe_hamming, exact cosine
    top-k within the probed set."""
    planes = SIM._planes(dim, n_planes)
    dots = ", ".join(
        "list_sum(list_transform(range(1, {d} + 1), i -> CAST(embedding[i] AS DOUBLE) * ([{w}])[i])) AS d{j}".format(
            d=dim, j=j, w=", ".join(repr(v) for v in plane)
        )
        for j, plane in enumerate(planes)
    )
    bucket = " + ".join(f"(CASE WHEN d{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes))
    cos = (
        "round(list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) / ("
        "sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
    )
    return f"""
WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings),
bk AS (SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM d),
qb AS (SELECT bucket AS b FROM bk WHERE vec_id = 0),
probed AS (SELECT bk.* FROM bk, qb WHERE bit_count(xor(bk.bucket, qb.b)) <= {probe_hamming}),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
scored AS (SELECT a.vec_id, {cos} AS cosine FROM probed a, q),
ranked AS (SELECT vec_id, cosine,
                  CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def _sql_ann_ivf_topk(k: int = 10, n_centroids: int = 16, nprobe: int = 4) -> str:
    """DuckDB twin of similarity.ivf_topk: same seed centroids
    (vec_id < n_centroids), same rounded-cosine argmax assignment
    (ties -> smallest centroid id), same nprobe probe, exact cosine
    top-k within the probed lists.  Assignment/probe sims use the
    explicit half-UP rounding floor(x*1e6+0.5)/1e6 — the exact twin of
    similarity._round6_half_up (np.round is banker's, SQL round() is
    half away from zero; at an exact midpoint they'd diverge)."""
    def raw_cos(a: str, b: str) -> str:
        return (
            f"(list_sum(list_transform(range(1, len({a}.embedding) + 1), "
            f"i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE))) / ("
            f"sqrt(list_sum(list_transform({a}.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
            f"sqrt(list_sum(list_transform({b}.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"
        )

    def cos(a: str, b: str) -> str:
        return f"round({raw_cos(a, b)}, 6)"

    def cos_half_up(a: str, b: str) -> str:
        return f"(floor({raw_cos(a, b)} * 1000000 + 0.5) / 1000000)"

    return f"""
WITH c AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {n_centroids}),
sims AS (SELECT e.vec_id, e.embedding, c.cid, {cos_half_up('e', 'c')} AS sim
         FROM embeddings e CROSS JOIN c),
asg AS (SELECT vec_id, embedding, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cid ASC) AS rn FROM sims)
        WHERE rn = 1),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
probe AS (SELECT cid FROM (
            SELECT c.cid, row_number() OVER (ORDER BY {cos_half_up('c', 'q')} DESC, c.cid ASC) AS rn
            FROM c, q)
          WHERE rn <= {nprobe}),
scored AS (SELECT a.vec_id, {cos('a', 'q')} AS cosine
           FROM asg a JOIN probe p ON a.cid = p.cid, q),
ranked AS (SELECT vec_id, cosine,
                  CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def _sql_winnow_fingerprint(k: int = 3, w: int = 4) -> str:
    """DuckDB twin of textstats.winnow_fingerprint: identical k-gram
    hash (first 8 md5 hex chars as int), identical sliding-window
    mins (all hashes when fewer than one window), identical summary
    hash."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    return f"""
WITH {_TOK_CTE},
sh AS (SELECT doc_id,
              list_transform(range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                             i -> ('0x' || substr(md5({gram}), 1, 8))::BIGINT) AS hs
       FROM tok
       WHERE len(toks) >= {k}),
mins AS (SELECT doc_id,
                CASE WHEN len(hs) < {w} THEN list_distinct(hs)
                     ELSE list_distinct(list_transform(
                            range(1, len(hs) - {w - 1} + 1),
                            i -> list_min(hs[i:i+{w - 1}])))
                END AS sel
         FROM sh)
SELECT doc_id, CAST(len(sel) AS BIGINT) AS n_fps,
       md5(array_to_string(list_sort(sel), ',')) AS fp_hash
FROM mins
"""


def _sql_multimodal_counts(bins: int = 16) -> str:
    """Per-media byte-histogram counts: bin of byte i = its high hex
    nibble (hex(blob) chars 2i+1), read via strpos — exact integer
    agreement with numpy's ``arr >> 4`` bincount."""
    hs = ", ".join(
        f"CAST(len(list_filter(bins, x -> x = {kk})) AS BIGINT) AS h{kk}"
        for kk in range(bins)
    )
    return f"""
WITH m AS (SELECT doc_id AS media_id, encode(text) AS blob FROM documents),
binned AS (
  SELECT media_id, CAST(octet_length(blob) AS BIGINT) AS n_bytes,
         list_transform(range(octet_length(blob)),
                        i -> strpos('0123456789abcdef',
                                    substr(lower(hex(blob)), CAST(2*i+1 AS BIGINT), 1)) - 1) AS bins
  FROM m)
SELECT media_id, n_bytes, {hs} FROM binned
"""


def _sql_entities_top5() -> str:
    return f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'pos': i, 'tok': toks[i]}})) AS e
       FROM tok),
per AS (SELECT doc_id, e.tok AS tok,
               CAST(count(*) AS BIGINT) AS tf,
               min(e.pos) AS first_pos
        FROM ex GROUP BY doc_id, e.tok),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM per GROUP BY tok),
scored AS (SELECT p.doc_id,
                  upper(substr(p.tok, 1, 1)) || substr(p.tok, 2) AS display,
                  CAST(p.tf + CASE WHEN p.first_pos <= 30 THEN 10 ELSE 0 END AS BIGINT) AS new_tf,
                  d.df,
                  round(CAST(p.tf + CASE WHEN p.first_pos <= 30 THEN 10 ELSE 0 END AS DOUBLE) / d.df, 3) AS score
           FROM per p JOIN dfq d USING (tok)
           WHERE substr(md5(p.tok), 1, 1) IN ('0', '1', '2', '3')),
ranked AS (SELECT doc_id, display, new_tf, df, score,
                  CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, display ASC) AS BIGINT) AS rank
           FROM scored)
SELECT doc_id, display, new_tf, df, score, rank FROM ranked WHERE rank <= 5
"""


def _sql_trec_topics() -> str:
    from search_engine_spark.fixtures import REFERENCE_QUERIES

    rows = ", ".join(
        f"('{qid}', '{title}', '{desc}')" for qid, title, desc in sorted(REFERENCE_QUERIES)
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(qid, title, descr)"


def _sql_city_enrich() -> str:
    from search_engine_spark.operators.cities import _DEMO_CITIES

    names = [c[0] for c in _DEMO_CITIES]
    dim_rows = ", ".join(
        f"('{city}', '{country}', '{cur}', {pop})"
        for city, country, cur, pop in _DEMO_CITIES
    )
    city_pick = ("[" + ", ".join(f"'{n}'" for n in names) + "]"
                 f"[CAST(doc_id % {len(names)} AS INT) + 1]")

    def fmt(div: float, suffix: str) -> str:
        s100 = f"CAST(floor(population / {div} * 100 + 0.5) AS BIGINT)"
        return (f"(CASE WHEN ({s100}) % 10 <> 0 THEN printf('%.2f', ({s100}) / 100.0) "
                f"ELSE printf('%.1f', ({s100}) / 100.0) END) || '{suffix}'")

    display = (
        "CASE WHEN population < 1000 THEN CAST(population AS VARCHAR) "
        f"WHEN population < 1000000 THEN {fmt(1000.0, 'K')} "
        f"WHEN population < 1000000000 THEN {fmt(1000000.0, 'M')} "
        f"ELSE {fmt(1000000000.0, 'B')} END"
    )
    return f"""
WITH dim(city, country, currency, population) AS (VALUES {dim_rows}),
tagged AS (SELECT {city_pick} AS city, doc_id FROM documents WHERE doc_id % 4 = 0)
SELECT t.city, t.doc_id, d.country, d.currency,
       CAST(d.population AS BIGINT) AS population,
       {display} AS population_display
FROM tagged t LEFT JOIN dim d ON t.city = d.city
"""


def _sql_langid() -> str:
    hits = {
        lang: "len(list_filter(toks, x -> x IN ("
        + ", ".join(f"'{m}'" for m in markers)
        + ")))"
        for lang, markers in sorted(TS.LANG_MARKERS.items())
    }
    mx = "greatest(" + ", ".join(hits.values()) + ")"
    case = "CASE WHEN " + mx + " <= 0 THEN 'und' " + " ".join(
        f"WHEN {hits[lang]} = {mx} THEN '{lang}'" for lang in sorted(hits)
    ) + " END"
    return f"""
WITH {_TOK_CTE}
SELECT doc_id, lang AS declared_lang, {case} AS detected_lang,
       CAST({mx} AS BIGINT) AS marker_hits
FROM (SELECT d.doc_id, d.lang, t.toks FROM documents d JOIN tok t ON d.doc_id = t.doc_id)
"""


def _sql_quality() -> str:
    stop = ", ".join(f"'{w}'" for w in TS._EN_STOPWORDS)
    return f"""
WITH {_TOK_CTE},
q AS (
  SELECT d.doc_id,
         len(t.toks) AS n_tok,
         len(list_filter(t.toks, x -> x IN ({stop}))) AS stop_hits,
         length(regexp_replace(lower(d.text), '[^a-z]', '', 'g')) AS n_alpha,
         greatest(length(d.text), 1) AS n_chars
  FROM documents d JOIN tok t ON d.doc_id = t.doc_id
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  round(stop_hits / greatest(n_tok, 1), 6) AS stop_ratio,
  round(n_alpha / n_chars, 6) AS alpha_ratio,
  round((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 0.4 ELSE 0.0 END)
        + least((stop_hits / greatest(n_tok, 1)) * 2.0, 0.3)
        + least(n_alpha / n_chars, 0.3), 6) AS quality
FROM q
"""


def _sql_gopher_quality() -> str:
    """Relational recomputation of webquality.gopher_quality: list
    functions over the shared tokenizer CTE (O(n^2)-per-doc top-count
    scans are fine at oracle scale), then the identical integer flag
    comparisons — no floats anywhere, so the match is exact by
    construction."""
    stop = ", ".join(f"'{w}'" for w in TS._EN_STOPWORDS)
    return f"""
WITH {_TOK_CTE},
m AS (
  SELECT doc_id, toks,
         list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                        i -> toks[i] || ' ' || toks[i+1]) AS bigs
  FROM tok
),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
    CAST(coalesce(list_max(list_transform(list_distinct(toks),
         x -> len(list_filter(toks, y -> y = x)))), 0) AS BIGINT) AS top_word,
    CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
    CAST(coalesce(list_max(list_transform(list_distinct(bigs),
         x -> len(list_filter(bigs, y -> y = x)))), 0) AS BIGINT) AS top_bigram,
    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS tok_chars,
    CAST(len(list_filter(list_distinct(toks), x -> x IN ({stop}))) AS BIGINT) AS n_stop
  FROM m
)
SELECT *,
  (n_words BETWEEN {WQ.MIN_WORDS} AND {WQ.MAX_WORDS}) AS ok_words,
  ({WQ.MIN_MEAN_LEN} * n_words <= tok_chars AND tok_chars <= {WQ.MAX_MEAN_LEN} * n_words) AS ok_mean_len,
  (100 * top_word <= {WQ.TOP_WORD_MAX_PCT} * n_words) AS ok_top_word,
  (n_bigrams = 0 OR 100 * top_bigram <= {WQ.TOP_BIGRAM_MAX_PCT} * n_bigrams) AS ok_top_bigram,
  (n_stop >= {WQ.MIN_STOPWORDS}) AS ok_stop,
  ((n_words BETWEEN {WQ.MIN_WORDS} AND {WQ.MAX_WORDS})
   AND ({WQ.MIN_MEAN_LEN} * n_words <= tok_chars AND tok_chars <= {WQ.MAX_MEAN_LEN} * n_words)
   AND (100 * top_word <= {WQ.TOP_WORD_MAX_PCT} * n_words)
   AND (n_bigrams = 0 OR 100 * top_bigram <= {WQ.TOP_BIGRAM_MAX_PCT} * n_bigrams)
   AND (n_stop >= {WQ.MIN_STOPWORDS})) AS passes
FROM s
"""


def _sql_ir_eval(k: int = 10) -> str:
    """DuckDB twin of operators.ireval.ir_metrics over the same
    deterministic term-frequency run + md5-coin qrels; the IDCG
    lookup is the identical Python-float literal list."""
    import math

    qt = ", ".join(f"'{t}'" for t in FT_QUERY_TERMS)
    idcg_vals, acc = [], 0.0
    for i in range(1, k + 1):
        acc += 1.0 / math.log2(i + 1)
        idcg_vals.append(acc)
    idcg_arr = "[" + ", ".join(repr(v) for v in idcg_vals) + "]"
    return f"""
WITH {_TF_CTE},
qtf AS (SELECT doc_id, tok AS qid, CAST(doc_id AS VARCHAR) AS url, tf
        FROM tf WHERE tok IN ({qt})),
run AS (SELECT qid, url, rank FROM (
          SELECT qid, url,
                 CAST(row_number() OVER (PARTITION BY qid
                      ORDER BY tf DESC, doc_id ASC) AS BIGINT) AS rank
          FROM qtf)
        WHERE rank <= {k}),
rel AS (SELECT DISTINCT qid, url FROM qtf
        WHERE substr(md5(qid || ':' || url), 1, 1)
              IN ('0','1','2','3','4','5','6','7')),
totals AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
j AS (SELECT r.qid, r.rank,
             CASE WHEN rel.url IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM run r LEFT JOIN rel ON rel.qid = r.qid AND rel.url = r.url),
wj AS (SELECT qid, rank, is_rel,
              sum(is_rel) OVER (PARTITION BY qid ORDER BY rank) AS cum_rel
       FROM j),
per AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_ret,
               CAST(sum(is_rel) AS BIGINT) AS n_rel_ret,
               sum(is_rel * (cum_rel / rank)) AS ap_num,
               sum(is_rel / log2(rank + 1)) AS dcg
        FROM wj GROUP BY qid)
SELECT p.qid, p.n_ret, CAST(coalesce(t.n_rel, 0) AS BIGINT) AS n_rel, p.n_rel_ret,
       round(p.n_rel_ret / {k}, 6) AS p_at_k,
       CASE WHEN coalesce(t.n_rel, 0) > 0
            THEN round(p.ap_num / t.n_rel, 6) ELSE 0.0 END AS ap,
       CASE WHEN coalesce(t.n_rel, 0) > 0
            THEN round(p.dcg / ({idcg_arr})[CAST(least(t.n_rel, {k}) AS INT)], 6)
            ELSE 0.0 END AS ndcg
FROM per p LEFT JOIN totals t USING (qid)
"""


def _sql_sample_stratified() -> str:
    """DuckDB twin of webquality.sample_stratified at the driver row's
    rates/salt (shared by the sample_stratified and training_mix
    oracles)."""
    return f"""
SELECT doc_id, lang, source, bucket FROM (
  SELECT doc_id, lang, source,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{SAMPLE_SALT}'), 1, 8))::BIGINT
          % 1000000) AS bucket
  FROM documents)
WHERE bucket < CASE {" ".join(
    f"WHEN lang = '{s}' THEN {int(round(r * 1_000_000))}"
    for s, r in sorted(SAMPLE_RATES.items())
)} ELSE {int(round(SAMPLE_DEFAULT * 1_000_000))} END
"""


_BM25_EXPR = (
    f"idf * (tf * ({BM25_K1} + 1)) / "
    f"(tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (SELECT avgdl FROM stats)))"
)


# shared by the dedup_lines (raw-line key) and dedup_lines_digest
# (md5-key production variant) rows: both must make exactly these
# keep-decisions
_DEDUP_LINES_SQL = f"""
WITH lined AS ({CU.DUCKDB_LINED_SQL}),
ex AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
  FROM lined),
boiler AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM ex)
  GROUP BY line HAVING count(*) >= 30)
SELECT e.doc_id,
       coalesce(string_agg(CASE WHEN b.line IS NULL THEN e.line END,
                           chr(10) ORDER BY e.pos), '') AS clean_text,
       CAST(count(b.line) AS BIGINT) AS n_removed,
       CAST(count(*) AS BIGINT) AS n_lines
FROM ex e LEFT JOIN boiler b ON e.line = b.line
GROUP BY e.doc_id
"""


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_base()
    # S14 run formatting over the (already-oracled) relational BM25
    # top-20 result: wrap that query as a CTE
    out["trec_run_lines"] = f"""
WITH topk AS ({out['ft_bm25_topk']})
SELECT 'q1' || ' Q0 ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(rank AS VARCHAR)
       || ' ' || printf('%.6f', score) || ' mt' AS line
FROM topk
"""
    return out


def _oracle_sql_base() -> dict[str, str]:
    qt = ", ".join(f"'{t}'" for t in FT_QUERY_TERMS)
    # query-vector cells for the hybrid dense leg — the Python md5
    # twin (hybrid.query_hash_cells) inlined as SQL VALUES
    _HY_QV_VALUES = ", ".join(
        f"({d}, {v})" for d, v in HY.query_hash_cells(list(FT_QUERY_TERMS)))
    # the registered alert queries, inlined for the percolation oracle
    _PERC_VALUES = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in PERC_QUERIES for t in terms)
    cos_dot = (
        "list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
    )
    nrm = lambda side: (  # noqa: E731
        f"sqrt(list_sum(list_transform({side}.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    blocked = ", ".join(f"'{h}'" for h in BLOCKED_HOSTS)
    # scored-set CTE chain shared by the ft_bm25_topk row, the
    # pagerank_blend re-ranker, and the diversified-collapse row
    # date-histogram bucket CTE chain shared by the plain row and the
    # pipeline-aggregation row built on top of it
    _DATEHIST_BUCKETS_SQL = f"""{_TF_CTE},
mn AS (SELECT min(doc_id) AS m FROM documents),
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data')
SELECT CAST((doc_id - mn.m) // {HIST_BUCKET_SECS} AS BIGINT) AS t_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM match, mn GROUP BY t_bucket"""
    _FT_SCORED = f"""{_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
qtf AS (SELECT * FROM tf WHERE tok IN ({qt})),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum({_BM25_EXPR}), 6) AS score FROM contrib GROUP BY doc_id)"""
    _FT_BM25_SQL = f"""
WITH {_FT_SCORED},
ranked AS (SELECT doc_id, score,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 20
"""
    # decontamination oracle — shared verbatim by the broadcast form
    # (text_contamination) and the Bloom semi-join reduction form
    # (text_contamination_bloom), which must be bit-identical
    _CONTAM_SQL = f"""
WITH {_sql_shingles_cte(CONTAM_NGRAM)},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
ev AS (SELECT DISTINCT s FROM shx WHERE doc_id < {CONTAM_EVAL_DOCS}),
base AS (SELECT * FROM shx WHERE doc_id >= {CONTAM_EVAL_DOCS}),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM base GROUP BY doc_id),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         FROM base JOIN ev USING (s) GROUP BY doc_id)
SELECT h.doc_id, t.n_grams, h.n_hit,
       round(h.n_hit / t.n_grams, 6) AS hit_frac
FROM hits h JOIN totals t USING (doc_id)
"""
    # typo-tolerant retrieval: correct each misspelling to its closest
    # vocabulary term (dist asc, df desc, term asc), then the same
    # BM25 chain over the corrected term set
    _fz = ", ".join(f"('{t}')" for t in FT_FUZZY_TERMS)
    _FT_FUZZY_SQL = f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS vdf FROM tf GROUP BY tok),
q(term) AS (VALUES {_fz}),
cand AS (SELECT q.term, v.tok, v.vdf, levenshtein(q.term, v.tok) AS dist
         FROM q, vocab v
         WHERE abs(length(v.tok) - length(q.term)) <= 2
           AND levenshtein(q.term, v.tok) <= 2),
best AS (SELECT DISTINCT tok FROM (
           SELECT tok, row_number() OVER (PARTITION BY term
                                          ORDER BY dist, vdf DESC, tok) AS rn
           FROM cand) WHERE rn = 1),
qtf AS (SELECT tf.* FROM tf JOIN best USING (tok)),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum({_BM25_EXPR}), 6) AS score FROM contrib GROUP BY doc_id),
rk AS (SELECT doc_id, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, score, rank FROM rk WHERE rank <= 20
"""
    # proximity ranking: min pairwise token distance between distinct
    # query terms (BIGINT, exact), BM25 as the tiebreak
    _FT_PROX_SQL = f"""
WITH {_TOK_CTE},
exp AS (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {{'pos': i, 'tok': toks[i]}})) AS e
        FROM tok),
post AS (SELECT doc_id, e.tok AS tok, CAST(e.pos AS BIGINT) AS pos FROM exp),
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM post GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
qpos AS (SELECT * FROM post WHERE tok IN ({qt})),
mind AS (SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
         FROM qpos a JOIN qpos b ON a.doc_id = b.doc_id AND a.tok < b.tok
         GROUP BY a.doc_id),
qtf AS (SELECT * FROM tf WHERE tok IN ({qt})),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum({_BM25_EXPR}), 6) AS score FROM contrib GROUP BY doc_id),
rk AS (SELECT m.doc_id, m.min_dist, s.score,
              CAST(row_number() OVER (ORDER BY m.min_dist ASC, s.score DESC, m.doc_id ASC) AS BIGINT) AS rank
       FROM mind m JOIN scored s ON m.doc_id = s.doc_id)
SELECT doc_id, min_dist, score, rank FROM rk WHERE rank <= 20
"""
    # result-page assembly: the BM25 top-10 cut joined to the KWIC
    # excerpt around the earliest query-term hit
    _pos_list = ", ".join(
        f"list_position(toks, '{t}')" for t in FT_QUERY_TERMS)
    _FT_HIGHLIGHT_SQL = f"""
WITH {_FT_SCORED},
rk AS (SELECT doc_id, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM scored),
top10 AS (SELECT * FROM rk WHERE rank <= 10),
p AS (SELECT t.doc_id, t.score, t.rank, k.toks,
             list_min(list_filter([{_pos_list}], x -> x > 0)) AS match_pos
      FROM top10 t JOIN tok k ON t.doc_id = k.doc_id)
SELECT doc_id, score, rank, CAST(match_pos AS BIGINT) AS match_pos,
       array_to_string(toks[greatest(match_pos - 5, 1) : match_pos + 5], ' ') AS snippet
FROM p
"""
    # two-per-source collapse of the same scored set, then top-10
    _FT_DIVERSIFIED_SQL = f"""
WITH {_FT_SCORED},
src AS (SELECT s.doc_id, d.source, s.score
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
capped AS (SELECT doc_id, source, score,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY score DESC, doc_id ASC) AS gpos
           FROM src),
rk AS (SELECT doc_id, source, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM capped WHERE gpos <= 2)
SELECT doc_id, source, score, rank FROM rk WHERE rank <= 10
"""
    _AC_PREF = ", ".join(f"'{p}'" for p in AC_PREFIXES)
    # suggest box: top-4 completions per prefix by cf desc, term asc
    # (all-BIGINT ranking — exact); shared by the fresh-scan row and
    # the stored-layout row, which must produce identical output
    _AC_SQL = f"""
WITH {_TF_CTE},
dict AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY tok),
pref AS (SELECT unnest([{_AC_PREF}]) AS prefix),
cand AS (SELECT p.prefix, d.tok AS completion, d.cf
         FROM dict d JOIN pref p ON d.tok LIKE p.prefix || '%'),
rk AS (SELECT prefix, completion, cf,
              CAST(row_number() OVER (PARTITION BY prefix
                                      ORDER BY cf DESC, completion ASC) AS BIGINT) AS rank
       FROM cand)
SELECT prefix, completion, cf, rank FROM rk WHERE rank <= 4
"""
    return {
        "dedup_lines": _DEDUP_LINES_SQL,
        # the digest-keyed production variant must make the SAME
        # keep-decisions — pinned against the identical raw-line oracle
        "dedup_lines_digest": _DEDUP_LINES_SQL,
        "c4_clean": f"""
WITH c4 AS ({CU.DUCKDB_SYNTH_C4_SQL}),
per AS (SELECT doc_id,
               string_split(text, chr(10)) AS lines,
               list_filter(string_split(text, chr(10)),
                           l -> {CU.duckdb_c4_keep_sql('l')}) AS kept
        FROM c4)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       len(kept) >= {CU.C4_MIN_KEPT} AS kept_doc,
       md5(array_to_string(kept, chr(10))) AS cleaned_md5
FROM per
""",
        "pii_scrub": f"""
WITH injected AS ({PII.DUCKDB_SYNTH_PII_SQL})
SELECT doc_id,
       {PII.duckdb_count_sql('text', PII.PII_RULES[0][1])} AS n_email,
       {PII.duckdb_count_sql('text', PII.PII_RULES[1][1])} AS n_ipv4,
       {PII.duckdb_count_sql('text', PII.PII_RULES[2][1])} AS n_phone,
       md5({PII.duckdb_scrub_sql('text')}) AS scrubbed_md5
FROM injected
""",
        "pii_rollup": f"""
WITH injected AS ({PII.DUCKDB_SYNTH_PII_SQL}),
per_doc AS (
  SELECT source,
         {PII.duckdb_count_sql('text', PII.PII_RULES[0][1])} AS n_email,
         {PII.duckdb_count_sql('text', PII.PII_RULES[1][1])} AS n_ipv4,
         {PII.duckdb_count_sql('text', PII.PII_RULES[2][1])} AS n_phone
  FROM injected)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_with_pii,
       CAST(sum(n_email) AS BIGINT) AS tot_email,
       CAST(sum(n_ipv4) AS BIGINT) AS tot_ipv4,
       CAST(sum(n_phone) AS BIGINT) AS tot_phone
FROM per_doc GROUP BY source
""",
        "url_normalize": f"""
WITH pages AS ({UR.DUCKDB_SYNTH_SQL})
SELECT doc_id, url, {UR.duckdb_norm_sql('url')} AS norm_url FROM pages
""",
        "url_dedup_latest": f"""
WITH pages AS ({UR.DUCKDB_SYNTH_SQL}),
norm AS (SELECT url, warc_ts, {UR.duckdb_norm_sql('url')} AS norm_url
         FROM pages),
ranked AS (SELECT *,
             row_number() OVER (PARTITION BY norm_url
                                ORDER BY warc_ts DESC, url DESC) AS rn,
             count(*) OVER (PARTITION BY norm_url) AS n_crawls
           FROM norm)
SELECT norm_url, url, warc_ts, CAST(n_crawls AS BIGINT) AS n_crawls
FROM ranked WHERE rn = 1
""",
        "url_host_rollup": f"""
WITH pages AS ({UR.DUCKDB_SYNTH_SQL}),
norm AS (SELECT url, {UR.duckdb_norm_sql('url')} AS norm_url FROM pages),
hosted AS (SELECT *,
             regexp_extract(norm_url, '^[^:]+://([^/?]*)', 1) AS host
           FROM norm)
SELECT host, CAST(count(*) AS BIGINT) AS n_crawls,
       CAST(count(DISTINCT norm_url) AS BIGINT) AS n_resources,
       CAST(100 - floor(100 * count(DISTINCT norm_url) / count(*)) AS BIGINT)
         AS recrawl_pct
FROM hosted WHERE host NOT IN ({blocked})
GROUP BY host
""",
        "pagerank": GR.duckdb_pagerank_sql(n_iters=8),
        "link_graph": GR.duckdb_linked_edges_sql(
            UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql),
        "link_anchor_terms": GR.duckdb_anchor_terms_sql(
            UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql),
        "search_anchor_topk": GR.duckdb_anchor_search_sql(
            GR.duckdb_anchor_terms_sql(UR.DUCKDB_SYNTH_SQL,
                                       UR.duckdb_norm_sql),
            ANCHOR_QUERY_TERMS, k=10),
        # stored-layout serve must equal the direct computation — the
        # SAME analytic oracle pins both
        "search_anchor_indexed": GR.duckdb_anchor_search_sql(
            GR.duckdb_anchor_terms_sql(UR.DUCKDB_SYNTH_SQL,
                                       UR.duckdb_norm_sql),
            ANCHOR_QUERY_TERMS, k=10),
        "search_anchor_authority": f"""
WITH run AS ({GR.duckdb_anchor_search_sql(
            GR.duckdb_anchor_terms_sql(UR.DUCKDB_SYNTH_SQL,
                                       UR.duckdb_norm_sql),
            ANCHOR_QUERY_TERMS, k=20)}),
pr AS ({GR.duckdb_pagerank_sql(
            n_iters=8,
            edges_sql=GR.duckdb_linked_edges_sql(UR.DUCKDB_SYNTH_SQL,
                                                 UR.duckdb_norm_sql),
            nodes_sql=(f"SELECT DISTINCT {UR.duckdb_norm_sql('url')} AS id "
                       f"FROM ({UR.DUCKDB_SYNTH_SQL})"))}),
ms AS (SELECT max(anchor_score) AS ms FROM run),
mp AS (SELECT max(rank_nano) AS mp FROM pr),
rel AS (SELECT r.dst,
          CAST(floor(r.anchor_score * 1000000 / (SELECT ms FROM ms) + 0.5)
               AS BIGINT) AS rs,
          CAST(floor(p.rank_nano * 1000000 / (SELECT mp FROM mp) + 0.5)
               AS BIGINT) AS rp
        FROM run r JOIN pr p ON p.id = r.dst),
b AS (SELECT dst, CAST((3 * rs + 1 * rp) // 4 AS BIGINT) AS blended_micro
      FROM rel),
rk AS (SELECT dst AS url, blended_micro,
         CAST(row_number() OVER (ORDER BY blended_micro DESC, dst ASC)
              AS BIGINT) AS rank
       FROM b)
SELECT url, blended_micro, rank FROM rk WHERE rank <= 10
""",
        "link_host_graph": f"""
WITH e AS ({GR.duckdb_linked_edges_sql(UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql)}),
he AS (SELECT regexp_extract(src, '^[^:]+://([^/?]*)', 1) AS src,
              regexp_extract(dst, '^[^:]+://([^/?]*)', 1) AS dst
       FROM e)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_links
FROM he WHERE src <> dst GROUP BY src, dst
""",
        "pagerank_hosts": GR.duckdb_pagerank_sql(
            n_iters=8,
            weighted=True,
            edges_sql=f"""
WITH e AS ({GR.duckdb_linked_edges_sql(UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql)}),
he AS (SELECT regexp_extract(src, '^[^:]+://([^/?]*)', 1) AS src,
              regexp_extract(dst, '^[^:]+://([^/?]*)', 1) AS dst
       FROM e)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM he WHERE src <> dst GROUP BY src, dst
""",
            nodes_sql=(
                "SELECT DISTINCT regexp_extract("
                f"{UR.duckdb_norm_sql('url')}, '^[^:]+://([^/?]*)', 1) AS id "
                f"FROM ({UR.DUCKDB_SYNTH_SQL})"),
        ),
        "pagerank_links": GR.duckdb_pagerank_sql(
            n_iters=8,
            edges_sql=GR.duckdb_linked_edges_sql(
                UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql),
            nodes_sql=(f"SELECT DISTINCT {UR.duckdb_norm_sql('url')} AS id "
                       f"FROM ({UR.DUCKDB_SYNTH_SQL})"),
        ),
        "trustrank_links": GR.duckdb_personalized_pagerank_sql(
            n_iters=6,
            edges_sql=GR.duckdb_linked_edges_sql(
                UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql),
            nodes_sql=(f"SELECT DISTINCT {UR.duckdb_norm_sql('url')} AS id "
                       f"FROM ({UR.DUCKDB_SYNTH_SQL})"),
            seeds_sql=(f"SELECT id FROM (SELECT DISTINCT "
                       f"{UR.duckdb_norm_sql('url')} AS id "
                       f"FROM ({UR.DUCKDB_SYNTH_SQL})) "
                       "WHERE substr(md5(id), 1, 1) = '0'"),
        ),
        "nb_classify": f"""
WITH {_TF_CTE},
train AS (SELECT doc_id, lang AS label FROM documents WHERE doc_id % 2 = 0),
tft AS (SELECT tf.doc_id, tf.tok, tf.tf, t.label
        FROM tf JOIN train t USING (doc_id)),
ctk AS (SELECT label, tok, CAST(sum(tf) AS BIGINT) AS cnt
        FROM tft GROUP BY label, tok),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tft),
ntr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM train),
classes AS (
  SELECT p.label,
         log2(p.n_docs / (SELECT n FROM ntr)) AS log2_prior,
         log2(t.tot + (SELECT v FROM vocab)) AS log2_denom
  FROM (SELECT label, CAST(count(*) AS DOUBLE) AS n_docs
        FROM train GROUP BY label) p
  JOIN (SELECT label, CAST(sum(cnt) AS DOUBLE) AS tot
        FROM ctk GROUP BY label) t USING (label)),
model AS (SELECT label, tok, log2(cnt + 1) AS lp FROM ctk),
test_tf AS (SELECT * FROM tf WHERE doc_id % 2 = 1),
matched AS (SELECT doc_id, label, sum(tf * lp) AS m
            FROM test_tf JOIN model USING (tok) GROUP BY doc_id, label),
lens AS (SELECT d.doc_id, CAST(coalesce(sum(t.tf), 0) AS BIGINT) AS len
         FROM documents d LEFT JOIN test_tf t ON t.doc_id = d.doc_id
         WHERE d.doc_id % 2 = 1 GROUP BY d.doc_id),
scored AS (SELECT l.doc_id, c.label,
             CAST(floor((c.log2_prior + coalesce(m.m, 0)
                         - l.len * c.log2_denom) * 1000000 + 0.5) AS BIGINT)
               AS score_micro
           FROM lens l CROSS JOIN classes c
           LEFT JOIN matched m ON m.doc_id = l.doc_id AND m.label = c.label),
best AS (SELECT doc_id, label AS pred, score_micro,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_micro DESC, label DESC) AS rn
         FROM scored)
SELECT b.doc_id, b.pred, b.score_micro / 1000000.0 AS score,
       b.pred = d.lang AS is_correct
FROM best b JOIN documents d ON d.doc_id = b.doc_id
WHERE b.rn = 1
""",
        "ft_doc_stats": f"""
WITH {_TF_CTE}
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS length, CAST(max(tf) AS BIGINT) AS max_tf,
       CAST(count(*) AS BIGINT) AS unique_terms
FROM tf GROUP BY doc_id
""",
        "ft_term_stats": f"""
WITH {_TF_CTE}
SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       round(log2((SELECT CAST(count(*) AS DOUBLE) FROM documents) / count(*)), 6) AS idf
FROM tf GROUP BY tok
""",
        "ft_term_first_pos": f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'pos': i, 'tok': toks[i]}})) AS e
       FROM tok)
SELECT doc_id, e.tok AS tok, CAST(count(*) AS BIGINT) AS tf,
       CAST(min(e.pos) AS BIGINT) AS first_pos,
       CAST(min(e.pos) AS BIGINT) <= 30 AS important
FROM ex GROUP BY doc_id, e.tok
""",
        "ft_phrase_topk": f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'pos': i, 'tok': toks[i]}})) AS e
       FROM tok),
"""
        + ",\n".join(
            f"t{j} AS (SELECT doc_id, e.pos - {j} AS base FROM ex WHERE e.tok = '{t}')"
            for j, t in enumerate(PHRASE_TERMS)
        )
        + """,
m AS (SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
      FROM t0 """
        + " ".join(
            f"JOIN t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.base = t0.base"
            for j in range(1, len(PHRASE_TERMS))
        )
        + """
      GROUP BY t0.doc_id),
ranked AS (SELECT doc_id, phrase_tf,
                  CAST(row_number() OVER (ORDER BY phrase_tf DESC, doc_id ASC) AS BIGINT) AS rank
           FROM m)
SELECT doc_id, phrase_tf, rank FROM ranked WHERE rank <= 20
""",
        "ft_bm25_topk": _FT_BM25_SQL,
        "ft_synonym_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
mem AS (SELECT * FROM (VALUES ('table', 'table'), ('row', 'table'), ('join', 'join'), ('query', 'query'), ('scan', 'query')) AS m(tok, gid)),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf WHERE tok IN ('table', 'row', 'join', 'query', 'scan') GROUP BY tok),
gdf AS (SELECT m.gid, max(df) AS df_g FROM dfreq JOIN mem m USING (tok) GROUP BY m.gid),
blended AS (SELECT m.gid, tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS tf
            FROM tf JOIN mem m USING (tok) GROUP BY m.gid, tf.doc_id),
contrib AS (
  SELECT b.doc_id, log2((SELECT n FROM stats) / g.df_g) AS idf, b.tf, dl.dl
  FROM blended b JOIN gdf g USING (gid) JOIN dl ON b.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum(idf * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))), 6) AS score FROM contrib GROUP BY doc_id),
ranked AS (SELECT doc_id, score,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 20
""",
        "ft_result_stats": f"""
WITH {_TF_CTE},
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('table', 'join', 'query')),
rows_v AS (SELECT d.lang AS facet, CAST(d.n_chars AS BIGINT) AS v
           FROM match m JOIN documents d USING (doc_id)),
agg AS (SELECT facet, CAST(count(*) AS BIGINT) AS n_docs,
               min(v) AS v_min, max(v) AS v_max,
               CAST(sum(v) AS BIGINT) AS v_sum,
               CAST(sum(v * v) AS BIGINT) AS sx2,
               quantile_cont(v, 0.25) AS p25,
               quantile_cont(v, 0.5) AS p50,
               quantile_cont(v, 0.75) AS p75
        FROM rows_v GROUP BY facet)
SELECT facet, n_docs, v_min, v_max, v_sum,
       round(CAST(v_sum AS DOUBLE) / n_docs, 6) AS v_avg,
       round(sqrt(CAST(n_docs * sx2 - v_sum * v_sum AS DOUBLE)
                  / (n_docs * n_docs)), 6) AS v_sd,
       p25, p50, p75
FROM agg
""",
        "ft_bm25f_topk": f"""
WITH {_TOK_CTE},
fx AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'f': CASE WHEN i <= 8 THEN 'title' ELSE 'body' END,
                           'tok': toks[i]}})) AS e
       FROM tok),
ftok AS (SELECT doc_id, e.f AS field, e.tok AS tok FROM fx),
flen AS (SELECT doc_id, field, CAST(count(*) AS BIGINT) AS flen
         FROM ftok GROUP BY doc_id, field),
allf AS (SELECT d.doc_id, f.field
         FROM documents d CROSS JOIN (VALUES ('title'), ('body')) AS f(field)),
flenf AS (SELECT a.doc_id, a.field, coalesce(fl.flen, 0) AS flen
          FROM allf a LEFT JOIN flen fl ON a.doc_id = fl.doc_id AND a.field = fl.field),
avglen AS (SELECT field, CAST(sum(flen) AS DOUBLE) / count(*) AS avglen
           FROM flenf GROUP BY field),
wp AS (SELECT * FROM (VALUES ('title', 2.0, 0.75), ('body', 1.0, 0.75)) AS w(field, w, b)),
qtf AS (SELECT doc_id, field, tok, CAST(count(*) AS BIGINT) AS tf
        FROM ftok WHERE tok IN ('table', 'join', 'query') GROUP BY doc_id, field, tok),
dfreq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM ftok WHERE tok IN ('table', 'join', 'query') GROUP BY tok),
normed AS (SELECT q.doc_id, q.tok,
                  w.w * (CAST(q.tf AS DOUBLE)
                         / (1 - w.b + w.b * (CAST(fl.flen AS DOUBLE) / av.avglen))) AS wtf_part
           FROM qtf q
           JOIN flen fl ON q.doc_id = fl.doc_id AND q.field = fl.field
           JOIN avglen av ON q.field = av.field
           JOIN wp w ON q.field = w.field),
wtf AS (SELECT doc_id, tok, sum(wtf_part) AS wtf FROM normed GROUP BY doc_id, tok),
scored AS (SELECT doc_id,
                  round(sum(log2((SELECT CAST(count(*) AS DOUBLE) FROM documents) / d.df)
                            * wtf / (1.2 + wtf)), 6) AS score
           FROM wtf JOIN dfreq d ON wtf.tok = d.tok GROUP BY doc_id),
ranked AS (SELECT doc_id, score,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 20
""",
        "ft_boosted_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
boosts AS (SELECT * FROM (VALUES {", ".join(f"('{t}', {w})" for t, w in sorted(FT_BOOSTS.items()))}) AS b(tok, w)),
qtf AS (SELECT tf.*, b.w FROM tf JOIN boosts b USING (tok)),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, qtf.w, log2((SELECT n FROM stats) / dfreq.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum(w * ({_BM25_EXPR})), 6) AS score FROM contrib GROUP BY doc_id),
ranked AS (SELECT doc_id, score,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 20
""",
        "ft_top_hits": f"""
WITH {_FT_SCORED},
lg AS (SELECT s.doc_id, s.score, d.lang FROM scored s JOIN documents d USING (doc_id)),
rk AS (SELECT lang, doc_id, score,
              CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS BIGINT) AS bucket_rank,
              CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
       FROM lg)
SELECT lang, n_docs, bucket_rank, doc_id, score FROM rk WHERE bucket_rank <= 3
""",
        # hybrid lexical ⊕ dense RRF: the full pipeline recomputed —
        # the _FT_SCORED BM25 chain, the md5 feature-hash projection
        # (same expressions as the embed_docs oracle), BIGINT dot
        # products against the Python-precomputed query cells, and
        # integer nano-grid reciprocal-rank fusion
        "ft_hybrid_rrf": f"""
WITH {_FT_SCORED},
lexr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS lex_rank
         FROM scored),
lex AS (SELECT * FROM lexr WHERE lex_rank <= 20),
cells AS (SELECT doc_id,
                 CAST(('0x' || substr(md5('d:' || tok), 1, 8))::BIGINT % {EM.DEFAULT_DIMS} AS INT) AS dim,
                 CAST(sum(CASE WHEN substr(md5('r:' || tok), 1, 1)
                               IN ('0','1','2','3','4','5','6','7')
                          THEN tf ELSE -tf END) AS BIGINT) AS v
          FROM tf GROUP BY doc_id, dim),
qv(dim, q) AS (VALUES {_HY_QV_VALUES}),
dots AS (SELECT doc_id, CAST(sum(v * q) AS BIGINT) AS dot
         FROM cells JOIN qv USING (dim) GROUP BY doc_id),
denser AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS BIGINT) AS dense_rank
           FROM dots),
dense AS (SELECT * FROM denser WHERE dense_rank <= 20),
fused AS (SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
                 CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
                 CAST(coalesce(dense_rank, 0) AS BIGINT) AS dense_rank,
                 CAST((CASE WHEN lex_rank IS NOT NULL THEN {HY.RRF_NANO} // ({HY.RRF_K} + lex_rank) ELSE 0 END)
                    + (CASE WHEN dense_rank IS NOT NULL THEN {HY.RRF_NANO} // ({HY.RRF_K} + dense_rank) ELSE 0 END)
                      AS BIGINT) AS rrf_nano
          FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id),
final AS (SELECT doc_id, lex_rank, dense_rank, rrf_nano,
                 CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id ASC) AS BIGINT) AS rank
          FROM fused)
SELECT doc_id, lex_rank, dense_rank, rrf_nano, rank FROM final WHERE rank <= 10
""",
        "search_hybrid_rrf": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS lex_rank_match,
       true AS dense_rank_match, true AS rrf_nano_match
FROM range(1, 11)
""",
        # trailing-wildcard rewrite + BM25: expansion capped by df
        # desc, tok asc — the deterministic top-terms rewrite — then
        # the shared BM25 chain over the expanded union
        "ft_prefix_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS vdf FROM tf GROUP BY tok),
expd AS (SELECT tok FROM vocab WHERE tok LIKE '{FT_PREFIX}%'
         ORDER BY vdf DESC, tok ASC LIMIT {MAX_EXPANSIONS}),
terms AS (SELECT tok FROM expd UNION SELECT '{FT_PREFIX_PLAIN}'),
qtf AS (SELECT tf.* FROM tf JOIN terms USING (tok)),
dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfx.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfx ON qtf.tok = dfx.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum({_BM25_EXPR}), 6) AS score FROM contrib GROUP BY doc_id),
rankd AS (SELECT doc_id, score,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
          FROM scored)
SELECT doc_id, score, rank FROM rankd WHERE rank <= 20
""",
        "search_wildcard": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        # k-gram infix wildcard expansion: brute-force LIKE over the
        # vocabulary, capped per pattern by df desc, term asc — the
        # Spark side serves the SAME rows from the gram-IN pruned
        # side-car (full-recall gram gate + regex verify)
        # regex term expansion: brute-force whole-term regexp over
        # the vocabulary, same df-desc/term-asc cap as the engine
        "ft_regex_expand": f"""
WITH {_TF_CTE},
vocab AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY tok),
pats(pattern) AS (VALUES ('sor[a-z]*'), ('win.ow'), ('da?ta'),
                         ('gr(ou|u)p.*'), ('zz+q'), ('.*[aeo].*')),
cand AS (SELECT p.pattern, v.term, v.df
         FROM vocab v JOIN pats p ON regexp_full_match(v.term, p.pattern)),
r AS (SELECT pattern, term, df,
             CAST(row_number() OVER (PARTITION BY pattern
                  ORDER BY df DESC, term ASC) AS BIGINT) AS rank
      FROM cand)
SELECT pattern, term, df, rank FROM r WHERE rank <= {MAX_EXPANSIONS}
""",
        "search_regex": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "ft_kgram_expand": f"""
WITH {_TF_CTE},
vocab AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY tok),
pats(pattern, pat) AS (VALUES ('*ata*', '%ata%'), ('s*ow', 's%ow'),
                              ('*er', '%er'), ('*a*', '%a%')),
cand AS (SELECT p.pattern, v.term, v.df
         FROM vocab v JOIN pats p ON v.term LIKE p.pat),
r AS (SELECT pattern, term, df,
             CAST(row_number() OVER (PARTITION BY pattern
                  ORDER BY df DESC, term ASC) AS BIGINT) AS rank
      FROM cand)
SELECT pattern, term, df, rank FROM r WHERE rank <= {MAX_EXPANSIONS}
""",
        "search_wildcard_infix": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        # pseudo-relevance feedback: base BM25 top-10 → feedback-term
        # weighting on the half-up 1e-6 idf grid → top-5 expansion →
        # the shared BM25 chain over the expanded union
        "ft_prf_topk": f"""
WITH {_FT_SCORED},
fb AS (SELECT doc_id FROM (
         SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
         FROM scored) WHERE r <= {FT_PRF_FB_DOCS}),
fbtf AS (SELECT tf.* FROM tf JOIN fb USING (doc_id)),
cand AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS tf_sum
         FROM fbtf WHERE tok NOT IN ({qt}) GROUP BY tok),
dfall AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
          FROM tf WHERE tok IN (SELECT tok FROM cand) GROUP BY tok),
wt AS (SELECT c.tok,
              c.tf_sum * CAST(floor(log2((SELECT n FROM stats) / d.df)
                                    * 1000000 + 0.5) AS BIGINT) AS weight
       FROM cand c JOIN dfall d ON c.tok = d.tok),
expt AS (SELECT tok FROM wt ORDER BY weight DESC, tok ASC LIMIT {FT_PRF_FB_TERMS}),
terms AS (SELECT tok FROM expt UNION SELECT unnest([{qt}]) AS tok),
qtf2 AS (SELECT tf.* FROM tf JOIN terms USING (tok)),
dfx2 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf2 GROUP BY tok),
contrib2 AS (
  SELECT qtf2.doc_id, log2((SELECT n FROM stats) / dfx2.df) AS idf, qtf2.tf, dl.dl
  FROM qtf2 JOIN dfx2 ON qtf2.tok = dfx2.tok JOIN dl ON qtf2.doc_id = dl.doc_id
),
scored2 AS (SELECT doc_id, round(sum({_BM25_EXPR}), 6) AS score FROM contrib2 GROUP BY doc_id),
rankd2 AS (SELECT doc_id, score,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           FROM scored2)
SELECT doc_id, score, rank FROM rankd2 WHERE rank <= 20
""",
        "search_prf": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        # percolation oracle: the NAIVE all-terms join (the Spark side
        # runs the presearcher reduction; equality proves it sound)
        "ft_percolate": f"""
WITH {_TOK_CTE},
dtok AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tok),
q(query_id, term) AS (VALUES {_PERC_VALUES}),
need AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY query_id),
hit AS (SELECT d.doc_id, q.query_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM dtok d JOIN q ON d.tok = q.term GROUP BY d.doc_id, q.query_id)
SELECT h.doc_id, h.query_id FROM hit h JOIN need USING (query_id) WHERE h.n_hit = need.n
""",
        # the streaming matcher emits the identical (doc, query) set,
        # so the same naive-join oracle pins it
        "streaming_percolate": f"""
WITH {_TOK_CTE},
dtok AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tok),
q(query_id, term) AS (VALUES {_PERC_VALUES}),
need AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY query_id),
hit AS (SELECT d.doc_id, q.query_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM dtok d JOIN q ON d.tok = q.term GROUP BY d.doc_id, q.query_id)
SELECT h.doc_id, h.query_id FROM hit h JOIN need USING (query_id) WHERE h.n_hit = need.n
""",
        "search_page2": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(11, 21)
""",
        "search_querystring": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        # significant terms of the flagship result set: BM25 top-50
        # foreground, exact nano-grid lift vs the background corpus
        "ft_significant_terms": f"""
WITH {_FT_SCORED},
fg AS (SELECT doc_id FROM (
         SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
         FROM scored) WHERE r <= 50),
stats2 AS (SELECT (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM tf) AS n_corpus,
                  (SELECT CAST(count(*) AS BIGINT) FROM fg) AS n_fg),
fgdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS fg_df
         FROM tf JOIN fg USING (doc_id)
         WHERE tok NOT IN ({qt}) GROUP BY tok HAVING count(*) >= 3),
bgdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS bg_df
         FROM tf WHERE tok IN (SELECT tok FROM fgdf) GROUP BY tok),
sc AS (SELECT f.tok AS term, f.fg_df, b.bg_df,
              CAST((f.fg_df * (SELECT n_corpus FROM stats2) * 1000000000)
                   // (b.bg_df * (SELECT n_fg FROM stats2)) AS BIGINT) AS lift_nano
       FROM fgdf f JOIN bgdf b ON f.tok = b.tok),
rk AS (SELECT term, fg_df, bg_df, lift_nano,
              CAST(row_number() OVER (ORDER BY lift_nano DESC, fg_df DESC, term ASC) AS BIGINT) AS rank
       FROM sc)
SELECT term, fg_df, bg_df, lift_nano, rank FROM rk WHERE rank <= 15
""",
        "ft_count_hits": f"""
WITH {_TF_CTE}
SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_hits
FROM tf WHERE tok IN ({qt})
""",
        "search_count": """
SELECT true AS count_match
""",
        "ft_fuzzy_topk": _FT_FUZZY_SQL,
        "search_fuzzy": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "ft_proximity_topk": _FT_PROX_SQL,
        "ft_highlight_topk": _FT_HIGHLIGHT_SQL,
        "sketch_cms_cells": f"""
WITH {_TF_CTE},
ks AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS row),
proj AS (SELECT k.row AS row,
                CAST(('0x' || substr(md5(k.row || ':' || tok), 1, 8))::BIGINT % {CMS_W} AS BIGINT) AS col,
                tf AS c
         FROM tf, ks k)
SELECT row, col, CAST(sum(c) AS BIGINT) AS count FROM proj GROUP BY row, col
""",
        "sketch_cms_estimate": f"""
WITH {_TF_CTE},
cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY tok),
ks AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS row),
proj AS (SELECT k.row AS row,
                CAST(('0x' || substr(md5(k.row || ':' || tok), 1, 8))::BIGINT % {CMS_W} AS BIGINT) AS col,
                tf AS c
         FROM tf, ks k),
cells AS (SELECT row, col, CAST(sum(c) AS BIGINT) AS count FROM proj GROUP BY row, col),
probes(term) AS (VALUES {", ".join(f"('{t}')" for t in CMS_PROBES)}),
keys AS (SELECT p.term, k.row,
                CAST(('0x' || substr(md5(k.row || ':' || p.term), 1, 8))::BIGINT % {CMS_W} AS BIGINT) AS col
         FROM probes p, ks k),
est AS (SELECT kk.term, CAST(min(coalesce(c.count, 0)) AS BIGINT) AS est
        FROM keys kk LEFT JOIN cells c ON kk.row = c.row AND kk.col = c.col
        GROUP BY kk.term)
SELECT e.term, e.est, CAST(coalesce(f.cf, 0) AS BIGINT) AS exact_cf
FROM est e LEFT JOIN cf f ON f.tok = e.term
""",
        "text_contamination_bloom": _CONTAM_SQL,
        "search_explain": """
SELECT true AS terms_match, true AS values_match, true AS parts_sum_to_score
""",
        "sketch_bloom_bits": f"""
WITH {_TF_CTE},
vocab AS (SELECT DISTINCT tok FROM tf),
ks AS (SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS i)
SELECT DISTINCT
  CAST(('0x' || substr(md5(k.i || ':' || tok), 1, 8))::BIGINT % {BLOOM_M} AS BIGINT) AS bit
FROM vocab, ks k
""",
        "sketch_bloom_contains": f"""
WITH {_TF_CTE},
vocab AS (SELECT DISTINCT tok FROM tf),
ks AS (SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS i),
bits AS (SELECT DISTINCT
           CAST(('0x' || substr(md5(k.i || ':' || tok), 1, 8))::BIGINT % {BLOOM_M} AS BIGINT) AS bit
         FROM vocab, ks k),
probes(key) AS (VALUES {", ".join(f"('{t}')" for t in CMS_PROBES)}),
keys AS (SELECT p.key, k.i,
                CAST(('0x' || substr(md5(k.i || ':' || p.key), 1, 8))::BIGINT % {BLOOM_M} AS BIGINT) AS bit
         FROM probes p, ks k),
mem AS (SELECT kk.key,
               count(*) = sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS maybe_present
        FROM keys kk LEFT JOIN bits b ON kk.bit = b.bit GROUP BY kk.key)
SELECT m.key, m.maybe_present,
       EXISTS (SELECT 1 FROM vocab v WHERE v.tok = m.key) AS actually_present
FROM mem m
""",
        "sketch_hll_registers": f"""
WITH {_TF_CTE},
vocab AS (SELECT DISTINCT tok FROM tf),
hs AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM vocab),
pre AS (SELECT h % {SK.HLL_M} AS j, h // {SK.HLL_M} AS w FROM hs)
SELECT CAST(j AS BIGINT) AS j,
       CAST(max(CASE WHEN w = 0 THEN {SK._HLL_W}
                ELSE {SK._HLL_W} - length(bin(w)) + 1 END) AS BIGINT) AS reg
FROM pre GROUP BY j
""",
        "sketch_hll_estimate": f"""
WITH {_TF_CTE},
vocab AS (SELECT DISTINCT tok FROM tf),
hs AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM vocab),
pre AS (SELECT h % {SK.HLL_M} AS j, h // {SK.HLL_M} AS w FROM hs),
regs AS (SELECT j, max(CASE WHEN w = 0 THEN {SK._HLL_W}
                       ELSE {SK._HLL_W} - length(bin(w)) + 1 END) AS reg
         FROM pre GROUP BY j),
agg AS (SELECT CAST(sum(CAST(pow(2, {SK._HLL_W} - reg) AS BIGINT)) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS nz
        FROM regs),
calc AS (SELECT
    0.709 * {SK.HLL_M} * {SK.HLL_M} * {float(1 << SK._HLL_W)}
      / (CAST(s AS DOUBLE) + ({SK.HLL_M} - nz) * {float(1 << SK._HLL_W)}) AS est_raw,
    CAST({SK.HLL_M} - nz AS DOUBLE) AS zeros
  FROM agg)
SELECT round(CASE WHEN est_raw <= 2.5 * {SK.HLL_M} AND zeros > 0
             THEN {float(SK.HLL_M)} * ln({float(SK.HLL_M)} / zeros)
             ELSE est_raw END, 4) AS est,
       (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS exact_n
FROM calc
""",
        "link_host_distinct_hll": f"""
WITH e AS ({GR.duckdb_linked_edges_sql(UR.DUCKDB_SYNTH_SQL, UR.duckdb_norm_sql)}),
he AS (SELECT regexp_extract(src, '^[^:]+://([^/?]*)', 1) AS src,
              regexp_extract(dst, '^[^:]+://([^/?]*)', 1) AS dst
       FROM e),
hp AS (SELECT DISTINCT src, dst FROM he WHERE src <> dst),
hs AS (SELECT src, ('0x' || substr(md5(dst), 1, 15))::BIGINT AS h FROM hp),
pre AS (SELECT src, h % {SK.HLL_M} AS j, h // {SK.HLL_M} AS w FROM hs),
regs AS (SELECT src, j, max(CASE WHEN w = 0 THEN {SK._HLL_W}
                            ELSE {SK._HLL_W} - length(bin(w)) + 1 END) AS reg
         FROM pre GROUP BY src, j),
agg AS (SELECT src,
               CAST(sum(CAST(pow(2, {SK._HLL_W} - reg) AS BIGINT)) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS nz
        FROM regs GROUP BY src),
calc AS (SELECT src,
    0.709 * {SK.HLL_M} * {SK.HLL_M} * {float(1 << SK._HLL_W)}
      / (CAST(s AS DOUBLE) + ({SK.HLL_M} - nz) * {float(1 << SK._HLL_W)}) AS est_raw,
    CAST({SK.HLL_M} - nz AS DOUBLE) AS zeros
  FROM agg),
est AS (SELECT src, round(CASE WHEN est_raw <= 2.5 * {SK.HLL_M} AND zeros > 0
                          THEN {float(SK.HLL_M)} * ln({float(SK.HLL_M)} / zeros)
                          ELSE est_raw END, 4) AS est
        FROM calc),
exact AS (SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS exact_n
          FROM hp GROUP BY src)
SELECT e2.src, e2.est, x.exact_n FROM est e2 JOIN exact x ON e2.src = x.src
""",
        "url_recency_prior": """
WITH p AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS s FROM documents),
b AS (SELECT min(s) AS mn, max(s) AS mx FROM p)
SELECT id, CAST(CASE WHEN mx = mn THEN 1000000000
                ELSE (s - mn) * 1000000000 // (mx - mn) END AS BIGINT) AS rank_nano
FROM p, b
""",
        "search_recency_blend": f"""
WITH run AS ({_FT_BM25_SQL}),
p AS (SELECT doc_id AS id, doc_id AS s FROM documents),
bb AS (SELECT min(s) AS mn, max(s) AS mx FROM p),
pr AS (SELECT id, CAST(CASE WHEN mx = mn THEN 1000000000
                       ELSE (s - mn) * 1000000000 // (mx - mn) END AS BIGINT) AS rank_nano
       FROM p, bb),
ms AS (SELECT max(score) AS ms FROM run),
mp AS (SELECT max(rank_nano) AS mp FROM pr),
rel AS (SELECT r.doc_id,
          CAST(floor(r.score * 1000000 / (SELECT ms FROM ms) + 0.5) AS BIGINT) AS rs,
          CAST(floor(p2.rank_nano * 1000000 / (SELECT mp FROM mp) + 0.5) AS BIGINT) AS rp
        FROM run r JOIN pr p2 ON p2.id = r.doc_id),
bl AS (SELECT doc_id, CAST((3 * rs + 1 * rp) // 4 AS BIGINT) AS blended_micro
       FROM rel),
rk AS (SELECT doc_id, blended_micro,
         CAST(row_number() OVER (ORDER BY blended_micro DESC, doc_id ASC) AS BIGINT) AS rank
       FROM bl)
SELECT doc_id, blended_micro, rank FROM rk WHERE rank <= 10
""",
        "search_highlight": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match,
       true AS match_pos_match, true AS snippet_match,
       true AS score_match
FROM range(1, 11)
""",
        "search_proximity": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match,
       true AS min_dist_match, true AS score_match
FROM range(1, 21)
""",
        "ft_diversified_topk": _FT_DIVERSIFIED_SQL,
        "text_autocomplete": _AC_SQL,
        # stored-layout serve must equal the fresh dictionary scan —
        # the SAME oracle pins both
        "search_autocomplete_indexed": _AC_SQL,
        "text_related_terms": f"""
WITH {_TF_CTE},
sd AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'join'),
co AS (SELECT tok, CAST(count(*) AS BIGINT) AS co_df
       FROM tf JOIN sd USING (doc_id) WHERE tok <> 'join'
       GROUP BY tok HAVING count(*) >= 2),
dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
ns AS (SELECT CAST(count(*) AS BIGINT) AS df_seed FROM sd),
s AS (SELECT co.tok AS term, co.co_df,
        CAST((1000000 * co.co_df)
             // ((SELECT df_seed FROM ns) + dfs.df - co.co_df)
           AS BIGINT) AS jaccard_micro
      FROM co JOIN dfs ON co.tok = dfs.tok),
rk AS (SELECT term, co_df, jaccard_micro,
         CAST(row_number() OVER (ORDER BY jaccard_micro DESC, term ASC)
              AS BIGINT) AS rank
       FROM s)
SELECT term, co_df, jaccard_micro, rank FROM rk WHERE rank <= 15
""",
        "ft_search_after": f"""
WITH {_FT_SCORED},
rk AS (SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rr
       FROM scored)
SELECT doc_id, score, CAST(rr - 10 AS BIGINT) AS rank
FROM rk WHERE rr > 10 AND rr <= 20
""",
        "ft_boolean_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
qtf AS (SELECT * FROM tf
        WHERE tok IN ({", ".join(f"'{t}'" for t in sorted(set(BOOL_MUST) | set(BOOL_SHOULD)))})),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
cand AS (SELECT doc_id FROM tf
         WHERE tok IN ({", ".join(f"'{t}'" for t in BOOL_MUST)})
         GROUP BY doc_id HAVING count(DISTINCT tok) = {len(BOOL_MUST)}),
excl AS (SELECT DISTINCT doc_id FROM tf
         WHERE tok IN ({", ".join(f"'{t}'" for t in BOOL_MUST_NOT)})),
scored AS (SELECT c.doc_id, round(sum({_BM25_EXPR}), 6) AS score
           FROM contrib c JOIN cand USING (doc_id)
           WHERE c.doc_id NOT IN (SELECT doc_id FROM excl)
           GROUP BY c.doc_id),
rk AS (SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, score, rank FROM rk WHERE rank <= 20
""",
        "ft_msm_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n FROM dl),
qtf AS (SELECT * FROM tf
        WHERE tok IN ({", ".join(f"'{t}'" for t in sorted(MSM_SHOULD))})),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf, qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok JOIN dl ON qtf.doc_id = dl.doc_id
),
cand AS (SELECT doc_id FROM qtf
         GROUP BY doc_id HAVING count(DISTINCT tok) >= {MSM_MIN}),
scored AS (SELECT c.doc_id, round(sum({_BM25_EXPR}), 6) AS score
           FROM contrib c JOIN cand USING (doc_id)
           GROUP BY c.doc_id),
rk AS (SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, score, rank FROM rk WHERE rank <= 20
""",
        "pagerank_blend": f"""
WITH run AS ({_FT_BM25_SQL}),
pr AS ({GR.duckdb_pagerank_sql(8)}),
ms AS (SELECT max(score) AS ms FROM run),
mp AS (SELECT max(rank_nano) AS mp FROM pr),
rel AS (SELECT r.doc_id,
          CAST(floor(r.score * 1000000 / (SELECT ms FROM ms) + 0.5) AS BIGINT) AS rs,
          CAST(floor(p.rank_nano * 1000000 / (SELECT mp FROM mp) + 0.5) AS BIGINT) AS rp
        FROM run r JOIN pr p ON p.id = r.doc_id),
b AS (SELECT doc_id, CAST((3 * rs + 1 * rp) // 4 AS BIGINT) AS blended_micro
      FROM rel),
rk AS (SELECT doc_id, blended_micro,
         CAST(row_number() OVER (ORDER BY blended_micro DESC, doc_id ASC) AS BIGINT) AS rank
       FROM b)
SELECT doc_id, blended_micro, rank FROM rk WHERE rank <= 10
""",
        "extract_text_roundtrip": """
SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_mismatch FROM documents
""",
        "tpch_q1_pricing": """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS sum_disc_price,
  round(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE), 6) AS sum_charge,
  round(avg(l_quantity), 6) AS avg_qty,
  round(avg(l_extendedprice), 6) AS avg_price,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_quantity <= 45
GROUP BY l_returnflag, l_linestatus
""",
        "revenue_by_nation": """
SELECT r_name, n_name,
  round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS revenue,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "topk_orders": """
SELECT o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderkey, o_totalprice,
         CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank
  FROM orders
) WHERE rank <= 50
""",
        "window_top5_parts": """
SELECT p_brand, p_partkey, p_retailprice, rn FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(row_number() OVER (PARTITION BY p_brand
              ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rn
  FROM part
) WHERE rn <= 5
""",
        "semi_join_urgent_customers": """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
        "anti_join_idle_customers": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
        "set_union_nations": """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
        "set_except_nations": """
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey FROM supplier
)
""",
        "distinct_langs": """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
""",
        "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
  round(avg(value), 6) AS avg_value
FROM events GROUP BY hour, event_type
""",
        "events_sessionize": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
),
s AS (
  SELECT user_id, event_id, us,
         CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM e
),
sess AS (
  SELECT user_id, us,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session
  FROM s
)
SELECT user_id, session, CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us
FROM sess GROUP BY user_id, session
""",
        "streaming_dedup": """
SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
FROM documents GROUP BY md5(text)
""",
        "streaming_events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY hour, event_type
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc, max(doc_id) AS max_doc
FROM documents GROUP BY md5(text) HAVING count(*) > 1
""",
        "dedup_minhash_lsh": _sql_minhash_lsh(),
        "dedup_ingest_gate": _sql_ingest_gate(DEDUP_GATE_MIN_AGREE),
        "dedup_ngram_jaccard": f"""
WITH {_sql_shingles_cte()},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shx GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.doc_a = sa.doc_id
JOIN sizes sb ON inter.doc_b = sb.doc_id
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
""",
        "dedup_near_pairs": _sql_near_dup_pairs(0.5),
        "dedup_clusters": f"""
WITH RECURSIVE np AS ({_sql_near_dup_pairs(0.5)}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM np
          UNION SELECT doc_b, doc_a FROM np),
reach AS (
  SELECT src AS doc_id, dst AS other FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.other = e.src
)
SELECT doc_id,
       least(doc_id, min(other)) AS cluster_id,
       doc_id = least(doc_id, min(other)) AS keep
FROM reach GROUP BY doc_id
""",
        "ann_dup_pairs": _sql_ann_dup_pairs(0.35),
        "ann_lsh_topk": _sql_ann_lsh_topk(10),
        "ann_ivf_topk": _sql_ann_ivf_topk(10),
        "dedup_simhash": _sql_simhash_near_pairs(1),
        "multimodal_features": _sql_multimodal_counts(MM.N_FEATURES),
        "multimodal_resize": """
WITH m AS (SELECT doc_id AS media_id, 'text-blob' AS kind, encode(text) AS blob FROM documents),
h AS (SELECT media_id, kind, octet_length(blob) AS n, hex(blob) AS hx FROM m),
r AS (SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes_in,
             CAST(least(n, 256) AS BIGINT) AS n_bytes_out,
             CASE WHEN n > 256
                  THEN array_to_string(list_transform(range(256),
                       j -> substr(hx, CAST(2 * ((j * n) // 256) + 1 AS BIGINT), 2)), '')
                  ELSE hx END AS hx_out
      FROM h)
SELECT media_id, kind, n_bytes_in, n_bytes_out,
  CAST(CASE WHEN n_bytes_out > 0 THEN ('0x' || substr(hx_out, 1, 2))::BIGINT ELSE -1 END AS BIGINT) AS b_first,
  CAST(CASE WHEN n_bytes_out > 0 THEN ('0x' || substr(hx_out, length(hx_out) - 1, 2))::BIGINT ELSE -1 END AS BIGINT) AS b_last,
  md5(hx_out) AS blob_md5
FROM r
""",
        "entities_top5": _sql_entities_top5(),
        "trec_topics_roundtrip": _sql_trec_topics(),
        "city_enrich": _sql_city_enrich(),
        "dedup_embedding_cosine": f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(
    list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
    / ({nrm('a')} * {nrm('b')}), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(
    list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
    / ({nrm('a')} * {nrm('b')}), 6) >= 0.35
""",
        "ann_cosine_topk": f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT a.vec_id, round({cos_dot} / ({nrm('a')} *
         sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
  FROM embeddings a, q
),
ranked AS (SELECT vec_id, cosine,
                  CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT vec_id, cosine, rank FROM ranked WHERE rank <= 10
""",
        "search_federated": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        # phrase-prefix (as-you-type): head token immediately followed
        # by any token carrying the prefix, exact occurrence counts
        "ft_phrase_prefix": f"""
WITH {_TOK_CTE},
m AS (SELECT doc_id,
             CAST(len(list_filter(range(1, len(toks)),
                  i -> toks[i] = 'hash' AND starts_with(toks[i+1], 'jo')))
                  AS BIGINT) AS phrase_tf
      FROM tok),
rk AS (SELECT doc_id, phrase_tf,
              CAST(row_number() OVER (ORDER BY phrase_tf DESC, doc_id ASC)
                   AS BIGINT) AS rank
       FROM m WHERE phrase_tf > 0)
SELECT doc_id, phrase_tf, rank FROM rk WHERE rank <= 20
""",
        "search_phrase_prefix": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS phrase_tf_match
FROM range(1, 21)
""",
        # whole-query did-you-mean: suggest_mode=popular + gain gate,
        # every term keeps a row; DISTINCT ON replicates the argmin
        "text_did_you_mean": f"""
WITH {_TF_CTE},
vocab AS (SELECT tok AS suggestion, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY tok),
q AS (SELECT unnest([{", ".join(f"'{t}'" for t in DYM_TERMS)}]) AS term),
orig AS (SELECT term, coalesce(v.df, 0) AS df_term
         FROM q LEFT JOIN vocab v ON v.suggestion = q.term),
cand AS (SELECT o.term, v.suggestion, v.df,
                levenshtein(o.term, v.suggestion) AS dist
         FROM orig o CROSS JOIN vocab v
         WHERE abs(length(v.suggestion) - length(o.term)) <= 2
           AND levenshtein(o.term, v.suggestion) BETWEEN 1 AND 2
           AND v.df > {DYM_GAIN} * o.df_term),
best AS (SELECT DISTINCT ON (term) term, suggestion, dist, df
         FROM cand ORDER BY term, dist, df DESC, suggestion)
SELECT o.term,
       coalesce(b.suggestion, o.term) AS suggestion,
       CAST(coalesce(b.dist, 0) AS BIGINT) AS dist,
       CAST(o.df_term AS BIGINT) AS df_term,
       CAST(coalesce(b.df, o.df_term) AS BIGINT) AS df_sugg,
       b.term IS NOT NULL AS changed
FROM orig o LEFT JOIN best b USING (term)
""",
        "search_did_you_mean": """
SELECT unnest(['data', 'tabel', 'quer', 'dup', 'zzzzqqq']) AS term,
       true AS suggestion_match, true AS dist_match,
       true AS df_term_match, true AS df_sugg_match, true AS changed_match
""",
        # sort-by-field retrieval: newest-first page over the matching
        # set, relative crawl seconds (min-subtraction cancels epoch)
        "ft_sort_by_time": f"""
WITH {_TF_CTE},
mn AS (SELECT min(doc_id) AS m FROM documents),
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data'),
keyed AS (SELECT doc_id, CAST(doc_id - mn.m AS BIGINT) AS sort_key
          FROM match, mn),
rk AS (SELECT doc_id, sort_key,
              CAST(row_number() OVER (ORDER BY sort_key DESC, doc_id ASC)
                   AS BIGINT) AS rank
       FROM keyed)
SELECT doc_id, sort_key, rank FROM rk WHERE rank <= 20
""",
        "search_sort_by_time": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS sort_key_match
FROM range(1, 21)
""",
        # date histogram under a query context: distinct matching docs
        # per relative crawl-time bucket (the corpus-min subtraction
        # cancels the epoch between the two engines' ts derivations)
        "ft_date_histogram": f"WITH {_DATEHIST_BUCKETS_SQL}",
        "ft_date_pipeline": PA.duckdb_bucket_pipeline_sql(
            f"WITH {_DATEHIST_BUCKETS_SQL}", "t_bucket", window=3),
        "ft_bucket_stats": PA.duckdb_bucket_stats_sql(
            f"WITH {_DATEHIST_BUCKETS_SQL}"),
        "ft_serial_diff": "SELECT t_bucket AS bucket, n_docs, sdiff_docs "
        "FROM (" + PA.duckdb_serial_diff_sql(
            f"WITH {_DATEHIST_BUCKETS_SQL}", "t_bucket",
            lag=SDIFF_LAG, min_count=SDIFF_MIN) + ")",
        "search_date_histogram": """
SELECT CAST(range AS BIGINT) AS facet, true AS n_docs_match
FROM range(0, 9)
""",
        # context-window chunking: integer chunk arithmetic + 1-based
        # clamped list slices — identical layout on both engines
        "chunk_windows": f"""
WITH {_TOK_CTE},
base AS (SELECT doc_id, toks, len(toks) AS n FROM tok),
nc AS (SELECT doc_id, toks,
              1 + CAST((greatest(n - {CHUNK_WINDOW}, 0)
                        + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} AS BIGINT)
              AS n_chunks
       FROM base),
ex AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM nc)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {CHUNK_STRIDE} AS BIGINT) AS start_pos,
       CAST(len(toks[(chunk_id * {CHUNK_STRIDE} + 1):
                     (chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW})]) AS BIGINT)
       AS n_tokens,
       array_to_string(toks[(chunk_id * {CHUNK_STRIDE} + 1):
                            (chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW})], ' ')
       AS chunk_text
FROM ex
""",
        # token-budget shard packing: exclusive prefix sum over the
        # doc-id total order, BIGINT floor division by the budget —
        # the single-window form of the distributed scan
        "pack_shards": f"""
WITH {_TOK_CTE},
w AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
c AS (SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
      FROM w)
SELECT doc_id, n_tokens,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS shard_id
FROM c
""",
        # int8 scalar quantization: half-up on the corpus-absmax grid,
        # exact BIGINT dot — the identical IEEE double expression tree
        # on both sides, then pure integer arithmetic
        "ann_int8_topk": """
WITH am AS (SELECT CASE WHEN m = 0 THEN 1.0 ELSE m END AS absmax FROM
  (SELECT max(list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE))))) AS m FROM embeddings)),
qv AS (SELECT list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) / am.absmax * 127.0 + 0.5) AS BIGINT)) AS q
       FROM embeddings, am WHERE vec_id = 0),
av AS (SELECT vec_id, list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) / am.absmax * 127.0 + 0.5) AS BIGINT)) AS a
       FROM embeddings, am),
scored AS (SELECT av.vec_id,
                  CAST(list_sum(list_transform(range(1, len(av.a) + 1),
                       i -> av.a[i] * qv.q[i])) AS BIGINT) AS dot_int
           FROM av, qv),
rk AS (SELECT vec_id, dot_int,
              CAST(row_number() OVER (ORDER BY dot_int DESC, vec_id ASC) AS BIGINT) AS rank
       FROM scored)
SELECT vec_id, dot_int, rank FROM rk WHERE rank <= 10
""",
        "knn_join_first5": f"""
WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, a.vec_id, round({cos_dot} / ({nrm('a')} *
         sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
  FROM embeddings a, q
),
ranked AS (SELECT qid, vec_id, cosine,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
           FROM scored)
SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= 5
""",
        "text_token_stats": f"""
WITH {_TOK_CTE}
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       round(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS mean_token_len
FROM tok
""",
        "text_quality": _sql_quality(),
        "text_langid": _sql_langid(),
        "text_winnow_fingerprint": _sql_winnow_fingerprint(),
        "text_bpe_stats": f"""
WITH p AS (SELECT doc_id,
                  regexp_extract_all(text, '{TS.BPE_ISH_RE.replace("'", "''")}') AS pieces
           FROM documents)
SELECT doc_id,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct_pieces,
       round(CAST(coalesce(list_sum(list_transform(pieces, x -> length(x))), 0) AS DOUBLE)
             / greatest(len(pieces), 1), 6) AS mean_piece_len
FROM p
""",
        "text_gopher_quality": _sql_gopher_quality(),
        "text_repetition": _sql_repetition(),
        "text_contamination": _CONTAM_SQL,
        "dedup_crossdoc_grams": f"""
WITH {_sql_shingles_cte()},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
gdf AS (SELECT s, count(*) AS gram_df FROM shx GROUP BY s)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       round(sum(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac
FROM shx JOIN gdf USING (s) GROUP BY doc_id
""",
        "training_mix": f"""
WITH RECURSIVE np AS ({_sql_near_dup_pairs(0.5)}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM np
          UNION SELECT doc_b, doc_a FROM np),
reach AS (
  SELECT src AS doc_id, dst AS other FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.other = e.src
),
dropped AS (SELECT doc_id FROM (
              SELECT doc_id, least(doc_id, min(other)) AS cid
              FROM reach GROUP BY doc_id)
            WHERE doc_id <> cid),
gq AS ({_sql_gopher_quality()}),
smp AS ({_sql_sample_stratified()})
SELECT s.doc_id, s.lang, s.source, s.bucket
FROM smp s
JOIN gq ON gq.doc_id = s.doc_id AND gq.passes
WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
""",
        "text_snippets": f"""
WITH {_TOK_CTE},
p AS (SELECT doc_id, toks,
             list_min(list_filter(
               [{", ".join(f"list_position(toks, '{t}')" for t in FT_QUERY_TERMS)}],
               x -> x > 0)) AS match_pos
      FROM tok)
SELECT doc_id, CAST(match_pos AS BIGINT) AS match_pos,
       array_to_string(toks[greatest(match_pos - 5, 1) : match_pos + 5], ' ') AS snippet
FROM p WHERE match_pos IS NOT NULL
""",
        "text_suggest": f"""
WITH {_TF_CTE},
vocab AS (SELECT tok AS suggestion, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY tok),
q AS (SELECT unnest([{", ".join(f"'{t}'" for t in MISSPELLED)}]) AS term),
cand AS (
  SELECT term, suggestion, df, levenshtein(term, suggestion) AS dist
  FROM vocab CROSS JOIN q
  WHERE abs(length(suggestion) - length(term)) <= 2
    AND levenshtein(term, suggestion) <= 2
)
SELECT DISTINCT ON (term) term, suggestion, CAST(dist AS BIGINT) AS dist, df
FROM cand ORDER BY term, dist, df DESC, suggestion
""",
        "embed_docs": f"""
WITH {_TF_CTE},
cells AS (SELECT doc_id,
                 CAST(('0x' || substr(md5('d:' || tok), 1, 8))::BIGINT % {EM.DEFAULT_DIMS} AS INT) AS dim,
                 CAST(sum(CASE WHEN substr(md5('r:' || tok), 1, 1)
                               IN ('0','1','2','3','4','5','6','7')
                          THEN tf ELSE -tf END) AS BIGINT) AS v
          FROM tf GROUP BY doc_id, dim)
SELECT doc_id,
       CAST(count(*) FILTER (v <> 0) AS BIGINT) AS nnz,
       CAST(sum((dim + 1) * v) AS BIGINT) AS checksum,
       round(sqrt(sum(CAST(v * v AS DOUBLE))), 6) AS l2
FROM cells GROUP BY doc_id
""",
        "text_surprisal": f"""
WITH {_TF_CTE},
cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY tok),
tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total FROM cf),
per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               sum(tf * -log2(cf / (SELECT total FROM tot))) / sum(tf) AS s_raw
        FROM tf JOIN cf USING (tok) GROUP BY doc_id),
m AS (SELECT doc_id, n_tokens,
             CAST(floor(s_raw * 1000000 + 0.5) AS BIGINT) AS s_micro FROM per),
mm AS (SELECT CAST(floor(avg(s_micro) + 0.5) AS BIGINT) AS mean_micro FROM m)
SELECT doc_id, n_tokens, s_micro / 1000000 AS surprisal,
       CASE WHEN 100 * s_micro < {WQ.SURPRISAL_HEAD_PCT} * (SELECT mean_micro FROM mm) THEN 'head'
            WHEN 100 * s_micro > {WQ.SURPRISAL_TAIL_PCT} * (SELECT mean_micro FROM mm) THEN 'tail'
            ELSE 'middle' END AS bucket
FROM m
""",
        "text_more_like_this": f"""
WITH {_TF_CTE},
dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
w AS (SELECT tf.doc_id, tf.tok,
             tf.tf * log2((SELECT CAST(count(*) AS DOUBLE) FROM documents) / dfx.df) AS w
      FROM tf JOIN dfx USING (tok)),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
q AS (SELECT tok, w AS qw FROM w WHERE doc_id = 0),
qn AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = 0),
dots AS (SELECT w.doc_id, sum(w.w * q.qw) AS dot
         FROM w JOIN q USING (tok) WHERE w.doc_id <> 0 GROUP BY w.doc_id),
scored AS (SELECT d.doc_id, round(d.dot / (n.nrm * qn.qnrm), 6) AS cosine
           FROM dots d JOIN norms n USING (doc_id), qn
           WHERE n.nrm > 0 AND qn.qnrm > 0),
rk AS (SELECT doc_id, cosine,
              CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, cosine, rank FROM rk WHERE rank <= 10
""",
        "ir_eval": _sql_ir_eval(),
        "ir_eval_summary": f"""
WITH per AS ({_sql_ir_eval()})
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(p_at_k), 6) AS mean_p_at_k,
       round(avg(ap), 6) AS map,
       round(avg(ndcg), 6) AS mean_ndcg
FROM per
""",
        "sample_stratified": _sql_sample_stratified(),
        # avg on the integer micro grid (half-up 4dp as pure BIGINT
        # arithmetic) — a float round(avg(q),4) flips when a group
        # mean lands exactly on a grid edge (seen at sf0.001)
        "source_rollup": f"""
WITH perdoc AS ({_sql_quality()})
SELECT d.source, d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
       CAST((2 * sum(CAST(floor(p.quality * 1000000 + 0.5) AS BIGINT))
             + 100 * count(*)) // (200 * count(*)) AS BIGINT) / 10000.0
         AS avg_quality
FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source, d.lang
""",
        "text_fingerprint": f"""
WITH {_TOK_CTE}
SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
FROM tok
""",
        # full-engine equivalence rows: the Spark side joins the
        # packed-index result to an independent plain-postings twin
        # per rank (twin.py), so the expected output is exactly k
        # all-true match rows — constants DuckDB states directly.
        # Any rank-count change, wrong doc, or score drift > 1e-9
        # breaks the row-count/hash match.
        "search_bm25_topk": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_wand_topk": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_collapse": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 11)
""",
        "search_boolean": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_msm": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_after": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 11)
""",
        "search_ts_filtered": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_span_near": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS span_tf_match
FROM range(1, 21)
""",
        "ft_span_near_topk": f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'pos': i, 'tok': toks[i]}})) AS e
       FROM tok),
"""
        + ",\n".join(
            f"t{j} AS (SELECT doc_id, e.pos AS p{j} FROM ex WHERE e.tok = '{t}')"
            for j, t in enumerate(SPAN_TERMS)
        )
        + """,
m AS (SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS span_tf
      FROM t0 """
        + " ".join(
            f"JOIN t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.p{j} > t{j - 1}.p{j - 1}"
            f" AND t{j}.p{j} <= t0.p0 + {len(SPAN_TERMS) - 1 + SPAN_SLOP}"
            for j in range(1, len(SPAN_TERMS))
        )
        + """
      GROUP BY t0.doc_id),
rk AS (SELECT doc_id, span_tf,
              CAST(row_number() OVER (ORDER BY span_tf DESC, doc_id ASC) AS BIGINT) AS rank
       FROM m)
SELECT doc_id, span_tf, rank FROM rk WHERE rank <= 20
""",
        "search_tree": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_querystring_tree": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "ft_tree_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl,
                 (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n
          FROM dl),
mtch AS (
  ((SELECT DISTINCT doc_id FROM tf WHERE tok = 'data'
    UNION SELECT DISTINCT doc_id FROM tf WHERE tok = 'query')
   INTERSECT
   (SELECT DISTINCT doc_id FROM tf WHERE tok = 'table'
    UNION SELECT DISTINCT doc_id FROM tf WHERE tok = 'row'))
  EXCEPT SELECT DISTINCT doc_id FROM tf WHERE tok = 'join'
),
qtf AS (SELECT tf.* FROM tf
        WHERE tok IN ({", ".join(f"'{t}'" for t in TREE_POS_TOKS)})),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf,
         qtf.tf, dl.dl
  FROM qtf
  JOIN mtch ON qtf.doc_id = mtch.doc_id
  JOIN dfreq ON qtf.tok = dfreq.tok
  JOIN dl ON qtf.doc_id = dl.doc_id
),
scored AS (SELECT doc_id, round(sum({_BM25_EXPR}), 6) AS score
           FROM contrib GROUP BY doc_id),
rk AS (SELECT doc_id, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, score, rank FROM rk WHERE rank <= 20
""",
        "search_rescore": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match,
       true AS min_dist_match, true AS rescore_match
FROM range(1, 21)
""",
        "ft_rescore_topk": f"""
WITH {_FT_SCORED},
w AS (SELECT doc_id, score
      FROM (SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
            FROM scored)
      WHERE rn <= {RESCORE_WINDOW}),
exp AS (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {{'pos': i, 'tok': toks[i]}})) AS e
        FROM tok),
po AS (SELECT exp.doc_id, e.pos AS pos, e.tok AS tok
       FROM exp JOIN w ON w.doc_id = exp.doc_id
       WHERE e.tok IN ({qt})),
mind AS (SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
         FROM po a JOIN po b ON a.doc_id = b.doc_id AND a.tok < b.tok
         GROUP BY a.doc_id),
fold AS (SELECT w.doc_id,
                CAST(coalesce(mind.min_dist, -1) AS BIGINT) AS min_dist,
                round(w.score + CASE WHEN mind.min_dist IS NOT NULL
                                     THEN {RESCORE_WEIGHT} / (1 + mind.min_dist)
                                     ELSE 0 END, 6) AS rescore
         FROM w LEFT JOIN mind ON w.doc_id = mind.doc_id),
rk AS (SELECT doc_id, min_dist, rescore,
              CAST(row_number() OVER (ORDER BY rescore DESC, doc_id ASC) AS BIGINT) AS rank
       FROM fold)
SELECT doc_id, min_dist, rescore, rank FROM rk WHERE rank <= 20
""",
        "search_span_unordered": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS span_tf_match
FROM range(1, 21)
""",
        "ft_span_unordered_topk": f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'pos': i, 'tok': toks[i]}})) AS e
       FROM tok),
"""
        + ",\n".join(
            f"t{j} AS (SELECT doc_id, e.pos AS p{j} FROM ex WHERE e.tok = '{t}')"
            for j, t in enumerate(SPAN_TERMS)
        )
        + """,
m AS (SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS span_tf
      FROM t0 """
        + " ".join(
            f"JOIN t{j} ON t{j}.doc_id = t0.doc_id"
            f" AND t{j}.p{j} >= t0.p0 - {len(SPAN_TERMS) - 1 + SPAN_SLOP}"
            f" AND t{j}.p{j} <= t0.p0 + {len(SPAN_TERMS) - 1 + SPAN_SLOP}"
            for j in range(1, len(SPAN_TERMS))
        )
        + f"""
      WHERE greatest({", ".join(f"t{j}.p{j}" for j in range(len(SPAN_TERMS)))})
            - least({", ".join(f"t{j}.p{j}" for j in range(len(SPAN_TERMS)))})
            <= {len(SPAN_TERMS) - 1 + SPAN_SLOP}
      GROUP BY t0.doc_id),
rk AS (SELECT doc_id, span_tf,
              CAST(row_number() OVER (ORDER BY span_tf DESC, doc_id ASC) AS BIGINT) AS rank
       FROM m)
SELECT doc_id, span_tf, rank FROM rk WHERE rank <= 20
""",
        "search_incremental": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_incremental_wand": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_updates": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_updates_wand": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_deletes": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 11)
""",
        "search_delete_by_query": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 11)
""",
        "search_delete_by_query_empty": """
SELECT CAST(0 AS BIGINT) AS n_hits, CAST(0 AS BIGINT) AS n_search,
       CAST(0 AS BIGINT) AS n_wand, CAST(0 AS BIGINT) AS n_redelete
""",
        "search_deletes_wand": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 11)
""",
        "search_city_filtered": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_phrase": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS phrase_tf_match
FROM range(1, 21)
""",
        "search_batch": """
SELECT qid, CAST(r.range AS BIGINT) AS rank,
       true AS url_match, true AS score_match
FROM (VALUES ('q1'), ('q2')) AS t(qid) CROSS JOIN range(1, 11) AS r
""",
        "search_wand_batch": """
SELECT qid, CAST(r.range AS BIGINT) AS rank,
       true AS url_match, true AS score_match
FROM (VALUES ('q1'), ('q2')) AS t(qid) CROSS JOIN range(1, 11) AS r
""",
        "ir_search_eval": """
SELECT qid, true AS n_ret_match, true AS n_rel_match,
       true AS n_rel_ret_match, true AS p_at_k_match,
       true AS ap_match, true AS ndcg_match
FROM (VALUES ('q1'), ('q2')) AS t(qid)
""",
        "search_facets": """
SELECT lang AS facet, true AS n_docs_match
FROM (SELECT DISTINCT lang FROM documents)
""",
        "search_boosted": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_synonyms": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "ann_pq_topk": """
WITH e AS (SELECT vec_id,
                  list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
           FROM embeddings),
books AS (SELECT vec_id AS code, v FROM e WHERE vec_id < 16),
dist AS (SELECT x.vec_id, u.s, b.code,
                CAST(list_sum(list_transform(range(1, 9),
                     i -> (x.v[u.s * 8 + i] - b.v[u.s * 8 + i])
                          * (x.v[u.s * 8 + i] - b.v[u.s * 8 + i]))) AS BIGINT) AS d
         FROM e x, unnest(range(0, 8)) AS u(s), books b),
cmin AS (SELECT vec_id, s, min(d) AS dmin FROM dist GROUP BY vec_id, s),
codes AS (SELECT d.vec_id, d.s, min(d.code) AS code
          FROM dist d JOIN cmin ON d.vec_id = cmin.vec_id AND d.s = cmin.s
          WHERE d.d = cmin.dmin GROUP BY d.vec_id, d.s),
qd AS (SELECT u.s, b.code,
              CAST(list_sum(list_transform(range(1, 9),
                   i -> (q.v[u.s * 8 + i] - b.v[u.s * 8 + i])
                        * (q.v[u.s * 8 + i] - b.v[u.s * 8 + i]))) AS BIGINT) AS d
       FROM (SELECT v FROM e WHERE vec_id = 0) q,
            unnest(range(0, 8)) AS u(s), books b),
adc AS (SELECT c.vec_id, CAST(sum(qd.d) AS BIGINT) AS adc
        FROM codes c JOIN qd ON c.s = qd.s AND c.code = qd.code
        GROUP BY c.vec_id),
rk AS (SELECT vec_id, adc,
              CAST(row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rank
       FROM adc)
SELECT vec_id, adc, rank FROM rk WHERE rank <= 10
""",
        "hits_links": GR.duckdb_hits_sql(
            n_iters=5,
            edges_sql=GR.duckdb_linked_edges_sql(UR.DUCKDB_SYNTH_SQL,
                                                 UR.duckdb_norm_sql),
            nodes_sql=(f"SELECT DISTINCT {UR.duckdb_norm_sql('url')} AS id "
                       f"FROM ({UR.DUCKDB_SYNTH_SQL})")),
        "search_ltr": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS ltr_micro_match
FROM range(1, 11)
""",
        "streaming_trending": """
WITH ev AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
                   CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS item
            FROM events
            WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
cnt AS (SELECT hour, item, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY hour, item),
rk AS (SELECT hour, item, n,
              CAST(row_number() OVER (PARTITION BY hour ORDER BY n DESC, item ASC) AS BIGINT) AS rank
       FROM cnt)
SELECT hour, rank, item, n FROM rk WHERE rank <= 3
""",
        "search_cached": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 11)
""",
        "search_cardinality": """
SELECT true AS exact_match, true AS hll_match, true AS hll_close
""",
        "search_extended_stats": """
SELECT lang AS facet, true AS n_docs_match, true AS v_min_match,
       true AS v_max_match, true AS v_sum_match, true AS v_avg_match,
       true AS v_sd_match, true AS p25_match, true AS p50_match,
       true AS p75_match
FROM (SELECT DISTINCT lang FROM documents)
""",
        "search_top_hits": """
SELECT lang AS facet, CAST(r.range AS INT) AS bucket_rank,
       true AS url_match, true AS n_docs_match, true AS score_match
FROM (SELECT DISTINCT lang FROM documents) CROSS JOIN range(1, 4) AS r
""",
        "search_facets_multi": """
SELECT 'lang' AS dim, lang AS facet, true AS n_docs_match
FROM (SELECT DISTINCT lang FROM documents)
UNION ALL
SELECT 'source', source, true
FROM (SELECT DISTINCT source FROM documents)
UNION ALL
SELECT 'bucket7', CAST(b AS VARCHAR), true
FROM (SELECT DISTINCT doc_id % 7 AS b FROM documents)
""",
        "ft_composite": f"""
WITH {_TF_CTE},
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data'),
pairs AS (SELECT DISTINCT m.doc_id, d.lang, CAST(d.doc_id % 7 AS BIGINT) AS b7
          FROM match m JOIN documents d ON m.doc_id = d.doc_id),
b AS (SELECT lang, b7, CAST(count(*) AS BIGINT) AS n_docs
      FROM pairs GROUP BY lang, b7)
SELECT lang, b7, n_docs FROM b
WHERE lang > 'en' OR (lang = 'en' AND b7 > 3)
ORDER BY lang, b7 LIMIT 7
""",
        "search_composite": """
SELECT CAST(range AS BIGINT) AS rank, true AS lang_match,
       true AS b7_match, true AS n_docs_match
FROM range(1, 11)
""",
        "ft_matched_topk": f"""
WITH {_FT_SCORED},
matched AS (SELECT doc_id,
                   array_to_string(list_sort(list(DISTINCT tok)), ' ') AS matched
            FROM qtf GROUP BY doc_id),
rk AS (SELECT s.doc_id, s.score, m.matched,
              CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id ASC) AS BIGINT) AS rank
       FROM scored s JOIN matched m ON s.doc_id = m.doc_id)
SELECT doc_id, score, rank, matched FROM rk WHERE rank <= 20
""",
        "search_matched": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match,
       true AS matched_match, true AS score_match
FROM range(1, 21)
""",
        "ft_adjacency": f"""
WITH {_TF_CTE},
qm(qid, qtok) AS (VALUES ('q_data', 'data'), ('q_table', 'table'),
                         ('q_row', 'row')),
m AS (SELECT DISTINCT qm.qid, ex.doc_id FROM ex JOIN qm ON ex.tok = qm.qtok)
SELECT a.qid AS qid_a, b.qid AS qid_b, CAST(count(*) AS BIGINT) AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.qid <= b.qid
GROUP BY qid_a, qid_b
""",
        "search_count_batch": """
SELECT qid, true AS n_docs_match
FROM (VALUES ('q_data'), ('q_table'), ('q_row'), ('q_none')) AS t(qid)
""",
        "search_resharded": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "search_resharded_wand": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "ft_histogram": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data')
SELECT CAST(dl.dl - (dl.dl % {HIST_DL_INTERVAL}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM match JOIN dl ON match.doc_id = dl.doc_id
GROUP BY bucket
""",
        "search_histogram": """
SELECT CAST(range * 90 AS BIGINT) AS facet, true AS n_docs_match
FROM range(0, 6)
""",
        "search_adjacency": """
SELECT a.qid AS qid_a, b.qid AS qid_b, true AS n_docs_match
FROM (VALUES ('q_data'), ('q_row'), ('q_table')) AS a(qid)
JOIN (VALUES ('q_data'), ('q_row'), ('q_table')) AS b(qid)
  ON a.qid <= b.qid
""",
        # ES `range` aggregation: caller-defined half-open [frm, hi)
        # doc-length bands (overlapping + unbounded + a zero band),
        # every requested band kept — the same spec literals as
        # RANGE_BANDS, membership via a theta join
        "ft_range_agg": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS v FROM tf GROUP BY doc_id),
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data'),
vals AS (SELECT m.doc_id, dl.v FROM match m JOIN dl USING (doc_id)),
spec AS (SELECT * FROM (VALUES {", ".join(
            f"({i}, {'NULL' if frm is None else frm}, "
            f"{'NULL' if to is None else to})"
            for i, (frm, to) in enumerate(RANGE_BANDS))})
         AS t(band, frm, hi)),
counts AS (SELECT band, count(DISTINCT doc_id) AS n
           FROM vals JOIN spec
             ON (frm IS NULL OR v >= frm) AND (hi IS NULL OR v < hi)
           GROUP BY band)
SELECT CAST(s.band AS BIGINT) AS band,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs
FROM spec s LEFT JOIN counts c USING (band)
""",
        "search_range_agg": """
SELECT CAST(range AS BIGINT) AS band, true AS frm_match, true AS to_match,
       true AS n_docs_match
FROM range(0, 4)
""",
        # ES `rare_terms`: dimension values carried by <= N distinct
        # matching docs — exact count-ASC selection (ES approximates
        # with a CuckooFilter; the facets kernel aggregates globally)
        "ft_rare_terms": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data')
SELECT dl.dl AS facet, CAST(count(*) AS BIGINT) AS n_docs
FROM match JOIN dl USING (doc_id)
GROUP BY facet HAVING count(*) <= {RARE_MAX_DOCS}
""",
        "search_rare_terms": """
SELECT true AS all_match, true AS non_trivial
""",
        "ft_missing": f"""
WITH {_TF_CTE},
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data')
SELECT CAST(count(*) AS BIGINT) AS n_docs
FROM match WHERE doc_id % {MISSING_MOD} = 0
""",
        "search_missing": """
SELECT true AS n_docs_match, true AS non_trivial
""",
        # deterministic 40% md5-bucket sampler: the sample_bucket hash
        # convention evaluated in DuckDB via ('0x'||substr)::BIGINT
        "ft_sampler": f"""
WITH {_TF_CTE},
match AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'data'),
sampled AS (SELECT doc_id FROM match
            WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                       || '{SAMPLER_SALT}'), 1, 8))::BIGINT
                   % 1000000) < {SAMPLER_PPM})
SELECT d.lang AS facet, CAST(count(*) AS BIGINT) AS n_docs
FROM sampled s JOIN documents d USING (doc_id)
GROUP BY d.lang
""",
        "search_sampler": """
SELECT true AS all_match, true AS non_trivial
""",
        # DisjunctionMax: best clause + tie x the others, same BM25
        # contribution chain as ft_bm25_topk
        "ft_dismax_topk": f"""
WITH {_TF_CTE},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl,
                 (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n
          FROM dl),
qtf AS (SELECT * FROM tf WHERE tok IN ('table', 'join', 'query')),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
contrib AS (
  SELECT qtf.doc_id, log2((SELECT n FROM stats) / dfreq.df) AS idf,
         qtf.tf, dl.dl
  FROM qtf JOIN dfreq ON qtf.tok = dfreq.tok
  JOIN dl ON qtf.doc_id = dl.doc_id
),
parts AS (SELECT doc_id, {_BM25_EXPR} AS c FROM contrib),
scored AS (SELECT doc_id,
                  round(max(c) + {DISMAX_TIE} * (sum(c) - max(c)), 6)
                  AS score
           FROM parts GROUP BY doc_id),
rk AS (SELECT doc_id, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                   AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, score, rank FROM rk WHERE rank <= 20
""",
        "search_dismax": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        # cross-document span removal (Lee et al. exact-substring
        # dedup): seed grams -> distinct-doc count -> position
        # coverage union -> anti-join reassembly, verbatim
        "search_rollover": """
SELECT CAST(range AS BIGINT) AS rank, true AS url_match, true AS score_match
FROM range(1, 21)
""",
        "dedup_span_strip": f"""
WITH {_TOK_CTE},
base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
g0 AS (SELECT doc_id, toks,
              unnest(range(0, greatest(n_tokens - {SPAN_N} + 1, 0))) AS p0
       FROM base),
g AS (SELECT doc_id, CAST(p0 AS BIGINT) AS p0,
             array_to_string(toks[p0 + 1 : p0 + {SPAN_N}], ' ') AS gk
      FROM g0),
dup AS (SELECT gk FROM (SELECT DISTINCT gk, doc_id FROM g)
        GROUP BY gk HAVING count(*) >= {SPAN_MIN_DOCS}),
cov0 AS (SELECT DISTINCT doc_id, p0 FROM g JOIN dup USING (gk)),
cov AS (SELECT DISTINCT doc_id,
               p0 + unnest(range(0, {SPAN_N})) AS pos
        FROM cov0),
tp AS (SELECT doc_id, unnest(toks) AS tok,
              unnest(range(0, len(toks))) AS pos
       FROM base),
kept AS (SELECT t.doc_id, t.pos, t.tok FROM tp t
         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text, b.n_tokens,
       CAST(b.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN agg a USING (doc_id)
""",
        # decontamination by excision: eval 3-gram set -> span
        # coverage union -> anti-join reassembly, verbatim
        "text_decontam_strip": f"""
WITH {_TOK_CTE},
allb AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
evg AS (SELECT DISTINCT
               array_to_string(toks[p0 + 1 : p0 + {CONTAM_NGRAM}], ' ') AS gk
        FROM (SELECT toks,
                     unnest(range(0, greatest(len(toks) - {CONTAM_NGRAM - 1},
                                              0))) AS p0
              FROM tok WHERE doc_id < {CONTAM_EVAL_DOCS})),
base AS (SELECT * FROM allb WHERE doc_id >= {CONTAM_EVAL_DOCS}),
g0 AS (SELECT doc_id, toks,
              unnest(range(0, greatest(n_tokens - {CONTAM_NGRAM - 1}, 0)))
              AS p0
       FROM base),
g AS (SELECT doc_id, CAST(p0 AS BIGINT) AS p0,
             array_to_string(toks[p0 + 1 : p0 + {CONTAM_NGRAM}], ' ') AS gk
      FROM g0),
cov0 AS (SELECT DISTINCT doc_id, p0 FROM g SEMI JOIN evg USING (gk)),
cov AS (SELECT DISTINCT doc_id,
               p0 + unnest(range(0, {CONTAM_NGRAM})) AS pos
        FROM cov0),
tp AS (SELECT doc_id, unnest(toks) AS tok,
              unnest(range(0, len(toks))) AS pos
       FROM base),
kept AS (SELECT t.doc_id, t.pos, t.tok FROM tp t
         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text, b.n_tokens,
       CAST(b.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN agg a USING (doc_id)
""",
    }
