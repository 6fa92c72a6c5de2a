"""Segment-based incremental index ingest (delta cost, not corpus cost).

The reference engine is batch-only: adding documents means re-running
the whole build (SURVEY.md §3.1; ReadFile.java has no append path).
``streaming.ingest.refresh_index`` already improves on that — tokenize
never re-runs — but its derived stages (doc_stats / dictionary / pack)
still rewrite the FULL index.  At 10^12 docs a daily crawl delta is
~0.1% of the corpus; repacking 100% of it per refresh is the wrong
cost model.  This module is the Lucene-style segment answer:

``add_documents(spark, new_pages, index_dir)`` costs O(delta), not
O(corpus):

1. tokenize ONLY the new pages (same Arrow kernel as the build) and
   publish their postings into ``postings_raw`` under unique
   ``seg-<id>-*`` file names (so full rebuild / compaction sees one
   raw store);
2. append the new docs to ``doc_stats``, assigning per-shard local
   ids ABOVE the shard's existing max — existing packed doc ids never
   move;
3. merge the dictionary ADDITIVELY (df/cf sums, capital-class AND,
   display-form re-resolution, idf recomputed against the new corpus
   size) — an exact reproduction of what stage C would compute over
   the union, without scanning the old postings;
4. pack ONLY the delta's postings (with the refreshed idf/avgdl) and
   append the rows to the ``index`` table: a (term_key, shard) may now
   hold several rows — segments.  A document appears in at most one
   segment per term, so the searcher's per-posting unpack + sum
   aggregation is segment-oblivious and stays exact.

**Why stale block-max bounds stay sound.**  Packed rows bake
``block_max`` (the per-block upper bound WAND prunes with) using the
idf/avgdl AT PACK TIME.  New documents shift N, every df, and avgdl,
so old segments' baked bounds no longer bound the *fresh* blended
scores the scorer computes.  Exact scoring is unaffected (idf/avgdl
enter at query time, searcher.py:111-138); only WAND's skip decisions
consume baked bounds.  We keep them sound with a per-term
``bound_scale`` column in the dictionary: for a posting with term
contribution ``c = (k1+1)·tf·idf / (tf + k1(1-b+b·len/avgdl))``,

    c_now / c_then  =  (idf_now/idf_then) · (norm_then/norm_now)
                    <=  (idf_now/idf_then) · max(1, avgdl_now/avgdl_then)

(the norm is ``tf + a + m/avgdl`` with a, m >= 0, so its ratio under
an avgdl change is bounded by the avgdl ratio).  The blended score
``0.8·c + 0.2·bonus`` has a constant bonus part, so multiplying a
block's stored max by ``s = max(1, ratio)`` re-bounds every posting in
it.  Each ``add_documents`` multiplies the accumulated scale by the
step's ratio — a segment packed k merges ago is covered by the product
of the k steps (each factor >= 1, telescoping bound).  ``idf_then = 0``
(df == N at pack time) makes the ratio undefined; those terms get
``inf`` — WAND simply never skips their blocks.  Bounds only ever
*inflate*, so WAND stays rank-identical to the exhaustive scorer
(asserted in tests/test_incremental.py), merely pruning less on old
segments until the next compaction.

``compact_index`` is the periodic repack: re-runs the derived stages
over the accumulated raw store (tokenize never re-runs), collapsing
segments back to one row per (term, shard) with fresh baked bounds and
resetting every ``bound_scale`` to 1.0.  On an Iceberg cluster, each
step here is a transactional commit (append files / replace table);
the local parquet dir-swap below is the sandbox stand-in.

**Versions.**  Every indexed document carries a generation ``gen``
(the segment id that introduced it; base build and stream epochs = 0)
through postings_raw, doc_stats and entities.  ``update_documents``
supersedes a re-crawled url at O(delta): version-tombstone the old
``(url, gen)`` + append the new version — Lucene's updateDocument
contract, replacing the old corpus-cost flow delete -> compact -> add.
``delete_documents`` writes url-level tombstones (gen NULL = every
version).  :func:`tombstone_join` is the one rule both kinds follow:
readers mask the (shard, local_id) rows it kills, and compaction
purges raw by it and collapses everything back to a single-generation
store.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import DEFAULT, EngineConfig
from .indexer import (
    IndexPaths,
    _dir_bytes,
    _lineage_append,
    dictionary_core,
    pack_plan,
    read_lineage,
    term_bucket,
    tokenize_raw,
    with_doc_shard,
)

# Tombstone row schema.  ``gen IS NULL`` = every version of the url is
# dead (delete_documents); a non-null gen tombstones exactly ONE
# version — the supersede mechanism update_documents uses, leaving the
# url's replacement version live.
TOMBSTONE_SCHEMA = "url string, gen int"


def read_tombstones(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """The persisted tombstone table (explicit schema: url-only rows
    read ``gen`` as NULL = every version)."""
    return spark.read.schema(TOMBSTONE_SCHEMA).parquet(paths.tombstones)


def tombstone_join(versions: DataFrame, tombstones: DataFrame,
                   how: str) -> DataFrame:
    """The one tombstone rule: a ``gen IS NULL`` row kills every
    version of its url, and a ``(url, gen)`` row kills that one
    version.  ``versions`` carries ``url`` and ``gen``;
    ``how="left_semi"`` keeps its killed rows, ``"left_anti"`` its live
    ones (a semi/anti join never multiplies rows, so duplicate
    tombstones are harmless)."""
    t = tombstones.select(F.col("url").alias("_t_url"),
                          F.col("gen").alias("_t_gen"))
    kills = (F.col("url") == F.col("_t_url")) & (
        F.col("_t_gen").isNull() | (F.col("_t_gen") == F.col("gen")))
    return versions.join(t, kills, how)


def check_layout(meta: dict, cfg: EngineConfig,
                 ignore: tuple[str, ...] = ()) -> None:
    """Refuse a mutation whose cfg disagrees with the index's baked
    physical layout.  A mismatch corrupts SILENTLY, not loudly: a
    different n_term_buckets rewrites the dictionary with bucket
    values the packed index doesn't use (terms vanish from pruned
    scans); a keep_positions mismatch packs docs without the positions
    the index serves (or strands docs with no postings at all).
    ``ignore`` names fields a caller is deliberately CHANGING through
    a full derived rebuild (:func:`reshard_index` and n_doc_shards —
    the one layout field that is pure function of the raw store)."""
    for field in ("n_doc_shards", "n_term_buckets", "stem", "block_size"):
        if field in ignore:
            continue
        if meta[field] != getattr(cfg, field):
            raise ValueError(
                f"cfg.{field}={getattr(cfg, field)} does not match the "
                f"index layout ({meta[field]}); index mutations must "
                "share the build's layout")
    if bool(meta.get("keep_positions")) != bool(cfg.keep_positions):
        raise ValueError(
            f"cfg.keep_positions={bool(cfg.keep_positions)} does not match "
            f"the index layout ({bool(meta.get('keep_positions'))}); index "
            "mutations must share the build's layout")


def _next_segment_id(paths: IndexPaths) -> int:
    segs = [int(r["key"]) for r in read_lineage(paths)
            if r["stage"] == "segment" and r.get("status") == "done"]
    return (max(segs) + 1) if segs else 1


def _publish_raw(tokenized: DataFrame, paths: IndexPaths, prefix: str) -> None:
    """Write raw postings into ``postings_raw`` under ``<prefix>-*``
    file names: ``seg-<sid>`` for a segment append, ``epoch-<id>`` for
    a stream epoch.  Idempotent: the rows go to a scratch dir first,
    and the publish deletes any files an earlier attempt with the same
    prefix left, so a replay overwrites its own files and never
    duplicates rows (on a cluster: a transactional commit keyed by the
    prefix)."""
    scratch = os.path.join(paths.root, f"_scratch_{prefix}")
    tokenized.write.mode("overwrite").parquet(scratch)
    os.makedirs(paths.postings_raw, exist_ok=True)
    for fn in os.listdir(paths.postings_raw):
        if fn.startswith(f"{prefix}-"):
            os.remove(os.path.join(paths.postings_raw, fn))
    for fn in sorted(os.listdir(scratch)):
        if fn.endswith(".parquet"):
            os.replace(os.path.join(scratch, fn),
                       os.path.join(paths.postings_raw, f"{prefix}-{fn}"))
    shutil.rmtree(scratch, ignore_errors=True)


def _swap_dir(tmp: str, final: str) -> None:
    """Replace ``final`` with ``tmp``.  Locally this is rmtree+rename
    (a crash between the two is repaired by ``compact_index``, which
    rebuilds every derived table from raw); on Iceberg it is an atomic
    REPLACE TABLE commit."""
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _merge_dictionary(
    old: DataFrame, delta_raw: DataFrame, cfg: EngineConfig,
    n_docs_new: int, avgdl_old: float, avgdl_new: float,
) -> DataFrame:
    """Exact additive merge of stage C's output with a delta's stats.

    df/cf are per-occurrence counts over disjoint doc sets — they add.
    The corpus capital class is a bool_and — it ANDs.  The display
    form is the min form matching the MERGED class; since a side whose
    class disagrees with the merged class contributes no matching
    forms (bool_and=true means every one of its forms is capital), the
    merged display is decidable from the two sides' displays alone.
    idf is recomputed against the merged corpus size.  ``bound_scale``
    accumulates the WAND bound inflation documented in the module
    docstring."""
    d = dictionary_core(delta_raw).select(
        F.col("term_key"), F.col("df").alias("n_df"), F.col("cf").alias("n_cf"),
        F.col("capital").alias("n_cap"), F.col("display").alias("n_disp"),
    )
    o = old.select(
        "term_key", F.col("df").alias("o_df"), F.col("cf").alias("o_cf"),
        F.col("capital").alias("o_cap"), F.col("display").alias("o_disp"),
        F.col("idf").alias("o_idf"), F.col("bound_scale").alias("o_scale"),
    )
    m = o.join(d, "term_key", "full_outer")
    in_old, in_new = F.col("o_df").isNotNull(), F.col("n_df").isNotNull()
    merged_cap = F.when(in_old & in_new, F.col("o_cap") & F.col("n_cap")) \
                  .when(in_old, F.col("o_cap")).otherwise(F.col("n_cap"))
    # display: min over forms matching the merged class; a True-class
    # side offers only capital forms, so when the merged class is
    # False it contributes nothing
    merged_disp = (
        F.when(~in_old, F.col("n_disp"))
        .when(~in_new, F.col("o_disp"))
        .when(F.col("o_cap") == F.col("n_cap"), F.least("o_disp", "n_disp"))
        .when(F.col("o_cap") & ~F.col("n_cap"), F.col("n_disp"))
        .otherwise(F.col("o_disp"))
    )
    merged_df = F.coalesce("o_df", F.lit(0)) + F.coalesce("n_df", F.lit(0))
    idf_new = F.log2(F.lit(float(n_docs_new)) / merged_df)
    ratio = (idf_new / F.col("o_idf")) * F.greatest(
        F.lit(1.0), F.lit(float(avgdl_new) / float(avgdl_old)))
    step = F.when(F.col("o_idf") <= 0, F.lit(float("inf"))) \
            .otherwise(F.greatest(ratio, F.lit(1.0)))
    merged_scale = F.when(in_old, F.col("o_scale") * step).otherwise(F.lit(1.0))
    return m.select(
        "term_key",
        merged_df.alias("df"),
        (F.coalesce("o_cf", F.lit(0)) + F.coalesce("n_cf", F.lit(0))).alias("cf"),
        merged_cap.alias("capital"),
        F.coalesce(merged_disp, F.col("term_key")).alias("display"),
        idf_new.alias("idf"),
        term_bucket(cfg).alias("bucket"),
        merged_scale.alias("bound_scale"),
    )


def pending_segment_marker(paths: IndexPaths) -> str:
    """Marker file present while a segment append is mutating the
    derived tables.  A crashed append leaves it behind; readers and
    further appends refuse until :func:`compact_index` /
    ``refresh_index`` (which rebuild every derived table from the
    intact raw store) clear it."""
    return os.path.join(paths.root, "pending_segment")


def _check_no_pending(paths: IndexPaths) -> None:
    if os.path.exists(pending_segment_marker(paths)):
        raise RuntimeError(
            "a previous segment append did not complete (pending_segment "
            "marker present) — the derived tables may be torn; run "
            "compact_index / index_admin.py compact (or refresh --full) "
            "to rebuild them from the raw store before further use")


def _open_append(index_dir: str, cfg: EngineConfig,
                 segment: int | None) -> tuple[IndexPaths, dict, int, float]:
    """The checks every segment append runs before it reads anything:
    the layout matches the build's and no earlier append is pending.
    Returns ``(paths, meta, segment id, start time)``."""
    paths = IndexPaths(index_dir)
    with open(paths.meta) as fh:
        meta = json.load(fh)
    check_layout(meta, cfg)
    _check_no_pending(paths)   # before the raw publish, like every guard
    sid = segment if segment is not None else _next_segment_id(paths)
    return paths, meta, sid, time.time()


def _check_unique_urls(new_pages: DataFrame) -> None:
    """A url duplicated WITHIN the delta would collapse to one
    (shard, local_id) in doc_stats while its postings and df count
    twice — permanent double-scoring."""
    row = new_pages.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("d")
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"{row['n'] - row['d']} duplicate url row(s) WITHIN the delta; "
            "dedupe upstream first (e.g. url_dedup_latest)")


def _check_not_indexed(spark: SparkSession, paths: IndexPaths,
                       urls: DataFrame, where: str) -> None:
    """A url already indexed (live OR tombstoned) would get a second
    (shard, local_id) and surface twice in results (and a url-level
    tombstone would then kill both versions): the raw store holds one
    version per url outside :func:`update_documents`."""
    n_dup = (urls.select("url").distinct()
             .join(spark.read.parquet(paths.doc_stats).select("url"),
                   "url", "left_semi").count())
    if n_dup:
        raise ValueError(
            f"{n_dup} re-crawled url(s) {where} are already indexed; "
            "re-crawls go through update_documents (supersede in place) "
            "or are filtered upstream (streaming.dedup keep-list); "
            "resurrecting a deleted url requires compact_index first")


def add_documents(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    segment: int | None = None,
) -> dict:
    """Ingest ``new_pages`` (urls not yet indexed) into an existing
    index as a new segment.  Returns the updated meta.  Cost is
    O(delta): the old corpus is never re-tokenized, re-aggregated, or
    re-packed.  Call :func:`compact_index` periodically to collapse
    segments and re-tighten WAND bounds.

    Every guard runs BEFORE any publish — raising after the raw
    publish would leave poisoned seg files for the next compaction.
    Re-crawls go through :func:`update_documents`; fully deleted urls
    stay dead until compact_index purges them."""
    paths, meta, sid, t0 = _open_append(index_dir, cfg, segment)
    _check_unique_urls(new_pages)
    _check_not_indexed(spark, paths, new_pages, "in the delta")
    return _publish_segment(spark, new_pages, paths, cfg, meta, sid, t0)


def update_documents(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    segment: int | None = None,
) -> dict:
    """Supersede live urls in place — the recrawl path, at O(delta).

    Re-crawls are the NORMAL case for a Common-Crawl-shaped input
    (the engine's own ``url_dedup_latest`` exists because resources
    get re-fetched); before this call existed an update cost
    delete_documents -> compact_index -> add_documents, i.e. a full
    corpus-priced derived rebuild per recrawled page.  This is
    Lucene's ``updateDocument`` contract instead: tombstone the old
    version + append the new one as a segment in ONE call — the new
    text is visible (and the old gone) immediately, while corpus
    stats (N, df, avgdl) count the dead version until the next
    :func:`compact_index` corrects them, exactly like
    :func:`delete_documents`.

    Mechanics: each indexed version carries a generation (``gen`` =
    the segment id that introduced it; base build = 0).  The delta's
    urls' CURRENT doc_stats rows are tombstoned as exact ``(url,
    gen)`` pairs — version tombstones, so the replacement version
    (gen = this segment) stays live — then the delta appends through
    the ordinary segment path.  Readers mask by resolved (shard,
    local_id); compaction purges raw by (url, gen).

    Urls NOT yet indexed are accepted too (they simply have no row to
    tombstone), so a mixed recrawl batch needs no pre-splitting.
    Fully DELETED urls are refused like in add_documents: their
    url-level tombstone would mask the new version as well.

    Crash contract: the version tombstones are made durable BEFORE
    the new version is published, so at every crash point at most one
    version of a url is visible (never two, never torn).  A crash
    mid-call can leave the url temporarily ABSENT — re-running the
    same update (idempotent per segment id) or compacting repairs it.
    """
    paths, meta, sid, t0 = _open_append(index_dir, cfg, segment)
    _check_unique_urls(new_pages)
    delta_urls = new_pages.select("url").distinct()
    if os.path.isdir(paths.tombstones):
        dead = (read_tombstones(spark, paths)
                .filter(F.col("gen").isNull()).select("url").distinct())
        n_dead = delta_urls.join(dead, "url", "left_semi").count()
        if n_dead:
            raise ValueError(
                f"{n_dead} url(s) in the delta are DELETED (url-level "
                "tombstone): their tombstone would mask the update too; "
                "run compact_index to purge deletes, then add_documents")

    # 1. version-tombstone the superseded rows FIRST (durable before
    # the new version exists anywhere — the at-most-one-live-version
    # crash guarantee).  Re-tombstoning an already-superseded gen is
    # harmless (readers take DISTINCT; purge anti-joins).
    victims = (
        spark.read.parquet(paths.doc_stats)
        .join(delta_urls, "url", "left_semi")
        .select("url", "gen").distinct()
    )
    n_super = victims.count()
    if n_super:
        victims.coalesce(1).write.mode("append").parquet(paths.tombstones)
        _lineage_append(spark, paths, [{
            "stage": "tombstone", "key": f"supersede-{sid}", "docs": n_super,
        }])

    # 2-6. ordinary segment append of the new versions (gen = sid)
    return _publish_segment(spark, new_pages, paths, cfg, meta, sid, t0)


def _publish_segment(spark: SparkSession, new_pages: DataFrame,
                     paths: IndexPaths, cfg: EngineConfig, meta: dict,
                     sid: int, t0: float) -> dict:
    """Tokenize the delta once, publish its raw postings under
    ``seg-<sid>-*`` names (rows stamped gen=sid: the version
    provenance update/compact key on), read them back and append them
    as segment ``sid``."""
    _publish_raw(tokenize_raw(new_pages, cfg, gen=sid), paths, f"seg-{sid}")
    delta_raw = (spark.read.option("pathGlobFilter", f"seg-{sid}-*")
                 .parquet(paths.postings_raw))
    return _append_segment(spark, delta_raw, paths, cfg, meta, sid, t0)


def _append_segment(
    spark: SparkSession,
    delta_raw: DataFrame,
    paths: IndexPaths,
    cfg: EngineConfig,
    meta: dict,
    sid: int,
    t0: float,
) -> dict:
    """Steps 2-6 of the segment append, starting from an
    already-materialized delta postings frame: doc_stats append,
    additive dictionary merge, entities append, delta-only pack, meta
    refresh.  Shared by :func:`add_documents` (which tokenizes pages
    first) and :func:`streaming.ingest.refresh_incremental` (whose
    stream epochs already tokenized into postings_raw)."""
    # the raw store already holds the delta (published by the caller)
    # and is never touched below — it stays the intact source of
    # truth.  Everything from here to the meta rewrite mutates derived
    # tables non-atomically, so the window is bracketed by a marker: a
    # crash leaves it behind and readers/appends refuse until a
    # rebuild-from-raw (compact / refresh --full) restores consistency.
    _check_no_pending(paths)
    with open(pending_segment_marker(paths), "w") as fh:
        fh.write(str(sid))
    old_stats = spark.read.parquet(paths.doc_stats)

    # 2. doc_stats: append, local ids above each shard's existing max
    bases = old_stats.groupBy("shard").agg(F.max("local_id").alias("base"))
    delta_stats = (
        delta_raw.groupBy("url")
        .agg(
            F.sum("tf").alias("length"),
            F.max("tf").alias("max_tf"),
            F.count(F.lit(1)).alias("unique_terms"),
            F.max("gen").alias("gen"),
        )
    )
    delta_stats = with_doc_shard(delta_stats, cfg)
    w = Window.partitionBy("shard").orderBy("url")
    delta_stats = (
        delta_stats.join(bases, "shard", "left")
        .withColumn(
            "local_id",
            (F.coalesce("base", F.lit(0)) + F.row_number().over(w)).cast("long"),
        )
        .select("url", "length", "max_tf", "unique_terms", "gen", "shard",
                "local_id")
    )
    delta_stats.write.mode("append").partitionBy("shard").parquet(paths.doc_stats)

    merged_stats = spark.read.parquet(paths.doc_stats)
    row = merged_stats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("length").alias("avgdl")
    ).first()
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)

    # 3. dictionary: exact additive merge (built to a side dir, then
    # swapped — Spark cannot overwrite a path it is reading)
    old_dict = spark.read.parquet(paths.dictionary)
    merged = _merge_dictionary(
        old_dict, delta_raw, cfg, n_docs, float(meta["avgdl"]), avgdl)
    tmp_dict = paths.dictionary + "__new"
    (merged.repartition(cfg.n_term_buckets, F.col("bucket"))
     .sortWithinPartitions("term_key")
     .write.mode("overwrite").partitionBy("bucket").parquet(tmp_dict))
    _swap_dir(tmp_dict, paths.dictionary)

    # 4. entities: append the delta's rows (per-doc projection)
    from .operators.entities import doc_entities

    ents = with_doc_shard(doc_entities(delta_raw), cfg)
    (ents.repartition(min(cfg.n_doc_shards, 8), F.col("shard"))
     .write.mode("append").partitionBy("shard").parquet(paths.entities))

    # 5. pack ONLY the delta, with the refreshed idf/avgdl.  pack_plan
    # joins the doc map on (url, gen), so an updated url's new postings
    # land on the NEW (shard, local_id), not the superseded row's
    dictionary = spark.read.parquet(paths.dictionary)
    doc_map = merged_stats.select("url", "gen", "shard", "local_id", "length")
    keep_positions = bool(meta.get("keep_positions")) and "positions" in delta_raw.columns
    if bool(meta.get("keep_positions")) and "positions" not in delta_raw.columns:
        raise ValueError("index keeps positions but cfg.keep_positions is off")
    packed = pack_plan(delta_raw, doc_map, dictionary, cfg, avgdl, keep_positions)
    bytes_before = _dir_bytes(paths.index)
    packed.write.mode("append").partitionBy("bucket").parquet(paths.index)

    # 6. refreshed meta (servable marker), then the segment lineage row
    meta.update({"n_docs": n_docs, "avgdl": avgdl})
    tmp = paths.meta + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, paths.meta)
    _lineage_append(spark, paths, [{
        "stage": "segment", "key": str(sid), "docs": n_docs,
        # bytes = THIS segment's packed delta (before/after diff of the
        # append — the O(delta) cost-model evidence in the lineage)
        "bytes": _dir_bytes(paths.index) - bytes_before,
        "seconds": time.time() - t0,
    }])
    os.remove(pending_segment_marker(paths))
    return meta


def delete_documents(
    spark: SparkSession,
    urls,
    index_dir: str,
) -> int:
    """Tombstone deletes — Lucene visibility semantics, O(|urls|) now.

    Deleted docs vanish from every query path immediately (searcher
    anti-joins, WAND masks them before its θ bootstrap so a dead doc
    can never prune a live one), but corpus stats — N, df, avgdl and
    therefore every surviving doc's score — stay AS-PACKED until
    :func:`compact_index` purges.  That is exactly Lucene's contract
    (deleted docs still count in collection statistics until segments
    merge), and it is what makes deletion O(delta): updating df would
    require knowing the deleted docs' postings, i.e. a corpus-wide
    raw scan, which belongs in compaction.

    ``urls`` is a list of url strings or a DataFrame with a ``url``
    column.  Appends url-level rows (``gen`` NULL = every version) to
    the index's ``tombstones`` parquet table (duplicates are harmless —
    every reader takes DISTINCT) and records a lineage row.  Returns
    the batch's url count."""
    paths = IndexPaths(index_dir)
    if isinstance(urls, str):
        # a bare string would iterate as characters and silently
        # tombstone 'h','t','t','p',… instead of the url
        urls = [urls]
    if isinstance(urls, DataFrame):
        df = urls.select("url").distinct()
    else:
        df = spark.createDataFrame([(u,) for u in sorted(set(urls))], "url string")
    df = df.withColumn("gen", F.lit(None).cast("int"))
    n = df.count()
    if n == 0:
        return 0
    df.coalesce(1).write.mode("append").parquet(paths.tombstones)
    _lineage_append(spark, paths, [{
        "stage": "tombstone", "key": str(time.time_ns()), "docs": n,
    }])
    return n


def delete_by_query(
    spark: SparkSession,
    query: str,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
) -> int:
    """ES ``_delete_by_query``: tombstone every LIVE document the
    query matches at call time (≥1 query term — the engine's match
    rule, :meth:`SearchEngine.matching_urls`), in one call.

    The match set resolves through the packed index's own pruned
    scan (dictionary lookup → the query terms' posting rows only —
    never a corpus pass; this is why delete-by-query is cheap on an
    inverted index and a full scan everywhere else), then the urls
    flow into :func:`delete_documents` — the ordinary url-level
    tombstone append, so visibility, stale-stats, WAND-masking and
    compaction semantics are all inherited unchanged.  Deleting is
    snapshot-at-call: documents added AFTER the call that would have
    matched are untouched (the ES contract).  Stop-word-only or
    out-of-dictionary queries match nothing and write nothing.
    Returns the number of urls tombstoned."""
    from .searcher import SearchEngine

    eng = SearchEngine(spark, index_dir, cfg)
    return delete_documents(spark, eng.matching_urls(query), index_dir)


def live_segments(paths: IndexPaths) -> int:
    """Packed generations currently serving a (term, shard): 1 for
    the base pack plus one per segment appended since the last
    derived rebuild.  Lineage is time-ordered and every rebuild
    (build / compact / refresh --full) appends fresh ``pack`` rows
    that collapse all prior segments into the base, so the count
    resets there — the same convention ``index_admin.py stats``
    reports (historical segment rows stay in lineage on purpose:
    ids are monotonic)."""
    n = 1
    for r in read_lineage(paths):
        if r.get("status") != "done":
            continue
        if r["stage"] == "pack":
            n = 1
        elif r["stage"] == "segment":
            n += 1
    return n


def maybe_compact(spark: SparkSession, index_dir: str,
                  max_segments: int = 8,
                  cfg: EngineConfig = DEFAULT) -> tuple[bool, int]:
    """Segment-count merge policy — the knob the multi-segment
    campaign (BENCH/BASELINE.md) prices: per-append cost is flat in
    segment count but query latency fans out with it, so an operator
    compacts when fan-out crosses a threshold rather than after every
    append (compaction is corpus-cost).  Compacts iff the live
    segment count EXCEEDS ``max_segments``; returns
    ``(compacted, live_before)``.  Safe to call after every append —
    it is a lineage scan and an O(1) decision when below threshold."""
    paths = IndexPaths(index_dir)
    live = live_segments(paths)
    if live <= max_segments:
        return False, live
    compact_index(spark, index_dir, cfg)
    return True, live


def reshard_index(spark: SparkSession, index_dir: str, n_doc_shards: int,
                  cfg: EngineConfig = DEFAULT) -> dict:
    """ES ``_shrink`` / ``_split`` — change the index's doc-shard
    count in place.  The doc shard is a pure function of the raw
    store (``shard = pmod(xxhash64(url), n_doc_shards)``, local ids
    ranked within the shard — indexer.py stage B), so resharding is
    exactly a full derived rebuild under the new count: raw postings
    never rewrite, tokenize never re-runs, and the packed result is
    bit-identical to a fresh build over the same corpus at the new
    layout.  This is the operational lever when a grown index's
    per-(term, shard) groups get heavy (split) or a shrunken one
    wastes per-shard overhead (shrink) — at 10^12 docs the
    alternative, re-ingesting the corpus, is the cost this path
    exists to avoid.

    Like ES (which requires a read-only, fully-merged source index),
    the index must be quiescent: no pending append, no tombstones —
    run :func:`compact_index` first.  ``cfg`` must describe the
    CURRENT layout; every other layout field keeps its value.  A
    killed reshard leaves the derived stages dropped from lineage
    (the index refuses to serve, the raw source of truth intact);
    re-running resumes through the ordinary lineage path.  Returns
    the new meta.  No reference counterpart (single-file index)."""
    if n_doc_shards < 1:
        raise ValueError("n_doc_shards must be >= 1")
    paths = IndexPaths(index_dir)
    with open(paths.meta) as fh:
        meta = json.load(fh)
    check_layout(meta, cfg)
    _check_no_pending(paths)
    if os.path.isdir(paths.tombstones):
        raise RuntimeError(
            "tombstones present — run compact_index first (resharding "
            "rebuilds every derived table; stale tombstone masks would "
            "be dropped silently)")
    if n_doc_shards == meta["n_doc_shards"]:
        return meta
    new_cfg = dataclasses.replace(cfg, n_doc_shards=n_doc_shards)
    from .streaming.ingest import refresh_index

    return refresh_index(spark, index_dir, new_cfg,
                         _layout_ignore=("n_doc_shards",))


def compact_index(spark: SparkSession, index_dir: str,
                  cfg: EngineConfig = DEFAULT) -> dict:
    """Collapse segments and purge tombstones: re-run the derived
    stages over the accumulated raw postings (tokenize never re-runs),
    restoring one row per (term, shard) with freshly baked WAND bounds
    and every ``bound_scale`` back at 1.0.  This is exactly the
    streaming refresh path — same lineage machinery, same resume
    safety.

    When a tombstone table exists, the raw postings store is first
    rewritten WITHOUT the deleted urls (one anti-join scan — the
    corpus-cost step deletion deferred here), the tombstones are
    dropped, and the derived rebuild then computes fresh N/df/avgdl
    over only the surviving docs — after compaction the index is
    bit-identical to one built over the corpus minus the deletes."""
    paths = IndexPaths(index_dir)
    if os.path.exists(paths.meta):
        with open(paths.meta) as fh:
            check_layout(json.load(fh), cfg)
    # crash repair: a previous compact killed between the two renames
    # below leaves raw at __old (source of truth intact, never
    # deleted before the new copy is in place) — restore it and drop
    # any half-written __new before doing anything else
    old = paths.postings_raw + "__old"
    if not os.path.isdir(paths.postings_raw) and os.path.isdir(old):
        os.rename(old, paths.postings_raw)
    shutil.rmtree(paths.postings_raw + "__new", ignore_errors=True)
    if os.path.isdir(paths.tombstones):
        t0 = time.time()
        # an update's replacement rows (a different gen) survive their
        # version tombstone; gen is a real column, so a crash-resumed
        # re-purge stays exact (file names no longer matter)
        kept = tombstone_join(spark.read.parquet(paths.postings_raw),
                              read_tombstones(spark, paths), "left_anti")
        tmp = paths.postings_raw + "__new"
        kept.write.mode("overwrite").parquet(tmp)
        # keep the old raw store until the new one is in place: raw is
        # the source of truth, a crash must never leave zero copies.
        # (On Iceberg this whole block is one REPLACE TABLE commit.)
        old = paths.postings_raw + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(paths.postings_raw, old)
        os.rename(tmp, paths.postings_raw)
        shutil.rmtree(old)
        _lineage_append(spark, paths, [{
            "stage": "purge", "key": "all", "seconds": time.time() - t0,
        }])
    from .streaming.ingest import refresh_index

    meta = refresh_index(spark, index_dir, cfg, _raw_is_purged=True)
    # drop tombstones ONLY after the derived rebuild is fully
    # servable: deleting them before refresh_index would let a crash
    # mid-rebuild resurrect the deleted docs (old meta still marks the
    # stale doc_stats/index servable, and the masking tombstones are
    # gone).  Until here they keep masking — docs already purged from
    # raw, so the query-time anti-join is a harmless no-op; a resumed
    # compact re-runs the purge as an empty anti-join.
    shutil.rmtree(paths.tombstones, ignore_errors=True)
    return meta
