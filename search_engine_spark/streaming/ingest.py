"""Structured Streaming incremental ingest (SURVEY.md §2.10).

The reference is batch-only; its incremental story per the north rule
is "append new pages + resumable re-index via lineage".  This module
is that story on Structured Streaming:

1. ``stream_ingest`` watches a pages directory (file source — the
   stand-in for a Kafka/Iceberg CDC feed), tokenizes each micro-batch
   with the SAME tokenize-to-raw expression as the batch build
   (``indexer.tokenize_raw``), publishes to ``postings_raw`` as
   ``epoch-<id>-*`` files, and records one lineage row per epoch.
   Exactly-once = streaming checkpoint (which epochs ran) PLUS an
   idempotent per-epoch publish (replayed epochs overwrite
   their own files, never append duplicates); ``availableNow`` drains
   what's there and stops (the test/ops mode).
2. ``refresh_index`` invalidates the DERIVED stages (doc_stats /
   dictionary / entities / pack) in lineage and re-runs them over the
   accumulated raw postings — the batch builder's resume machinery
   does the rest.  Tokenization is never repeated for already-ingested
   pages; at 10^12 docs the refresh cost is the shuffle-merge over
   raw, not the parse.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..incremental import (
    _append_segment,
    _check_not_indexed,
    _next_segment_id,
    _publish_raw,
    check_layout,
    pending_segment_marker,
    read_tombstones,
)
from ..indexer import (
    IndexPaths,
    _lineage_append,
    build_index,
    read_lineage,
    tokenize_raw,
    write_lineage,
)

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

DERIVED_STAGES = ("doc_stats", "dictionary", "entities", "pack", "build")


def stream_ingest(
    spark: SparkSession,
    pages_dir: str,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    available_now: bool = True,
) -> None:
    """Ingest new page files from ``pages_dir`` into postings_raw."""
    paths = IndexPaths(index_dir)
    stream = spark.readStream.schema(PAGES_DDL).parquet(pages_dir)

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        # gen=0 like the base build: a url enters the stream once (the
        # re-crawl guard in refresh_incremental), so generation 0
        # uniquely names its version until an update supersedes it.
        # The publish is IDEMPOTENT (exactly-once, not just
        # at-least-once): foreachBatch replays an epoch if the job dies
        # between the data write and the checkpoint commit, and a
        # replay overwrites the epoch's own files instead of
        # duplicating postings rows (which would silently inflate
        # tf/df on the next refresh).
        _publish_raw(tokenize_raw(batch, cfg), paths, f"epoch-{epoch_id}")
        _lineage_append(spark, paths, [{
            "stage": "stream_batch", "key": str(epoch_id),
            "seconds": time.time() - t0,
        }])

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", f"{index_dir}/_stream_checkpoint")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        writer.start()


def refresh_index(spark: SparkSession, index_dir: str,
                  cfg: EngineConfig = DEFAULT,
                  _raw_is_purged: bool = False,
                  _layout_ignore: tuple[str, ...] = ()) -> dict:
    """FULL derived rebuild over all ingested raw postings.

    Marks tokenize as done (the stream already materialized raw),
    drops the derived stages from lineage, and re-enters the batch
    builder's resume path — stages B-D run, stage A never does.
    Every streamed epoch present is packed by this rebuild, so each
    gets an ``epoch_packed`` marker — a later
    :func:`refresh_incremental` must not fold it in again.

    Refuses while VERSION tombstones exist (``update_documents``
    supersedes): the raw store then holds several generations of a
    url, and the rebuild's per-url aggregation would merge them into
    one corrupt document.  ``compact_index`` purges superseded
    generations first and re-enters here with ``_raw_is_purged``."""
    paths = IndexPaths(index_dir)
    if not _raw_is_purged and os.path.isdir(paths.tombstones):
        n_vers = (read_tombstones(spark, paths)
                  .filter(F.col("gen").isNotNull()).count())
        if n_vers:
            raise RuntimeError(
                f"{n_vers} version tombstone(s) present (superseded urls "
                "still in the raw store) — a full derived rebuild would "
                "merge a url's generations into one corrupt document; "
                "run compact_index (purges them first) instead")
    if os.path.exists(paths.meta):
        # the raw store's bucket column is baked with the build cfg's
        # n_term_buckets; a rebuild under a narrower layout would
        # silently drop the out-of-range buckets from the pack groups
        with open(paths.meta) as fh:
            check_layout(json.load(fh), cfg, ignore=_layout_ignore)
    all_rows = read_lineage(paths)
    rows = [r for r in all_rows if r["stage"] not in DERIVED_STAGES]
    if not any(r["stage"] == "tokenize" for r in rows):
        rows.append({"stage": "tokenize", "key": "all"})
    write_lineage(paths, rows)
    meta = build_index(spark, None, index_dir, cfg, resume=True)
    # the rebuild recreated every derived table from the intact raw
    # store, so a crashed append's pending marker (if any) is repaired
    try:
        os.remove(pending_segment_marker(paths))
    except FileNotFoundError:
        pass
    # the markers go in only AFTER the rebuild that actually packed
    # these epochs completes — marking first would let a killed
    # rebuild convince refresh_incremental there is nothing pending
    streamed = _epoch_keys(all_rows, "stream_batch")
    packed = _epoch_keys(all_rows, "epoch_packed")
    fresh = sorted(streamed - packed)
    if fresh:
        _lineage_append(spark, paths,
                        [{"stage": "epoch_packed", "key": e} for e in fresh])
    return meta


def _epoch_keys(rows: list[dict], stage: str) -> set[str]:
    return {r["key"] for r in rows
            if r["stage"] == stage and r.get("status") == "done"}


def refresh_incremental(spark: SparkSession, index_dir: str,
                        cfg: EngineConfig = DEFAULT) -> dict:
    """O(epochs-pending) derived refresh: fold every streamed epoch
    not yet packed into the index as ONE new segment — additive
    dictionary merge + delta-only pack (incremental._append_segment) —
    instead of rebuilding all derived tables.

    At 10^12 docs this is the difference between a per-refresh cost of
    "shuffle the whole raw store" (:func:`refresh_index`) and "shuffle
    the postings that arrived since the last refresh".  The trade is
    the segment trade documented in :mod:`..incremental`: (term, shard)
    rows accumulate per refresh and old WAND bounds stay sound but
    loosen (``bound_scale``), until a periodic
    :func:`..incremental.compact_index` collapses them.

    Re-crawled urls (already in doc_stats) are REJECTED, exactly like
    ``add_documents``: a stream epoch carries no supersede intent, so
    folding a second version in blind would double-count the url.
    Filter re-crawls upstream with the ``streaming.dedup`` keep-list,
    or route them through ``incremental.update_documents`` (the
    O(delta) supersede path).

    Requires a servable index (meta.json): the first refresh after a
    cold-start stream must be the full :func:`refresh_index`."""
    paths = IndexPaths(index_dir)
    if not os.path.exists(paths.meta):
        raise ValueError(
            "refresh_incremental needs a servable index (meta.json); "
            "run the full refresh_index first after a cold-start stream")
    with open(paths.meta) as fh:
        meta = json.load(fh)
    check_layout(meta, cfg)
    rows = read_lineage(paths)
    pending = sorted(
        _epoch_keys(rows, "stream_batch") - _epoch_keys(rows, "epoch_packed"),
        key=int,
    )
    if not pending:
        return meta
    t0 = time.time()
    glob = "{" + ",".join(f"epoch-{e}-*" for e in pending) + "}"
    delta_raw = (spark.read.option("pathGlobFilter", glob)
                 .parquet(paths.postings_raw))
    # a url ingested twice WITHIN/ACROSS the pending epochs shows up
    # as duplicate (url, term_key) posting rows (tokenize emits one
    # row per doc-term) — it would collapse to one doc in doc_stats
    # while scoring and df count it twice, permanently
    pair_row = delta_raw.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url", "term_key").alias("d"),
    ).first()
    if pair_row["n"] != pair_row["d"]:
        raise ValueError(
            f"duplicate url(s) within epochs {pending}; dedupe the stream "
            "upstream (streaming.dedup keep-list) before refreshing")
    _check_not_indexed(spark, paths, delta_raw, f"in epochs {pending}")
    sid = _next_segment_id(paths)
    meta = _append_segment(spark, delta_raw, paths, cfg, meta, sid, t0)
    _lineage_append(spark, paths,
                    [{"stage": "epoch_packed", "key": e} for e in pending])
    return meta
