"""CLI: mutate a built index without rebuilding it (incremental.py).

Local (sandbox)::

    python index_admin.py add     --index /tmp/ix --input new_pages.parquet
    python index_admin.py update  --index /tmp/ix --input recrawled.parquet
    python index_admin.py delete  --index /tmp/ix --url http://a --url http://b
    python index_admin.py delete  --index /tmp/ix --url-file dead_urls.txt
    python index_admin.py delete-by-query --index /tmp/ix --query "spam casino"
    python index_admin.py compact --index /tmp/ix
    python index_admin.py refresh --index /tmp/ix [--full]
    python index_admin.py stats   --index /tmp/ix   # no Spark: meta+footers
    python index_admin.py docstore --index /tmp/ix --input pages.parquet --out /tmp/store
    python index_admin.py termvectors --index /tmp/ix --out /tmp/tv
    python index_admin.py snapshot --index /tmp/ix --out /tmp/ix_backup [--verify]
    python index_admin.py reshard --index /tmp/ix --to-shards 64 --doc-shards 32
    python index_admin.py alias-create --index /tmp/alias
    python index_admin.py alias-ingest --index /tmp/alias --input batch.parquet --max-docs 1000000
    python index_admin.py alias-stats  --index /tmp/alias   # no Spark
    python index_admin.py checkindex --index /tmp/ix        # no Spark (fsck)

Cluster::

    python tools/make_engine_zip.py engine.zip
    spark-submit --master yarn --py-files engine.zip index_admin.py <verb> ...

``add`` appends a segment in O(delta); ``update`` supersedes
re-crawled urls in place at the same O(delta) cost (version-tombstone
the old generation + append the new — latest wins immediately, no
compaction needed); ``delete`` tombstones urls in
O(|deletes|) (visible immediately, stats stale until compact);
``compact`` purges tombstones and collapses segments (corpus-cost, by
design); ``refresh`` folds pending streamed epochs into one segment
(``--full`` forces the complete derived rebuild instead).  The config
flags must match the original build's layout — ``add``/``refresh``
verify this against meta.json and refuse otherwise.

Prints one JSON line per invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("verb", choices=["add", "update", "delete",
                                     "delete-by-query", "compact",
                                     "refresh", "stats", "docstore",
                                     "termvectors", "snapshot", "reshard",
                                     "alias-create", "alias-ingest",
                                     "alias-stats", "checkindex"])
    ap.add_argument("--index", required=True)
    ap.add_argument("--input", help="pages parquet or testdata dir (add)")
    ap.add_argument("--out", help="docstore: output directory for the "
                                  "stored-fields layout")
    ap.add_argument("--url", action="append", default=[],
                    help="url to delete (repeatable)")
    ap.add_argument("--url-file", help="file with one url per line (delete)")
    ap.add_argument("--query", help="delete-by-query: tombstone every live "
                                    "doc matching >=1 query term")
    ap.add_argument("--full", action="store_true",
                    help="refresh: full derived rebuild instead of the "
                         "incremental epoch fold")
    ap.add_argument("--if-over", type=int, default=None, metavar="N",
                    help="compact: merge policy — only compact when the "
                         "live segment count exceeds N (no-op otherwise)")
    ap.add_argument("--verify", action="store_true",
                    help="snapshot: run the CheckIndex fsck on the copy "
                         "and exit 2 if it fails")
    ap.add_argument("--member", action="append", default=[],
                    help="alias-create: adopt an existing member index "
                         "subdirectory (relative name, repeatable; the "
                         "last becomes the write index)")
    ap.add_argument("--max-docs", type=int, default=None, metavar="N",
                    help="alias-ingest: rollover condition — a write "
                         "index at/over N docs rolls before the batch")
    ap.add_argument("--to-shards", type=int, default=None, metavar="N",
                    help="reshard: new doc-shard count (ES _shrink/_split; "
                         "the other layout flags must still describe the "
                         "CURRENT layout)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--doc-shards", type=int, default=32)
    ap.add_argument("--term-buckets", type=int, default=16)
    ap.add_argument("--bucket-groups", type=int, default=2)
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--keep-positions", action="store_true",
                    help="must match the original build's setting (the "
                         "layout check refuses a mismatch)")
    args = ap.parse_args()

    if args.verb == "stats":
        # pure driver-side metadata walk (meta.json + lineage + parquet
        # footers) — no SparkSession, safe to run beside a live job
        from search_engine_spark.indexer import (
            IndexPaths, _dir_bytes, _parquet_rows, read_lineage)

        paths = IndexPaths(args.index)
        with open(paths.meta) as fh:
            meta = json.load(fh)
        buckets = {}
        if os.path.isdir(paths.index):
            for d in sorted(os.listdir(paths.index)):
                full = os.path.join(paths.index, d)
                if d.startswith("bucket=") and os.path.isdir(full):
                    buckets[d] = {"rows": _parquet_rows(full),
                                  "bytes": _dir_bytes(full)}
        lineage = read_lineage(paths)
        # LIVE segments only: lineage is chronological, every derived
        # rebuild (build / compact / refresh --full) appends fresh
        # 'pack' rows that collapse all prior segments into the base,
        # so live = segment rows after the last pack row.  Historical
        # segment rows are kept in lineage on purpose (monotonic ids).
        live_segments: list[int] = []
        for r in lineage:
            if r["stage"] == "pack":
                live_segments = []
            elif r["stage"] == "segment":
                live_segments.append(int(r["key"]))
        raw_bytes = _dir_bytes(paths.postings_raw)
        packed_bytes = sum(b["bytes"] for b in buckets.values())
        out = {
            "verb": "stats", "index": args.index,
            "n_docs": meta.get("n_docs"), "avgdl": round(meta.get("avgdl", 0.0), 4),
            "keep_positions": meta.get("keep_positions", False),
            "dictionary_terms": _parquet_rows(paths.dictionary),
            "packed_posting_rows": sum(b["rows"] for b in buckets.values()),
            "packed_bytes": packed_bytes,
            "raw_bytes": raw_bytes,
            "packed_to_raw": round(packed_bytes / raw_bytes, 4) if raw_bytes else None,
            "buckets": buckets,
            "segments": sorted(live_segments),
            "tombstoned_urls": (_parquet_rows(paths.tombstones)
                                if os.path.isdir(paths.tombstones) else 0),
            "lineage_rows": len(lineage),
        }
        print(json.dumps(out))
        return

    if args.verb == "checkindex":
        # Lucene CheckIndex: offline integrity fsck, DuckDB over the
        # parquet layout — no SparkSession
        from search_engine_spark.checkindex import check_index

        out = {"verb": "checkindex", "index": args.index,
               **check_index(args.index)}
        print(json.dumps(out))
        sys.exit(0 if out["ok"] else 2)

    if args.verb in ("alias-create", "alias-stats"):
        # driver-side JSON state only — no SparkSession
        from search_engine_spark import aliases as AL

        if args.verb == "alias-create":
            state = AL.create_alias(args.index, members=args.member or None)
            print(json.dumps({"verb": args.verb, "alias": args.index,
                              **state}))
        else:
            print(json.dumps({"verb": args.verb,
                              **AL.alias_stats(args.index)}))
        return

    if args.verb == "snapshot":
        # pure driver-side file copy — no SparkSession
        from search_engine_spark.indexer import snapshot_index

        if not args.out:
            ap.error("snapshot requires --out")
        t0 = time.time()
        fp = snapshot_index(args.index, args.out)
        out = {"verb": "snapshot", "index": args.index,
               "out_dir": args.out, "fingerprint": fp,
               "seconds": round(time.time() - t0, 3)}
        if args.verify:
            # fsck the COPY (backups are read under pressure; a backup
            # that fails CheckIndex is worse than none)
            from search_engine_spark.checkindex import check_index

            report = check_index(args.out)
            out["verified"] = report["ok"]
            out["checks"] = report["checks"]
            print(json.dumps(out))
            sys.exit(0 if report["ok"] else 2)
        print(json.dumps(out))
        return

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.incremental import (
        add_documents, compact_index, delete_documents, update_documents)
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.pages import load_documents_as_pages, load_pages

    spark = get_spark(app=f"index_admin_{args.verb}", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    cfg = EngineConfig(
        n_doc_shards=args.doc_shards,
        n_term_buckets=args.term_buckets,
        n_bucket_groups=args.bucket_groups,
        stem=not args.no_stem,
        keep_positions=args.keep_positions,
    )
    t0 = time.time()
    out: dict = {"verb": args.verb, "index": args.index}

    if args.verb in ("add", "update"):
        if not args.input:
            ap.error(f"{args.verb} requires --input")
        if os.path.isdir(args.input) and os.path.exists(
            os.path.join(args.input, "documents.parquet")
        ):
            pages = load_documents_as_pages(spark, args.input)
        else:
            pages = load_pages(spark, args.input)
        mutate = add_documents if args.verb == "add" else update_documents
        meta = mutate(spark, pages, args.index, cfg)
        out.update(n_docs=meta["n_docs"], avgdl=round(meta["avgdl"], 4))
    elif args.verb == "delete":
        urls = list(args.url)
        if args.url_file:
            with open(args.url_file) as fh:
                urls += [ln.strip() for ln in fh if ln.strip()]
        if not urls:
            ap.error("delete requires --url or --url-file")
        out["n_deleted"] = delete_documents(spark, urls, args.index)
    elif args.verb == "delete-by-query":
        if not args.query:
            ap.error("delete-by-query requires --query")
        from search_engine_spark.incremental import delete_by_query

        out["n_deleted"] = delete_by_query(spark, args.query, args.index, cfg)
        out["query"] = args.query
    elif args.verb == "compact":
        if args.if_over is not None:
            from search_engine_spark.incremental import maybe_compact

            did, live = maybe_compact(spark, args.index, args.if_over, cfg)
            out.update(compacted=did, live_segments_before=live)
        else:
            meta = compact_index(spark, args.index, cfg)
            out.update(n_docs=meta["n_docs"], avgdl=round(meta["avgdl"], 4))
    elif args.verb == "reshard":
        if args.to_shards is None:
            ap.error("reshard requires --to-shards")
        from search_engine_spark.incremental import reshard_index

        meta = reshard_index(spark, args.index, args.to_shards, cfg)
        out.update(n_docs=meta["n_docs"], n_doc_shards=meta["n_doc_shards"])
    elif args.verb == "alias-ingest":
        from search_engine_spark import aliases as AL

        if not args.input or args.max_docs is None:
            ap.error("alias-ingest requires --input and --max-docs")
        if os.path.isdir(args.input) and os.path.exists(
            os.path.join(args.input, "documents.parquet")
        ):
            pages = load_documents_as_pages(spark, args.input)
        else:
            pages = load_pages(spark, args.input)
        st = AL.rollover_ingest(spark, args.index, pages, args.max_docs, cfg)
        out.update(rolled=st["rolled"], ingested_into=st["ingested_into"],
                   members=st["members"], write_index=st["write_index"])
    elif args.verb == "docstore":
        from search_engine_spark.operators.docstore import write_docstore

        if not args.input or not args.out:
            ap.error("docstore requires --input and --out")
        if os.path.isdir(args.input) and os.path.exists(
            os.path.join(args.input, "documents.parquet")
        ):
            pages = load_documents_as_pages(spark, args.input)
        else:
            pages = load_pages(spark, args.input)
        meta = write_docstore(pages, args.out, index_dir=args.index)
        out.update(out_dir=args.out, n_buckets=meta["n_buckets"],
                   stamped=("index_fingerprint" in meta))
    elif args.verb == "termvectors":
        from search_engine_spark.operators.termvectors import write_term_vectors

        if not args.out:
            ap.error("termvectors requires --out")
        raw = spark.read.parquet(os.path.join(args.index, "postings_raw"))
        meta = write_term_vectors(raw, args.out, index_dir=args.index)
        out.update(out_dir=args.out, n_buckets=meta["n_buckets"],
                   stamped=("index_fingerprint" in meta))
    else:  # refresh
        from search_engine_spark.streaming.ingest import (
            refresh_incremental, refresh_index)

        fn = refresh_index if args.full else refresh_incremental
        meta = fn(spark, args.index, cfg)
        out.update(n_docs=meta["n_docs"], avgdl=round(meta["avgdl"], 4),
                   mode="full" if args.full else "incremental")

    out["seconds"] = round(time.time() - t0, 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
