"""CLI: build the inverted index from a pages table.

Local (sandbox)::

    python build_index.py --input /root/testdata/sf0.1 --out /tmp/ix \
        --master local[32]

Cluster (the BASELINE.md protocol)::

    python tools/make_engine_zip.py engine.zip
    spark-submit --master yarn --py-files engine.zip build_index.py \
        --input <pages parquet/iceberg> --out <index dir>

``--input`` accepts either a directory containing
``documents.parquet`` (driver testdata layout, mapped onto the pages
schema) or a parquet path already in the pages shape
``(url, warc_ts, html, text, lang)``.

Prints one JSON line with docs indexed, wall seconds, and docs/sec.
Re-running with the same ``--out`` resumes from lineage (kill-safe);
pass ``--no-resume`` to force a cold rebuild.
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
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--doc-shards", type=int, default=32)
    ap.add_argument("--term-buckets", type=int, default=16)
    ap.add_argument("--bucket-groups", type=int, default=2)
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--keep-positions", action="store_true",
                    help="pack per-posting position lists (enables phrase search)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--repartition", type=int, default=0,
                    help="repartition the input before tokenize (0 = leave as read)")
    ap.add_argument("--query-bench", type=int, default=0,
                    help="after building, run the reference query batch this many "
                         "times and report BM25 top-10 q/s + a result digest "
                         "(BASELINE.md query protocol)")
    args = ap.parse_args()

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.indexer import build_index
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.pages import load_documents_as_pages, load_pages

    spark = get_spark(
        app="build_index", master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = EngineConfig(
        n_doc_shards=args.doc_shards,
        n_term_buckets=args.term_buckets,
        n_bucket_groups=args.bucket_groups,
        stem=not args.no_stem,
        keep_positions=args.keep_positions,
    )
    if os.path.isdir(args.input) and os.path.exists(
        os.path.join(args.input, "documents.parquet")
    ):
        pages = load_documents_as_pages(spark, args.input)
    else:
        pages = load_pages(spark, args.input)
    if args.repartition:
        pages = pages.repartition(args.repartition)

    t0 = time.time()
    meta = build_index(spark, pages, args.out, cfg, resume=not args.no_resume)
    dt = time.time() - t0

    from search_engine_spark.indexer import IndexPaths, read_lineage
    stages: dict[str, float] = {}
    for r in read_lineage(IndexPaths(args.out)):
        key = r["stage"] if r["key"] in ("all", "0") else f"{r['stage']}:{r['key']}"
        stages[key] = stages.get(key, 0.0) + float(r.get("seconds", 0.0))

    out = {
        "docs": meta["n_docs"],
        "seconds": round(dt, 3),
        "docs_per_sec": round(meta["n_docs"] / dt, 1),
        "stages": {k: round(v, 1) for k, v in stages.items()},
        "out": args.out,
        "master": spark.sparkContext.master,
    }

    if args.query_bench:
        import hashlib

        from search_engine_spark.fixtures import REFERENCE_QUERIES
        from search_engine_spark.searcher import SearchEngine

        eng = SearchEngine(spark, args.out, cfg)
        batch = [(qid, t + ("@" + d if d else "")) for qid, t, d in REFERENCE_QUERIES]
        best = float("inf")
        rows = None
        for _ in range(args.query_bench):
            tq = time.time()
            rows = eng.search_batch(batch, 10).collect()
            best = min(best, time.time() - tq)
        digest = hashlib.sha256(
            "\n".join(sorted(f"{r['qid']}\t{r['rank']}\t{r['url']}" for r in rows))
            .encode()
        ).hexdigest()[:16]
        out["query"] = {
            "n_queries": len(batch),
            "best_batch_sec": round(best, 3),
            "top10_qps": round(len(batch) / best, 2),
            "digest": digest,
        }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
