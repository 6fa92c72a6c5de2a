"""Index build pipeline (Spark lifecycle equivalent of SURVEY.md §3.1).

Stages (each materialized => a resume checkpoint, tracked in the
``lineage`` table):

A. **tokenize**: pages -> ``postings_raw``, flat parquet files written
   straight from the parse partitions (:func:`tokenize_raw`: every row
   carries its term's ``bucket = pmod(xxhash64(term_key),
   n_term_buckets)`` and its version ``gen``).  This is the SPIMI run
   store: the expensive Arrow-UDF tokenize pass happens exactly once;
   everything later is relational I/O over its output.
B. **doc stats**: groupBy(url) aggregate -> ``doc_stats`` with
   per-doc-shard local ids (``shard = pmod(xxhash64(url),
   n_doc_shards)``, ``local_id`` = rank of url inside the shard).
   Sharding by document is the explicit skew control: a head term's
   postings split into n_doc_shards bounded groups, so no single
   pack/score group ever exceeds the shard's doc count (the reference
   has no equivalent — single process; the north rule requires this).
C. **dictionary**: groupBy(term_key) -> (df, cf, idf=log2(N/df),
   display-case via bool_and(capital) — quirk Q7 made order-independent,
   ``bound_scale`` = 1.0: the WAND bounds are exact until a segment
   append inflates them, incremental.py).
D. **pack**: per bucket-group job (resume unit): raw ⋈ doc_stats ⋈
   dictionary -> groupBy(term_key, shard) -> applyInPandas delta+varint
   pack with per-block max scores -> ``index`` parquet partitioned by
   bucket.

On an Iceberg-enabled cluster the writes become
``writeTo(tbl).partitionedBy(...)`` — same layout, same pruning.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections.abc import Iterable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .codec import pack_postings
from .config import DEFAULT, EngineConfig
from .plans.tokenize import tokenize_pages

INDEX_SCHEMA = (
    "term_key string, bucket int, shard int, n int, doc_ids binary, "
    "tfs binary, lens binary, imps binary, block_last binary, block_max binary, "
    "poss binary"
)


@dataclass
class IndexPaths:
    root: str

    @property
    def postings_raw(self) -> str:
        return os.path.join(self.root, "postings_raw")

    @property
    def doc_stats(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def dictionary(self) -> str:
        return os.path.join(self.root, "dictionary")

    @property
    def index(self) -> str:
        return os.path.join(self.root, "index")

    @property
    def entities(self) -> str:
        return os.path.join(self.root, "entities")

    @property
    def tombstones(self) -> str:
        return os.path.join(self.root, "tombstones")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")

    @property
    def meta(self) -> str:
        return os.path.join(self.root, "meta.json")


LINEAGE_SCHEMA = (
    "stage string, key string, docs long, terms long, bytes long, "
    "seconds double, status string"
)


def _lineage_append(spark: SparkSession, paths: IndexPaths, rows: list[dict]) -> None:
    """Append lineage records as driver-written JSONL.

    Lineage is a handful of rows of job metadata per stage — pushing
    it through a Spark write costs a full job (~6s each measured);
    the driver writes a uniquely-named file atomically instead.  On a
    production cluster this becomes a driver-side append to the
    Iceberg ``lineage`` table via the catalog client — same rows,
    same anti-join resume semantics (read back via
    ``lineage_df``)."""
    os.makedirs(paths.lineage, exist_ok=True)
    recs = [
        {"stage": r["stage"], "key": str(r["key"]), "docs": int(r.get("docs", 0)),
         "terms": int(r.get("terms", 0)), "bytes": int(r.get("bytes", 0)),
         "seconds": float(r.get("seconds", 0.0)), "status": r.get("status", "done")}
        for r in rows
    ]
    fn = os.path.join(paths.lineage, f"lineage-{time.time_ns()}.json")
    tmp = fn + ".tmp"
    with open(tmp, "w") as fh:
        for r in recs:
            fh.write(json.dumps(r) + "\n")
    os.replace(tmp, fn)


def _lineage_done(spark: SparkSession, paths: IndexPaths) -> set[tuple[str, str]]:
    return {
        (r["stage"], r["key"])
        for r in read_lineage(paths)
        if r.get("status") == "done"
    }


def read_lineage(paths: IndexPaths) -> list[dict]:
    """All lineage records (driver-side)."""
    if not os.path.isdir(paths.lineage):
        return []
    out: list[dict] = []
    for fn in sorted(os.listdir(paths.lineage)):
        if not fn.endswith(".json"):
            continue
        with open(os.path.join(paths.lineage, fn)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


def index_fingerprint(index_dir: str) -> dict:
    """Cheap driver-side position of an index's corpus state, for
    side-car artifact staleness guards (stored MLT statistics, the
    SymSpell suggest neighborhood — operators/mlt.py, snippets.py):
    ``{n_docs, lineage_rows}``.  Every index mutation — segment
    append, update, tombstone, purge, derived rebuild — appends
    lineage rows, so ANY movement since a side-car build changes the
    fingerprint; reading it is a meta.json load + a lineage dir walk
    (no Spark job)."""
    paths = IndexPaths(index_dir)
    with open(paths.meta) as fh:
        meta = json.load(fh)
    return {"n_docs": int(meta["n_docs"]),
            "lineage_rows": len(read_lineage(paths))}


def write_lineage(paths: IndexPaths, rows: list[dict]) -> None:
    """Replace the lineage dir with exactly ``rows`` (test/ops helper)."""
    shutil.rmtree(paths.lineage, ignore_errors=True)
    _lineage_append(None, paths, rows)


def lineage_df(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """Lineage as a DataFrame (the Iceberg-table view of it).  The
    glob keeps this view consistent with ``read_lineage`` — a crashed
    writer's leftover ``*.json.tmp`` must not make resume decisions
    and the queryable view disagree."""
    return (
        spark.read.schema(LINEAGE_SCHEMA)
        .option("pathGlobFilter", "*.json")
        .json(paths.lineage)
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _parquet_rows(path: str) -> int:
    """Row count under ``path`` from parquet FOOTERS — driver-side
    metadata reads, no Spark job (the lineage metrics must not cost a
    corpus scan)."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def with_doc_shard(df: DataFrame, cfg: EngineConfig, col: str = "url") -> DataFrame:
    return df.withColumn("shard", F.pmod(F.xxhash64(F.col(col)), F.lit(cfg.n_doc_shards)).cast("int"))


def ensure_gen(df: DataFrame) -> DataFrame:
    """Normalize the ``gen`` (generation) column on a postings/stats
    frame: the segment id that introduced a document's CURRENT version
    (0 for the base build and streamed epochs).  ``(url, gen)``
    uniquely names a document VERSION — the provenance
    ``update_documents`` tombstones and ``compact_index`` purges by.
    Frames written before the column existed read as gen 0 (only one
    version per url could exist then, so 0 is exact)."""
    if "gen" in df.columns:
        return df.withColumn(
            "gen", F.coalesce(F.col("gen"), F.lit(0)).cast("int"))
    return df.withColumn("gen", F.lit(0).cast("int"))


def term_bucket(cfg: EngineConfig, col: str = "term_key"):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(cfg.n_term_buckets)).cast("int")


def tokenize_raw(pages: DataFrame, cfg: EngineConfig, gen: int = 0) -> DataFrame:
    """Pages -> rows of the one ``postings_raw`` schema: the tokenize
    kernel's postings plus the term's ``bucket`` and the version
    generation ``gen`` (0 for the base build and stream epochs, the
    segment id for a segment append).  Build stage A, stream epochs and
    segment appends all write through it."""
    return (tokenize_pages(pages, cfg)
            .withColumn("bucket", term_bucket(cfg))
            .withColumn("gen", F.lit(int(gen)).cast("int")))


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: EngineConfig = DEFAULT,
    resume: bool = True,
) -> dict:
    """Run the full build.  ``resume=True`` skips stages/bucket-groups
    whose lineage rows are already 'done' (kill-safe, zero recompute of
    completed shards)."""
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    done = _lineage_done(spark, paths) if resume else set()

    # ---- stage A: tokenize -> postings_raw
    if ("tokenize", "all") not in done:
        t0 = time.time()
        # an under-split input serializes the (CPU-bound) tokenize
        # pass.  First choice: WIDEN THE SCAN — shrink
        # maxPartitionBytes to input/(3*par) so the parquet read
        # itself yields >= 2 waves of splits (row groups permitting)
        # and tokenize runs straight off the scan with no exchange of
        # the full text.  Fallback: an explicit balance shuffle when
        # the input physically cannot split (few giant row groups —
        # Spark splits parquet only at row-group boundaries, so such a
        # file reports many partitions but feeds rows to few).  A real
        # crawl table has thousands of splits and both guards no-op.
        par = spark.sparkContext.defaultParallelism
        try:
            from urllib.parse import urlparse

            input_bytes = sum(
                os.path.getsize(urlparse(f).path) for f in pages.inputFiles()
            )
        except Exception:
            input_bytes = 0
        old_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        # the shrunken split size is for the tokenize scan only; the
        # restore lives in a finally so a failed/killed scan can't
        # leave the whole session on a 4MB split size
        try:
            if input_bytes:
                split = max(4 << 20, input_bytes // (3 * par))
                spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
            if pages.rdd.getNumPartitions() < 2 * par:
                pages = pages.repartition(2 * par)
            # SPIMI proper: per-partition runs straight out of the parse
            # tasks; the pack stage's groupBy(bucket, shard) is the single
            # full-postings shuffle (the reference's external merge,
            # Indexer.java:198-296, done by the shuffle service)
            tokenize_raw(pages, cfg).write.mode("overwrite").parquet(paths.postings_raw)
        finally:
            if input_bytes:
                if old_split is None:
                    spark.conf.unset("spark.sql.files.maxPartitionBytes")
                else:
                    spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
        _lineage_append(spark, paths, [{
            "stage": "tokenize", "key": "all",
            "bytes": _dir_bytes(paths.postings_raw), "seconds": time.time() - t0,
        }])

    raw = spark.read.parquet(paths.postings_raw)

    # ---- stage B: doc_stats + per-shard local ids
    if ("doc_stats", "all") not in done:
        t0 = time.time()
        stats = (
            raw.groupBy("url")
            .agg(
                F.sum("tf").alias("length"),
                F.max("tf").alias("max_tf"),
                F.count(F.lit(1)).alias("unique_terms"),
                # every raw row of a url shares one gen (one version per
                # url is the raw-store invariant; rebuilds over a
                # multi-version store are guarded out in streaming.ingest)
                F.max("gen").alias("gen"),
            )
        )
        stats = with_doc_shard(stats, cfg)
        w = Window.partitionBy("shard").orderBy("url")
        stats = stats.withColumn("local_id", F.row_number().over(w).cast("long"))
        stats.write.mode("overwrite").partitionBy("shard").parquet(paths.doc_stats)
        _lineage_append(spark, paths, [{
            "stage": "doc_stats", "key": "all", "seconds": time.time() - t0,
        }])

    doc_stats = spark.read.parquet(paths.doc_stats)
    # one job for both corpus scalars (separate count()+avg() actions
    # would re-scan)
    _row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("length").alias("avgdl")
    ).first()
    n_docs, avgdl = _row["n"], _row["avgdl"] or 0.0

    # ---- stage C: dictionary (df, cf, idf, display case)
    if ("dictionary", "all") not in done:
        t0 = time.time()
        dictionary = (
            dictionary_core(raw)
            .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
            .withColumn("bucket", term_bucket(cfg))
            .withColumn("bound_scale", F.lit(1.0))
        )
        (dictionary.repartition(cfg.n_term_buckets, F.col("bucket"))
         .sortWithinPartitions("term_key")
         .write.mode("overwrite").partitionBy("bucket").parquet(paths.dictionary))
        _lineage_append(spark, paths, [{
            "stage": "dictionary", "key": "all", "seconds": time.time() - t0,
        }])

    # ---- stage C2: per-doc entity table (A7: capitalized display
    # terms with the +10 importance boost; a cheap projection of raw)
    if ("entities", "all") not in done:
        t0 = time.time()
        from .operators.entities import doc_entities

        ents = doc_entities(raw)
        ents = with_doc_shard(ents, cfg)
        (ents.repartition(cfg.n_doc_shards, F.col("shard"))
         .write.mode("overwrite").partitionBy("shard").parquet(paths.entities))
        _lineage_append(spark, paths, [{
            "stage": "entities", "key": "all", "seconds": time.time() - t0,
        }])

    meta = {
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "k1": cfg.k1,
        "b": cfg.b,
        "blend_bm25": cfg.blend_bm25,
        "blend_bonus": cfg.blend_bonus,
        "stem": cfg.stem,
        "n_doc_shards": cfg.n_doc_shards,
        "n_term_buckets": cfg.n_term_buckets,
        "block_size": cfg.block_size,
        "keep_positions": bool(cfg.keep_positions and "positions" in raw.columns),
    }

    # ---- stage D: pack, one job per bucket group (resume granularity)
    dictionary = spark.read.parquet(paths.dictionary)
    doc_map = doc_stats.select("url", "gen", "shard", "local_id", "length")
    keep_positions = cfg.keep_positions and "positions" in raw.columns

    groups = _bucket_groups(cfg)
    for gid, buckets in enumerate(groups):
        if ("pack", str(gid)) in done:
            continue
        t0 = time.time()
        # a killed job may have left partial files for this group's
        # buckets — clear them so the re-run is idempotent
        for bkt in buckets:
            shutil.rmtree(os.path.join(paths.index, f"bucket={bkt}"), ignore_errors=True)
        packed = pack_plan(
            raw.filter(F.col("bucket").isin(buckets)), doc_map, dictionary,
            cfg, float(avgdl), keep_positions,
        )
        packed.write.mode("append").partitionBy("bucket").parquet(paths.index)
        # per-partition metrics (north-rule lineage: posting-shard rows
        # + bytes per completed unit), from footers — no extra job
        g_rows = g_bytes = 0
        for bkt in buckets:
            d = os.path.join(paths.index, f"bucket={bkt}")
            g_rows += _parquet_rows(d)
            g_bytes += _dir_bytes(d)
        _lineage_append(spark, paths, [{
            "stage": "pack", "key": str(gid), "seconds": time.time() - t0,
            "terms": g_rows,   # packed (term, shard) posting rows in this group
            "bytes": g_bytes,
        }])

    # meta.json is written ONLY once every stage (including pack) is
    # complete: it doubles as the "index is servable" marker for
    # readers, so a build killed mid-pack must not leave it behind —
    # a stale marker over a partial packed index serves silently
    # wrong results (the resume path repairs the index, then rewrites
    # the marker atomically).
    tmp = paths.meta + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, paths.meta)

    # once per COMPLETED build, not per invocation: a no-op resume
    # pass over a finished index must leave the lineage untouched —
    # `index_fingerprint` (side-car staleness stamps: docstore, MLT,
    # suggest, autocomplete) counts lineage rows as the index's
    # position, and a fingerprint that moves on every resume check
    # would fail those guards without any actual mutation
    if ("build", "all") not in done:
        _lineage_append(spark, paths, [{"stage": "build", "key": "all", "docs": n_docs}])
    return meta


def dictionary_core(raw: DataFrame) -> DataFrame:
    """(term_key, df, cf, capital, display) over a postings frame —
    the idf/bucket-free heart of stage C, shared with the incremental
    segment merge (:mod:`incremental`).

    Numeric/boolean agg buffers ONLY on the full postings: a
    min(string) aggregate here forces SortBasedAggregation (string
    buffers disable the codegen hash map) — measured ~70x slower on a
    74M-posting corpus.  The display form is resolved on the DISTINCT
    (term_key, term) forms instead — vocab-sized, so its string min is
    negligible.

    Q7 display: pick the form matching the corpus-level capital class
    (demoted keys take a non-capital form).  min() makes the choice
    deterministic when a class has several forms — the reference keeps
    first-seen order there, which is scan-order-dependent; the parser
    canonicalizes forms so the classes are single-membered in
    practice."""
    stats = raw.groupBy("term_key").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.bool_and("capital").alias("capital"),
    )
    forms = raw.select("term_key", "term", "capital").distinct()
    display = (
        forms.join(
            stats.select("term_key", F.col("capital").alias("corpus_capital")),
            "term_key",
        )
        .filter(F.col("capital") == F.col("corpus_capital"))
        .groupBy("term_key")
        .agg(F.min("term").alias("display"))
    )
    return (
        stats.join(display, "term_key", "left")
        .withColumn("display", F.coalesce(F.col("display"), F.col("term_key")))
    )


def pack_plan(
    raw: DataFrame,
    doc_map: DataFrame,
    dictionary: DataFrame,
    cfg: EngineConfig,
    avgdl: float,
    keep_positions: bool,
) -> DataFrame:
    """The pack stage as a reusable plan: raw postings ⋈ doc map ⋈
    dictionary idf -> one packed index row per (term_key, bucket,
    shard).  Shared by the full build (per bucket group) and the
    incremental segment pack (:mod:`incremental`), which packs only a
    delta's postings with the refreshed corpus stats."""
    k1, b, bs = cfg.k1, cfg.b, cfg.block_size
    blend_a, blend_b = cfg.blend_bm25, cfg.blend_bonus
    avgdl_f = float(avgdl)

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        """Pack EVERY term of one (bucket, shard) slice in a single
        pandas call.  Grouping Spark-side by (term_key, shard) instead
        costs one Arrow round-trip per term — ~500k tiny invocations
        at a 40k-doc corpus dominated the whole build; this form is
        ~512 invocations of vectorized work."""
        import numpy as np

        from .codec import encode_positions

        pdf = pdf.sort_values(["term_key", "local_id"], kind="mergesort")
        bucket = int(pdf["bucket"].iloc[0])
        shard = int(pdf["shard"].iloc[0])
        rows = []
        for term_key, g in pdf.groupby("term_key", sort=False):
            row = pack_postings(
                g["local_id"].to_numpy(), g["tf"].to_numpy(),
                g["length"].to_numpy(), g["important"].to_numpy(),
                idf=float(g["idf"].iloc[0]), k1=k1, b=b, avgdl=avgdl_f,
                blend_bm25=blend_a, blend_bonus=blend_b, block_size=bs,
            )
            if keep_positions:
                flat = np.concatenate(
                    [np.asarray(p, dtype=np.uint64) for p in g["positions"]]
                )
                poss = encode_positions(flat, g["tf"].to_numpy())
            else:
                poss = b""
            rows.append({
                "term_key": term_key, "bucket": bucket, "shard": shard,
                "n": row["n"], "doc_ids": row["doc_ids"], "tfs": row["tfs"],
                "lens": row["lens"], "imps": row["imps"],
                "block_last": row["block_last"], "block_max": row["block_max"],
                "poss": poss,
            })
        return pd.DataFrame(rows)

    cols = ["term_key", "bucket", "shard", "local_id", "tf", "length",
            "important", "idf"]
    if keep_positions:
        cols.append("positions")
    # join on (url, gen): after update_documents a url may have several
    # doc_stats rows (old tombstoned version + live version) and the gen
    # key maps each raw posting row to exactly ITS version's
    # (shard, local_id)
    part = (
        raw.join(doc_map, ["url", "gen"])
        .join(dictionary.select("term_key", "idf"), "term_key")
        .select(*cols)
    )
    # group by (bucket, shard) — parallelism = buckets x shards,
    # bounded memory per group = the shard's slice of this bucket
    return part.groupBy("bucket", "shard").applyInPandas(pack_group, schema=INDEX_SCHEMA)


def _bucket_groups(cfg: EngineConfig) -> list[list[int]]:
    ng = min(cfg.n_bucket_groups, cfg.n_term_buckets)
    return [
        [b for b in range(cfg.n_term_buckets) if b % ng == g]
        for g in range(ng)
    ]


def snapshot_index(index_dir: str, out_dir: str) -> dict:
    """Consistent point-in-time copy of a packed index — the backup /
    serving-fork primitive (Lucene's SnapshotDeletionPolicy; at 100 TB
    the same sequence is an object-store prefix copy, cheap because
    every file in the layout is immutable once written: mutations only
    ADD segment files, tombstone rows, and lineage rows in place of
    rewriting).  Reference counterpart: none (batch rebuild only).

    Refuses while a segment append is mid-flight (the
    ``pending_segment`` marker — a copy taken then would freeze the
    torn state) and while the caller's own writer could race (the
    sandbox has no writer coordination; quiesce writers first, the
    same contract every file-copy backup has).  The copy carries the
    full raw store, so a restored snapshot supports every mutation
    and rebuild path, not just reads.  Returns the snapshot's
    fingerprint (== the source's at copy time; side-car layouts
    stamped against the SOURCE keep serving the source, never the
    copy — their meta pins ``index_dir`` by absolute path)."""
    from .incremental import _check_no_pending

    paths = IndexPaths(index_dir)
    _check_no_pending(paths)
    if os.path.exists(out_dir) and os.listdir(out_dir):
        raise RuntimeError(f"snapshot target {out_dir} exists and is not empty")
    tmp = f"{out_dir}.snap{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(index_dir, tmp)
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)   # atomic publish: out_dir is whole or absent
    return index_fingerprint(out_dir)
