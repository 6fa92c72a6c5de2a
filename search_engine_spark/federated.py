"""Federated multi-index search — Lucene's MultiReader contract on
separately built indexes.

At 10^12 documents nobody builds ONE index: crawl batches, data
centers, and freshness tiers each build their own, and the serving
layer must search them TOGETHER with results identical to a single
merged index.  The reason naive federation breaks is collection
statistics: BM25's idf and length norm are corpus-level, so scoring
each index with its own (N, df, avgdl) makes scores incomparable
across members (Lucene solved this the same way: MultiReader /
distributed IDF share global term statistics across leaves).

``federated_search`` restores the merged-index semantics exactly:

  - global N  = Σ member n_docs (meta read, no job)
  - global df = Σ member df per query term (the members' own pruned
    dictionary scans — additive stats, the same contract the
    incremental segment merge uses inside one index)
  - global idf = log2(N_g / df_g), computed IN SPARK with the exact
    expression the build stage uses (indexer.py stage C) so the
    doubles are bit-identical to a merged index's stored dictionary
  - global avgdl = (Σ member Σ dl) / N_g — exact BIGINT sums, the
    same value a merged build's F.avg would store
  - each member unpacks its own postings with the GLOBAL idf/avgdl
    (the idf map and ``avgdl`` override that ``SearchEngine._unpack``
    takes, below the resolve step ``SearchEngine._postings`` would do
    with member-local stats), masks its own tombstones, maps its own
    doc ids and scores them through its own ``_doc_scores`` tail; the
    per-member (url, score) frames union and one ``topk`` cut
    (TakeOrderedAndProject) ranks the global top-k.

Result: rank-identical (scores equal to float-sum noise) to one
index built over the concatenated corpus — asserted per rank by the
driver row ``search_federated`` against the entry's full index, and
by pytest on half/half splits including a tombstone on one member.

Scale shape: per member, the ordinary pruned scan + posting-sized
work; the union adds no shuffle before the final k-row heap merge.
The only cross-member coordination is O(|query terms|) dictionary
rows and two scalars — exactly what a distributed IDF fetch costs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT, EngineConfig
from .searcher import SearchEngine, empty, topk


def open_members(spark: SparkSession, index_dirs: list[str],
                 cfg: EngineConfig = DEFAULT) -> list[SearchEngine]:
    engines = [SearchEngine(spark, d, cfg) for d in index_dirs]
    base = engines[0].meta
    for e in engines[1:]:
        for key in ("k1", "b", "blend_bm25", "blend_bonus", "stem"):
            if e.meta.get(key) != base.get(key):
                raise ValueError(
                    f"federated members disagree on {key}: "
                    f"{e.meta.get(key)!r} vs {base.get(key)!r} — scores "
                    "would be incomparable")
    return engines


def global_stats(engines: list[SearchEngine]) -> tuple[int, float]:
    """(N_g, avgdl_g): exact global corpus scalars.  The dl total is
    an exact BIGINT sum per member, so avgdl_g is the SAME double a
    merged build's F.avg("length") produces."""
    n_g = sum(int(e.meta["n_docs"]) for e in engines)
    tot_dl = 0
    for e in engines:
        row = e._doc_stats.agg(F.sum("length").alias("s")).first()
        tot_dl += int(row["s"] or 0)
    return n_g, (tot_dl / n_g if n_g else 0.0)


def _global_idf(spark: SparkSession, n_g: int,
                df_g: dict[str, int]) -> dict[str, float]:
    """log2(N_g / df) through the SAME Spark expression the build
    stage evaluates (indexer.py stage C: F.log2(lit(float(N)) / df))
    — a Python math.log2 could differ from the JVM by an ulp and
    break rank-identity with the merged index."""
    if not df_g:
        return {}
    rows = spark.createDataFrame(
        [(t, int(d)) for t, d in sorted(df_g.items())],
        "term_key string, df long",
    ).select(
        "term_key",
        F.log2(F.lit(float(n_g)) / F.col("df")).alias("idf"),
    ).collect()
    return {r["term_key"]: float(r["idf"]) for r in rows}


def federated_search(spark: SparkSession, index_dirs: list[str],
                     query: str, k: int | None = None,
                     cfg: EngineConfig = DEFAULT,
                     engines: list[SearchEngine] | None = None) -> DataFrame:
    """(url, score, rank): global top-k over every member index,
    rank-identical to one index built over the union corpus."""
    engines = engines or open_members(spark, index_dirs, cfg)
    k = k or engines[0].cfg.top_k
    keys = engines[0].parse_query(query)
    if not keys:
        return empty(spark)
    n_g, avgdl_g = global_stats(engines)
    resolved = [e.resolve_terms(keys) for e in engines]
    df_g: dict[str, int] = {}
    for r in resolved:
        for t, d in zip(r["term_key"], r["df"]):
            df_g[t] = df_g.get(t, 0) + int(d)
    idf_g = _global_idf(spark, n_g, df_g)
    if not idf_g:
        return empty(spark)
    # every member with a resolved term: open_members checked that the
    # members share the blend weights each _doc_scores reads
    parts = [
        e._doc_scores(e._drop_deleted(e._unpack(
            e._scan_index(r), {t: idf_g[t] for t in r["term_key"]}, avgdl=avgdl_g)))
        for e, r in zip(engines, resolved) if not r.empty
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return topk(union, k)
