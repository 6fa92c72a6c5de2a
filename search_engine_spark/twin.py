"""Plain-DataFrame twins of the packed-index query paths.

The full engine answers queries through dictionary pruning + packed
delta/varint blobs + Arrow unpack kernels — not expressible in the
driver's DuckDB oracle (the N1-N15 parser + Porter stemming feed it).
These twins recompute the SAME query from the PRE-PACK
``postings_raw`` table using nothing but built-in DataFrame ops, so
they are independent of everything the packed path adds: the
dictionary stage, the codec (delta+varint+bitpack), the pruned scan,
and the unpack kernels.  ``__spark_entry__`` joins engine output
against twin output per rank and emits match flags whose expected
value is a constant — turning the formerly rows-only ``search_*``
driver rows into exact hash-checkable equivalence rows.

Scalar constants (k1, b, avgdl, n_docs, blend weights) come from the
index meta — they are corpus-level scalars whose recomputation would
only re-introduce float-summation-order noise; everything per-term
and per-doc (tf, df, idf, doc length, importance bonus, positions) is
recomputed from the raw rows.  The per-posting arithmetic mirrors
``codec.bm25_contribution`` (Ranker.java:32-40) operation-for-
operation so the doubles agree bit-for-bit before the final
(order-insensitive up to ~1e-15) per-doc sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def raw_postings(spark: SparkSession, engine) -> DataFrame:
    """The engine's own pre-pack postings table (stage A output)."""
    return spark.read.parquet(engine.paths.postings_raw)


def live_raw_postings(spark: SparkSession, engine) -> DataFrame:
    """Raw postings restricted to LIVE document versions — the rows the
    engine actually scores: tombstoned urls masked entirely, and for
    urls superseded by ``incremental.update_documents`` only the
    replacement generation's rows kept (version tombstones are exact
    (url, gen) pairs)."""
    raw = raw_postings(spark, engine)
    dead = engine._tombstone_rows()
    if dead is None:
        return raw
    return (
        raw.join(dead.filter(F.col("gen").isNull()).select("url"),
                 "url", "left_anti")
        .join(dead.filter(F.col("gen").isNotNull()).select("url", "gen"),
              ["url", "gen"], "left_anti")
    )


def twin_bm25_scores(spark: SparkSession, engine, term_keys: list[str]) -> DataFrame:
    """(url, score) for the given parsed term keys, recomputed from
    postings_raw: df/idf/dl from the raw rows, BM25 contribution and
    the importance-bonus blend exactly as the packed path computes
    them (``SearchEngine._postings`` — the ``codec.decode_rows`` batch
    decode plus ``codec.bm25_contribution`` — and the scoring tail of
    ``search``).

    Stats-as-packed contract (Lucene collection statistics): ``df``
    counts EVERY version in the raw store — including tombstoned docs
    and superseded generations, exactly like the engine's additively
    merged dictionary — while per-doc tf/dl/importance come from the
    LIVE rows only (what the engine's masked unpack scores)."""
    meta = engine.meta
    k1, b = float(meta["k1"]), float(meta["b"])
    avgdl, n_docs = float(meta["avgdl"]), float(meta["n_docs"])
    blend_a, blend_b = float(meta["blend_bm25"]), float(meta["blend_bonus"])
    live = live_raw_postings(spark, engine)
    dl = live.groupBy("url").agg(F.sum("tf").alias("dl"))
    qt = live.filter(F.col("term_key").isin(list(term_keys))).select(
        "url", "term_key", "tf", "important"
    )
    dfreq = (
        raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(term_keys)))
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl)))
    contrib = F.lit(k1 + 1.0) * tf * F.col("idf") / norm
    per = (
        qt.join(F.broadcast(dfreq), "term_key")
        .join(dl, "url")
        .withColumn("idf", F.log2(F.lit(n_docs) / F.col("df")))
        .withColumn("contrib", contrib)
        .withColumn("bonus", F.when(F.col("important"), F.lit(1.2)).otherwise(F.lit(1.0)))
    )
    return (
        per.groupBy("url")
        .agg(F.sum("contrib").alias("bm25"), F.sum("bonus").alias("bonus"))
        .select(
            "url",
            (F.lit(blend_a) * F.col("bm25") + F.lit(blend_b) * F.col("bonus")).alias("score"),
        )
    )


def twin_boosted_scores(spark: SparkSession, engine,
                        boosts: dict[str, float]) -> DataFrame:
    """(url, score) under per-term boosts — the plain twin of
    ``SearchEngine.boosted_search`` below its parse.  Same
    stats-as-packed arithmetic as ``twin_bm25_scores``, but the
    weight arrives through a JOINED boosts DataFrame (the engine uses
    a driver-literal map lookup — a different physical plan), applied
    to both score parts before the doc-level sum."""
    meta = engine.meta
    k1, b = float(meta["k1"]), float(meta["b"])
    avgdl, n_docs = float(meta["avgdl"]), float(meta["n_docs"])
    blend_a, blend_b = float(meta["blend_bm25"]), float(meta["blend_bonus"])
    keys = sorted(boosts)
    wdf = spark.createDataFrame(
        [(t, float(boosts[t])) for t in keys], "term_key string, w double")
    live = live_raw_postings(spark, engine)
    dl = live.groupBy("url").agg(F.sum("tf").alias("dl"))
    qt = (live.filter(F.col("term_key").isin(keys))
          .select("url", "term_key", "tf", "important"))
    dfreq = (
        raw_postings(spark, engine)
        .filter(F.col("term_key").isin(keys))
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl)))
    contrib = F.lit(k1 + 1.0) * tf * F.col("idf") / norm
    per = (
        qt.join(F.broadcast(dfreq), "term_key")
        .join(F.broadcast(wdf), "term_key")
        .join(dl, "url")
        .withColumn("idf", F.log2(F.lit(n_docs) / F.col("df")))
        .withColumn("contrib", contrib * F.col("w"))
        .withColumn("bonus", F.col("w") * F.when(F.col("important"), F.lit(1.2))
                    .otherwise(F.lit(1.0)))
    )
    return (
        per.groupBy("url")
        .agg(F.sum("contrib").alias("bm25"), F.sum("bonus").alias("bonus"))
        .select(
            "url",
            (F.lit(blend_a) * F.col("bm25")
             + F.lit(blend_b) * F.col("bonus")).alias("score"),
        )
    )


def twin_boosted_topk(spark: SparkSession, engine, qs: str,
                      k: int) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.boosted_search``.  Boost-syntax parsing is shared
    with the engine (driver-side string split + the shared query
    parser); everything data-side is recomputed through the joined
    boosts plan."""
    boosts: dict[str, float] = {}
    for tok in qs.split():
        t, _, bs = tok.rpartition("^") if "^" in tok else (tok, "", "")
        w = float(bs) if bs else 1.0
        for key in engine.parse_query(t):
            boosts[key] = boosts.get(key, 0.0) + w
    scores = twin_boosted_scores(spark, engine, boosts)
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_synonym_topk(spark: SparkSession, engine, query: str,
                      synonyms: DataFrame, k: int) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.synonym_search``.  Group resolution (raw-token
    synonym lookup + analyzer) is shared driver-side kernel;
    data-side everything is recomputed from postings_raw: member df
    stats-as-packed, group df = MAX member df (idf = log2(N/df_max),
    the engine takes min member idf from its baked dictionary —
    monotonically identical), tf summed across members BEFORE the
    saturation, group bonus 1.2 on any important member
    occurrence."""
    meta = engine.meta
    k1, b = float(meta["k1"]), float(meta["b"])
    avgdl, n_docs = float(meta["avgdl"]), float(meta["n_docs"])
    blend_a, blend_b = float(meta["blend_bm25"]), float(meta["blend_bonus"])
    toks = sorted({t.lower() for t in query.split() if t})
    lookup: dict[str, list[str]] = {}
    if toks:
        for r in (synonyms.filter(F.lower(F.col("term")).isin(toks))
                  .select(F.lower(F.col("term")).alias("t"),
                          F.col("syn").alias("s")).collect()):
            lookup.setdefault(r["t"], []).append(r["s"])
    mem_rows: list[tuple[str, str]] = []
    for tok in toks:
        keys = engine.parse_query(tok)
        if not keys:
            continue
        members = set(keys)
        for syn in lookup.get(tok, []):
            members |= set(engine.parse_query(syn))
        mem_rows.extend((m, keys[0]) for m in sorted(members))
    if not mem_rows:
        return spark.createDataFrame(
            [], "url string, score double, rank int")
    mem = spark.createDataFrame(
        sorted(set(mem_rows)), "term_key string, gid string")
    all_keys = sorted({m for m, _ in mem_rows})
    live = live_raw_postings(spark, engine)
    dl = live.groupBy("url").agg(F.sum("tf").alias("dl"))
    dfreq = (
        raw_postings(spark, engine)
        .filter(F.col("term_key").isin(all_keys))
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    # group df = max member df over the members present in the corpus
    gdf = (
        dfreq.join(F.broadcast(mem), "term_key")
        .groupBy("gid").agg(F.max("df").alias("df_g"))
        .withColumn("idf_g", F.log2(F.lit(n_docs) / F.col("df_g")))
    )
    qt = (live.filter(F.col("term_key").isin(all_keys))
          .select("url", "term_key", "tf", "important"))
    blended = (
        qt.join(F.broadcast(mem), "term_key")
        .groupBy("gid", "url")
        .agg(F.sum("tf").alias("tf"), F.max("important").alias("important"))
        .join(F.broadcast(gdf.select("gid", "idf_g")), "gid")
        .join(dl, "url")
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl)))
    per = blended.select(
        "url",
        (F.lit(k1 + 1.0) * tf * F.col("idf_g") / norm).alias("contrib"),
        F.when(F.col("important"), F.lit(1.2)).otherwise(F.lit(1.0))
        .alias("bonus"),
    )
    scores = (
        per.groupBy("url")
        .agg(F.sum("contrib").alias("bm25"), F.sum("bonus").alias("bonus"))
        .select(
            "url",
            (F.lit(blend_a) * F.col("bm25")
             + F.lit(blend_b) * F.col("bonus")).alias("score"),
        )
    )
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_top_hits(spark: SparkSession, engine, query: str,
                  dims: DataFrame, dim_col: str, k_per_bucket: int,
                  url_col: str = "url") -> DataFrame:
    """(facet, n_docs, bucket_rank, url, score) — the plain twin of
    ``SearchEngine.search_top_hits``: scores recomputed from
    postings_raw (twin_bm25_scores), bucket counts via a separate
    groupBy joined back (the engine computes both through one window
    pass — different plan, same frame)."""
    keys = engine.parse_query(query)
    scored = twin_bm25_scores(spark, engine, keys).join(
        dims.select(F.col(url_col).alias("url"),
                    F.col(dim_col).cast("string").alias("facet")).distinct(),
        "url",
    )
    from pyspark.sql import Window

    counts = scored.groupBy("facet").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = Window.partitionBy("facet").orderBy(F.desc("score"), F.asc("url"))
    return (
        scored.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= k_per_bucket)
        .join(counts, "facet")
        .select("facet", "n_docs", "bucket_rank", "url", "score")
    )


def twin_ltr_topk(spark: SparkSession, engine, query: str,
                  weights: dict[str, float], window: int,
                  k: int) -> DataFrame:
    """(url, ltr_micro, rank) — the plain twin of the LTR pipeline
    (operators/ltr.py): base features recomputed from live raw
    postings (bm25 via twin_bm25_scores; f_match as a distinct-term
    count; f_dl as the live tf sum), the same top-``window`` cut,
    then the SHARED micro-grid linear rescorer (ltr_rescore is a
    driver-side codegen expression like parse_query — the
    equivalence pins feature extraction and the window cut, which is
    where the engines differ)."""
    from .operators.ltr import ltr_rescore

    keys = engine.parse_query(query)
    scores = twin_bm25_scores(spark, engine, keys)
    live = live_raw_postings(spark, engine)
    qmatch = (
        live.filter(F.col("term_key").isin(list(keys)))
        .groupBy("url")
        .agg(F.countDistinct("term_key").cast("long").alias("f_match"))
    )
    dl = live.groupBy("url").agg(F.sum("tf").cast("long").alias("f_dl"))
    feats = (
        scores.withColumnRenamed("score", "f_bm25")
        .join(qmatch, "url").join(dl, "url")
        .orderBy(F.desc("f_bm25"), F.asc("url")).limit(window)
    )
    return ltr_rescore(feats, weights, k)


def twin_extended_stats(spark: SparkSession, engine, query: str,
                        values: DataFrame, dim_col: str, value_col: str,
                        url_col: str = "url") -> DataFrame:
    """The plain twin of ``SearchEngine.search_extended_stats``: the
    matching url set recomputed from live raw postings, the same
    exact-BIGINT stat derivations (the value-side arithmetic is
    deterministic by construction — the equivalence pins the MATCH
    SET resolution, packed vs raw)."""
    keys = engine.parse_query(query)
    urls = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
    )
    rows = urls.join(
        values.select(F.col(url_col).alias("url"),
                      F.col(dim_col).cast("string").alias("facet"),
                      F.col(value_col).cast("long").alias("v")),
        "url",
    )
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


def twin_explain(spark: SparkSession, engine, query: str,
                 url: str) -> DataFrame:
    """(term_key, bm25_contrib, bonus, part) — the plain twin of
    ``SearchEngine.explain_score``: the same per-posting arithmetic as
    ``twin_bm25_scores`` (stats-as-packed df, live tf/dl), without the
    per-doc aggregation, restricted to one url."""
    meta = engine.meta
    k1, b = float(meta["k1"]), float(meta["b"])
    avgdl, n_docs = float(meta["avgdl"]), float(meta["n_docs"])
    blend_a, blend_b = float(meta["blend_bm25"]), float(meta["blend_bonus"])
    keys = engine.parse_query(query)
    live = live_raw_postings(spark, engine)
    dl = live.groupBy("url").agg(F.sum("tf").alias("dl"))
    qt = (live.filter(F.col("term_key").isin(list(keys)))
          .select("url", "term_key", "tf", "important"))
    dfreq = (
        raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl)))
    contrib = F.lit(k1 + 1.0) * tf * F.col("idf") / norm
    per = (
        qt.join(F.broadcast(dfreq), "term_key")
        .join(dl, "url")
        .withColumn("idf", F.log2(F.lit(n_docs) / F.col("df")))
        .withColumn("bm25_contrib", contrib)
        .withColumn("bonus", F.when(F.col("important"), F.lit(1.2))
                    .otherwise(F.lit(1.0)))
    )
    return (
        per.filter(F.col("url") == url)
        .select(
            "term_key", "bm25_contrib", "bonus",
            (F.lit(blend_a) * F.col("bm25_contrib")
             + F.lit(blend_b) * F.col("bonus")).alias("part"),
        )
    )


def twin_facets(spark: SparkSession, engine, query: str,
                dims: DataFrame, dim_col: str,
                url_col: str = "url") -> DataFrame:
    """(facet, n_docs) recomputed from postings_raw: distinct matching
    urls (>= 1 parsed query term) joined to the dimension table — the
    independent twin of ``SearchEngine.search_facets``."""
    keys = engine.parse_query(query)
    # live rows only: search_facets excludes deleted docs via
    # _drop_deleted and scores only the replacement generation of an
    # updated url, so its twin must too
    urls = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
    )
    pairs = (
        urls.join(
            dims.select(F.col(url_col).alias("url"), F.col(dim_col).alias("facet")),
            "url",
        )
        .select("url", "facet").distinct()
    )
    return pairs.groupBy("facet").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def twin_missing(spark: SparkSession, engine, query: str,
                 dims: DataFrame, url_col: str = "url") -> DataFrame:
    """One-row (n_docs): matching live urls with NO dimension row —
    the independent twin of ``SearchEngine.search_missing``."""
    keys = engine.parse_query(query)
    urls = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
    )
    missing = urls.join(
        dims.select(F.col(url_col).alias("url")).distinct(),
        "url", "left_anti")
    return missing.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def twin_facets_sampled(spark: SparkSession, engine, query: str,
                        dims: DataFrame, dim_col: str,
                        rate_ppm: int, salt: str = "",
                        url_col: str = "url") -> DataFrame:
    """Facet counts over the deterministically-sampled match set —
    the independent twin of ``SearchEngine.search_facets_sampled``
    (same md5-ppm rule stated over the raw-postings match set)."""
    keys = engine.parse_query(query)
    urls = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
        .filter(
            F.conv(F.substring(F.md5(F.concat(F.col("url"), F.lit(salt))),
                               1, 8), 16, 10).cast("long") % 1_000_000
            < F.lit(int(rate_ppm)))
    )
    pairs = (
        urls.join(
            dims.select(F.col(url_col).alias("url"),
                        F.col(dim_col).alias("facet")),
            "url",
        )
        .select("url", "facet").distinct()
    )
    return pairs.groupBy("facet").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))


def twin_range_agg(spark: SparkSession, engine, query: str,
                   values: DataFrame, value_col: str,
                   ranges: list[tuple],
                   url_col: str = "url") -> DataFrame:
    """(band, frm, to, n_docs) recomputed from postings_raw through a
    DELIBERATELY different physical plan than
    ``SearchEngine.search_range_agg``: matching urls from the raw
    store, band membership via a theta JOIN against a band-spec frame
    (the engine compiles the bands into a codegen when()-array — two
    independent derivations of the same half-open [frm, to)
    semantics), zero-count bands restored by the same left join."""
    spec = spark.createDataFrame(
        [(i, None if frm is None else int(frm),
          None if to is None else int(to)) for i, (frm, to) in
         enumerate(ranges)],
        "band long, frm long, to long")
    keys = engine.parse_query(query)
    urls = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
    )
    vals = urls.join(
        values.select(F.col(url_col).alias("url"),
                      F.col(value_col).cast("long").alias("v")),
        "url")
    hits = vals.join(
        spec,
        (F.col("frm").isNull() | (F.col("v") >= F.col("frm")))
        & (F.col("to").isNull() | (F.col("v") < F.col("to"))),
    )
    counts = (
        hits.select("url", "band").distinct()
        .groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        spec.join(counts, "band", "left")
        .select("band", "frm", "to",
                F.coalesce(F.col("n"), F.lit(0)).cast("long")
                .alias("n_docs"))
    )


def twin_composite(spark: SparkSession, engine, query: str,
                   dims_list: list[tuple], depth: int) -> DataFrame:
    """The first ``depth`` buckets of the GLOBAL key-ordered bucket
    list, ranked — the independent twin of a
    ``SearchEngine.search_composite`` page walk: matching urls from
    postings_raw (live rows only), the same inner source joins, one
    agg, then a row_number slice instead of keyset filters.  A page
    walk that skips or duplicates a bucket cannot match this slice."""
    keys = engine.parse_query(query)
    cur = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
    )
    names = []
    for spec in dims_list:
        name, dims, dim_col = spec[0], spec[1], spec[2]
        url_col = spec[3] if len(spec) > 3 else "url"
        cur = cur.join(
            dims.select(F.col(url_col).alias("url"),
                        F.col(dim_col).alias(name))
            .filter(F.col(name).isNotNull()),
            "url",
        )
        names.append(name)
    buckets = (
        cur.select("url", *names).distinct()
        .groupBy(*names)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    order = [F.col(n).asc() for n in names]
    return (buckets.orderBy(*order).limit(depth)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_bm25_topk(spark: SparkSession, engine, query: str, k: int) -> DataFrame:
    """(url, score, rank) — the plain twin of ``SearchEngine.search``.
    Query parsing is shared with the engine (driver-side kernel, its
    own pytest oracle); everything data-side is recomputed."""
    keys = engine.parse_query(query)
    scores = twin_bm25_scores(spark, engine, keys)
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_dismax_topk(spark: SparkSession, engine, query: str,
                     tie: float, k: int) -> DataFrame:
    """(url, score, rank) under DisjunctionMax scoring — the
    independent twin of ``SearchEngine.dismax_search``: per-(url,
    term) blended parts recomputed from postings_raw (stats-as-packed
    df, live tf/dl — the twin_bm25_scores arithmetic), then
    ``max(part) + tie * (sum(part) - max(part))`` per url."""
    meta = engine.meta
    k1, b = float(meta["k1"]), float(meta["b"])
    avgdl, n_docs = float(meta["avgdl"]), float(meta["n_docs"])
    blend_a, blend_b = float(meta["blend_bm25"]), float(meta["blend_bonus"])
    keys = engine.parse_query(query)
    live = live_raw_postings(spark, engine)
    dl = live.groupBy("url").agg(F.sum("tf").alias("dl"))
    qt = live.filter(F.col("term_key").isin(list(keys))).select(
        "url", "term_key", "tf", "important")
    dfreq = (
        raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * (F.col("dl").cast("double")
                                           / F.lit(avgdl)))
    contrib = F.lit(k1 + 1.0) * tf * F.col("idf") / norm
    per = (
        qt.join(F.broadcast(dfreq), "term_key")
        .join(dl, "url")
        .withColumn("idf", F.log2(F.lit(n_docs) / F.col("df")))
        .withColumn("part",
                    F.lit(blend_a) * contrib
                    + F.lit(blend_b) * F.when(F.col("important"),
                                              F.lit(1.2)).otherwise(F.lit(1.0)))
    )
    scored = (
        per.groupBy("url")
        .agg(F.max("part").alias("mx"), F.sum("part").alias("sm"))
        .select("url",
                (F.col("mx") + F.lit(float(tie))
                 * (F.col("sm") - F.col("mx"))).alias("score"))
    )
    order = (F.desc("score"), F.asc("url"))
    return (scored.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_matched_topk(spark: SparkSession, engine, query: str,
                      k: int) -> DataFrame:
    """(url, score, rank, matched) — the independent twin of
    ``SearchEngine.search_matched``: scores from twin_bm25_scores, the
    matched term set recomputed from live postings_raw in a SEPARATE
    agg joined back on url (the engine rides one agg; a divergence in
    either the score or the evidence set flips a flag)."""
    keys = engine.parse_query(query)
    scores = twin_bm25_scores(spark, engine, keys)
    matched = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .groupBy("url")
        .agg(F.sort_array(F.collect_set("term_key")).alias("matched"))
    )
    order = (F.desc("score"), F.asc("url"))
    return (
        scores.join(matched, "url")
        .orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("url", "score", "rank", "matched")
    )


def _twin_query_urls(spark: SparkSession, engine,
                     queries: list[tuple[str, str]]) -> DataFrame:
    """(qid, url) distinct live matches, one SEPARATE raw-postings
    filter per query unioned behind a literal qid — deliberately the
    N-scan plan the engine's one-scan fan-out map avoids."""
    raw = live_raw_postings(spark, engine)
    out = None
    for qid, q in queries:
        keys = engine.parse_query(q)
        if not keys:
            continue
        part = (
            raw.filter(F.col("term_key").isin(list(keys)))
            .select(F.lit(qid).alias("qid"), "url").distinct()
        )
        out = part if out is None else out.unionByName(part)
    return out


def twin_count_batch(spark: SparkSession, engine,
                     queries: list[tuple[str, str]]) -> DataFrame:
    """(qid, n_docs) — the independent twin of
    ``SearchEngine.count_hits_batch``, zero rows kept for
    unresolvable queries like the engine's ES-bucket contract."""
    allq = spark.createDataFrame([(q[0],) for q in queries], "qid string")
    urls = _twin_query_urls(spark, engine, queries)
    if urls is None:
        return allq.withColumn("n_docs", F.lit(0).cast("long"))
    counts = urls.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        allq.join(counts, "qid", "left")
        .select("qid",
                F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"))
    )


def twin_adjacency(spark: SparkSession, engine,
                   queries: list[tuple[str, str]]) -> DataFrame:
    """(qid_a, qid_b, n_docs) — the independent twin of
    ``SearchEngine.adjacency_matrix``: url-keyed self-join over the
    per-query N-scan match sets (the engine self-joins ONE-scan
    (shard, local_id) sets — different key, different plan)."""
    urls = _twin_query_urls(spark, engine, queries)
    if urls is None:
        return spark.createDataFrame(
            [], "qid_a string, qid_b string, n_docs long")
    a, b = urls.alias("a"), urls.alias("b")
    pairs = a.join(
        b,
        (F.col("a.url") == F.col("b.url"))
        & (F.col("a.qid") <= F.col("b.qid")),
    ).select(F.col("a.qid").alias("qid_a"), F.col("b.qid").alias("qid_b"))
    return pairs.groupBy("qid_a", "qid_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))


def twin_filtered_topk(spark: SparkSession, engine, query: str,
                       allowed: DataFrame, k: int) -> DataFrame:
    """Plain twin of ``SearchEngine.search_filtered``: the full BM25
    score set semi-joined to the allowed urls AFTER scoring (the
    engine semi-joins (shard, local_id) into the per-posting rows
    BEFORE its score agg — different stage, same filter-context
    contract: scores are corpus-global either way)."""
    keys = engine.parse_query(query)
    scores = twin_bm25_scores(spark, engine, keys).join(
        allowed.select("url").distinct(), "url", "left_semi")
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_fuzzy_topk(spark: SparkSession, engine, query: str, k: int,
                    max_dist: int = 2) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.fuzzy_search``.  Vocabulary membership and the
    correction's df tie-break are recomputed stats-as-packed from
    postings_raw (EVERY generation counts, matching the engine's
    additively merged dictionary — the same convention as
    ``twin_bm25_scores``), and the argmin-correction runs through a
    DIFFERENT physical plan (a row_number window over (dist, df desc,
    term asc) instead of the engine's min_by struct aggregation), so
    the equivalence pins tie-breaks as well as distances."""
    from pyspark.sql import Window

    keys = engine.parse_query(query)
    vocab = (
        raw_postings(spark, engine)
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    hits = {
        r.term_key
        for r in vocab.filter(F.col("term_key").isin(keys)).collect()
    }
    corrected = set(hits)
    misses = sorted(set(keys) - hits)
    if misses:
        q = spark.createDataFrame([(t,) for t in misses], "term string")
        cand = (
            vocab.crossJoin(F.broadcast(q))
            .withColumn("dist", F.levenshtein("term", "term_key"))
            .filter(F.col("dist") <= max_dist)
        )
        w = Window.partitionBy("term").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term_key"))
        best = cand.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1)
        corrected |= {r.term_key for r in best.select("term_key").collect()}
    if not corrected:
        return spark.createDataFrame([], "url string, score double, rank int")
    scores = twin_bm25_scores(spark, engine, sorted(corrected))
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_did_you_mean(spark: SparkSession, engine, query: str,
                      max_dist: int = 2, gain: int = 4) -> DataFrame:
    """(term, suggestion, dist, df_term, df_sugg, changed) — plain
    twin of ``SearchEngine.did_you_mean``.  Vocabulary df is
    recomputed stats-as-packed from postings_raw (every generation
    counts, matching the additively merged dictionary), and the
    gain-gated argmin runs through a row_number window plus
    driver-side assembly — a DIFFERENT physical plan than the
    engine's single-pass min_by struct, so the equivalence pins the
    gate and the tie-breaks."""
    from pyspark.sql import Window

    keys = sorted(set(engine.parse_query(query)))
    vocab = (
        raw_postings(spark, engine)
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    df_term = {
        r["term_key"]: r["df"]
        for r in vocab.filter(F.col("term_key").isin(keys)).collect()
    }
    q = spark.createDataFrame(
        [(t, int(df_term.get(t, 0))) for t in keys],
        "term string, df_term long")
    cand = (
        vocab.crossJoin(F.broadcast(q))
        .withColumn("dist", F.levenshtein("term", "term_key"))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .filter(F.col("df") > F.lit(gain) * F.col("df_term"))
    )
    w = Window.partitionBy("term").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term_key"))
    best = {
        r["term"]: (r["term_key"], r["dist"], r["df"])
        for r in cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).collect()
    }
    rows = []
    for t in keys:
        if t in best:
            s, d, dfs = best[t]
            rows.append((t, s, int(d), int(df_term.get(t, 0)),
                         int(dfs), True))
        else:
            rows.append((t, t, 0, int(df_term.get(t, 0)),
                         int(df_term.get(t, 0)), False))
    return spark.createDataFrame(
        rows, "term string, suggestion string, dist long, "
              "df_term long, df_sugg long, changed boolean")


def twin_wildcard_topk(spark: SparkSession, engine, query: str, k: int,
                       max_expansions: int = 16) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.wildcard_search``.  The prefix split and the
    expansion RULE (cap by df desc, term asc; wildcard tokens
    lowercased, never stemmed) are shared contracts, but the
    vocabulary and its df are recomputed stats-as-packed from
    postings_raw — so a packed-dictionary df divergence flips the
    expansion set and the row goes red, the same way twin_fuzzy_topk
    pins the correction tie-break."""
    from pyspark.sql import Window

    parts = query.split()
    prefixes = sorted({p[:-1].lower() for p in parts
                       if p.endswith("*") and len(p) > 1})
    plain = " ".join(p for p in parts if not p.endswith("*"))
    keys = set(engine.parse_query(plain)) if plain.strip() else set()
    if prefixes:
        vocab = (
            raw_postings(spark, engine)
            .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
        )
        q = spark.createDataFrame([(p,) for p in prefixes], "prefix string")
        cand = vocab.join(
            F.broadcast(q), F.col("term_key").startswith(F.col("prefix")))
        w = Window.partitionBy("prefix").orderBy(
            F.desc("df"), F.asc("term_key"))
        keys |= {
            r.term_key
            for r in cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_expansions)
            .select("term_key").distinct().collect()
        }
    if not keys:
        return spark.createDataFrame([], "url string, score double, rank int")
    scores = twin_bm25_scores(spark, engine, sorted(keys))
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_wildcard_any_topk(spark: SparkSession, engine, query: str, k: int,
                           max_expansions: int = 16) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.wildcard_search_indexed``.  The expansion is the
    BRUTE-FORCE anchored-regex scan (operators/kgram.expand_wildcard)
    over a vocabulary recomputed stats-as-packed from postings_raw —
    no gram table anywhere in this path, so a k-gram recall hole
    (a candidate the gram gate missed) or a stale/df-divergent
    side-car flips the expansion set and the row goes red."""
    from .operators.kgram import expand_wildcard

    parts = query.split()
    patterns = sorted({p.lower() for p in parts if "*" in p and p.strip("*")})
    plain = " ".join(p for p in parts if "*" not in p)
    keys = set(engine.parse_query(plain)) if plain.strip() else set()
    if patterns:
        vocab = (
            raw_postings(spark, engine)
            .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
        )
        exp = expand_wildcard(vocab, patterns, max_expansions,
                              term_col="term_key", df_col="df")
        keys |= {r.term for r in exp.select("term").distinct().collect()}
    if not keys:
        return spark.createDataFrame([], "url string, score double, rank int")
    scores = twin_bm25_scores(spark, engine, sorted(keys))
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_regex_topk(spark: SparkSession, engine, query: str, k: int,
                    max_expansions: int = 16) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.regex_search_indexed``: the expansion is the
    brute-force anchored-regex scan (operators/kgram.expand_regex)
    over a vocabulary recomputed stats-as-packed from postings_raw —
    no gram table anywhere in this path, so a mandatory-run extractor
    unsoundness (a candidate the gram gate wrongly dropped) or a
    stale/df-divergent side-car flips the expansion set and the row
    goes red."""
    from .operators.kgram import expand_regex

    patterns, plain = engine._split_regex_query(query)
    keys = set(engine.parse_query(plain)) if plain.strip() else set()
    if patterns:
        vocab = (
            raw_postings(spark, engine)
            .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
        )
        exp = expand_regex(vocab, patterns, max_expansions,
                           term_col="term_key", df_col="df")
        keys |= {r.term for r in exp.select("term").distinct().collect()}
    if not keys:
        return spark.createDataFrame([], "url string, score double, rank int")
    scores = twin_bm25_scores(spark, engine, sorted(keys))
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_sorted_topk(spark: SparkSession, engine, query: str,
                     sort_keys: DataFrame, k: int,
                     descending: bool = True,
                     key_col: str = "sort_key") -> DataFrame:
    """(url, sort_key, rank) — the plain twin of
    ``SearchEngine.search_sorted``: distinct matching urls recomputed
    from live raw postings (tombstones/superseded generations
    masked), the same sort-key join and (key, url) total order."""
    keys = engine.parse_query(query)
    urls = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url").distinct()
    )
    keyed = urls.join(
        sort_keys.select("url", F.col(key_col).alias("sort_key")), "url")
    order = [F.desc("sort_key") if descending else F.asc("sort_key"),
             F.asc("url")]
    return (keyed.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_prf_topk(spark: SparkSession, engine, query: str, k: int,
                  fb_docs: int = 10, fb_terms: int = 5) -> DataFrame:
    """(url, score, rank) — the plain twin of
    ``SearchEngine.prf_search``.  The feedback set comes from the
    twin's OWN base retrieval (plain-postings BM25 top-``fb_docs``),
    the feedback documents' term vectors from live raw postings
    (where the engine reads its doc-major stored layout), candidate
    df stats-as-packed and idf recomputed as log2(n/df) (where the
    engine reads the packed dictionary's stored idf — bit-identical
    by the A4 build contract, pinned here), and the final pass
    through twin_bm25_scores.  Every stage re-derives from a
    different physical store, so a divergence anywhere in the
    feedback loop flips the expansion set or the final ranking."""
    keys = engine.parse_query(query)
    base = twin_bm25_topk(spark, engine, query, fb_docs)
    fb_urls = [r["url"] for r in base.select("url").collect()]
    if not fb_urls:
        return spark.createDataFrame([], "url string, score double, rank int")
    live = live_raw_postings(spark, engine)
    tv = live.filter(F.col("url").isin(fb_urls)).select(
        "url", "term_key", F.col("tf").cast("long").alias("tf"))
    cand = tv.groupBy("term_key").agg(F.sum("tf").alias("tf_sum"))
    if keys:
        cand = cand.filter(~F.col("term_key").isin(keys))
    n_docs = float(engine.meta["n_docs"])
    dfreq = (
        raw_postings(spark, engine)
        .join(cand.select("term_key"), "term_key", "left_semi")
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
    )
    weighted = (
        cand.join(dfreq, "term_key")
        .withColumn("idf_micro",
                    F.floor(F.log2(F.lit(n_docs) / F.col("df"))
                            * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"))
        .withColumn("weight", (F.col("tf_sum") * F.col("idf_micro")).cast("long"))
    )
    top = (
        weighted.orderBy(F.desc("weight"), F.asc("term_key"))
        .limit(fb_terms).select("term_key").collect()
    )
    expansion = {r["term_key"] for r in top}
    scores = twin_bm25_scores(spark, engine, sorted(set(keys) | expansion))
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_boolean_topk(spark: SparkSession, engine, must: str, should: str,
                      must_not: str, k: int,
                      extra_should_keys: list[str] | None = None,
                      min_should_match: int = 0) -> DataFrame:
    """Plain twin of ``SearchEngine.boolean_search``: BM25 scores over
    the must+should keys recomputed from postings_raw, the MUST gate a
    countDistinct-over-must-keys HAVING on the live rows (a MUST key
    with no live rows keeps every doc below the count — the same empty
    result the engine's dictionary check produces), MUST_NOT a
    distinct-url anti-join.  ``min_should_match`` gates on the live
    rows the same way the engine gates on its unpacked rows: at least
    that many distinct should keys present per doc."""
    must_keys = engine.parse_query(must) if must.strip() else []
    should_keys = engine.parse_query(should) if should.strip() else []
    should_keys = sorted(set(should_keys) | set(extra_should_keys or []))
    score_keys = sorted(set(must_keys) | set(should_keys))
    if not score_keys or (min_should_match > 0
                          and len(should_keys) < min_should_match):
        return spark.createDataFrame([], "url string, score double, rank int")
    scores = twin_bm25_scores(spark, engine, score_keys)
    live = live_raw_postings(spark, engine)
    if must_keys:
        cand = (
            live.filter(F.col("term_key").isin(must_keys))
            .groupBy("url")
            .agg(F.countDistinct("term_key").alias("nm"))
            .filter(F.col("nm") == len(must_keys))
            .select("url")
        )
        scores = scores.join(cand, "url", "left_semi")
    if min_should_match > 0:
        scand = (
            live.filter(F.col("term_key").isin(should_keys))
            .groupBy("url")
            .agg(F.countDistinct("term_key").alias("ns"))
            .filter(F.col("ns") >= min_should_match)
            .select("url")
        )
        scores = scores.join(scand, "url", "left_semi")
    not_keys = engine.parse_query(must_not) if must_not.strip() else []
    if not_keys:
        excl = (live.filter(F.col("term_key").isin(not_keys))
                .select("url").distinct())
        scores = scores.join(excl, "url", "left_anti")
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_querystring_topk(spark: SparkSession, engine, qs: str, k: int,
                          max_expansions: int = 16) -> DataFrame:
    """Plain twin of ``SearchEngine.query_string_search``: the clause
    split is the shared driver-side kernel (searcher.
    split_query_string), but the wildcard expansions are re-derived
    from stats-as-packed raw-posting df (the twin_wildcard_topk rule)
    and the boolean/BM25 tails run through the raw-postings twins —
    so the composed dispatch is pinned end to end, not just its
    parts."""
    from pyspark.sql import Window

    from .searcher import split_query_string

    phrases, must, should, must_not, prefixes = split_query_string(qs)
    if phrases:
        if len(phrases) == 1 and not (must or should or must_not or prefixes):
            return twin_phrase_topk(spark, engine, phrases[0], k)
        raise ValueError("a quoted phrase is supported only as the whole query")
    wild_keys: set[str] = set()
    if prefixes:
        vocab = (
            raw_postings(spark, engine)
            .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
        )
        q = spark.createDataFrame(
            [(p,) for p in sorted(set(prefixes))], "prefix string")
        cand = vocab.join(
            F.broadcast(q), F.col("term_key").startswith(F.col("prefix")))
        w = Window.partitionBy("prefix").orderBy(
            F.desc("df"), F.asc("term_key"))
        wild_keys = {
            r.term_key
            for r in cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_expansions)
            .select("term_key").distinct().collect()
        }
    if must or must_not:
        return twin_boolean_topk(
            spark, engine, " ".join(must), " ".join(should),
            " ".join(must_not), k, extra_should_keys=sorted(wild_keys))
    keys = set(engine.parse_query(" ".join(should))) if should else set()
    keys |= wild_keys
    if not keys:
        return spark.createDataFrame([], "url string, score double, rank int")
    scores = twin_bm25_scores(spark, engine, sorted(keys))
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_city_filtered_topk(spark: SparkSession, engine, query: str,
                            cities: list[str], k: int) -> DataFrame:
    """Plain twin of the city-filtered search: allowed docs = (urls on
    any city term's raw posting rows) ∪ (city_docs tags restricted to
    indexed urls) — Searcher.java:311-328 semantics — then the BM25
    top-k semi-joined to that set.  Scores of allowed docs are
    unaffected by the filter, so filtering scores (here) is equivalent
    to filtering postings (engine)."""
    raw = live_raw_postings(spark, engine)
    city_keys = sorted({c.lower() for c in cities if c})
    member = raw.filter(F.col("term_key").isin(city_keys)).select("url")
    parts = [member]
    if engine.city_docs is not None:
        tagged = (
            engine.city_docs.filter(F.lower(F.col("city")).isin(city_keys))
            .select("url")
            .join(raw.select("url").distinct(), "url", "left_semi")
        )
        parts.append(tagged)
    allowed = parts[0]
    for p in parts[1:]:
        allowed = allowed.unionByName(p)
    allowed = allowed.distinct()
    scores = twin_bm25_scores(spark, engine, engine.parse_query(query))
    order = (F.desc("score"), F.asc("url"))
    return (
        scores.join(allowed, "url", "left_semi")
        .orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


def twin_phrase_topk(spark: SparkSession, engine, phrase: str, k: int) -> DataFrame:
    """(url, phrase_tf, rank) — plain twin of
    ``SearchEngine.phrase_search``: the same (term_key, offset) pairs
    from the shared phrase parse, matched on raw ``positions`` arrays
    via the n-way (url, pos - offset) equi-join, ranked by phrase
    frequency (ties: url asc)."""
    terms = engine.parse_phrase(phrase)
    empty = spark.createDataFrame([], "url string, phrase_tf long, rank int")
    if not terms:
        return empty
    raw = live_raw_postings(spark, engine)
    present = {
        r["term_key"]
        for r in raw.filter(F.col("term_key").isin(sorted({t for t, _ in terms})))
        .select("term_key").distinct().collect()
    }
    if {t for t, _ in terms} - present:
        return empty  # a phrase term missing from the corpus
    base = None
    for key, off in terms:
        part = (
            raw.filter(F.col("term_key") == key)
            .select("url", F.explode("positions").alias("pos"))
            .select("url", (F.col("pos") - F.lit(off)).alias("base"))
        )
        base = part if base is None else base.join(part, ["url", "base"])
    matches = base.groupBy("url").agg(F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    order = (F.desc("phrase_tf"), F.asc("url"))
    return (matches.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_phrase_prefix_topk(spark: SparkSession, engine, phrase: str,
                            k: int, max_expansions: int = 16) -> DataFrame:
    """(url, phrase_tf, rank) — plain twin of
    ``SearchEngine.phrase_prefix_search``: head offsets from the
    shared phrase parse, the prefix expansion re-derived from
    postings_raw stats-as-packed (df desc, term asc — the shared cap
    rule, like twin_wildcard_topk), and the chain matched on raw
    ``positions`` arrays."""
    from pyspark.sql import Window

    toks = phrase.split()
    prefix = toks[-1][:-1].lower()
    prefix_off = len(toks) - 1
    head = " ".join(toks[:-1])
    terms = engine.parse_phrase(head) if head else []
    empty = spark.createDataFrame([], "url string, phrase_tf long, rank int")
    raw = live_raw_postings(spark, engine)
    vocab = (
        raw_postings(spark, engine)
        .groupBy("term_key").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("term_key").startswith(prefix))
    )
    w = Window.orderBy(F.desc("df"), F.asc("term_key"))
    expansions = sorted(
        r["term_key"]
        for r in vocab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions).select("term_key").collect()
    )
    if not expansions:
        return empty
    present = {
        r["term_key"]
        for r in raw.filter(
            F.col("term_key").isin(sorted({t for t, _ in terms})))
        .select("term_key").distinct().collect()
    }
    if {t for t, _ in terms} - present:
        return empty
    base = None
    for key, off in terms:
        part = (
            raw.filter(F.col("term_key") == key)
            .select("url", F.explode("positions").alias("pos"))
            .select("url", (F.col("pos") - F.lit(off)).alias("base"))
        )
        base = part if base is None else base.join(part, ["url", "base"])
    exp_leg = (
        raw.filter(F.col("term_key").isin(expansions))
        .select("url", F.explode("positions").alias("pos"))
        .select("url", (F.col("pos") - F.lit(prefix_off)).alias("base"))
    )
    base = exp_leg if base is None else base.join(exp_leg, ["url", "base"])
    matches = base.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    order = (F.desc("phrase_tf"), F.asc("url"))
    return (matches.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_span_near_topk(spark: SparkSession, engine, phrase: str,
                        slop: int, k: int, ordered: bool = True) -> DataFrame:
    """(url, span_tf, rank) — plain twin of
    ``SearchEngine.span_near_search``: qualifying tuples counted from
    the raw ``positions`` arrays (live rows only) through the same
    chained band predicate (+ the exact max-min window filter when
    ``ordered=False``), but url-keyed on the plain store instead
    of the packed index's (shard, local_id) occurrence rows."""
    terms = engine.parse_phrase(phrase)
    empty = spark.createDataFrame([], "url string, span_tf long, rank int")
    if not terms:
        return empty
    raw = live_raw_postings(spark, engine)
    present = {
        r["term_key"]
        for r in raw.filter(F.col("term_key").isin(sorted({t for t, _ in terms})))
        .select("term_key").distinct().collect()
    }
    if {t for t, _ in terms} - present:
        return empty
    max_span = (terms[-1][1] - terms[0][1]) + slop
    chain = None
    for i, (key, _off) in enumerate(terms):
        part = (
            raw.filter(F.col("term_key") == key)
            .select("url", F.explode("positions").alias(f"p{i}"))
        )
        if chain is None:
            chain = part
        elif ordered:
            chain = chain.join(part, "url").filter(
                (F.col(f"p{i}") > F.col(f"p{i - 1}"))
                & (F.col(f"p{i}") <= F.col("p0") + F.lit(max_span))
            )
        else:
            chain = chain.join(part, "url").filter(
                (F.col(f"p{i}") >= F.col("p0") - F.lit(max_span))
                & (F.col(f"p{i}") <= F.col("p0") + F.lit(max_span))
            )
    if not ordered and len(terms) > 1:
        ps = [F.col(f"p{i}") for i in range(len(terms))]
        chain = chain.filter(F.greatest(*ps) - F.least(*ps) <= F.lit(max_span))
    matches = chain.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("span_tf"))
    order = (F.desc("span_tf"), F.asc("url"))
    return (matches.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_proximity_topk(spark: SparkSession, engine, query: str, k: int,
                        max_window: int | None = None) -> DataFrame:
    """(url, min_dist, score, rank) — plain twin of
    ``SearchEngine.proximity_search``: positions exploded from the raw
    ``positions`` arrays (live rows only), the pairwise minimum over
    distinct query terms recomputed through a per-url self-join, BM25
    scores via ``twin_bm25_scores``, and the same (min_dist asc,
    score desc, url asc) cut."""
    keys = sorted(set(engine.parse_query(query)))
    empty = spark.createDataFrame(
        [], "url string, min_dist long, score double, rank int")
    live = live_raw_postings(spark, engine)
    present = sorted(
        r["term_key"]
        for r in live.filter(F.col("term_key").isin(keys))
        .select("term_key").distinct().collect()
    )
    if len(present) < 2:
        return empty
    pos = (
        live.filter(F.col("term_key").isin(present))
        .select("url", "term_key", F.explode("positions").alias("pos"))
    )
    a, b = pos.alias("a"), pos.alias("b")
    mind = (
        a.join(b, (F.col("a.url") == F.col("b.url"))
               & (F.col("a.term_key") < F.col("b.term_key")))
        .groupBy(F.col("a.url").alias("url"))
        .agg(F.min(F.abs(F.col("a.pos") - F.col("b.pos")))
             .cast("long").alias("min_dist"))
    )
    if max_window is not None:
        mind = mind.filter(F.col("min_dist") <= max_window)
    scores = twin_bm25_scores(spark, engine, present)
    order = (F.asc("min_dist"), F.desc("score"), F.asc("url"))
    return (
        mind.join(scores, "url")
        .orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


def twin_tree_topk(spark: SparkSession, engine, tree: dict,
                   k: int) -> DataFrame:
    """(url, score, rank) — plain twin of ``SearchEngine.tree_search``:
    the same set-algebra recursion evaluated url-keyed over the raw
    postings store (distinct / left_semi / left_anti / union), scores
    from ``twin_bm25_scores`` over the tree's positive leaves,
    restricted to the match set."""
    live = live_raw_postings(spark, engine)

    leaves: list[tuple[str, bool]] = []

    def collect(node: dict, positive: bool) -> None:
        if "term" in node:
            keys = engine.parse_query(str(node["term"]))
            leaves.append((keys[0] if keys else "", positive))
            return
        kids = node["kids"]
        if node["op"] == "andnot":
            collect(kids[0], positive)
            for kid in kids[1:]:
                collect(kid, False)
        else:
            for kid in kids:
                collect(kid, positive)

    collect(tree, True)
    empty = spark.createDataFrame([], "url string, score double, rank int")
    all_keys = sorted({key for key, _p in leaves if key})
    if not all_keys:
        return empty
    present = {
        r["term_key"]
        for r in live.filter(F.col("term_key").isin(all_keys))
        .select("term_key").distinct().collect()
    }

    def docset(node: dict):
        if "term" in node:
            keys = engine.parse_query(str(node["term"]))
            if not keys or keys[0] not in present:
                return None
            return (live.filter(F.col("term_key") == keys[0])
                    .select("url").distinct())
        op, kids = node["op"], node["kids"]
        if op == "and":
            out = docset(kids[0])
            for kid in kids[1:]:
                nxt = docset(kid)
                if out is None or nxt is None:
                    return None
                out = out.join(nxt, "url", "left_semi")
            return out
        if op == "or":
            parts = [p for p in (docset(kid) for kid in kids) if p is not None]
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.distinct()
        pos = docset(kids[0])
        if pos is None:
            return None
        for kid in kids[1:]:
            neg = docset(kid)
            if neg is not None:
                pos = pos.join(neg, "url", "left_anti")
        return pos

    match = docset(tree)
    if match is None:
        return empty
    pos_keys = sorted({key for key, p in leaves
                       if p and key and key in present})
    if not pos_keys:
        return empty
    scores = twin_bm25_scores(spark, engine, pos_keys).join(
        match, "url", "left_semi")
    order = (F.desc("score"), F.asc("url"))
    return (scores.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def twin_rescore_topk(spark: SparkSession, engine, query: str, k: int,
                      window: int, weight: float) -> DataFrame:
    """(url, min_dist, rescore, rank) — plain twin of
    ``SearchEngine.rescore_search``: first pass from
    ``twin_bm25_topk`` (raw-postings BM25), second pass the pairwise
    minimum recomputed from the raw ``positions`` arrays restricted
    to the window's urls, folded with the same
    ``score + weight / (1 + min_dist)`` formula."""
    # the window is read by both the positional semi-join and the
    # final join below: collect it once so both see the same rows
    first = spark.createDataFrame(
        twin_bm25_topk(spark, engine, query, window).select("url", "score").collect(),
        "url string, score double")
    keys = sorted(set(engine.parse_query(query)))
    live = live_raw_postings(spark, engine)
    present = sorted(
        r["term_key"]
        for r in live.filter(F.col("term_key").isin(keys))
        .select("term_key").distinct().collect()
    )
    out = first
    if len(present) >= 2:
        pos = (
            live.filter(F.col("term_key").isin(present))
            .join(first.select("url"), "url", "left_semi")
            .select("url", "term_key", F.explode("positions").alias("pos"))
        )
        a, b = pos.alias("a"), pos.alias("b")
        mind = (
            a.join(b, (F.col("a.url") == F.col("b.url"))
                   & (F.col("a.term_key") < F.col("b.term_key")))
            .groupBy(F.col("a.url").alias("url"))
            .agg(F.min(F.abs(F.col("a.pos") - F.col("b.pos")))
                 .cast("long").alias("min_dist"))
        )
        out = out.join(mind, "url", "left")
    else:
        out = out.withColumn("min_dist", F.lit(None).cast("long"))
    order = (F.desc("rescore"), F.asc("url"))
    topk = (
        out.withColumn(
            "min_dist", F.coalesce(F.col("min_dist"), F.lit(-1)).cast("long"))
        .withColumn(
            "rescore",
            F.col("score") + F.when(
                F.col("min_dist") >= 0,
                F.lit(float(weight)) / (F.lit(1.0) + F.col("min_dist")),
            ).otherwise(F.lit(0.0)))
        .orderBy(*order)
        .limit(k)
        .select("url", "min_dist", "rescore")
    )
    return topk.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


def twin_search_snippets(spark: SparkSession, engine, pages: DataFrame,
                         query: str, k: int, window: int = 5) -> DataFrame:
    """(url, score, rank, match_pos, snippet) — plain twin of
    ``SearchEngine.search_with_snippets``: the top-k from
    ``twin_bm25_topk`` (raw-postings BM25), first match positions from
    the raw ``positions`` arrays (vs the engine's packed poss blobs),
    text straight from the ``pages`` frame (vs the engine's
    bucket-pruned docstore).  The excerpt kernel
    (``docstore.attach_snippets``) is shared — it is driver-side
    deterministic code with its own pytest golden, like the query
    parse."""
    from .operators.docstore import attach_snippets

    keys = engine.parse_query(query)
    run = twin_bm25_topk(spark, engine, query, k)
    first = (
        live_raw_postings(spark, engine)
        .filter(F.col("term_key").isin(list(keys)))
        .select("url", F.array_min("positions").alias("p"))
        .groupBy("url").agg(F.min("p").cast("long").alias("match_pos"))
    )
    joined = (
        run.join(first, "url")
        .join(pages.select("url", "text"), "url")
        .select("url", "score", "rank", "match_pos", "text")
    )
    return attach_snippets(joined, window=window).orderBy("rank")


def compare_topk(engine_out: DataFrame, twin_out: DataFrame,
                 join_cols: list[str], exact_cols: list[str],
                 approx_cols: list[str], tol: float = 1e-9) -> DataFrame:
    """Per-rank equivalence frame: full-outer join on ``join_cols``
    (so a row present on only one side still surfaces as a mismatch
    row), one boolean ``<col>_match`` per compared column — null-safe
    exact equality for ``exact_cols``, abs-diff <= tol for
    ``approx_cols`` (engine sums floats in a different order than the
    twin; bit-identical per-posting doubles still leave ~1e-15 sum
    noise)."""
    cmp_cols = list(exact_cols) + list(approx_cols)
    e = engine_out.select(
        *join_cols, *[F.col(c).alias(f"e_{c}") for c in cmp_cols]
    )
    t = twin_out.select(
        *join_cols, *[F.col(c).alias(f"t_{c}") for c in cmp_cols]
    )
    j = e.join(t, list(join_cols), "full_outer")
    flags = [
        F.col(f"e_{c}").eqNullSafe(F.col(f"t_{c}")).alias(f"{c}_match")
        for c in exact_cols
    ] + [
        (
            F.col(f"e_{c}").isNotNull()
            & F.col(f"t_{c}").isNotNull()
            & (F.abs(F.col(f"e_{c}") - F.col(f"t_{c}")) <= tol)
        ).alias(f"{c}_match")
        for c in approx_cols
    ]
    return j.select(*join_cols, *flags)
