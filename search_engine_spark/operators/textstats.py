"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language ID, fingerprinting.

All of these are pure built-in column expressions (JVM-side,
whole-stage codegen — no Python in the hot path) over a shared simple
tokenization, so they run at scan speed on 100 TB and each has an
exact DuckDB-SQL oracle in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# shared simple tokenization (distinct from the search-engine parser:
# these ops feed ML pipelines, not the rank-identical index)
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def simple_tokens(col="text"):
    return F.filter(F.split(F.lower(F.col(col)), TOKEN_SPLIT_RE), lambda x: x != F.lit(""))


# marker words per language for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "fr": ("le", "la", "les", "et", "des", "une", "dans", "est", "pour", "que"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "den"),
    "es": ("el", "la", "los", "y", "de", "que", "en", "es", "por", "con"),
}

_EN_STOPWORDS = LANG_MARKERS["en"] + ("a", "it", "as", "on", "be", "are", "this", "by")


# scoped registry for the persisted (doc_id, tok, tf) frame — same
# contract as dedup._SHINGLE_CACHE: repeated calls over the same
# corpus return the SAME persisted DataFrame (the tokenize+explode+
# first-groupBy pass, the expensive part of every term-frequency
# consumer, runs once per campaign instead of once per plan branch),
# and a new corpus evicts+unpersists the previous entry.
_TF_CACHE: dict[tuple[int, int], DataFrame] = {}
_TF_CACHE_MAX = 2


def clear_doc_tf_cache() -> None:
    """Release every persisted doc-tf frame (end of a campaign)."""
    for df in _TF_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _TF_CACHE.clear()


def shared_doc_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) under ``simple_tokens``, persisted per corpus
    — the shared base of mlt.doc_term_weights and
    webquality.unigram_surprisal, whose plans consume it from several
    branches (Catalyst does not CSE the repeated explode+agg)."""
    from pyspark import StorageLevel

    key = (id(docs.sparkSession), docs.semanticHash())
    hit = _TF_CACHE.get(key)
    if hit is not None:
        return hit
    while len(_TF_CACHE) >= _TF_CACHE_MAX:
        oldest = next(iter(_TF_CACHE))
        try:
            _TF_CACHE.pop(oldest).unpersist()
        except Exception:
            pass
    tf = (
        docs.select("doc_id", F.explode(simple_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _TF_CACHE[key] = tf
    return tf


def related_terms(docs: DataFrame, seed: str, k: int = 15,
                  min_co: int = 2) -> DataFrame:
    """Corpus-driven related terms for ``seed`` — the data behind
    "related searches" / automatic query expansion (the corpus-learned
    counterpart of the engine's offline synonym table): terms ranked
    by document-set Jaccard with the seed on the half-up 1e-6 INTEGER
    grid, so the ranking is exact on any engine.

        jaccard_micro(t) = (1e6 * co_df) div (df_seed + df_t - co_df)

    with co_df = docs containing both, df from the same tokenization.
    ``min_co`` drops hapax coincidences.  Output (term, co_df,
    jaccard_micro, rank), ties (score desc, term asc), cut at ``k``.

    Scale shape (10^12 docs): the seed's doc set is one posting list
    (semi-join, never a corpus pass); co-counts are ONE map-side-
    combining agg over the seed docs' rows only; df comes from the
    corpus-wide term stats a real deployment already stores (the
    dictionary) — recomputed here from tf so the row is closed over
    the driver tables."""
    tf = shared_doc_tf(docs)
    seed_docs = tf.filter(F.col("tok") == seed).select("doc_id")
    df_seed = seed_docs.count()
    if df_seed == 0:
        return docs.sparkSession.createDataFrame(
            [], "term string, co_df long, jaccard_micro long, rank int")
    co = (
        tf.join(seed_docs, "doc_id", "leftsemi")
        .filter(F.col("tok") != seed)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("co_df"))
        .filter(F.col("co_df") >= min_co)
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        co.join(dfs, "tok")
        .select(
            F.col("tok").alias("term"),
            "co_df",
            F.expr(f"CAST((1000000 * co_df) DIV ({df_seed} + df - co_df) "
                   "AS LONG)").alias("jaccard_micro"),
        )
    )
    order = (F.desc("jaccard_micro"), F.asc("term"))
    return (scored.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: total tokens, distinct tokens, mean token
    length per document (whitespace+punct tokenization)."""
    toks = simple_tokens()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )


def quality_score(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic quality score: length band + stop-word ratio +
    alpha ratio — the standard cheap pre-filter for web-text corpora
    (cf. C4/Gopher-style rules), as one codegen'd expression.

    ``keep`` passes extra input columns through (e.g. grouping keys
    for a downstream rollup) so consumers never need a self-join."""
    toks = simple_tokens()
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*_EN_STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
    n_chars = F.greatest(F.length("text"), F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1))
    alpha_ratio = n_alpha / n_chars
    length_ok = (n_tok >= 10) & (n_tok <= 100000)
    score = (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(stop_ratio * 2.0, F.lit(0.3))
        + F.least(alpha_ratio, F.lit(0.3))
    )
    return docs.select(
        "doc_id",
        *keep,
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: argmax over per-language marker-hit
    counts; no-hits resolve to 'und'.  Deterministic tie-break:
    lexicographically smallest language code (first match in a sorted
    CASE chain — identical semantics in the DuckDB oracle)."""
    toks = simple_tokens()

    def hits(markers: tuple[str, ...]):
        # one-parameter lambda only: PySpark passes the element index
        # to two-parameter callables, clobbering a default argument
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    hit_cols = {lang: hits(markers) for lang, markers in sorted(LANG_MARKERS.items())}
    mx = F.greatest(*hit_cols.values())
    detected = F.when(mx <= 0, F.lit("und"))
    for lang in sorted(hit_cols):
        detected = detected.when(hit_cols[lang] == mx, F.lit(lang))
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        detected.alias("detected_lang"),
        mx.alias("marker_hits"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set
    (set-semantics fingerprint — robust to token order/repetition).
    The windowed rolling-hash variant is :func:`winnow_fingerprint`."""
    toks = simple_tokens()
    return docs.select(
        "doc_id",
        F.md5(F.to_binary(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))), F.lit("utf-8"))).alias("fp"),
    )


def winnow_fingerprint(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing (MOSS-style) fingerprints: hash every k-token
    shingle (first 8 hex chars of md5 as an int), slide a window of
    ``w`` consecutive shingle hashes, keep each window's minimum,
    and summarize the distinct selected hashes per doc as
    (doc_id, n_fps, fp_hash = md5 of the sorted mins joined by ',').

    Winnowing guarantees a shared fingerprint for any match of length
    >= w+k-1 tokens — the position-robust near-dup fingerprint that
    the set-semantics :func:`fingerprint` is not.  One Arrow pass,
    zero shuffles (same shape as dedup.shingle_rows); the DuckDB twin
    recomputes it relationally with a window MIN."""
    import hashlib
    import re as _re
    from collections.abc import Iterator

    import pandas as pd

    from ..partitioning import balanced

    pat = _re.compile(TOKEN_SPLIT_RE)
    docs = balanced(docs)

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "n_fps": [], "fp_hash": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = [t for t in pat.split(text.lower()) if t]
                if len(toks) < k:
                    continue  # no shingles -> no fingerprint row (as in the oracle)
                hs = [
                    int(hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:8], 16)
                    for i in range(len(toks) - k + 1)
                ]
                if len(hs) < w:
                    mins = set(hs)  # shorter than one window: keep all
                else:
                    mins = {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}
                sel = sorted(mins)
                out["doc_id"].append(doc_id)
                out["n_fps"].append(len(sel))
                out["fp_hash"].append(
                    hashlib.md5(",".join(str(x) for x in sel).encode()).hexdigest()
                )
            yield pd.DataFrame({
                "doc_id": pd.array(out["doc_id"], dtype="int64"),
                "n_fps": pd.array(out["n_fps"], dtype="int64"),
                "fp_hash": out["fp_hash"],
            })

    return docs.select("doc_id", "text").mapInPandas(
        batch, schema="doc_id long, n_fps long, fp_hash string"
    )


# GPT-2-flavoured piece splitter restricted to a regex subset with
# identical semantics in Java (Spark), RE2 (DuckDB), and Python `re`:
# contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Token counting under a BPE-ish piece regex (the pre-tokenizer
    shape LLM pipelines budget tokens with), next to the whitespace
    counts in :func:`token_stats`: (doc_id, n_pieces,
    n_distinct_pieces, mean_piece_len).  Pure codegen expressions —
    scan speed."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_RE), 0)
    return docs.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(F.array_distinct(pieces)).cast("long").alias("n_distinct_pieces"),
        F.round(
            F.aggregate(pieces, F.lit(0.0), lambda acc, x: acc + F.length(x))
            / F.greatest(F.size(pieces), F.lit(1)),
            6,
        ).alias("mean_piece_len"),
    )


def significant_terms(docs: DataFrame, fg_docs: DataFrame, k: int = 15,
                      min_fg: int = 3,
                      exclude: list[str] | None = None) -> DataFrame:
    """Terms over-represented in a RESULT SET vs the background
    corpus — Elasticsearch's significant_terms ("what is special
    about these documents"), the aggregation behind topic discovery
    and query refinement sidebars; no reference counterpart.

    ``fg_docs`` is a (doc_id) frame (typically a query's top-k cut).
    Scoring is the foreground lift on the exact nano INTEGER grid:

        lift_nano(t) = (fg_df * N_corpus * 1e9) div (bg_df * N_fg)

    — pure BIGINT cross-multiplication (engine- and partitioning-
    independent; lift 1e9 means "no more common here than anywhere").
    Numeric range: fg_df ≤ the cut size, so the product stays inside
    BIGINT up to ~1e8-doc corpora at k=50; beyond that, drop the grid
    to micro or keep (fg_df·N, bg_df·N_fg) as the exact rational and
    compare by cross-multiplication — the VALUES here are exact at
    every sandbox scale, which is what the oracle hashes.
    ``min_fg`` drops terms too rare in the foreground to be evidence;
    ``exclude`` (the query's own terms, usually) removes the tokens
    whose over-representation is tautological.  Output (term, fg_df,
    bg_df, lift_nano, rank), ties (lift desc, fg_df desc, term asc).

    Scale shape (10^12 docs): the foreground is a k-row cut, so fg
    stats are one semi-join + one map-side-combining agg over the cut
    docs' rows only; bg_df joins only the foreground's OWN candidate
    terms (left-semi restricted — in production it reads the stored
    dictionary instead); the final cut is TakeOrderedAndProject."""
    spark = docs.sparkSession
    tf = shared_doc_tf(docs)
    n_corpus = tf.select("doc_id").distinct().count()
    n_fg = fg_docs.select("doc_id").distinct().count()
    if n_fg == 0 or n_corpus == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, lift_nano long, rank int")
    fg_tf = tf.join(fg_docs.select("doc_id").distinct(), "doc_id", "leftsemi")
    fg = (fg_tf.groupBy("tok")
          .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
          .filter(F.col("fg_df") >= min_fg))
    if exclude:
        fg = fg.filter(~F.col("tok").isin(list(exclude)))
    bg = (
        tf.join(fg.select("tok"), "tok", "leftsemi")
        .groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("bg_df"))
    )
    scored = (
        fg.join(bg, "tok")
        .select(
            F.col("tok").alias("term"), "fg_df", "bg_df",
            F.expr(f"CAST((fg_df * {n_corpus} * 1000000000) "
                   f"DIV (bg_df * {n_fg}) AS LONG)").alias("lift_nano"),
        )
    )
    order = (F.desc("lift_nano"), F.desc("fg_df"), F.asc("term"))
    return (scored.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))
