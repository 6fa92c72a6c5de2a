"""Fielded retrieval: BM25F over structured documents.

Web pages are not flat bags of words — a match in the title is worth
more than one in the body, but naively multiplying per-field BM25
scores double-counts the length normalization (the classic BM25F
paper's core point: combine TERM FREQUENCIES across fields first,
saturate once).  This module implements the simple BM25F of
Zaragoza et al. (CIKM 2004, "Microsoft Cambridge at TREC-13"):

    tf~_{d,f,t} = tf_{d,f,t} / (1 - b_f + b_f * len_{d,f} / avglen_f)
    wtf_{d,t}   = sum_f  w_f * tf~_{d,f,t}
    score_d     = sum_t  idf_t * wtf_{d,t} / (k1 + wtf_{d,t})

with doc-level idf (a term's df counts a doc once no matter which
field it appears in) — the same log2(N/df) convention as the rest of
this engine (reference ranker constants, Ranker.java:32-40).

The synthetic corpus has no real <title> element
(fixtures.html_wrapper is a bare body wrapper), so the field split
is the standard web heuristic for untitled pages: the first
``title_tokens`` tokens are the title, the rest the body — a pure,
deterministic function of the text that both Spark and the DuckDB
oracle state identically (list slicing on the shared simple
tokenizer's output).

Scale shape: one tokenize scan -> a posexplode with a codegen field
tag -> two map-side-combining aggs ((doc, field, tok) tf and (doc,
field) lengths) -> per-field average lengths (a 2-row broadcast) ->
the weighted-tf blend and saturation as pure codegen arithmetic ->
one (doc) score agg -> TakeOrderedAndProject.  No UDF, no window, no
corpus-sized sort; everything per-field is bounded by F=2 fields.

Determinism: tf and lengths are exact BIGINTs; avglen_f is one
double from an exact BIGINT sum/count; the per-row normalization and
saturation are scalar double expressions (no order-dependent float
sums until the final per-doc agg of <= |query| terms, which the
oracle reproduces and the 6dp round absorbs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import simple_tokens

DEFAULT_TITLE_TOKENS = 8
DEFAULT_FIELD_WEIGHTS = {"title": 2.0, "body": 1.0}
DEFAULT_FIELD_B = {"title": 0.75, "body": 0.75}


def field_tokens(docs: DataFrame, title_tokens: int = DEFAULT_TITLE_TOKENS,
                 doc_id_col: str = "doc_id") -> DataFrame:
    """(doc_id, field, tok) rows under the simple tokenizer, with the
    first ``title_tokens`` tokens tagged 'title' and the rest 'body'
    — the deterministic field split for untitled web pages."""
    ex = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.posexplode(simple_tokens()).alias("pos", "tok"),
    )
    return ex.select(
        "doc_id",
        F.when(F.col("pos") < title_tokens, F.lit("title"))
        .otherwise(F.lit("body")).alias("field"),
        "tok",
    )


def bm25f_topk(docs: DataFrame, query_terms: list[str], k: int = 20,
               k1: float = 1.2,
               title_tokens: int = DEFAULT_TITLE_TOKENS,
               weights: dict[str, float] | None = None,
               field_b: dict[str, float] | None = None,
               doc_id_col: str = "doc_id") -> DataFrame:
    """(doc_id, score, rank) — simple BM25F top-k over the fielded
    split.  ``weights``/``field_b`` map field name -> boost / length-
    normalization slope; defaults are title^2 at b=0.75 both fields."""
    weights = weights or DEFAULT_FIELD_WEIGHTS
    field_b = field_b or DEFAULT_FIELD_B
    n_docs = docs.count()
    toks = field_tokens(docs, title_tokens, doc_id_col)

    # exact BIGINT per-(doc, field) lengths and the per-field average
    # over ALL docs (a doc shorter than title_tokens has body len 0 —
    # it still counts in the body average, stated identically in SQL)
    flen = toks.groupBy("doc_id", "field").agg(
        F.count(F.lit(1)).cast("long").alias("flen"))
    # the field set is static — explode a 2-element literal array per
    # doc rather than re-scanning the tokens for DISTINCT field
    all_fields = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(F.array(F.lit("title"), F.lit("body"))).alias("field"))
    flen_full = (
        all_fields.join(flen, ["doc_id", "field"], "left")
        .fillna(0, subset=["flen"])
    )
    avglen = flen_full.groupBy("field").agg(
        (F.sum("flen").cast("double") / F.count(F.lit(1))).alias("avglen"))

    # doc-level df -> idf (a doc counts once across fields)
    qtoks = toks.filter(F.col("tok").isin(list(query_terms)))
    dfreq = (
        qtoks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )

    tf = qtoks.groupBy("doc_id", "field", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    wmap = F.create_map(
        *[F.lit(x) for f in sorted(weights) for x in (f, float(weights[f]))])
    bmap = F.create_map(
        *[F.lit(x) for f in sorted(field_b) for x in (f, float(field_b[f]))])
    normed = (
        tf.join(flen, ["doc_id", "field"])
        .join(F.broadcast(avglen), "field")
        .withColumn(
            "tf_norm",
            F.col("tf").cast("double")
            / (F.lit(1.0) - bmap[F.col("field")]
               + bmap[F.col("field")]
               * (F.col("flen").cast("double") / F.col("avglen"))))
        .withColumn("wtf_part", wmap[F.col("field")] * F.col("tf_norm"))
    )
    wtf = normed.groupBy("doc_id", "tok").agg(F.sum("wtf_part").alias("wtf"))
    scored = (
        wtf.join(F.broadcast(dfreq), "tok")
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
        .withColumn("c", F.col("idf") * F.col("wtf")
                    / (F.lit(float(k1)) + F.col("wtf")))
        .groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    )
    order = (F.desc("score"), F.asc("doc_id"))
    return scored.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
