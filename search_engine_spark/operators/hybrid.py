"""Hybrid lexical + dense retrieval with reciprocal-rank fusion
(RRF, Cormack/Clarke/Buettcher SIGIR 2009) — the fusion layer every
modern web search stack puts between its BM25 index and its embedding
index.  No reference counterpart (edanBI/Search_Engine ranks with
BM25 only); this composes two retrievers the repo already ships:

  lexical leg : the proven ft-relational BM25 chain (same constants
                and ordering as ``q_ft_bm25_topk``) — top-k doc ranks.
  dense leg   : maximum-inner-product retrieval over the feature-hash
                embeddings (operators/embed.py).  The query is hashed
                through the SAME ``md5('d:'||tok)`` / ``md5('r:'||tok)``
                projection as the documents, so the dot product
                sum(v_doc[dim] * v_query[dim]) is a sum of products of
                signed-tf INTEGERS — an exact BIGINT, engine- and
                partitioning-independent (no cosine float boundary to
                flip a rank; unnormalized inner product IS the standard
                dense-retrieval score).
  fusion      : rrf_nano = sum over legs of floor(1e9 / (K + rank)),
                K = 60 (the paper's constant) — integer division on a
                nano grid, so the fused ORDER is bit-identical across
                engines and an exact DuckDB oracle recomputes the whole
                pipeline end-to-end (driver row ``ft_hybrid_rrf``).

Scale shape: each leg is its own top-k (TakeOrderedAndProject — k rows
to the driver, never a corpus sort); the fusion joins two k-row frames.
The dense leg is one (doc,dim) map-side-combining agg + a 64-row
broadcast query-vector join + one per-doc agg — no UDF, no corpus
cross-join; at 100 TB the same fusion runs over the stored ANN layouts
(similarity.py) instead of the flat scan, fusing their top-k outputs
unchanged (RRF only consumes ranks, so the legs are swappable).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .embed import DEFAULT_DIMS, _dim_col, _sign_col
from .textstats import shared_doc_tf

RRF_K = 60                    # Cormack et al. 2009's constant
RRF_NANO = 1_000_000_000      # fusion grid: floor(1e9 / (K + rank))
BM25_K1, BM25_B = 1.2, 0.75   # Ranker.java:33 constants


def query_hash_cells(terms: list[str], n_dims: int = DEFAULT_DIMS) -> list[tuple[int, int]]:
    """Python twin of embed._dim_col/_sign_col over the QUERY tokens:
    [(dim, signed-tf)] with zero cells dropped.  Driver-side (a query
    has a handful of terms); must stay bit-identical to the md5
    projection the document side uses."""
    acc: dict[int, int] = {}
    for tok in terms:
        dim = int(hashlib.md5(f"d:{tok}".encode()).hexdigest()[:8], 16) % n_dims
        sign = 1 if hashlib.md5(f"r:{tok}".encode()).hexdigest()[0] in "01234567" else -1
        acc[dim] = acc.get(dim, 0) + sign
    return sorted((d, v) for d, v in acc.items() if v != 0)


def lexical_bm25_topk(docs: DataFrame, terms: list[str], k: int) -> DataFrame:
    """(doc_id, score, rank) — the ft-relational BM25 top-k under the
    simple ML-pipeline tokenization, identical chain/rounding/order to
    the long-green ``ft_bm25_topk`` driver row."""
    n_docs = docs.count()
    tf = shared_doc_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).first()[0])
    qtf = tf.filter(F.col("tok").isin(*terms))
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
    return scored.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def dense_mips_topk(docs: DataFrame, terms: list[str], k: int,
                    n_dims: int = DEFAULT_DIMS) -> DataFrame:
    """(doc_id, dot, rank) — maximum-inner-product top-k of the
    feature-hash document vectors against the hashed query vector.
    ``dot`` is an exact BIGINT (signed-tf integers both sides); docs
    sharing no projected dimension with the query are absent, exactly
    as in the DuckDB twin."""
    spark = docs.sparkSession
    qcells = query_hash_cells(terms, n_dims)
    if not qcells:
        return spark.createDataFrame([], "doc_id bigint, dot bigint, rank bigint")
    tf = shared_doc_tf(docs)
    cells = (
        tf.select("doc_id", _dim_col(n_dims).alias("dim"),
                  (_sign_col() * F.col("tf")).cast("long").alias("v"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("v").alias("v"))
    )
    qv = spark.createDataFrame(qcells, "dim int, qv long")
    dot = (
        cells.join(F.broadcast(qv), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("v") * F.col("qv")).alias("dot"))
    )
    order = (F.desc("dot"), F.asc("doc_id"))
    return dot.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def rrf_fuse(lex: DataFrame, dense: DataFrame, k: int,
             k_const: int = RRF_K, id_col: str = "doc_id") -> DataFrame:
    """Fuse two (id, rank) frames by reciprocal-rank fusion on the
    integer nano grid: rrf_nano = sum of 1e9 DIV (K + rank) over the
    legs that retrieved the doc.  Absent legs contribute 0 and surface
    as rank 0 in the output (both engines agree on the encoding, so
    the driver hash stays null-free).  Output: (id, lex_rank,
    dense_rank, rrf_nano, rank) — top-k by rrf desc, id asc."""
    l = lex.select(F.col(id_col), F.col("rank").alias("lex_rank"))
    d = dense.select(F.col(id_col), F.col("rank").alias("dense_rank"))
    both = l.join(d, id_col, "full_outer")
    contrib = (
        both
        .withColumn("lex_rank", F.coalesce("lex_rank", F.lit(0)).cast("long"))
        .withColumn("dense_rank", F.coalesce("dense_rank", F.lit(0)).cast("long"))
        .withColumn(
            "rrf_nano",
            (F.when(F.col("lex_rank") > 0,
                    F.expr(f"{RRF_NANO} DIV ({k_const} + lex_rank)")).otherwise(F.lit(0))
             + F.when(F.col("dense_rank") > 0,
                      F.expr(f"{RRF_NANO} DIV ({k_const} + dense_rank)")).otherwise(F.lit(0))
             ).cast("long"),
        )
    )
    order = (F.desc("rrf_nano"), F.asc(id_col))
    return contrib.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def hybrid_rrf_topk(docs: DataFrame, terms: list[str], k: int = 10,
                    candidate_k: int = 20) -> DataFrame:
    """End-to-end hybrid retrieval over the documents table: BM25
    top-``candidate_k`` ⊕ MIPS top-``candidate_k`` → RRF top-``k``."""
    lex = lexical_bm25_topk(docs, terms, candidate_k)
    dense = dense_mips_topk(docs, terms, candidate_k)
    return rrf_fuse(lex, dense, k)
