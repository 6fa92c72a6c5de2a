"""Similarity search over an embedding column (array<float>).

* ``cosine_topk``      — exact brute-force top-k against a query
  vector: one scan, JVM-side ``zip_with``/``aggregate`` arithmetic,
  TakeOrdered top-k.  The baseline and the verifier.
* ``ann_lsh_topk``     — random-hyperplane LSH variant: probe only the
  vectors whose sign-bucket is within ``probe_hamming`` of the query's
  bucket.  The 100 TB path: the bucket column is precomputable and
  partition-prunable, so a query touches a fraction of the corpus.
  Deterministic planes (seeded LCG) — no external data.

Both tie-break (score desc, vec_id asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(col, vec: list[float]):
    expr = F.lit(0.0)
    for i, v in enumerate(vec):
        if v != 0.0:
            expr = expr + F.element_at(col, i + 1).cast("double") * F.lit(float(v))
    return expr


def _norm_col(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k: (vec_id, cosine) for the k nearest vectors."""
    import math

    qn = math.sqrt(sum(v * v for v in query_vec)) or 1.0
    scored = embeddings.select(
        "vec_id",
        F.round(_dot(F.col("embedding"), query_vec) / (_norm_col(F.col("embedding")) * F.lit(qn)), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _planes(dim: int, n_planes: int, seed: int = 1234567) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via a tiny LCG —
    reproducible across engines without numpy RNG state."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def assign_buckets(embeddings: DataFrame, n_planes: int = 8,
                   dim: int = 64, id_col: str = "vec_id") -> DataFrame:
    """(id, bucket, embedding) with the sign-LSH bucket computed as
    ONE float64 matmul per Arrow batch.

    This is the only sanctioned bucket computation: the column-
    expression alternative (an ``n_planes x dim`` unrolled arithmetic
    tree) blows past the whole-stage-codegen expression limit and
    falls back to interpreted evaluation — measured 20x slower."""
    import numpy as np
    import pandas as pd

    planes = np.array(_planes(dim, n_planes), dtype=np.float64)  # (p, d)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def assign(it):
        for pdf in it:
            if pdf.empty:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            buckets = ((m @ planes.T) >= 0) @ weights
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "bucket": buckets,
                "embedding": pdf["embedding"],
            })

    return embeddings.select(id_col, "embedding").mapInPandas(
        assign, schema=f"{id_col} long, bucket long, embedding array<float>"
    )


def query_bucket_and_probe(query_vec: list[float], n_planes: int = 8,
                           probe_hamming: int = 1) -> list[int]:
    """Driver-side: the query's sign bucket plus every bucket within
    ``probe_hamming`` bit flips — exactly the set
    {b : hamming(b, q_bucket) <= probe_hamming}."""
    planes = _planes(len(query_vec), n_planes)
    q_bucket = 0
    for j, plane in enumerate(planes):
        if sum(a * b for a, b in zip(plane, query_vec)) >= 0:
            q_bucket |= 1 << j
    probe = {q_bucket}
    if probe_hamming >= 1:
        probe |= {q_bucket ^ (1 << j) for j in range(n_planes)}
    if probe_hamming >= 2:
        for j in range(n_planes):
            for l in range(j + 1, n_planes):
                probe.add(q_bucket ^ (1 << j) ^ (1 << l))
    return sorted(probe)


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate NN: exact cosine top-k restricted to vectors whose
    sign-LSH bucket is within ``probe_hamming`` bit flips of the
    query's bucket.  Deterministic given (query, planes): the result
    is exactly ``cosine_topk`` over the probed subset, which is what
    the DuckDB oracle recomputes.  Buckets come from the vectorized
    ``assign_buckets`` matmul (never a column-expression tree); for
    the stored-table scale path with real partition pruning see
    ``write_bucketed_embeddings`` / ``ann_lsh_topk_pruned``."""
    probe = query_bucket_and_probe(query_vec, n_planes, probe_hamming)
    bucketed = assign_buckets(embeddings, n_planes, dim=len(query_vec))
    pruned = bucketed.filter(F.col("bucket").isin(probe))
    return cosine_topk(pruned, query_vec, k)


def write_bucketed_embeddings(embeddings: DataFrame, path: str,
                              n_planes: int = 8, dim: int = 64) -> None:
    """Materialize the 100 TB ANN layout: embeddings partitioned by
    sign-LSH bucket.  A probe then reads ~(probed/2^n_planes) of the
    table via partition pruning instead of scanning everything
    (asserted in tests/test_plans.py)."""
    (assign_buckets(embeddings, n_planes, dim)
     .repartition(F.col("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def ann_lsh_topk_pruned(spark, path: str, query_vec: list[float],
                        k: int = 10, n_planes: int = 8,
                        probe_hamming: int = 1) -> DataFrame:
    """ANN top-k over a pre-bucketed table: the bucket filter is a
    PartitionFilter on the scan (only the probed bucket directories
    are read)."""
    probe = query_bucket_and_probe(query_vec, n_planes, probe_hamming)
    pruned = spark.read.parquet(path).filter(F.col("bucket").isin(probe))
    return cosine_topk(pruned, query_vec, k)


def ann_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the 100 TB path for
    ``dedup.embedding_dup_pairs``: vectors are sign-bucketed by
    ``n_planes`` deterministic hyperplanes and cosine is computed
    only within a bucket (~1/2^n_planes of the all-pairs space).
    Recall < 1 by construction; raise it by lowering n_planes or
    probing neighbor buckets as in ``ann_lsh_topk``.

    Arrow-vectorized throughout: bucket assignment is one float64
    matmul per batch, the within-bucket all-pairs cosine one gram
    matrix per bucket group (a column-expression join variant was
    20x slower — the 384-term bucket expression fell out of codegen).
    At larger scale, n_planes bounds the bucket size: the per-group
    work is O(|bucket|^2 * dim), so pick n_planes so buckets fit an
    executor (and salt genuinely hot buckets)."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    bucketed = assign_buckets(embeddings, n_planes, dim)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        nrm = np.sqrt((m * m).sum(axis=1))
        cos = (m @ m.T) / np.outer(nrm, nrm)
        iu = np.triu_indices(len(ids), 1)
        c = np.round(cos[iu], 6)
        keep = c >= thr
        return pd.DataFrame({
            "vec_a": ids[iu[0]][keep],
            "vec_b": ids[iu[1]][keep],
            "cosine": c[keep],
        })

    return bucketed.groupBy("bucket").applyInPandas(
        per_bucket, schema="vec_a long, vec_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path besides sign-LSH

def _round6_half_up(x):
    """Half-UP rounding to 6 decimals (floor(x*1e6 + 0.5)/1e6).
    np.round is banker's (half to even) while SQL round() is half away
    from zero — an exact-midpoint similarity would then assign a
    vector to different centroids across engines.  Both the kernels
    here and the DuckDB oracle use this identical expression."""
    import numpy as np

    return np.floor(x * 1e6 + 0.5) / 1e6


def _ivf_centroids(embeddings: DataFrame, n_centroids: int):
    """Deterministic coarse quantizer: the centroids ARE the first
    ``n_centroids`` vectors by vec_id (k-medoids-style seeding).  No
    Lloyd iterations — distributed float averaging is summation-order
    dependent, which would make the assignment non-reproducible
    across engines/runs; seed vectors keep the whole structure exact
    (and SQL-checkable).  At production scale the seeds can be a
    stratified sample materialized once."""
    import numpy as np

    rows = (embeddings.filter(F.col("vec_id") < n_centroids)
            .orderBy("vec_id").collect())
    return np.array([list(r["embedding"]) for r in rows], dtype=np.float64)


def train_ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                        n_iters: int = 5):
    """Deterministic Lloyd's k-means for the IVF coarse quantizer —
    data-DEPENDENT centroids (unlike the seed-vector default), without
    giving up cross-engine/cross-partitioning reproducibility:

    * init: the seed vectors (``_ivf_centroids`` — fixed, id-ordered);
    * assignment: the exact rounded-cosine argmax ``ivf_assign`` uses
      (half-up 1e-6 grid, ties -> smallest centroid id);
    * update: each centroid component is the mean of its members'
      components SUMMED ON A 1e-6 INTEGER GRID — BIGINT addition is
      associative, so the result is identical on any partitioning
      (a plain float mean is summation-order dependent, which is why
      naive distributed k-means is not reproducible) — then
      floor-divided by the member count, back to the grid;
    * an emptied centroid keeps its previous position.

    Fixed ``n_iters`` (no data-dependent stopping), so the whole
    training is a pure function of (embeddings, n_centroids, n_iters).
    Returns the ndarray every IVF entry point accepts as ``cents``.
    Per iteration: one assignment pass (matmul per Arrow batch) + one
    (centroid, dim)-keyed map-side-combining agg of k*dim rows — at
    1e12 vectors the shuffle is k*dim*partitions rows, trivial."""
    import numpy as np

    cents = _ivf_centroids(embeddings, n_centroids)
    dim = cents.shape[1]
    for _ in range(n_iters):
        rows = (
            ivf_assign(embeddings, n_centroids, cents=cents)
            .select("centroid_id",
                    F.posexplode("embedding").alias("pos", "v"))
            .groupBy("centroid_id", "pos")
            .agg(
                F.sum(F.floor(F.col("v").cast("double") * 1e6 + 0.5)
                      .cast("long")).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        new = cents.copy()
        sums = np.zeros((n_centroids, dim), dtype=np.int64)
        counts = np.zeros(n_centroids, dtype=np.int64)
        for r in rows:
            sums[r["centroid_id"], r["pos"]] = r["s"]
            counts[r["centroid_id"]] = r["c"]
        for cid in range(n_centroids):
            if counts[cid]:
                # python-style floor division (toward -inf) per
                # component — deterministic for negative sums too
                new[cid] = (sums[cid] // counts[cid]) / 1e6
        cents = new
    return cents


def ivf_assign(embeddings: DataFrame, n_centroids: int = 16,
               cents=None) -> DataFrame:
    """(vec_id, centroid_id, embedding): each vector assigned to its
    max-cosine centroid (rounded to 6 decimals; ties -> smallest
    centroid id).  One matmul per Arrow batch — same vectorized shape
    as the LSH bucket assignment.  Pass precomputed ``cents`` to
    share the seed-vector collect with the probe computation."""
    import numpy as np
    import pandas as pd

    if cents is None:
        cents = _ivf_centroids(embeddings, n_centroids)
    cnorm = np.linalg.norm(cents, axis=1)

    def assign(it):
        for pdf in it:
            if pdf.empty:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            sims = (m @ cents.T) / (np.linalg.norm(m, axis=1)[:, None] * cnorm[None, :])
            cid = np.argmax(_round6_half_up(sims), axis=1)  # argmax -> first max = smallest id
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "centroid_id": cid.astype(np.int64),
                "embedding": pdf["embedding"],
            })

    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, centroid_id long, embedding array<float>"
    )


def ivf_probe_centroids(embeddings: DataFrame, query_vec: list[float],
                        n_centroids: int = 16, nprobe: int = 4,
                        cents=None) -> list[int]:
    """Driver-side: the ``nprobe`` centroids nearest the query
    (rounded cosine desc, centroid id asc)."""
    import numpy as np

    if cents is None:
        cents = _ivf_centroids(embeddings, n_centroids)
    q = np.asarray(query_vec, dtype=np.float64)
    sims = _round6_half_up((cents @ q) / (np.linalg.norm(cents, axis=1) * np.linalg.norm(q)))
    order = sorted(range(len(sims)), key=lambda i: (-sims[i], i))
    return sorted(order[:nprobe])


def ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, cents=None) -> DataFrame:
    """IVF ANN top-k: exact cosine top-k restricted to the vectors
    assigned to the query's ``nprobe`` nearest centroids — probes
    ~nprobe/n_centroids of the corpus.  Deterministic, so the DuckDB
    oracle recomputes it exactly; recall floor pinned in pytest.
    Pass ``cents`` from :func:`train_ivf_centroids` for the trained
    quantizer (higher recall at the same nprobe on clustered data)."""
    if cents is None:
        cents = _ivf_centroids(embeddings, n_centroids)  # one collect, shared
    probe = ivf_probe_centroids(embeddings, query_vec, n_centroids, nprobe, cents=cents)
    assigned = ivf_assign(embeddings, n_centroids, cents=cents)
    pruned = assigned.filter(F.col("centroid_id").isin(probe))
    return cosine_topk(pruned, query_vec, k)


def write_ivf_index(embeddings: DataFrame, path: str,
                    n_centroids: int = 16, cents=None) -> None:
    """The stored IVF layout: embeddings partitioned by centroid_id —
    a probe reads only its nprobe partition directories.  Pass
    ``cents`` (e.g. from :func:`train_ivf_centroids`) to bake the
    trained quantizer into the layout; queries must then probe with
    the same cents."""
    (ivf_assign(embeddings, n_centroids, cents=cents)
     .repartition(F.col("centroid_id"))
     .write.mode("overwrite").partitionBy("centroid_id").parquet(path))


def ivf_topk_pruned(spark, path: str, embeddings: DataFrame,
                    query_vec: list[float], k: int = 10,
                    n_centroids: int = 16, nprobe: int = 4,
                    cents=None) -> DataFrame:
    """IVF top-k over the stored layout (centroid filter becomes a
    PartitionFilter on the scan).  ``embeddings`` is only consulted
    for the centroid seed vectors when ``cents`` isn't given; pass
    the layout's own trained cents for a trained index."""
    probe = ivf_probe_centroids(embeddings, query_vec, n_centroids, nprobe,
                                cents=cents)
    pruned = spark.read.parquet(path).filter(F.col("centroid_id").isin(probe))
    return cosine_topk(pruned, query_vec, k)


def knn_join_exact(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Batch exact kNN join: for every query row (qid, embedding),
    the k nearest corpus vectors.  Broadcast the (small) query side;
    per-corpus-row arithmetic stays JVM-side; window top-k per qid."""
    e = embeddings.select(
        F.col("vec_id"), F.col("embedding").alias("v"), _norm_col(F.col("embedding")).alias("vn")
    )
    q = queries.select(
        F.col("qid"), F.col("embedding").alias("qv"), _norm_col(F.col("embedding")).alias("qn")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, x: a + x,
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id", F.round(dot / (F.col("vn") * F.col("qn")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# -- int8 scalar quantization -------------------------------------------------
#
# The storage/bandwidth lever every large-scale vector system ships
# (Lucene 9.10 scalar-quantized HNSW, FAISS SQ8): store each component
# as one signed byte on a corpus-wide symmetric grid instead of a
# 4-byte float, score with INTEGER dot products.  4x smaller vectors,
# SIMD-friendly arithmetic — and, here, an EXACTLY oracle-able
# operator: the quantization rule (half-up on the absmax grid) and the
# BIGINT dot are bit-identical across engines, so the DuckDB twin
# recomputes the whole path, not an approximation of it.  No reference
# counterpart (the reference is purely lexical); this extends the ANN
# family (sign-LSH / IVF / exact) with the quantized serving form.


def _quant_component(x, absmax):
    """floor(x/absmax*127 + 0.5) — symmetric int8 grid, half-up.
    The shared contract with the DuckDB oracle: identical IEEE double
    expression tree on both sides, then an exact BIGINT."""
    return F.floor(
        x.cast("double") / absmax * F.lit(127.0) + F.lit(0.5)
    ).cast("long")


def corpus_absmax(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row (absmax) frame: the corpus-wide symmetric scale, 0 mapped
    to 1.0 so an all-zero corpus quantizes to zeros instead of NaN.
    One map-side-combining agg over the table."""
    m = embeddings.select(
        F.max(
            F.aggregate(
                F.col(vec_col), F.lit(0.0),
                lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
            )
        ).alias("m")
    )
    return m.select(
        F.when(F.col("m") == 0.0, F.lit(1.0)).otherwise(F.col("m")).alias("absmax")
    )


def quantize_embeddings(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """(id, qvec array<long in [-127, 127]>): int8 symmetric scalar
    quantization on the corpus absmax grid.  The absmax joins in as a
    broadcast 1-row frame (an O(1)-row scalar subquery, the same shape
    as blend_prior's maxes), so the whole thing is ONE plan — no
    driver round trip, no collected literal baked into the lineage."""
    am = corpus_absmax(embeddings, vec_col)
    return embeddings.crossJoin(F.broadcast(am)).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: _quant_component(x, F.col("absmax")),
        ).alias("qvec"),
    )


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )


def ann_int8_topk(embeddings: DataFrame, query_id: int = 0,
                  k: int = 10) -> DataFrame:
    """(vec_id, dot_int, rank): MIPS top-k on the int8 grid — both the
    corpus and the query row (``vec_id = query_id``) quantize on the
    same absmax scale, candidates rank by the exact BIGINT dot product
    (desc, vec_id asc).  Ties cannot flip across engines or
    partitionings: every compared value is an integer.  The top-k is
    an orderBy().limit() — TakeOrderedAndProject, per-partition heaps
    + a k-row driver merge, never a global sort — and the rank column
    is stamped on the k-row result."""
    q = quantize_embeddings(embeddings)
    qv = q.filter(F.col("vec_id") == query_id).select(
        F.col("qvec").alias("q_qvec"))
    scored = q.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        _int_dot(F.col("qvec"), F.col("q_qvec")).alias("dot_int"),
    )
    order = (F.desc("dot_int"), F.asc("vec_id"))
    return scored.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def write_quantized_embeddings(embeddings: DataFrame, path: str,
                               n_planes: int = 8, dim: int = 64) -> None:
    """The stored serving layout: int8 vectors partitioned by sign-LSH
    bucket (the write_bucketed_embeddings directories, 4x smaller
    payload), absmax in a side-car meta so queries quantize on the
    SAME grid the corpus did.  A probe reads only the probed bucket
    directories (partition pruning) and moves byte-sized components."""
    import json
    import os

    q = quantize_embeddings(embeddings)
    b = assign_buckets(embeddings, n_planes, dim).select("vec_id", "bucket")
    (q.join(b, "vec_id")
     .repartition(F.col("bucket"))
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(path, "vectors")))
    absmax = corpus_absmax(embeddings).collect()[0]["absmax"]
    with open(os.path.join(path, "_quant_meta.json"), "w") as fh:
        json.dump({"absmax": absmax, "n_planes": n_planes, "dim": dim}, fh)


def ann_int8_topk_stored(spark, path: str, query_vec: list[float],
                         k: int = 10, probe_hamming: int = 1) -> DataFrame:
    """(vec_id, dot_int, rank) over the stored int8 layout: the query
    quantizes driver-side on the STORED absmax (grid consistency with
    the corpus build), its sign-LSH bucket + neighbors prune the scan
    to the probed directories, and scoring is the same BIGINT dot."""
    import json
    import math
    import os

    with open(os.path.join(path, "_quant_meta.json")) as fh:
        meta = json.load(fh)
    absmax = float(meta["absmax"]) or 1.0
    qq = [int(math.floor(v / absmax * 127.0 + 0.5)) for v in query_vec]
    probe = query_bucket_and_probe(query_vec, int(meta["n_planes"]),
                                   probe_hamming)
    vecs = (
        spark.read.parquet(os.path.join(path, "vectors"))
        .filter(F.col("bucket").isin(probe))
    )
    scored = vecs.select(
        "vec_id",
        _int_dot(F.col("qvec"),
                 F.array(*[F.lit(v).cast("long") for v in qq])).alias("dot_int"),
    )
    order = (F.desc("dot_int"), F.asc("vec_id"))
    return scored.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al. 2011 "Product Quantization
# for Nearest Neighbor Search": split the vector into M subvectors,
# quantize each against a small per-subspace codebook, store M code
# bytes per vector (here 8 codes over 64 dims: 32x smaller than
# float32), and answer queries by ASYMMETRIC distance (ADC) — the
# query stays unquantized, each subspace contributes a precomputed
# query-to-codeword distance, a vector's score is M table lookups.
#
# Codebooks here are the SEED convention this module already uses for
# IVF (the first ksub vectors' subvectors, id-ordered) so the whole
# structure — codes, distance tables, ADC ranking — is a pure
# function of the embeddings table that DuckDB recomputes exactly.
# Swap in per-subspace integer-grid k-means (train_ivf_centroids'
# update rule on each slice) for trained codebooks; the serve path is
# unchanged.
#
# Everything is computed on the 1e-6 integer grid (component micro =
# floor(x*1e6 + 0.5) as BIGINT; squared-L2 distances are exact BIGINT
# sums), so ranks are bit-identical on any engine or partitioning.

PQ_M, PQ_KSUB = 8, 16


def _micro(a):
    import numpy as np

    return np.floor(np.asarray(a, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)


def pq_codebooks(embeddings: DataFrame, m: int = PQ_M,
                 ksub: int = PQ_KSUB, dim: int = 64):
    """[m, ksub, dim//m] int64 micro-grid codebooks from the seed
    vectors (vec_id < ksub, id-ordered — the IVF seed convention)."""
    import numpy as np

    rows = (embeddings.filter(F.col("vec_id") < ksub)
            .select("vec_id", "embedding").collect())
    seeds = np.stack([_micro(r["embedding"])
                      for r in sorted(rows, key=lambda r: r["vec_id"])])
    dsub = dim // m
    return np.stack([seeds[:, s * dsub:(s + 1) * dsub] for s in range(m)])


def pq_encode(embeddings: DataFrame, books) -> DataFrame:
    """(vec_id, codes array<int>) — each subvector's nearest codeword
    by exact BIGINT squared-L2 on the micro grid, ties -> smallest
    code id.  One map-only Arrow pass (the numpy argmin already
    honors the smallest-index tie rule)."""
    import numpy as np

    m, ksub, dsub = books.shape

    def batch(it):
        import pandas as pd

        for pdf in it:
            out = []
            for vec_id, emb in zip(pdf["vec_id"], pdf["embedding"]):
                v = _micro(emb)
                codes = []
                for s in range(m):
                    d = ((books[s] - v[s * dsub:(s + 1) * dsub]) ** 2).sum(axis=1)
                    codes.append(int(np.argmin(d)))
                out.append((int(vec_id), codes))
            yield pd.DataFrame(out, columns=["vec_id", "codes"])

    return embeddings.select("vec_id", "embedding").mapInPandas(
        batch, schema="vec_id long, codes array<int>")


def pq_adc_topk(codes: DataFrame, books, query_vec: list[float],
                k: int = 10) -> DataFrame:
    """(vec_id, adc, rank) — asymmetric-distance top-k over PQ codes.
    The 128-row (subspace, code) -> distance table is a driver-side
    numpy computation broadcast as a literal frame; the serve is
    posexplode(codes) -> broadcast join -> one map-side-combining
    BIGINT sum per vector -> TakeOrderedAndProject.  No UDF, no
    corpus-sized sort; the exchange is m rows of three ints per
    vector, and at 10^12 vectors the codes table IS the index
    (m bytes/vector)."""
    import numpy as np

    m, ksub, dsub = books.shape
    q = _micro(query_vec)
    rows = [(s, c, int(((books[s][c] - q[s * dsub:(s + 1) * dsub]) ** 2).sum()))
            for s in range(m) for c in range(ksub)]
    spark = codes.sparkSession
    dtab = spark.createDataFrame(rows, "s int, code int, d long")
    adc = (
        codes.select("vec_id", F.posexplode("codes").alias("s", "code"))
        .join(F.broadcast(dtab), ["s", "code"])
        .groupBy("vec_id").agg(F.sum("d").cast("long").alias("adc"))
    )
    order = (F.asc("adc"), F.asc("vec_id"))
    return adc.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def write_pq_index(embeddings: DataFrame, path: str, m: int = PQ_M,
                   ksub: int = PQ_KSUB, dim: int = 64) -> None:
    """Store the PQ layout: the codes table (m small ints per vector
    — the 32x-compressed index) plus the codebooks in meta.  At
    corpus scale this is what lives in serving memory; the float
    embeddings stay in cold storage for optional exact rescoring."""
    import json as _json
    import os as _os

    books = pq_codebooks(embeddings, m, ksub, dim)
    pq_encode(embeddings, books).write.mode("overwrite").parquet(
        _os.path.join(path, "codes"))
    with open(_os.path.join(path, "_pq_meta.json"), "w") as fh:
        _json.dump({"m": m, "ksub": ksub, "dim": dim,
                    "books": books.tolist()}, fh)


def pq_topk_stored(spark, path: str, query_vec: list[float],
                   k: int = 10) -> DataFrame:
    """ADC top-k served from the stored PQ layout (codes scan + the
    driver-side distance table) — never touches the float
    embeddings."""
    import json as _json
    import os as _os

    import numpy as np

    with open(_os.path.join(path, "_pq_meta.json")) as fh:
        meta = _json.load(fh)
    books = np.asarray(meta["books"], dtype=np.int64)
    codes = spark.read.parquet(_os.path.join(path, "codes"))
    return pq_adc_topk(codes, books, query_vec, k)


def train_pq_codebooks(embeddings: DataFrame, m: int = PQ_M,
                       ksub: int = PQ_KSUB, dim: int = 64,
                       n_iters: int = 5):
    """Deterministic per-subspace Lloyd's k-means for TRAINED PQ
    codebooks — the same reproducibility discipline as
    :func:`train_ivf_centroids`, applied to each of the m subspaces:

    * init: the seed codebooks (:func:`pq_codebooks` — fixed,
      id-ordered);
    * assignment: :func:`pq_encode`'s own exact BIGINT squared-L2
      argmin (ties -> smallest code), so training and serving share
      one rule;
    * update: each codeword component is the member mean SUMMED ON
      THE 1e-6 INTEGER GRID (BIGINT addition — partitioning-
      independent), floor-divided back to the grid; an emptied
      codeword keeps its position;
    * fixed ``n_iters`` — the result is a pure function of
      (embeddings, m, ksub, n_iters).

    Per iteration: one encode pass (map-only Arrow) + ONE codegen
    posexplode agg keyed (subspace, code, component) — m*ksub*dsub
    rows in the exchange regardless of corpus size."""
    import numpy as np

    books = pq_codebooks(embeddings, m, ksub, dim)
    dsub = dim // m
    for _ in range(n_iters):
        enc = pq_encode(embeddings, books)
        rows = (
            embeddings.join(enc, "vec_id")
            .select(F.col("codes"), F.posexplode("embedding").alias("pos", "v"))
            .select(
                (F.col("pos") / dsub).cast("int").alias("s"),
                (F.col("pos") % dsub).alias("p"),
                F.element_at("codes",
                             (F.col("pos") / dsub).cast("int") + 1).alias("code"),
                F.floor(F.col("v").cast("double") * 1e6 + 0.5)
                .cast("long").alias("vm"),
            )
            .groupBy("s", "code", "p")
            .agg(F.sum("vm").alias("sm"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        new = books.copy()
        for r in rows:
            if r["c"]:
                new[r["s"], r["code"], r["p"]] = r["sm"] // r["c"]
        books = new
    return books
