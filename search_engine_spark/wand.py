"""Block-max WAND top-k scorer (SURVEY.md §7 step 7).

The reference ranker scores every candidate document
(Ranker.java:27-52, no pruning); this module adds the top-k pushdown
Spark cannot express relationally: a per-shard scorer that uses the
per-block score upper bounds stored at pack time to skip postings
blocks that cannot reach the current top-k floor.

Algorithm (conservative block-max WAND, exact w.r.t. the full scorer):

1. Per shard, unpack the query terms' posting lists.
2. Bootstrap a lower bound θ on the k-th best score from the single
   term with the highest upper bound: its per-posting blended
   contribution is a lower bound on those docs' full scores, so the
   k-th largest of them is a sound θ.
3. Drop every block b of term t where
   ``block_max_t(b) + Σ_{t'≠t} U_{t'} < θ`` (U = term-level max):
   no document whose *only* surviving appearances are in dropped
   blocks can beat θ.
4. Exactly score the union of docs in surviving blocks (vectorized
   searchsorted joins into the full arrays) and take the per-shard
   top-k by score, keeping every candidate TIED with the k-th score
   (the global merge tie-breaks by url asc, which a shard cannot see:
   with incremental segments local_id order is not url order).

Per-shard top-k-with-ties under score order contains the global
top-k's members in that shard, so merging per-shard results is exact.
The shard fan-out/merge is the standard web-search architecture: at
10^12 docs each shard holds a bounded slice of every posting list,
and only k rows per shard leave the executor — no per-posting shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .codec import bm25_contribution, decode_rows
from .searcher import BATCH_SCHEMA, empty, idf_by_term, topk, topk_by_qid

WAND_OUT_SCHEMA = "shard int, local_id long, score double"


def _decode_rows(
    group: pd.DataFrame,
    idf_by_key: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    blend_a: float,
    blend_b: float,
    scale_by_key: dict[str, float] | None,
    deleted_ids: np.ndarray | None,
) -> list[tuple[str, dict]]:
    """Decode every (term, segment) posting row of a shard group into
    the WAND term entries, ONCE — the expensive part (varint/delta
    decode + BM25 contribution) is query-independent, so the batched
    scorer shares these entries across every query touching the term.
    The whole group decodes in one :func:`codec.decode_rows` pass; each
    entry is a slice of its flat arrays."""
    d = decode_rows(group["n"], group["doc_ids"], tfs=group["tfs"],
                    lens=group["lens"], imps=group["imps"],
                    block_last=group["block_last"], block_max=group["block_max"])
    keys = group["term_key"].tolist()
    idf = np.repeat(np.array([idf_by_key[key] for key in keys], dtype=np.float64), d["n"])
    contrib = bm25_contribution(d["tfs"], d["lens"], idf, k1, b, avgdl)
    blended_all = blend_a * contrib + blend_b * np.where(d["imps"], 1.2, 1.0)
    rows, blocks = np.cumsum(d["n"])[:-1], np.cumsum(d["n_blocks"])[:-1]
    out: list[tuple[str, dict]] = []
    for key, ids, blended, block_last, block_max in zip(
            keys, np.split(d["doc_ids"].astype(np.int64), rows), np.split(blended_all, rows),
            np.split(d["block_last"].astype(np.int64), blocks),
            np.split(d["block_max"].astype(np.float64), blocks)):
        if deleted_ids is not None and deleted_ids.size:
            # tombstones (incremental.delete_documents): mask deleted
            # postings BEFORE the θ bootstrap — a deleted doc's score
            # must never raise θ, or a live top-k doc whose blocks it
            # shadows could be pruned.  Block boundaries (block_last)
            # are doc-id ranges, so they still partition the filtered
            # array via searchsorted; block_max stays a sound (looser)
            # upper bound for the surviving postings.
            live = np.isin(ids, deleted_ids, invert=True, assume_unique=False)
            if not live.all():
                ids, blended = ids[live], blended[live]
                if ids.size == 0:
                    continue
        # incremental segments: baked bounds are stale after later
        # adds shift idf/avgdl; the dictionary's accumulated per-term
        # bound_scale re-bounds them (incremental.py).  inf (the
        # idf-was-zero case) means "never skip this term's blocks" —
        # written directly to dodge 0*inf=nan.
        scale = (scale_by_key or {}).get(key, 1.0)
        if not np.isfinite(scale):
            block_max = np.full_like(block_max, np.inf)
        elif scale != 1.0:
            block_max = block_max * scale
        out.append((key, {
            "ids": ids, "blended": blended,
            "block_last": block_last, "block_max": block_max,
            "upper": float(block_max.max()) if block_max.size else 0.0,
        }))
    return out


def _wand_topk(terms: list[dict], k: int, shard: int) -> pd.DataFrame:
    """Steps 2-4 of the module docstring over pre-decoded term entries:
    θ bootstrap, block pruning, exact candidate scoring, per-shard
    top-k with score ties kept."""
    if not terms:
        return pd.DataFrame({"shard": [], "local_id": [], "score": []})

    uppers = np.array([t["upper"] for t in terms])
    total_upper = uppers.sum()

    # 2. bootstrap θ from the strongest term's own contributions
    best = terms[int(np.argmax(uppers))]
    if best["blended"].size >= k:
        theta = float(np.partition(best["blended"], -k)[-k])
    else:
        theta = 0.0

    # 3. block-level pruning; collect surviving candidate doc ids
    cand_parts = []
    for ti, t in enumerate(terms):
        # inf - inf (a bound_scale-inf term) is handled explicitly just
        # below; errstate silences numpy's warning for that defined case
        with np.errstate(invalid="ignore"):
            others = total_upper - uppers[ti]
        if np.isnan(others):
            # inf - inf: this row's own upper is inf, so its block_max
            # are inf too and every block survives regardless of others
            others = np.inf
        keep = (t["block_max"] + others) >= theta
        if keep.all():
            cand_parts.append(t["ids"])
            continue
        # block boundaries over the posting array
        n = t["ids"].size
        bounds = np.searchsorted(t["ids"], t["block_last"], side="right")
        starts = np.concatenate(([0], bounds[:-1]))
        for bi in np.nonzero(keep)[0]:
            cand_parts.append(t["ids"][starts[bi] : bounds[bi]])
    if not cand_parts:
        return pd.DataFrame({"shard": [], "local_id": [], "score": []})
    cands = np.unique(np.concatenate(cand_parts))

    # 4. exact scores for the candidates
    scores = np.zeros(cands.size, dtype=np.float64)
    for t in terms:
        pos = np.searchsorted(t["ids"], cands)
        pos_c = np.minimum(pos, t["ids"].size - 1)
        hit = t["ids"][pos_c] == cands
        scores[hit] += t["blended"][pos_c[hit]]

    if cands.size > k:
        # keep EVERY candidate tied with the k-th best score, not
        # exactly k rows: the global merge breaks score ties by url
        # asc, and once incremental segments exist local_id order is
        # NOT url order (appended docs take ids above the shard max) —
        # truncating at k could keep the wrong tied doc and break
        # rank-identity with the exhaustive scorer.  The overshoot is
        # bounded by the number of docs sharing one float score.
        kth = np.partition(scores, -k)[-k]
        keep = scores >= kth
        cands, scores = cands[keep], scores[keep]
    order = np.lexsort((cands, -scores))
    return pd.DataFrame({
        "shard": np.full(order.size, shard, dtype=np.int32),
        "local_id": cands[order],
        "score": scores[order],
    })


def _score_shard(
    group: pd.DataFrame,
    idf_by_key: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    blend_a: float,
    blend_b: float,
    scale_by_key: dict[str, float] | None = None,
    deleted_ids: np.ndarray | None = None,
) -> pd.DataFrame:
    decoded = _decode_rows(group, idf_by_key, k1, b, avgdl, blend_a, blend_b,
                           scale_by_key, deleted_ids)
    if not decoded:
        return pd.DataFrame({"shard": [], "local_id": [], "score": []})
    shard = int(group["shard"].iloc[0])
    return _wand_topk([t for _, t in decoded], k, shard)


def _score_shard_batch(
    group: pd.DataFrame,
    qid_terms: dict[str, list[str]],
    idf_by_key: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    blend_a: float,
    blend_b: float,
    scale_by_key: dict[str, float] | None = None,
    deleted_ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """Batched per-shard WAND: decode each (term, segment) row of the
    UNION of all queries' terms once, then run θ/prune/score per query
    over its subset — the decode + BM25-contribution cost (dominant)
    is paid once no matter how many queries share a term."""
    decoded = _decode_rows(group, idf_by_key, k1, b, avgdl, blend_a, blend_b,
                           scale_by_key, deleted_ids)
    if not decoded:
        return pd.DataFrame({"qid": [], "shard": [], "local_id": [], "score": []})
    shard = int(group["shard"].iloc[0])
    by_key: dict[str, list[dict]] = {}
    for key, t in decoded:
        by_key.setdefault(key, []).append(t)
    parts = []
    for qid, keys in qid_terms.items():
        terms = [t for key in keys for t in by_key.get(key, [])]
        res = _wand_topk(terms, k, shard)
        if len(res):
            res.insert(0, "qid", qid)
            parts.append(res)
    if not parts:
        return pd.DataFrame({"qid": [], "shard": [], "local_id": [], "score": []})
    return pd.concat(parts, ignore_index=True)


def wand_search(engine, query: str, k: int | None = None) -> DataFrame:
    """Block-max WAND top-k; rank-identical to ``SearchEngine.search``
    (asserted in tests)."""
    k = k or engine.cfg.top_k
    resolved = engine.resolve_terms(engine.parse_query(query))
    if resolved.empty:
        return empty(engine.spark)
    idf_by_key = idf_by_term(resolved)
    scale_by_key = dict(zip(resolved["term_key"], resolved["bound_scale"].astype(float)))
    meta = engine.meta
    k1, b, avgdl = meta["k1"], meta["b"], meta["avgdl"]
    blend_a, blend_b = meta["blend_bm25"], meta["blend_bonus"]

    def shard_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_shard(pdf, idf_by_key, k, k1, b, avgdl, blend_a, blend_b,
                            scale_by_key)

    scan = engine._scan_index(resolved).select(
        "term_key", "shard", "n", "doc_ids", "tfs", "lens", "imps",
        "block_last", "block_max",
    )
    deleted = engine.deleted_docs()
    if deleted is None:
        per_shard = scan.groupBy("shard").applyInPandas(shard_fn, schema=WAND_OUT_SCHEMA)
    else:
        # tombstoned index: ship each shard's deleted local_ids to its
        # scorer via cogroup, co-partitioned on shard
        def shard_fn_del(pdf: pd.DataFrame, dele: pd.DataFrame) -> pd.DataFrame:
            return _score_shard(
                pdf, idf_by_key, k, k1, b, avgdl, blend_a, blend_b, scale_by_key,
                np.sort(dele["local_id"].to_numpy(dtype=np.int64)))

        per_shard = (
            scan.groupBy("shard")
            .cogroup(deleted.groupBy("shard"))
            .applyInPandas(shard_fn_del, schema=WAND_OUT_SCHEMA)
        )
    return topk(per_shard.join(engine._doc_map(), ["shard", "local_id"]), k,
                cols=("url", "score"))


WAND_BATCH_OUT_SCHEMA = "qid string, shard int, local_id long, score double"


def wand_search_batch(engine, queries: list[tuple[str, str]],
                      k: int | None = None) -> DataFrame:
    """All queries through block-max WAND in ONE job — rank-identical
    to ``SearchEngine.search_batch`` (asserted in tests).

    One pruned index scan over the union of the queries' terms; inside
    each shard group the posting rows are decoded and BM25-weighted
    once (``_decode_rows``), then θ-bootstrap/prune/score runs per
    query over its term subset — so at production query rates the
    dominant cost (block decode + contribution) amortizes across the
    batch instead of being paid per query.  Only ≤ ~k rows per (query,
    shard) leave the executors; the final per-query top-k is a window
    partitioned BY QID (never a global sort)."""
    k = k or engine.cfg.top_k
    # accumulate (not overwrite) per qid: search_batch scores a
    # repeated qid over the UNION of its queries' terms, and
    # rank-identity requires the same here
    raw: dict[str, list[str]] = {}
    for qid, q in queries:
        raw.setdefault(qid, []).extend(engine.parse_query(q))
    resolved = engine.resolve_terms(sorted({t for ts in raw.values() for t in ts}))
    matched = set(resolved["term_key"])
    qid_terms = {qid: sorted({t for t in ts if t in matched})
                 for qid, ts in raw.items()}
    qid_terms = {qid: ts for qid, ts in qid_terms.items() if ts}
    if not qid_terms:
        return empty(engine.spark, BATCH_SCHEMA)
    idf_by_key = idf_by_term(resolved)
    scale_by_key = dict(zip(resolved["term_key"], resolved["bound_scale"].astype(float)))
    meta = engine.meta
    k1, b, avgdl = meta["k1"], meta["b"], meta["avgdl"]
    blend_a, blend_b = meta["blend_bm25"], meta["blend_bonus"]

    scan = engine._scan_index(resolved).select(
        "term_key", "shard", "n", "doc_ids", "tfs", "lens", "imps",
        "block_last", "block_max",
    )
    deleted = engine.deleted_docs()
    if deleted is None:
        def shard_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return _score_shard_batch(pdf, qid_terms, idf_by_key, k, k1, b,
                                      avgdl, blend_a, blend_b, scale_by_key)

        per_shard = scan.groupBy("shard").applyInPandas(
            shard_fn, schema=WAND_BATCH_OUT_SCHEMA)
    else:
        def shard_fn_del(pdf: pd.DataFrame, dele: pd.DataFrame) -> pd.DataFrame:
            return _score_shard_batch(
                pdf, qid_terms, idf_by_key, k, k1, b, avgdl, blend_a, blend_b,
                scale_by_key,
                np.sort(dele["local_id"].to_numpy(dtype=np.int64)))

        per_shard = (
            scan.groupBy("shard")
            .cogroup(deleted.groupBy("shard"))
            .applyInPandas(shard_fn_del, schema=WAND_BATCH_OUT_SCHEMA)
        )
    return topk_by_qid(per_shard.join(engine._doc_map(), ["shard", "local_id"]), k)
