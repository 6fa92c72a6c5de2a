"""Query engine: BM25 top-k over the packed index (SURVEY.md §3.2/3.3).

Every BM25 top-k, single-query and batch, ends in one scoring tail:

  driver-side query parse (same kernels as the build)
  -> dictionary lookup pruned by (bucket, term_key) pushdown
  -> index scan pruned the same way (partition dirs + parquet
     row-group stats; the Spark equivalent of the reference's
     bucket-file + line-pointer seek, Searcher.java:278-304)
  -> Arrow unpack UDF (one codec.decode_rows pass per batch)
     -> per-(doc,term) contributions        (SearchEngine._postings)
  -> the variant's per-posting transform (boosts, must/msm gates,
     allowed-set semi-joins, ...)
  -> hash agg per doc -> blended score -> join doc_map for urls
     (R1-R3; SearchEngine._doc_scores, the one reader of the blend
     weights through SearchEngine._blend)
  -> deterministic top-k cut with 1-based ranks (R4/K4: score desc,
     url asc — quirks Q2/Q4 resolved as documented in SURVEY §2.9;
     topk, or topk_by_qid for a batch)

Control crosses driver -> executors once per search call; the resolved
term rows (a handful) ride along in UDF closures, never a shuffle.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .codec import bm25_contribution, decode_rows
from .config import DEFAULT, EngineConfig
from .incremental import (
    TOMBSTONE_SCHEMA,
    _check_no_pending,
    read_tombstones,
    tombstone_join,
)
from .indexer import IndexPaths
from .textproc import parse_doc

UNPACKED_SCHEMA = (
    "term_key string, shard int, local_id long, contrib double, bonus double"
)
TOPK_SCHEMA = "url string, score double, rank int"  # every (url, score) top-k frame
BATCH_SCHEMA = "qid string, rank int, url string, score double"  # per-qid top-k

_UNSET = object()  # lazy-cache sentinel (a DataFrame must not be truth-tested)


def idf_by_term(resolved: pd.DataFrame) -> dict[str, float]:
    """term_key -> idf over :meth:`SearchEngine.resolve_terms` rows."""
    return dict(zip(resolved["term_key"], resolved["idf"].astype(float)))


def empty(spark: SparkSession, schema: str = TOPK_SCHEMA) -> DataFrame:
    """An empty ``schema`` frame that collects with no Spark job: the
    zero-row limit plans as an empty local relation, where a bare
    ``createDataFrame([])`` scans a parallelized RDD in one job."""
    return spark.createDataFrame([], schema).limit(0)


def topk(frame: DataFrame, k: int, order: tuple[Column, ...] | None = None,
         cols: tuple[str, ...] = ()) -> DataFrame:
    """The first ``k`` rows of ``frame`` under the total ``order``
    (default score desc, url asc), as ``cols`` (default every column)
    plus a 1-based ``rank``.  orderBy+limit plans as
    TakeOrderedAndProject (per-partition heaps, k rows total, projected
    to ``cols``); the row_number window above it ranks only those k
    rows, by the same order and in the same execution as the cut, so
    no rank can disagree with the row order it is attached to."""
    order = order or (F.desc("score"), F.asc("url"))
    cut = frame.orderBy(*order).limit(k)
    return (cut.select(*cols) if cols else cut).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)))


def topk_by_qid(frame: DataFrame, k: int) -> DataFrame:
    """Per-query :func:`topk` of a (qid, url, score) frame as
    (qid, rank, url, score): a window partitioned by qid ranks each
    query's docs (score desc, url asc) — never a global sort."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
    return (frame.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "url", "score"))


def _decode_scan(scan: DataFrame, cols: tuple[str, ...],
                 project: Callable[[pd.DataFrame, dict], pd.DataFrame],
                 schema: str) -> DataFrame:
    """The index rows of ``scan`` decoded one Arrow batch at a time by
    :func:`codec.decode_rows` (blob columns ``cols``), then shaped into
    ``schema`` rows by ``project(batch, decoded)``.  ``decoded`` also
    holds each posting's ``term_key`` and ``shard``."""

    def unpack_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            d = decode_rows(pdf["n"], **{c: pdf[c] for c in cols})
            d["term_key"] = np.repeat(pdf["term_key"].to_numpy(), d["n"])
            d["shard"] = np.repeat(pdf["shard"].to_numpy(np.int32), d["n"])
            yield project(pdf, d)

    return scan.select("term_key", "shard", "n", *cols).mapInPandas(
        unpack_batch, schema=schema)


def split_query_string(qs: str) -> tuple[list[str], list[str], list[str],
                                         list[str], list[str]]:
    """Lucene-QueryParser-style clause split, shared driver-side
    kernel of ``SearchEngine.query_string_search`` and its twin:
    ``\"...\"`` quoted phrases, ``+tok`` MUST, ``-tok`` MUST_NOT,
    trailing ``tok*`` wildcards, bare tokens SHOULD.  Returns
    (phrases, must, should, must_not, prefixes); prefixes are
    lowercased with the ``*`` stripped.  ``+tok*`` / ``-tok*``
    (required/excluded wildcards — a nested OR inside a MUST clause)
    are rejected rather than silently mis-scored."""
    import re

    phrases: list[str] = []
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    prefixes: list[str] = []
    for c in re.findall(r'"[^"]*"|\S+', qs):
        if c.startswith('"') and c.endswith('"') and len(c) >= 2:
            if c[1:-1].strip():
                phrases.append(c[1:-1])
        elif c[0] in "+-" and c.endswith("*") and len(c) > 2:
            raise ValueError(
                f"clause {c!r}: required/excluded wildcards are not "
                "supported (a wildcard is an OR over its expansions; "
                "nesting it under +/- needs per-expansion gating)")
        elif c.startswith("+") and len(c) > 1:
            must.append(c[1:])
        elif c.startswith("-") and len(c) > 1:
            must_not.append(c[1:])
        elif c.endswith("*") and len(c) > 1:
            prefixes.append(c[:-1].lower())
        elif c not in ("+", "-", "*"):
            should.append(c)
    return phrases, must, should, must_not, prefixes


_TREE_KEYWORDS = {"AND", "OR", "NOT"}


def parse_boolean_tree(qs: str) -> dict:
    """Parenthesized Lucene-QueryParser boolean syntax -> a
    :meth:`SearchEngine.tree_search` tree.  Grammar (NOT binds
    tightest, then AND, then OR; juxtaposition is OR — Lucene's
    default operator):

        expr    := and ( [OR] and )*
        and     := unary ( (AND unary) | (NOT unary) )*
        unary   := NOT unary | atom
        atom    := '(' expr ')' | term

    ``a NOT b`` without an explicit AND binds as and-not, exactly
    Lucene.  Pure-negative (sub)queries are refused (Lucene's match
    nothing); the flat-syntax markers (``+``/``-``/``*``/quotes) are
    refused inside tree mode with a pointer to the flat dispatch.
    Driver-side deterministic kernel, pytest-golden like
    split_query_string."""
    import re

    toks = re.findall(r'[()]|[^\s()]+', qs)
    i = [0]

    def peek():
        return toks[i[0]] if i[0] < len(toks) else None

    def take():
        t = peek()
        i[0] += 1
        return t

    def atom() -> dict:
        t = peek()
        if t == "(":
            take()
            node = expr()
            if take() != ")":
                raise ValueError(f"unbalanced parentheses in {qs!r}")
            return node
        if t is None or t == ")" or t in _TREE_KEYWORDS:
            raise ValueError(f"expected a term or '(' at {t!r} in {qs!r}")
        take()
        if t[0] in "+-" or t.endswith("*") or '"' in t:
            raise ValueError(
                f"clause {t!r}: +must/-not/wildcard/phrase markers belong "
                "to the flat query-string syntax, not boolean-tree mode")
        return {"term": t}

    def unary() -> tuple[bool, dict]:
        if peek() == "NOT":
            take()
            neg, node = unary()
            return (not neg, node)
        return (False, atom())

    def and_expr() -> dict:
        ops = [unary()]
        while peek() in ("AND", "NOT"):
            if peek() == "AND":
                take()
            ops.append(unary())
        pos = [n for neg, n in ops if not neg]
        neg = [n for neg, n in ops if neg]
        if not pos:
            raise ValueError(
                f"pure-negative clause in {qs!r} matches nothing (Lucene "
                "refuses it too) — add a positive term")
        node = pos[0] if len(pos) == 1 else {"op": "and", "kids": pos}
        if neg:
            node = {"op": "andnot", "kids": [node] + neg}
        return node

    def expr() -> dict:
        kids = [and_expr()]
        while True:
            t = peek()
            if t == "OR":
                take()
                kids.append(and_expr())
            elif t is not None and t != ")":
                kids.append(and_expr())  # juxtaposition = OR (default op)
            else:
                break
        return kids[0] if len(kids) == 1 else {"op": "or", "kids": kids}

    if not toks:
        raise ValueError("empty boolean-tree query")
    out = expr()
    if i[0] != len(toks):
        raise ValueError(f"unbalanced parentheses in {qs!r}")
    return out


def is_tree_syntax(qs: str) -> bool:
    """True when the query string uses boolean-tree syntax (parens or
    an uppercase AND/OR/NOT operator token)."""
    import re

    if "(" in qs or ")" in qs:
        return True
    return any(t in _TREE_KEYWORDS for t in re.findall(r"\S+", qs))


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str, cfg: EngineConfig = DEFAULT,
                 city_docs: DataFrame | None = None,
                 deleted_urls: list[str] | None = None):
        """``city_docs``: optional (city, url) dimension — the
        reference's ``<F P=104>`` doc tags (ReadFile.java:99-120);
        when present, a city filter unions these docs with posting
        membership (Searcher.java:315-327).

        ``deleted_urls``: optional in-memory tombstone overlay,
        unioned with the index's persisted tombstone table
        (``incremental.delete_documents``) — lets a session preview
        deletes without mutating a shared index dir."""
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.cfg = cfg
        # refuse an index whose segment append died mid-mutation: the
        # derived tables may disagree (grown doc_stats, old meta, or a
        # swapped dictionary with unpacked postings) and would score
        # silently wrong.  compact/refresh rebuilds from raw and clears
        # the marker.
        _check_no_pending(self.paths)
        with open(self.paths.meta) as fh:
            self.meta = json.load(fh)
        self._stop = cfg.stop_set()
        self.city_docs = city_docs
        self._overlay_deleted = sorted(set(deleted_urls)) if deleted_urls else []
        self.refresh()

    def refresh(self) -> None:
        """(Re)open the index tables.  The dictionary/doc-map/index
        DataFrames are created once per engine: re-planning
        spark.read.parquet per resolve_terms call cost a schema-
        discovery round trip on every query (q/s, not correctness).
        The DataFrames are lazy — nothing is cached in memory and
        (bucket, term_key) pushdown still prunes scans — but their
        parquet FILE LISTING is frozen at creation, so after
        ``streaming.ingest.refresh_index`` (or any rebuild) call
        ``refresh()`` (or construct a new engine): the old frames
        point at replaced part files."""
        with open(self.paths.meta) as fh:
            self.meta = json.load(fh)
        self._dictionary = self.spark.read.parquet(self.paths.dictionary)
        self._doc_stats = self.spark.read.parquet(self.paths.doc_stats)
        self._index = self.spark.read.parquet(self.paths.index)
        self._deleted_plan: DataFrame | None | object = _UNSET

    # -- tombstones ----------------------------------------------------------
    def _tombstone_rows(self) -> DataFrame | None:
        """Distinct tombstone rows ``(url, gen)``: the index's
        persisted table (incremental.delete_documents /
        update_documents) ∪ the constructor overlay.  ``gen`` NULL
        kills every version of the url (a delete); a non-null gen
        kills exactly that superseded version, leaving the url's
        replacement live (an update).  None when there are no deletes
        (the common case — every query path then skips its anti-join
        entirely)."""
        parts: list[DataFrame] = []
        if os.path.isdir(self.paths.tombstones):
            parts.append(read_tombstones(self.spark, self.paths))
        if self._overlay_deleted:
            parts.append(self.spark.createDataFrame(
                [(u, None) for u in self._overlay_deleted], TOMBSTONE_SCHEMA))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def deleted_docs(self) -> DataFrame | None:
        """(shard, local_id) of tombstoned doc VERSIONS, or None when
        no live doc is tombstoned.  Lucene visibility semantics:
        deleted docs leave every result immediately, while corpus
        stats (N, df, avgdl) stay as-packed until ``compact_index``
        purges — so surviving docs' scores are bit-identical to their
        pre-delete scores.

        The mask is resolved once per :meth:`refresh` and collected to
        the driver: it is delta-sized, because compaction bounds it.
        Rebuilt from pandas it plans as a sized local relation, so
        every anti-join against it broadcasts at plan time instead of
        shuffling the posting side first."""
        if self._deleted_plan is _UNSET:
            plan = None
            rows = self._tombstone_rows()
            if rows is not None:
                mask = tombstone_join(
                    self._doc_stats.select("url", "gen", "shard", "local_id"),
                    rows, "left_semi",
                ).select("shard", "local_id").distinct().toPandas()
                if not mask.empty:
                    plan = self.spark.createDataFrame(
                        mask, "shard int, local_id long")
            self._deleted_plan = plan
        return self._deleted_plan

    def _drop_deleted(self, df: DataFrame) -> DataFrame:
        """Anti-join a (shard, local_id)-keyed frame against the
        tombstone mask; no-op (no added plan nodes) when none exist."""
        dead = self.deleted_docs()
        if dead is None:
            return df
        return df.join(dead, ["shard", "local_id"], "left_anti")

    @property
    def dictionary(self) -> DataFrame:
        """The packed index's term dictionary (term_key, df, cf, idf,
        capital, display, ...) as a lazy DataFrame — the S5 source
        surfaced for read-only consumers (suggest box, spell index,
        vocabulary exports).  Point lookups should go through
        resolve_terms (bucket-pruned); full-vocab derivations (e.g.
        write_autocomplete_index / write_suggest_index) read this."""
        return self._dictionary

    # -- term resolution ----------------------------------------------------
    def parse_query(self, query: str) -> list[str]:
        """title@desc split + the shared parse kernels; returns the
        union of title and desc term keys (F3 membership happens
        against the dictionary next)."""
        if "@" in query:
            desc = query[query.index("@") + 1 :].lower()
            title = query[: query.index("@")]
        else:
            desc, title = "", query
        keys = set(parse_doc(title, self._stop, self.meta["stem"]))
        keys |= set(parse_doc(desc + " ", self._stop, self.meta["stem"]))
        return sorted({k.lower() for k in keys})

    def resolve_terms(self, term_keys: list[str]) -> pd.DataFrame:
        """Dictionary rows for the query's terms only — a pruned scan
        (bucket partition dirs + term_key row-group stats), collected
        to the driver: the broadcast-the-query-not-the-dictionary
        pattern (SURVEY §4: the full dictionary is too big at 10^12
        docs; the query's rows are tiny)."""
        # bound_scale: the accumulated WAND bound inflation per term
        # (incremental.py); 1.0 while the bounds are exact
        cols = ["term_key", "df", "cf", "idf", "bucket", "bound_scale"]
        if not term_keys:
            return pd.DataFrame(columns=cols)
        return (
            self._dictionary.filter(F.col("term_key").isin(term_keys))
            .select(*cols)
            .toPandas()
        )

    # -- scoring --------------------------------------------------------------
    def _scan_index(self, resolved: pd.DataFrame) -> DataFrame:
        buckets = sorted({int(b) for b in resolved["bucket"]})
        keys = sorted(resolved["term_key"])
        return self._index.filter(
            F.col("bucket").isin(buckets) & F.col("term_key").isin(keys)
        )

    def _postings(self, term_keys: list[str]) -> DataFrame | None:
        """Scored, tombstone-masked per-posting rows (UNPACKED_SCHEMA)
        of the terms that resolve — resolve, pruned scan, unpack,
        anti-join; None when no term resolves."""
        resolved = self.resolve_terms(term_keys)
        return None if resolved.empty else self._resolved_postings(resolved)

    def _resolved_postings(self, resolved: pd.DataFrame) -> DataFrame:
        """:meth:`_postings` over dictionary rows already resolved."""
        return self._drop_deleted(
            self._unpack(self._scan_index(resolved), idf_by_term(resolved)))

    def _unpack(self, scan: DataFrame, idf_by_key: dict[str, float],
                avgdl: float | None = None) -> DataFrame:
        """``avgdl`` overrides the index's own collection stat — the
        federated multi-index path passes the GLOBAL average doc
        length so every member index scores on the same norm
        (federated.py); every single-index path leaves it None."""
        k1, b = self.meta["k1"], self.meta["b"]
        avgdl = self.meta["avgdl"] if avgdl is None else float(avgdl)

        def scored(pdf: pd.DataFrame, d: dict) -> pd.DataFrame:
            idf = np.repeat(pdf["term_key"].map(idf_by_key).to_numpy(np.float64), d["n"])
            return pd.DataFrame({
                "term_key": d["term_key"],
                "shard": d["shard"],
                "local_id": d["doc_ids"].astype(np.int64),
                "contrib": bm25_contribution(d["tfs"], d["lens"], idf, k1, b, avgdl),
                "bonus": np.where(d["imps"], 1.2, 1.0),
            })

        return _decode_scan(scan, ("doc_ids", "tfs", "lens", "imps"), scored,
                            UNPACKED_SCHEMA)

    def _unpack_tf(self, scan: DataFrame) -> DataFrame:
        """Raw per-posting rows (term_key, shard, local_id, tf, dl,
        important) — the pre-scoring form of :meth:`_unpack`, for
        paths that must combine term frequencies ACROSS terms before
        the BM25 saturation (synonym groups blend tf first; scoring
        per member and summing would double-saturate)."""

        def raw(pdf: pd.DataFrame, d: dict) -> pd.DataFrame:
            return pd.DataFrame({
                "term_key": d["term_key"],
                "shard": d["shard"],
                "local_id": d["doc_ids"].astype(np.int64),
                "tf": d["tfs"].astype(np.int64),
                "dl": d["lens"].astype(np.int64),
                "important": d["imps"],
            })

        return _decode_scan(
            scan, ("doc_ids", "tfs", "lens", "imps"), raw,
            "term_key string, shard int, local_id long, "
            "tf long, dl long, important boolean")

    def synonym_search(self, query: str, synonyms: DataFrame,
                       k: int | None = None) -> DataFrame:
        """Query-time synonym expansion with Lucene ``SynonymQuery``
        semantics: each query term and its synonyms form ONE group
        scored as a single pseudo-term — term frequencies are summed
        ACROSS members BEFORE the BM25 saturation (so a doc saying
        "car car automobile" saturates like tf=3 of one term, not as
        two independently-saturating terms), and the group's idf is
        the MINIMUM member idf (= the maximum document frequency:
        Lucene's blended docFreq, which keeps a rare synonym from
        smuggling a huge idf into a common concept).  The importance
        bonus is per group per doc — 1.2 if ANY member occurrence is
        important, the same one-pseudo-term rule.

        ``synonyms`` is a (term, syn) DataFrame — the Solr/ES
        synonyms file as a table; lookups match the RAW query tokens
        case-insensitively and each synonym runs through the ordinary
        analyzer (stem + stop-word drop), exactly like an ES
        synonym_graph filter.  A term with no synonym rows scores
        precisely as in :meth:`search` (a 1-member group blends to
        the plain formula).

        Plan shape at scale: the synonym fetch is a driver-side
        lookup of |query tokens| keys against the synonyms table
        (bounded collect — the per-query rows, not the table); the
        posting scan is pruned over the expanded key set; the member
        → group mapping joins a query-sized frame (AQE broadcasts
        it); the group blend is ONE extra map-side-combining agg on
        (group, doc) keyed exactly like the score agg that follows.
        Never a corpus pass."""
        k = k or self.cfg.top_k
        toks = sorted({t.lower() for t in query.split() if t})
        lookup: dict[str, list[str]] = {}
        if toks:
            for r in (synonyms
                      .filter(F.lower(F.col("term")).isin(toks))
                      .select(F.lower(F.col("term")).alias("t"),
                              F.col("syn").alias("s"))
                      .collect()):
                lookup.setdefault(r["t"], []).append(r["s"])
        groups: dict[str, set[str]] = {}
        for tok in toks:
            keys = self.parse_query(tok)
            if not keys:
                continue  # stop word / empty after analysis
            members = set(keys)
            for syn in lookup.get(tok, []):
                members |= set(self.parse_query(syn))
            groups.setdefault(keys[0], set()).update(members)
        if not groups:
            return empty(self.spark)
        all_keys = sorted(set().union(*groups.values()))
        resolved = self.resolve_terms(all_keys)
        if resolved.empty:
            return empty(self.spark)
        idf_by_key = idf_by_term(resolved)
        # group idf = min member idf (= max df) over the members that
        # actually resolve; groups with no resolved member drop out
        g_idf: dict[str, float] = {}
        mem_rows: list[tuple[str, str]] = []
        for gid in sorted(groups):
            present = sorted(m for m in groups[gid] if m in idf_by_key)
            if not present:
                continue
            g_idf[gid] = min(idf_by_key[m] for m in present)
            mem_rows.extend((m, gid) for m in present)
        if not mem_rows:
            return empty(self.spark)
        mem = self.spark.createDataFrame(
            mem_rows, "term_key string, gid string")
        idf_map = F.create_map(
            *[F.lit(x) for gid in sorted(g_idf) for x in (gid, g_idf[gid])])
        k1, b = self.meta["k1"], self.meta["b"]
        avgdl = self.meta["avgdl"]
        per = self._drop_deleted(
            self._unpack_tf(self._scan_index(resolved)))
        blended = (
            per.join(mem, "term_key")
            .groupBy("gid", "shard", "local_id")
            .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"),
                 F.max("important").alias("important"))
        )
        tf = F.col("tf").cast("double")
        norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                                 + F.lit(b) * (F.col("dl").cast("double")
                                               / F.lit(avgdl)))
        scored = blended.select(
            "shard", "local_id",
            # same multiply order as codec.bm25_contribution, so a
            # 1-member group reproduces the plain path bit for bit
            (F.lit(k1 + 1.0) * tf * idf_map[F.col("gid")] / norm)
            .alias("contrib"),
            F.when(F.col("important"), F.lit(1.2)).otherwise(F.lit(1.0))
            .alias("bonus"),
        )
        return topk(self._doc_scores(scored), k)

    def _doc_map(self) -> DataFrame:
        return self._doc_stats.select("shard", "local_id", "url")

    def _city_doc_set(self, cities: list[str]) -> DataFrame | None:
        """F2/J4/U2: the allowed-doc set for a city filter = (docs on
        any city term's posting list) ∪ (docs tagged with the city in
        the ``city_docs`` dimension) — the full reference semantics
        (docsByCities, Searcher.java:311-328: posting membership plus
        the <F P=104> tags from ReadFile.java:99-120).  Returns
        (shard, local_id) rows, or None when nothing matches."""
        keys = sorted({c.lower() for c in cities if c})
        parts: list[DataFrame] = []
        members = self._postings(keys)
        if members is not None:
            parts.append(members.select("shard", "local_id"))
        if self.city_docs is not None and keys:
            tagged = (
                self.city_docs.filter(F.lower(F.col("city")).isin(keys))
                .join(self._doc_stats.select("url", "shard", "local_id"), "url")
                .select("shard", "local_id")
            )
            parts.append(tagged)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def search(self, query: str, k: int | None = None,
               cities: list[str] | None = None) -> DataFrame:
        """Top-k (url, score) for one query.  Returns an empty frame
        for stop-word-only / out-of-dictionary queries (F5).  With
        ``cities``, results are semi-joined to docs containing a city
        term (F2/J4)."""
        return self._search_keys(self.parse_query(query), k, cities)

    def _search_keys(self, term_keys: list[str], k: int | None = None,
                     cities: list[str] | None = None) -> DataFrame:
        """:meth:`search` body below the query parse — shared with
        :meth:`fuzzy_search`, which substitutes corrected keys."""
        k = k or self.cfg.top_k
        per_posting = self._postings(term_keys)
        if per_posting is None:
            return empty(self.spark)
        if cities:
            allowed = self._city_doc_set(cities)
            if allowed is None:
                return empty(self.spark)
            # no forced broadcast: for a common city term the allowed
            # set is O(N) docs — an unbounded explicit broadcast OOMs
            # the driver at scale.  AQE broadcasts it when it is
            # actually small and shuffle-joins otherwise.
            per_posting = per_posting.join(allowed, ["shard", "local_id"], "left_semi")
        return topk(self._doc_scores(per_posting), k)

    def _blend(self, contrib: Column, bonus: Column) -> Column:
        """The reference's score blend a·bm25 + b·bonus (Ranker.java):
        the one reader of the index's blend weights."""
        return (F.lit(self.meta["blend_bm25"]) * contrib
                + F.lit(self.meta["blend_bonus"]) * bonus)

    def _doc_scores(self, per_posting: DataFrame, by: tuple[str, ...] = (),
                    **aggs: Column) -> DataFrame:
        """Per-doc blended score of EVERY matching live doc — the
        scoring tail above the cut, shared by every BM25 top-k: one
        hash agg sums each doc's contrib and bonus, :meth:`_blend`
        blends them, and doc_map supplies the url.  ``aggs`` (output
        name -> aggregate) ride the same per-doc agg; ``by`` groups
        ahead of the doc (a batch's qid, or a per-doc value joined onto
        the postings).  Returns (url, score, *aggs), unsorted; with
        ``by``, the joined per-doc rows, which also hold (*by, url,
        score)."""
        scored = (
            per_posting.groupBy(*by, "shard", "local_id")
            .agg(F.sum("contrib").alias("bm25"), F.sum("bonus").alias("bonus"),
                 *[agg.alias(name) for name, agg in aggs.items()])
            .withColumn("score", self._blend(F.col("bm25"), F.col("bonus")))
            .join(self._doc_map(), ["shard", "local_id"])
        )
        # a grouped caller projects (*by, url, score) in its own cut
        return scored if by else scored.select("url", "score", *aggs)

    def dismax_search(self, query: str, k: int | None = None,
                      tie: float = 0.1) -> DataFrame:
        """Lucene ``DisjunctionMaxQuery``: a doc's score is its BEST
        single clause score plus ``tie`` times the others — the
        multi-field/multi-synonym scoring rule that stops a doc
        matching three weak clauses from outranking a doc with one
        strong match (the plain OR-sum's failure mode; ES `dis_max`
        and `multi_match type:best_fields` are this query).  Each
        query term is one clause scored with the engine's per-term
        blended contribution (the `explain_score` "part"):
        ``score = max(part) + tie * (sum(part) - max(part))``; tie=0
        is pure best-clause, tie=1 degenerates to the ordinary
        OR-sum (pytest pins both edges).

        Scale shape: identical to :meth:`search` — the same pruned
        scan and ONE per-doc agg (max and sum ride the same hash-agg
        state); the deterministic (score desc, url asc) top-k stays
        TakeOrderedAndProject."""
        if not (0.0 <= tie <= 1.0):
            raise ValueError("tie must be in [0, 1]")
        k = k or self.cfg.top_k
        per_posting = self._postings(self.parse_query(query))
        if per_posting is None:
            return empty(self.spark)
        scored = (
            per_posting.withColumn("part", self._blend(F.col("contrib"), F.col("bonus")))
            .groupBy("shard", "local_id")
            .agg(F.max("part").alias("mx"), F.sum("part").alias("sm"))
            .withColumn("score",
                        F.col("mx") + F.lit(float(tie))
                        * (F.col("sm") - F.col("mx")))
            .join(self._doc_map(), ["shard", "local_id"])
            .select("url", "score")
        )
        return topk(scored, k)

    def _match_sets(self, queries: list[tuple[str, str]]) -> DataFrame | None:
        """(qid, shard, local_id) distinct LIVE matches per named query
        in ONE pruned scan: the union of every query's parsed term keys
        resolves and scans once, then a small (qid, term_key) map join
        fans rows out to their queries.  None when no query term is in
        the dictionary.  Shared by the multi-query counting surfaces
        (:meth:`count_hits_batch`, :meth:`adjacency_matrix`)."""
        pairs = sorted({(qid, key) for qid, q in queries
                        for key in self.parse_query(q)})
        if not pairs:
            return None
        per = self._postings(sorted({k for _, k in pairs}))
        if per is None:
            return None
        qmap = self.spark.createDataFrame(
            [(q, k) for q, k in pairs], "qid string, term_key string")
        return (
            per.select("term_key", "shard", "local_id")
            # the map is |queries|·|terms| rows — broadcast by size
            .join(F.broadcast(qmap), "term_key")
            .select("qid", "shard", "local_id").distinct()
        )

    def count_hits_batch(self, queries: list[tuple[str, str]]) -> DataFrame:
        """ES ``filters`` aggregation: live match counts for N named
        queries in ONE pass — the dashboard/monitoring surface ("how
        many docs match each of these saved searches") that would
        otherwise pay N pruned scans via :meth:`count_hits`.  Returns
        (qid, n_docs) with a ZERO row for queries whose terms miss the
        dictionary (ES keeps empty buckets).

        Scale shape: one pruned scan over the UNION of all queries'
        terms; the (qid, term_key) fan-out map is queries×terms rows
        (broadcast); the only exchange is the (qid, doc) distinct,
        bounded by total match multiplicity, never the corpus."""
        if not queries:
            raise ValueError("queries must be non-empty")
        qids = [q[0] for q in queries]
        if len(set(qids)) != len(qids):
            raise ValueError("qids must be unique")
        allq = self.spark.createDataFrame([(q,) for q in qids], "qid string")
        matches = self._match_sets(queries)
        if matches is None:
            return allq.withColumn("n_docs", F.lit(0).cast("long"))
        counts = matches.groupBy("qid").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))
        return (
            allq.join(counts, "qid", "left")
            .select("qid", F.coalesce("n_docs", F.lit(0)).cast("long")
                    .alias("n_docs"))
        )

    def adjacency_matrix(self, queries: list[tuple[str, str]]) -> DataFrame:
        """ES ``adjacency_matrix`` aggregation: for N named queries,
        the live match count of every query AND of every pairwise
        intersection — the co-occurrence matrix behind topic-overlap /
        audience-overlap dashboards.  Returns (qid_a, qid_b, n_docs):
        diagonal rows (qid, qid) are the per-query counts, off-diagonal
        rows (qid_a < qid_b, ES's sorted ``a&b`` bucket key) the
        intersections; empty intersections are omitted (the ES
        contract — buckets with zero docs don't appear).

        Scale shape: the one-scan match sets self-join on the doc key
        (co-partitioned exchange on (shard, local_id)); per doc the
        work is |its matching queries|², bounded by N², never corpus ×
        N.  ES caps N at 100 for exactly this reason."""
        if not queries:
            raise ValueError("queries must be non-empty")
        qids = [q[0] for q in queries]
        if len(set(qids)) != len(qids):
            raise ValueError("qids must be unique")
        matches = self._match_sets(queries)
        if matches is None:
            return empty(self.spark, "qid_a string, qid_b string, n_docs long")
        a = matches.alias("a")
        b = matches.alias("b")
        pairs = a.join(
            b,
            (F.col("a.shard") == F.col("b.shard"))
            & (F.col("a.local_id") == F.col("b.local_id"))
            & (F.col("a.qid") <= F.col("b.qid")),
        ).select(F.col("a.qid").alias("qid_a"), F.col("b.qid").alias("qid_b"))
        return pairs.groupBy("qid_a", "qid_b").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))

    def search_matched(self, query: str, k: int | None = None) -> DataFrame:
        """Top-k with Lucene/ES ``matched_queries`` evidence: each hit
        carries ``matched`` — the sorted array of the query's parsed
        term keys found on the doc's posting lists — so a result page
        can show WHY a document matched ("matched: data, row") without
        a second explain round-trip per hit (explain_score is the
        per-doc deep form; this is the per-page shallow one).

        Scale shape: identical to :meth:`search` — the matched set is
        one extra ``collect_set`` riding the SAME per-doc score agg
        (bounded by the query's own term count per doc, so the agg
        state stays O(|query|)); no new scan, join, or shuffle.
        Returns (url, score, rank, matched)."""
        k = k or self.cfg.top_k
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark, TOPK_SCHEMA + ", matched array<string>")
        scored = self._doc_scores(
            per, matched=F.sort_array(F.collect_set("term_key")))
        return topk(scored, k).select("url", "score", "rank", "matched")

    def count_hits(self, query: str) -> int:
        """Total number of live documents matching ≥1 query term —
        the "about N results" line on every result page (Lucene's
        totalHits).  Same pruned scan as :meth:`search`, but the tail
        is ONE countDistinct over (shard, local_id) — no doc_map
        join, no scoring sort.  At WAND-scale deployments this is
        where totalHits goes approximate (Lucene's
        TotalHits.Relation); the exact count here is the
        exhaustive-scorer contract this engine's search paths keep."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return 0
        return per.select("shard", "local_id").distinct().count()

    def matching_urls(self, query: str) -> DataFrame:
        """Distinct LIVE urls matching ≥1 query term — the match set
        behind :meth:`count_hits`, materialized as a (url) frame.
        This is the resolution step of delete-by-query
        (incremental.delete_by_query): ES's ``_delete_by_query``
        tombstones exactly the documents the query would match at
        call time.  Same pruned scan as :meth:`search`; the tail is
        a distinct + doc_map join, no scoring.  Stop-word-only /
        out-of-dictionary queries match nothing (F5)."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark, "url string")
        return (per.select("shard", "local_id").distinct()
                .join(self._doc_map(), ["shard", "local_id"])
                .select("url"))

    def search_page(self, query: str, k: int | None = None,
                    page: int = 1) -> DataFrame:
        """Result page ``page`` (1-based, ``k`` rows per page) under
        the engine's total order (score desc, url asc), with GLOBAL
        ranks — the pagination surface every serving API exposes.

        Implemented as a deterministic top-(page·k) cut + rank slice,
        NOT a float-score cursor: the engine's score is a shuffle-
        order-dependent double sum (±1 ulp between executions on a
        cluster, summed in shuffle-fetch order), so a Lucene-style
        searchAfter cursor comparing ``score < s`` could duplicate or
        skip a boundary row across pages.  The slice is exact; the
        cost is the classic deep-paging tradeoff (the heap grows with
        page·k — the reason result pages cap at ~50 deep everywhere),
        and the cut still plans as TakeOrderedAndProject, never a
        corpus sort."""
        k = k or self.cfg.top_k
        if page < 1:
            raise ValueError(f"page must be >= 1, got {page}")
        full = self._search_keys(self.parse_query(query), k * page)
        return full.filter(F.col("rank") > k * (page - 1))

    def search_after(self, query: str, after_url: str,
                     k: int | None = None) -> DataFrame:
        """Keyset deep paging (Lucene searchAfter / ES search_after):
        the ``k`` results strictly after ``after_url`` in the engine's
        total order (score desc, url asc), ranks 1..k PAGE-LOCAL —
        the stateless cursor contract: each page returns its last url
        as the next cursor, no server-side scroll state.

        The cursor is the URL ALONE, never a client-echoed float
        score: the cursor doc's score is recomputed INSIDE this query
        (a scalar subquery over the same scored frame), so the keyset
        comparison happens between two numbers from one execution and
        the cross-run ±1-ulp hazard documented on :meth:`search_page`
        cannot duplicate or skip a boundary row.  A cursor url that
        does not match the query yields the empty page (it can never
        have appeared on an earlier page of this query).

        Scale shape (10^12 docs): :meth:`search_page`'s heap grows
        with page·k — the classic deep-paging wall (serving stacks cap
        rank-slice paging at ~10k and mandate search_after beyond).
        Here the heap is k rows at ANY depth: the same pruned posting
        scan, a per-partition keyset filter against the scalar cursor
        score (no join), and a TakeOrderedAndProject cut of k."""
        k = k or self.cfg.top_k
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark)
        scores = self._doc_scores(per)
        # NULL (no row passes the keyset filter) when the cursor url
        # does not match the query
        cur = scores.filter(F.col("url") == after_url).agg(F.max("score")).scalar()
        page = scores.filter(
            (F.col("score") < cur)
            | ((F.col("score") == cur) & (F.col("url") > F.lit(after_url))))
        return topk(page, k)

    def search_filtered(self, query: str, allowed: DataFrame,
                        k: int | None = None) -> DataFrame:
        """Filter-context search (Lucene's filter clause): BM25 top-k
        restricted to a caller-supplied allowed-doc set — ``allowed``
        is any (url) frame, typically a predicate over a crawl-
        metadata table (a warc_ts window, a host list, a quality cut).
        The filter constrains MATCHING, never scoring: idf/avgdl stay
        corpus-global, so a doc scores identically inside and outside
        the filter (the filter-context non-scoring contract), and
        ranks are dense 1..k over the filtered set.

        This generalizes the built-in city filter (F2/J4): that path
        derives its doc set from stored index artifacts; this one
        accepts the attribute predicate AS a frame, which is how
        attribute filtering scales — attributes live in columnar
        metadata tables (time/host-partitioned, so the predicate scan
        is partition-pruned), not inside the text index.

        Scale shape: urls→(shard, local_id) through the doc-stats map
        join, then one left-semi into the per-posting rows BEFORE the
        score agg — the filter prunes the aggregation's input, and no
        forced broadcast (a narrow window broadcasts under AQE, a
        90%-of-corpus filter shuffle-joins)."""
        k = k or self.cfg.top_k
        per_posting = self._postings(self.parse_query(query))
        if per_posting is None:
            return empty(self.spark)
        allowed_ids = (
            allowed.select("url").distinct()
            .join(self._doc_map(), "url")
            .select("shard", "local_id")
        )
        per_posting = per_posting.join(allowed_ids, ["shard", "local_id"], "left_semi")
        return topk(self._doc_scores(per_posting), k)

    def fuzzy_search(self, query: str, k: int | None = None,
                     max_dist: int = 2,
                     suggest_path: str | None = None) -> DataFrame:
        """Typo-tolerant search: parse the query, keep the term keys
        the dictionary knows, and correct each out-of-vocabulary key
        to its single closest dictionary term within ``max_dist``
        edits (ties: higher df, then term asc — the spell-suggest rule
        shared with ``operators/snippets.suggest_terms``) before
        scoring through the ordinary pruned-scan path.  Keys with no
        candidate in range are dropped, never searched verbatim — the
        engine's dictionary-membership filter (F3, Searcher.java
        silently drops unknown terms) upgraded to the standard
        "did you mean → searched for" behavior the reference lacks.

        Scale shape: correction moves only the QUERY's own terms.
        The fresh path broadcasts the misses against the dictionary
        scan (length-prefiltered codegen levenshtein — vocab-linear,
        never corpus-linear); with ``suggest_path`` the correction is
        a literal-IN lookup into the stored SymSpell deletion
        neighborhood (``snippets.write_suggest_index``), touching only
        the query terms' own variants.  The collected correction set
        is <= |query terms| rows (the resolve_terms pattern); scoring
        is the unchanged :meth:`search` tail."""
        from .operators.snippets import suggest_terms, suggest_terms_indexed

        k = k or self.cfg.top_k
        keys = self.parse_query(query)
        resolved = self.resolve_terms(keys)
        hits = set(resolved["term_key"])
        misses = sorted(set(keys) - hits)
        corrected = set(hits)
        if misses:
            if suggest_path is not None:
                sugg = suggest_terms_indexed(
                    self.spark, suggest_path, misses, max_dist=max_dist)
            else:
                sugg = suggest_terms(
                    self._dictionary, misses, max_dist=max_dist)
            # <= |query terms| rows — the same driver-side footprint
            # as resolve_terms
            corrected |= {r.suggestion for r in sugg.collect()}
        return self._search_keys(sorted(corrected), k)

    def did_you_mean(self, query: str, max_dist: int = 2,
                     gain: int = 4) -> DataFrame:
        """Whole-query "did you mean" banner over the index
        dictionary: (term, suggestion, dist, df_term, df_sugg,
        changed), one row per analyzed term key.  Unlike
        :meth:`fuzzy_search` (which only repairs OUT-of-vocabulary
        keys), this also corrects real-word errors — an in-vocabulary
        key is replaced when a neighbor within ``max_dist`` edits is
        more than ``gain``x as frequent (df_sugg > gain * df_term,
        BIGINT compare; the ES term-suggester ``suggest_mode=popular``
        rule with a confidence gate).  Terms the banner keeps suggest
        themselves with ``changed = false`` — no word is dropped.
        Corrections live in analyzed (stemmed) key space, the same
        convention as every suggest path here.

        Scale shape: the operator broadcasts the handful of query
        keys against ONE dictionary scan (codegen length-prefiltered
        levenshtein) — vocab-linear, never corpus-linear
        (operators/snippets.did_you_mean)."""
        from .operators.snippets import did_you_mean as _dym

        keys = sorted(set(self.parse_query(query)))
        return _dym(self._dictionary, keys, max_dist=max_dist, gain=gain)

    def did_you_mean_search(self, query: str, k: int | None = None,
                            max_dist: int = 2, gain: int = 4) -> DataFrame:
        """Search the corrected query: apply :meth:`did_you_mean` and
        score the suggestion set through the ordinary pruned-scan
        BM25 tail.  Kept-but-unknown terms flow through the standard
        dictionary-membership filter (F3) exactly as in
        :meth:`search`; the correction set collected to the driver is
        <= |query terms| rows (the resolve_terms footprint)."""
        k = k or self.cfg.top_k
        rows = self.did_you_mean(query, max_dist=max_dist,
                                 gain=gain).collect()
        keys = sorted({r["suggestion"] for r in rows})
        return self._search_keys(keys, k)

    def wildcard_search(self, query: str, k: int | None = None,
                        max_expansions: int = 16) -> DataFrame:
        """Trailing-wildcard (prefix) search: query tokens ending in
        ``*`` expand against the index vocabulary and the expansions
        score as an ordinary multi-term OR query alongside the plain
        tokens — Lucene's PrefixQuery under the top-terms scoring
        rewrite.  Following Lucene, the wildcard token BYPASSES the
        analyzer (lowercased only, never stemmed — the prefix matches
        raw index terms, which ARE stems here), and the expansion
        set is capped at ``max_expansions`` per prefix by df desc,
        term asc (TopTermsRewrite keeps the highest-docFreq terms;
        the tie-break makes the cap deterministic).

        Scale shape: the expansion is a codegen ``startswith`` join
        of the HANDFUL of prefixes against the dictionary — vocab-
        linear, never corpus-linear — and collects at most
        |prefixes| × max_expansions keys to the driver (the
        resolve_terms footprint); scoring is the unchanged
        pruned-scan BM25 tail.  At 10^12 docs the same predicate
        serves from the range-sorted stored vocabulary
        (write_autocomplete_index: StringStartsWith row-group
        pruning) exactly like the suggest box."""
        k = k or self.cfg.top_k
        parts = query.split()
        prefixes = sorted({p[:-1].lower() for p in parts
                           if p.endswith("*") and len(p) > 1})
        plain = " ".join(p for p in parts if not p.endswith("*"))
        keys = set(self.parse_query(plain)) if plain.strip() else set()
        keys |= set(self._expand_prefixes(prefixes, max_expansions))
        return self._search_keys(sorted(keys), k)

    def _expand_prefixes(self, prefixes: list[str],
                         max_expansions: int) -> list[str]:
        """The wildcard rewrite's expansion step (shared with
        :meth:`query_string_search`): dictionary terms matching each
        prefix, capped per prefix by df desc, term asc."""
        if not prefixes:
            return []
        q = self.spark.createDataFrame(
            [(p,) for p in sorted(set(prefixes))], "prefix string")
        cand = (
            self._dictionary.select("term_key", "df")
            .join(F.broadcast(q),
                  F.col("term_key").startswith(F.col("prefix")))
        )
        w = Window.partitionBy("prefix").orderBy(
            F.desc("df"), F.asc("term_key"))
        rows = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_expansions)
            .select("term_key").distinct().collect()
        )
        return sorted({r.term_key for r in rows})

    def search_sorted(self, query: str, sort_keys: DataFrame,
                      k: int | None = None, descending: bool = True,
                      key_col: str = "sort_key") -> DataFrame:
        """(url, sort_key, rank): the FULL matching doc set ordered by
        a caller-supplied field instead of relevance — Lucene/ES
        ``sort: [{field}]`` (newest-first result pages, id-ordered
        exports).  Matching = >= 1 query term on the posting list
        (tombstones excluded), exactly the facets candidate rule;
        scoring is skipped entirely, so the plan is pruned scan ->
        distinct candidates -> doc_map -> sort-key join ->
        TakeOrderedAndProject (per-partition heaps + a k-row driver
        merge, never a global sort).  Ties break url asc — total
        order, deterministic across partitionings."""
        k = k or self.cfg.top_k
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark, "url string, sort_key long, rank int")
        cand = per.select("shard", "local_id").distinct()
        urls = cand.join(self._doc_map(), ["shard", "local_id"]).select("url")
        keyed = urls.join(
            sort_keys.select("url", F.col(key_col).alias("sort_key")), "url")
        return topk(keyed, k, (F.desc("sort_key") if descending
                               else F.asc("sort_key"), F.asc("url")))

    def wildcard_search_indexed(self, query: str, kgram_path: str,
                                k: int | None = None,
                                max_expansions: int = 16) -> DataFrame:
        """Arbitrary-position wildcard search — ``*fix``, ``*infix*``,
        ``a*b`` — served from the stored k-gram side-car
        (operators/kgram.py): each wildcard token expands to at most
        ``max_expansions`` index terms (df desc, term asc — the same
        TopTermsRewrite cap as the trailing path) via a gram-IN pruned
        scan + anchored-regex verify, and the expansions score as an
        ordinary multi-term OR query alongside the plain tokens.
        Wildcard tokens bypass the analyzer (lowercased only, never
        stemmed) exactly like :meth:`wildcard_search`; the side-car
        refuses to serve once the index has moved (staleness stamp)."""
        from .operators import kgram as KG

        k = k or self.cfg.top_k
        parts = query.split()
        patterns = sorted({p.lower() for p in parts
                           if "*" in p and p.strip("*")})
        plain = " ".join(p for p in parts if "*" not in p)
        keys = set(self.parse_query(plain)) if plain.strip() else set()
        if patterns:
            exp = KG.expand_wildcard_indexed(
                self.spark, kgram_path, patterns, max_expansions)
            keys |= {r.term for r in exp.select("term").distinct().collect()}
        return self._search_keys(sorted(keys), k)

    @staticmethod
    def _split_regex_query(query: str) -> tuple[list[str], str]:
        """Lucene QueryParser regex syntax: ``/pattern/`` tokens are
        regex terms, the rest is a plain sub-query.  Patterns are
        lowercased (index terms are lowercase stems) and matched
        whole-term, RegexpQuery semantics."""
        parts = query.split()
        patterns = sorted({p[1:-1].lower() for p in parts
                           if len(p) > 2 and p[0] == "/" and p[-1] == "/"})
        plain = " ".join(p for p in parts
                         if not (len(p) > 2 and p[0] == "/" and p[-1] == "/"))
        return patterns, plain

    def regex_search(self, query: str, k: int | None = None,
                     max_expansions: int = 16) -> DataFrame:
        """Regex term search — Lucene's RegexpQuery under the
        top-terms scoring rewrite: ``/pattern/`` tokens expand against
        the index vocabulary (whole-term anchored match, capped at
        ``max_expansions`` per pattern by df desc / term asc) and the
        expansions score as an ordinary multi-term OR query alongside
        the plain tokens.  Regex tokens bypass the analyzer
        (lowercased only, never stemmed) exactly like the wildcard
        paths.

        Scale shape: the expansion is a codegen anchored ``rlike``
        join of the HANDFUL of patterns against the dictionary —
        vocab-linear, never corpus-linear — collecting at most
        |patterns| × max_expansions keys to the driver; scoring is
        the unchanged pruned-scan BM25 tail.  At 10^12 docs use
        :meth:`regex_search_indexed` so gram evidence prunes the
        vocabulary scan too."""
        from .operators.kgram import expand_regex

        k = k or self.cfg.top_k
        patterns, plain = self._split_regex_query(query)
        keys = set(self.parse_query(plain)) if plain.strip() else set()
        if patterns:
            exp = expand_regex(self._dictionary, patterns, max_expansions,
                               term_col="term_key", df_col="df")
            keys |= {r.term for r in exp.select("term").distinct().collect()}
        return self._search_keys(sorted(keys), k)

    def regex_search_indexed(self, query: str, kgram_path: str,
                             k: int | None = None,
                             max_expansions: int = 16) -> DataFrame:
        """:meth:`regex_search` served from the stored k-gram side-car
        (the SAME layout the wildcard paths read — one artifact serves
        both query families): each pattern's mandatory literal runs
        become a gram-IN pruned scan + count-distinct gate + anchored
        regex verify (operators/kgram.expand_regex_indexed); patterns
        without sound gram evidence (alternation/groups) fall back to
        the stored full-vocabulary scan.  The side-car refuses to
        serve once the index has moved (staleness stamp)."""
        from .operators import kgram as KG

        k = k or self.cfg.top_k
        patterns, plain = self._split_regex_query(query)
        keys = set(self.parse_query(plain)) if plain.strip() else set()
        if patterns:
            exp = KG.expand_regex_indexed(
                self.spark, kgram_path, patterns, max_expansions)
            keys |= {r.term for r in exp.select("term").distinct().collect()}
        return self._search_keys(sorted(keys), k)

    def query_string_search(self, qs: str, k: int | None = None,
                            max_expansions: int = 16) -> DataFrame:
        """One string in, the right engine path out — the Lucene
        QueryParser surface over the paths this engine already ships:

          ``"exact phrase"``   -> :meth:`phrase_search` (whole-query)
          ``+term`` / ``-term`` -> :meth:`boolean_search` MUST/MUST_NOT
          ``term*``            -> wildcard expansion, scored as SHOULD
          ``term^2.5``         -> :meth:`boosted_search` (bare terms only)
          bare terms           -> SHOULD (plain BM25)
          parens / AND OR NOT  -> :func:`parse_boolean_tree` ->
                                  :meth:`tree_search` (nested boolean)

        A phrase composes only as the entire query (mixing a
        positional gate into the boolean scorer is a different
        operator); required/excluded wildcards are rejected by the
        shared splitter.  Dispatch is pure driver-side routing — every
        data path below it is the already-oracled one."""
        k = k or self.cfg.top_k
        if is_tree_syntax(qs):
            return self.tree_search(parse_boolean_tree(qs), k)
        if "^" in qs:
            # per-term boosts (term^2.5) compose only with bare SHOULD
            # terms — a boosted MUST/phrase/wildcard is a different
            # scorer and is rejected rather than silently mis-weighted
            if (any(c in qs for c in '"*()')
                    or any(t and t[0] in "+-" for t in qs.split())):
                raise ValueError("boosts compose only with bare terms")
            return self.boosted_search(qs, k)
        phrases, must, should, must_not, prefixes = split_query_string(qs)
        if phrases:
            if len(phrases) == 1 and not (must or should or must_not or prefixes):
                return self.phrase_search(phrases[0], k)
            raise ValueError(
                "a quoted phrase is supported only as the whole query")
        wild_keys = self._expand_prefixes(prefixes, max_expansions)
        if must or must_not:
            return self.boolean_search(
                " ".join(must), " ".join(should), " ".join(must_not), k,
                extra_should_keys=wild_keys)
        keys = set(self.parse_query(" ".join(should))) if should else set()
        keys |= set(wild_keys)
        return self._search_keys(sorted(keys), k)

    def boosted_search(self, qs: str, k: int | None = None) -> DataFrame:
        """Lucene per-term boost syntax — ``world^2 trade market^0.5``:
        each term's ENTIRE contribution (BM25 part and importance
        bonus alike, so the blend still decomposes per term) is
        multiplied by its boost before the doc-level sum; unboosted
        terms weigh 1.0, and a term repeated in the query accumulates
        its boosts (the duplicate-clause contract: ``a a b`` scores
        ``a`` twice).  Boosts must be >= 0; a stop word or
        out-of-dictionary term drops out exactly as in :meth:`search`
        (F5), boost and all.

        Plan shape: identical to :meth:`search` — the weights ride the
        unpacked posting rows as a driver-side literal ``map`` lookup
        (codegen, no join, no shuffle beyond the scoring agg), so
        boosting is free at any scale."""
        k = k or self.cfg.top_k
        boosts: dict[str, float] = {}
        for tok in qs.split():
            if "^" in tok:
                t, _, bs = tok.rpartition("^")
                try:
                    w = float(bs)
                except ValueError:
                    raise ValueError(f"malformed boost: {tok!r}")
                if not t or w < 0:
                    raise ValueError(f"malformed boost: {tok!r}")
            else:
                t, w = tok, 1.0
            for key in self.parse_query(t):
                boosts[key] = boosts.get(key, 0.0) + w
        return self._search_keys_boosted(boosts, k)

    def _search_keys_boosted(self, boosts: dict[str, float],
                             k: int) -> DataFrame:
        """:meth:`boosted_search` body below the parse: the ordinary
        pruned-scan unpack with a per-term weight column applied to
        both score parts."""
        per = self._postings(sorted(boosts))
        if per is None:
            return empty(self.spark)
        wmap = F.create_map(
            *[F.lit(x) for key in sorted(boosts)
              for x in (key, float(boosts[key]))])
        per = (
            per.withColumn("_w", wmap[F.col("term_key")])
            .withColumn("contrib", F.col("contrib") * F.col("_w"))
            .withColumn("bonus", F.col("bonus") * F.col("_w"))
            .drop("_w")
        )
        return topk(self._doc_scores(per), k)

    def search_top_hits(self, query: str, dims: DataFrame, dim_col: str,
                        k_per_bucket: int = 3,
                        url_col: str = "url") -> DataFrame:
        """ES ``top_hits`` aggregation — the grouped result page
        ("best 3 hits per language"): the query's FULL scored match
        set joined to the dimension table, then the top
        ``k_per_bucket`` docs per facet value by the engine's
        ordinary (score desc, url asc) order, each row also carrying
        the bucket's total match count.  Returns
        (facet, n_docs, bucket_rank, url, score).

        Plan shape at scale: the scored set is posting-union-sized
        (pruned scan, never the corpus); one join to the dims table;
        then ONE shuffle on facet serving both the count and the
        rank window.  The per-bucket sort is the window's — a
        pathologically hot facet value pays its own bucket's
        sort, not the corpus's; k stays out of every exchange."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark, "facet string, n_docs long, bucket_rank int, "
                                     "url string, score double")
        scored = self._doc_scores(per).join(
            dims.select(F.col(url_col).alias("url"),
                        F.col(dim_col).cast("string").alias("facet"))
                .distinct(),
            "url",
        )
        w = Window.partitionBy("facet").orderBy(
            F.desc("score"), F.asc("url"))
        return (
            scored
            .withColumn("bucket_rank", F.row_number().over(w))
            .withColumn("n_docs",
                        F.count(F.lit(1)).over(Window.partitionBy("facet")))
            .filter(F.col("bucket_rank") <= k_per_bucket)
            .select("facet", F.col("n_docs").cast("long").alias("n_docs"),
                    "bucket_rank", "url", "score")
        )

    def prf_search(self, query: str, tv_path: str, k: int | None = None,
                   fb_docs: int = 10, fb_terms: int = 5) -> DataFrame:
        """Pseudo-relevance feedback (Rocchio-style query expansion):
        run the plain BM25 top-``fb_docs``, pull those documents'
        term vectors from the doc-major stored layout
        (operators/termvectors.py — Lucene's term vectors; the
        inverted index itself cannot answer "this doc's terms"
        without a corpus scan), rank the feedback terms by
        Σ tf × idf_micro (idf on the half-up 1e-6 BIGINT grid, so
        the selection is exact and engine-independent), and re-run
        the query with the top-``fb_terms`` expansion terms joined
        to the original keys — the classic recall lever when the
        user's wording and the corpus's wording diverge.

        Scale shape: the feedback fetch is a bucket+url-pruned scan
        of ``fb_docs`` documents' vector rows; the candidate
        weighting joins that bounded frame to the dictionary (AQE
        decides the side); the driver collects ≤ ``fb_terms`` keys
        (the resolve_terms footprint); both retrieval passes are the
        unchanged pruned-scan BM25 tail.  Never a corpus pass."""
        from .operators.termvectors import fetch_term_vectors

        k = k or self.cfg.top_k
        keys = self.parse_query(query)
        fb_urls = [
            r["url"] for r in self.search(query, fb_docs).select("url").collect()
        ]
        if not fb_urls:
            return empty(self.spark)
        tv = fetch_term_vectors(self.spark, tv_path, fb_urls)
        cand = tv.groupBy("term_key").agg(F.sum("tf").alias("tf_sum"))
        if keys:
            cand = cand.filter(~F.col("term_key").isin(keys))
        weighted = (
            cand.join(self._dictionary.select("term_key", "idf"), "term_key")
            .withColumn("idf_micro",
                        F.floor(F.col("idf") * F.lit(1_000_000.0)
                                + F.lit(0.5)).cast("long"))
            .withColumn("weight",
                        (F.col("tf_sum") * F.col("idf_micro")).cast("long"))
        )
        top = (
            weighted.orderBy(F.desc("weight"), F.asc("term_key"))
            .limit(fb_terms).select("term_key").collect()
        )
        expansion = {r["term_key"] for r in top}
        return self._search_keys(sorted(set(keys) | expansion), k)

    def boolean_search(self, must: str = "", should: str = "",
                       must_not: str = "", k: int | None = None,
                       extra_should_keys: list[str] | None = None,
                       min_should_match: int = 0) -> DataFrame:
        """Lucene-BooleanQuery semantics over the packed index: MUST
        terms are all required (a MUST term absent from the dictionary
        means no document can satisfy the query — empty result),
        SHOULD terms add score, MUST_NOT terms exclude.  MUST and
        SHOULD matches both score (the same BM25 + importance blend as
        :meth:`search`); MUST_NOT never contributes score.  Clauses
        are parsed with the full shared kernel (N1-N15 + stop filter +
        Porter), like every query path.

        ``min_should_match`` is Lucene's
        ``BooleanQuery.setMinimumNumberShouldMatch``: a document must
        additionally match at least that many DISTINCT SHOULD terms.
        A SHOULD term absent from the dictionary matches nothing, so
        it can never help reach the threshold (asking for more should
        matches than there are resolvable should terms yields the
        empty result, exactly like Lucene's unsatisfiable rewrite).

        Scale shape (10^12 docs): scoring reads ONLY the must+should
        terms' posting lists (bucket- and row-group-pruned scan, same
        as search); the MUST gate is one countDistinct-over-matched-
        keys agg on the already-unpacked rows — no second scan; the
        exclusion reads only the must_not terms' postings and
        anti-joins on (shard, local_id).  No clause ever touches
        non-matching documents."""
        k = k or self.cfg.top_k
        must_keys = self.parse_query(must) if must.strip() else []
        should_keys = self.parse_query(should) if should.strip() else []
        # pre-parsed SHOULD keys (the query-string path's wildcard
        # expansions — already index terms, re-parsing would re-stem)
        should_keys = sorted(set(should_keys) | set(extra_should_keys or []))
        score_keys = sorted(set(must_keys) | set(should_keys))
        if not score_keys:
            return empty(self.spark)
        resolved = self.resolve_terms(score_keys)
        if resolved.empty:
            return empty(self.spark)
        have = set(resolved["term_key"])
        if any(mk not in have for mk in must_keys):
            return empty(self.spark)
        per_posting = self._resolved_postings(resolved)
        if must_keys:
            cand = (
                per_posting.filter(F.col("term_key").isin(must_keys))
                .groupBy("shard", "local_id")
                .agg(F.countDistinct("term_key").alias("nm"))
                .filter(F.col("nm") == len(must_keys))
                .select("shard", "local_id")
            )
            per_posting = per_posting.join(cand, ["shard", "local_id"], "left_semi")
        if min_should_match > 0:
            if len(should_keys) < min_should_match:
                return empty(self.spark)
            # same shape as the MUST gate: one countDistinct agg over
            # the already-unpacked should rows — no second index scan
            scand = (
                per_posting.filter(F.col("term_key").isin(should_keys))
                .groupBy("shard", "local_id")
                .agg(F.countDistinct("term_key").alias("ns"))
                .filter(F.col("ns") >= min_should_match)
                .select("shard", "local_id")
            )
            per_posting = per_posting.join(
                scand, ["shard", "local_id"], "left_semi")
        not_keys = self.parse_query(must_not) if must_not.strip() else []
        if not_keys:
            excl = self._postings(not_keys)
            if excl is not None:
                per_posting = per_posting.join(
                    excl.select("shard", "local_id").distinct(),
                    ["shard", "local_id"], "left_anti")
        return topk(self._doc_scores(per_posting), k)

    def tree_search(self, tree: dict, k: int | None = None) -> DataFrame:
        """Nested boolean query trees — the full Lucene BooleanQuery
        composition the flat must/should/must_not surface can't
        express (``(a OR b) AND (c OR d) NOT e``).  ``tree`` nodes:

        * ``{"term": t}`` — leaf; parsed with the full shared kernel,
          must reduce to exactly ONE index term (multi-token rewrites
          refuse loudly; a stop-word-only leaf or one missing from
          the dictionary matches nothing);
        * ``{"op": "and"|"or", "kids": [...]}`` — intersection /
          union of the kids' match sets;
        * ``{"op": "andnot", "kids": [pos, neg, ...]}`` — kids[0]
          minus the union of the rest (Lucene's MUST_NOT inside a
          boolean clause; a bare complement is refused, as Lucene's
          pure-negative query matches nothing).

        Matching docs score the usual BM25 + importance blend summed
        over the tree's POSITIVE leaves (leaves reachable without
        crossing into an andnot-negative branch — negative terms
        never contribute score, exactly the boolean_search contract);
        order score desc, url asc, cut to k.

        Scale shape (10^12 docs): ALL leaves resolve in one
        dictionary lookup and ONE bucket/row-group-pruned scan; every
        leaf's doc set and the scoring rows are filters over that
        single unpacked frame, so tree depth adds set-algebra joins
        on (shard, local_id) — co-partitioned, match-set-sized —
        never extra index scans; no clause touches non-matching
        documents."""
        k = k or self.cfg.top_k
        # walk: collect leaf keys + score polarity, validate shape
        leaves: list[tuple[str, bool]] = []

        def collect(node: dict, positive: bool) -> None:
            if "term" in node:
                keys = self.parse_query(str(node["term"]))
                if len(keys) > 1:
                    raise ValueError(
                        f"tree leaf {node['term']!r} parses to several index "
                        f"terms ({keys}) — split it into an explicit subtree")
                leaves.append((keys[0] if keys else "", positive))
                return
            op = node.get("op")
            kids = node.get("kids") or []
            if op not in ("and", "or", "andnot") or not kids:
                raise ValueError(f"bad tree node: {node!r}")
            if op == "andnot":
                if len(kids) < 2:
                    raise ValueError("andnot needs a positive kid and >=1 "
                                     "negative kids (a bare complement "
                                     "matches nothing in Lucene)")
                collect(kids[0], positive)
                for kid in kids[1:]:
                    collect(kid, False)
            else:
                for kid in kids:
                    collect(kid, positive)

        collect(tree, True)
        all_keys = sorted({key for key, _pos in leaves if key})
        if not all_keys:
            return empty(self.spark)
        resolved = self.resolve_terms(all_keys)
        have = set(resolved["term_key"])
        if resolved.empty:
            return empty(self.spark)
        per_posting = self._resolved_postings(resolved)
        doc_keys = ["shard", "local_id"]

        def docset(node: dict):
            """The node's match set as a (shard, local_id) frame, or
            None for the empty set."""
            if "term" in node:
                keys = self.parse_query(str(node["term"]))
                if not keys or keys[0] not in have:
                    return None
                return (per_posting.filter(F.col("term_key") == keys[0])
                        .select(*doc_keys).distinct())
            op, kids = node["op"], node["kids"]
            if op == "and":
                out = docset(kids[0])
                for kid in kids[1:]:
                    nxt = docset(kid)
                    if out is None or nxt is None:
                        return None
                    out = out.join(nxt, doc_keys, "left_semi")
                return out
            if op == "or":
                parts = [p for p in (docset(kid) for kid in kids)
                         if p is not None]
                if not parts:
                    return None
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                return out.distinct()
            # andnot
            pos = docset(kids[0])
            if pos is None:
                return None
            for kid in kids[1:]:
                neg = docset(kid)
                if neg is not None:
                    pos = pos.join(neg, doc_keys, "left_anti")
            return pos

        match = docset(tree)
        if match is None:
            return empty(self.spark)
        pos_keys = sorted({key for key, p in leaves if p and key and key in have})
        if not pos_keys:
            return empty(self.spark)
        scoring = (
            per_posting.filter(F.col("term_key").isin(pos_keys))
            .join(match, doc_keys, "left_semi")
        )
        return topk(self._doc_scores(scoring), k)

    # -- phrase search (positions path; requires keep_positions build) -------
    def parse_phrase(self, phrase: str) -> list[tuple[str, int]]:
        """Ordered (term_key, offset) pairs for a phrase query via the
        FULL build parse (tokenize + N2-N12 rewrites + stop filter +
        stemming + case rules) — the index stores rule-rewritten
        multi-token terms ("between 18 and 24", "14 May", "45%") as
        single terms at their raw token offset, so the phrase must be
        parsed with the identical kernel or those phrases silently
        miss.  Offsets are raw token positions within the phrase;
        dropped stop words keep their GAP (so "state of the art"
        matches docs where the stop words sat between the content
        words, exactly as the index recorded positions over the
        unfiltered token stream)."""
        from .textproc import parse_doc

        out: list[tuple[str, int]] = []
        for key, ts in parse_doc(phrase, self._stop, self.meta["stem"]).items():
            for pos in ts.positions:
                out.append((key.lower(), pos))
        out.sort(key=lambda t: t[1])
        return out

    def _unpack_positions(self, scan: DataFrame) -> DataFrame:
        """(term_key, shard, local_id, pos) rows from the packed
        ``poss`` blobs (one output row per occurrence)."""

        def occurrences(pdf: pd.DataFrame, d: dict) -> pd.DataFrame:
            tfs = d["tfs"].astype(np.int64)
            return pd.DataFrame({
                "term_key": np.repeat(d["term_key"], tfs),
                "shard": np.repeat(d["shard"], tfs),
                "local_id": np.repeat(d["doc_ids"].astype(np.int64), tfs),
                "pos": d["poss"].astype(np.int64),
            })

        return _decode_scan(scan, ("doc_ids", "tfs", "poss"), occurrences,
                            "term_key string, shard int, local_id long, pos long")

    def phrase_search(self, phrase: str, k: int | None = None) -> DataFrame:
        """Exact phrase top-k: docs containing the phrase's content
        terms at consecutive (gap-preserving) positions, ranked by
        phrase frequency (ties: url asc).  Relational plan: one pruned
        index scan over the phrase's terms, positions unpacked once,
        then an n-way co-partitioned join on (shard, local_id,
        pos - offset) — each join keys on the same columns, so Spark
        reuses one exchange per side and no all-pairs work happens.
        Requires an index built with ``keep_positions=True``."""
        if not self.meta.get("keep_positions"):
            raise ValueError("phrase_search requires an index built with keep_positions=True")
        k = k or self.cfg.top_k
        terms = self.parse_phrase(phrase)
        keys = sorted({t for t, _ in terms})
        resolved = self.resolve_terms(keys)
        chain = None
        if terms and set(resolved["term_key"]) == set(keys):  # all in the dictionary
            chain = self._phrase_chain(
                [(resolved[resolved["term_key"] == key], off) for key, off in terms])
        return self._count_topk(chain, "phrase_tf", k)

    def _phrase_chain(self, legs: list[tuple[pd.DataFrame, int]]) -> DataFrame:
        """(shard, local_id, base) rows — one per way each doc holds
        every leg's term at raw position ``base + offset``.  ``legs``
        are (dictionary rows, offset) pairs, chained by an n-way
        co-partitioned join on (shard, local_id, base): each join keys
        on the same columns, so Spark reuses one exchange per side and
        no all-pairs work happens.  One PRUNED scan+unpack per leg: the
        term filter reaches each branch's parquet scan (bucket dir +
        row-group stats), so no branch decodes another term's
        positions — a single shared unpack feeding n filter branches
        would re-run the decode kernel once per branch (no CSE across
        mapInPandas) over every term's blob."""
        chain = None
        for rows, off in legs:
            part = (
                self._unpack_positions(self._scan_index(rows))
                .select("shard", "local_id", (F.col("pos") - F.lit(off)).alias("base"))
            )
            chain = part if chain is None else chain.join(
                part, ["shard", "local_id", "base"])
        return chain

    def _count_topk(self, rows: DataFrame | None, col: str, k: int) -> DataFrame:
        """(url, ``col``, rank): the live docs of the (shard,
        local_id)-keyed ``rows``, each counted into ``col``, cut to the
        top ``k`` by (``col`` desc, url asc) — the positional paths'
        tail.  ``rows`` None (nothing can match) gives the empty frame."""
        if rows is None:
            return empty(self.spark, f"url string, {col} long, rank int")
        counts = self._drop_deleted(
            rows.groupBy("shard", "local_id").agg(F.count(F.lit(1)).alias(col)))
        return topk(counts.join(self._doc_map(), ["shard", "local_id"]), k,
                    (F.desc(col), F.asc("url")), ("url", col))

    def phrase_prefix_search(self, phrase: str, k: int | None = None,
                             max_expansions: int = 16) -> DataFrame:
        """ES ``match_phrase_prefix`` — the as-you-type phrase box:
        the phrase's last token is a prefix (``"quick bro*"``) that
        expands against the index vocabulary (df desc, term asc, the
        shared TopTermsRewrite cap; lowercased, never stemmed — the
        analyzer bypass every wildcard path uses), and a doc matches
        where the head phrase is followed, at the next raw token
        position, by ANY expansion.  Ranked by match count (ties url
        asc).  Plan: the phrase chain join with ONE extra leg whose
        scan is pruned to the expansion keys — a (doc, pos) holds one
        term, so the union of expansions stays a set and the tuple
        count is exact.  Requires ``keep_positions=True``."""
        if not self.meta.get("keep_positions"):
            raise ValueError(
                "phrase_prefix_search requires an index built with "
                "keep_positions=True")
        k = k or self.cfg.top_k
        toks = phrase.split()
        if not toks or not toks[-1].endswith("*") or len(toks[-1]) < 2:
            raise ValueError(
                "phrase_prefix_search wants 'head terms pre*' — a "
                "phrase whose last token is a non-empty prefix + '*'")
        prefix = toks[-1][:-1].lower()
        prefix_off = len(toks) - 1  # raw token position of the star
        head = " ".join(toks[:-1])
        terms = self.parse_phrase(head) if head else []
        expansions = self._expand_prefixes([prefix], max_expansions)
        chain = None
        if expansions:
            keys = sorted({t for t, _ in terms})
            resolved = self.resolve_terms(sorted(set(keys) | set(expansions)))
            if not set(keys) - set(resolved["term_key"]):  # head all in the dictionary
                chain = self._phrase_chain(
                    [(resolved[resolved["term_key"] == key], off) for key, off in terms]
                    + [(resolved[resolved["term_key"].isin(expansions)], prefix_off)])
        return self._count_topk(chain, "phrase_tf", k)

    def span_near_search(self, phrase: str, slop: int = 0,
                         k: int | None = None,
                         ordered: bool = True) -> DataFrame:
        """Span-near top-k (Lucene SpanNearQuery(ordered, slop) — the
        sloppy-phrase surface): docs where the phrase's content terms
        occur within a bounded window — IN PHRASE ORDER when
        ``ordered`` (the default), in ANY order otherwise — ranked by
        the number of qualifying tuples (span_tf desc, url asc).  A
        tuple (one position per term) qualifies when its width fits
        ``(off_last - off_first) + slop`` — the phrase's own
        stop-word-aware minimal span plus the slop allowance; ordered
        additionally requires p_0 < p_1 < ... < p_{n-1} in phrase
        order (width = p_{n-1} - p_0), unordered only that
        ``max(p) - min(p)`` fits.  ``slop=0`` on a stop-word-free
        phrase with ``ordered=True`` admits only consecutive runs,
        i.e. exact-phrase adjacency (span_tf ≡ phrase_search's
        phrase_tf — pinned by pytest).  Unordered counts are a
        superset of ordered at the same slop (also pytest-pinned).
        ``ordered=False`` requires pairwise-distinct phrase terms
        (different terms can't share a token position, so tuple
        distinctness is automatic; a repeated term would need a
        same-key != guard Lucene itself defines murkily — refused
        loudly instead).

        Scale shape: one PRUNED scan+unpack per term (same as
        phrase_search); every chain join keys on (shard, local_id) —
        co-partitioned, one exchange per side — with the position
        window as a band predicate (anchored at p0 both ways for
        unordered), so per-doc pairwise work is bounded by tf ×
        slop-window, never all-pairs across docs.  Requires an index
        built with ``keep_positions=True``."""
        if not self.meta.get("keep_positions"):
            raise ValueError(
                "span_near_search requires an index built with keep_positions=True")
        if slop < 0:
            raise ValueError(f"slop must be >= 0, got {slop}")
        k = k or self.cfg.top_k
        terms = self.parse_phrase(phrase)
        if not ordered and len({t for t, _ in terms}) != len(terms):
            raise ValueError(
                "unordered span-near requires pairwise-distinct phrase terms")
        keys = sorted({t for t, _ in terms})
        resolved = self.resolve_terms(keys)
        if not terms or set(resolved["term_key"]) != set(keys):
            return self._count_topk(None, "span_tf", k)  # a term not in the dictionary
        max_span = (terms[-1][1] - terms[0][1]) + slop
        chain = None
        for i, (key, _off) in enumerate(terms):
            part = (
                self._unpack_positions(
                    self._scan_index(resolved[resolved["term_key"] == key])
                )
                .select("shard", "local_id", F.col("pos").alias(f"p{i}"))
            )
            if chain is None:
                chain = part
            elif ordered:
                chain = chain.join(part, ["shard", "local_id"]).filter(
                    (F.col(f"p{i}") > F.col(f"p{i - 1}"))
                    & (F.col(f"p{i}") <= F.col("p0") + F.lit(max_span))
                )
            else:
                chain = chain.join(part, ["shard", "local_id"]).filter(
                    (F.col(f"p{i}") >= F.col("p0") - F.lit(max_span))
                    & (F.col(f"p{i}") <= F.col("p0") + F.lit(max_span))
                )
        if not ordered and len(terms) > 1:
            ps = [F.col(f"p{i}") for i in range(len(terms))]
            chain = chain.filter(
                F.greatest(*ps) - F.least(*ps) <= F.lit(max_span))
        return self._count_topk(chain, "span_tf", k)

    def rescore_search(self, query: str, k: int | None = None,
                       window: int = 50, weight: float = 2.0) -> DataFrame:
        """Two-phase ranking (the Lucene/ES ``rescore`` surface): a
        cheap first pass — the ordinary BM25+bonus blend over the
        pruned scan — cut to the top ``window`` docs, then an
        expensive second pass run over THOSE docs only: the proximity
        scorer (min pairwise token distance between distinct query
        terms, positional postings), folded in as
        ``rescore = score + weight / (1 + min_dist)``; docs where no
        distinct-term pair exists keep their first-pass score
        (``min_dist`` reported as -1).  Final order: rescore desc,
        url asc, cut to k (k <= window enforced — a rescore window
        narrower than the page would re-admit unrescored docs).

        Scale shape: the second pass is CANDIDATE-RESTRICTED — the
        window's (shard, local_id) keys semi-join into the positional
        unpack before the pairwise aggregate, so the expensive scorer
        touches ``window`` docs regardless of how common the query
        terms are (the whole point of rescoring: ES pays exactly this
        shape — match-all first pass, windowed second).  The window
        is page-sized by construction, so the semi-join build side is
        tiny; no forced broadcast (AQE decides, repo policy).
        Requires an index built with ``keep_positions=True``."""
        if not self.meta.get("keep_positions"):
            raise ValueError(
                "rescore_search requires an index built with keep_positions=True")
        k = k or self.cfg.top_k
        if window < k:
            raise ValueError(f"window ({window}) must be >= k ({k})")
        # the window is read by both the positional semi-join and the
        # final join below: collect it once so both see the same rows
        first = self.search(query, window).collect()
        if not first:
            return empty(self.spark, "url string, min_dist long, rescore double, rank int")
        cand = (
            self.spark.createDataFrame(first, TOPK_SCHEMA)
            .select("url", "score")
            .join(self._doc_map(), "url")
            .select("shard", "local_id", "url", "score")
        )
        resolved = self.resolve_terms(sorted(set(self.parse_query(query))))
        out = cand
        if len(resolved) >= 2:
            live = cand.select("shard", "local_id")
            mind = self._min_pair_dist(
                resolved, lambda pos: pos.join(live, ["shard", "local_id"], "left_semi"))
            out = out.join(mind, ["shard", "local_id"], "left")
        else:
            out = out.withColumn("min_dist", F.lit(None).cast("long"))
        out = (
            out.withColumn(
                "min_dist",
                F.coalesce(F.col("min_dist"), F.lit(-1)).cast("long"))
            .withColumn(
                "rescore",
                F.col("score") + F.when(
                    F.col("min_dist") >= 0,
                    F.lit(float(weight)) / (F.lit(1.0) + F.col("min_dist")),
                ).otherwise(F.lit(0.0)))
        )
        return topk(out, k, (F.desc("rescore"), F.asc("url")), ("url", "min_dist", "rescore"))

    def _unpack_position_arrays(self, scan: DataFrame) -> DataFrame:
        """(term_key, shard, local_id, poss) — one row per POSTING
        (not per occurrence), the document's position list for the
        term as an array.  The proximity join moves these rows, so
        the exchange size is tf-independent; the tf(a)·tf(b) pairwise
        work happens inside a codegen expression after the join."""

        def posting_lists(pdf: pd.DataFrame, d: dict) -> pd.DataFrame:
            ends = np.cumsum(d["tfs"].astype(np.int64)).tolist()
            flat = d["poss"].astype(np.int64).tolist()
            return pd.DataFrame({
                "term_key": d["term_key"],
                "shard": d["shard"],
                "local_id": d["doc_ids"].astype(np.int64),
                "poss": [flat[lo:hi] for lo, hi in zip([0] + ends[:-1], ends)],
            })

        return _decode_scan(
            scan, ("doc_ids", "tfs", "poss"), posting_lists,
            "term_key string, shard int, local_id long, poss array<long>")

    def proximity_search(self, query: str, k: int | None = None,
                         max_window: int | None = None) -> DataFrame:
        """Proximity-ranked top-k: documents containing at least two
        DISTINCT query terms, ranked by the smallest token distance
        between any pair of distinct terms (min_dist asc), then the
        usual BM25 + importance blend (score desc), then url asc —
        the Lucene sloppy-phrase idea without requiring phrase order.
        ``max_window`` drops documents whose closest pair sits farther
        apart.  Requires an index built with ``keep_positions=True``.

        Relational plan: ONE pruned scan per query term (bucket dir +
        row-group stats, as phrase_search), positions unpacked to ONE
        row per (term, doc) with the position list as an array; the
        pairwise minimum is a self-equi-join on (shard, local_id)
        filtered to term_a < term_b, with the tf(a)·tf(b) scan inside
        a nested codegen ``aggregate`` — the exchange moves
        occurrence-count-independent rows (head terms ship one array
        per doc, not one row per occurrence), and the per-doc work is
        the same cost Lucene's sloppy-phrase scorer pays, never a
        corpus pass.  Scoring reuses the ordinary posting unpack; both
        paths prune to the query's own terms."""
        if not self.meta.get("keep_positions"):
            raise ValueError(
                "proximity_search requires an index built with keep_positions=True")
        k = k or self.cfg.top_k
        resolved = self.resolve_terms(sorted(set(self.parse_query(query))))
        if len(resolved) < 2:  # proximity needs two distinct matchable terms
            return empty(self.spark, "url string, min_dist long, score double, rank int")
        mind = self._min_pair_dist(resolved, self._drop_deleted)
        if max_window is not None:
            mind = mind.filter(F.col("min_dist") <= max_window)
        # the BM25-blend tail over the same resolved terms; min_dist is
        # one value per doc, so grouping by it keeps one row per doc
        per_posting = self._resolved_postings(resolved).join(mind, ["shard", "local_id"])
        return topk(self._doc_scores(per_posting, by=("min_dist",)), k,
                    (F.asc("min_dist"), F.desc("score"), F.asc("url")),
                    ("url", "min_dist", "score"))

    def _min_pair_dist(self, resolved: pd.DataFrame,
                       restrict: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """(shard, local_id, min_dist): the smallest token distance
        between two DISTINCT resolved terms, for each doc holding at
        least two of them.  Position arrays come from one pruned
        unpack per term; ``restrict`` narrows them (the tombstone
        anti-join, or a candidate semi-join) before the pairwise
        self-equi-join on the doc key.  The strict term order halves
        the pairs and removes self-pairs; the tf(a)·tf(b) scan runs
        inside a nested codegen ``aggregate``."""
        pos = None
        for key in sorted(resolved["term_key"]):
            part = self._unpack_position_arrays(
                self._scan_index(resolved[resolved["term_key"] == key]))
            pos = part if pos is None else pos.unionByName(part)
        pos = restrict(pos)
        a = pos.select("shard", "local_id",
                       F.col("term_key").alias("ta"), F.col("poss").alias("pa"))
        b = pos.select("shard", "local_id",
                       F.col("term_key").alias("tb"), F.col("poss").alias("pb"))
        pair_min = F.expr(
            "aggregate(pa, CAST(4611686018427387904 AS BIGINT),"
            " (acc, x) -> least(acc, aggregate(pb,"
            " CAST(4611686018427387904 AS BIGINT),"
            " (acc2, y) -> least(acc2, abs(x - y)))))"
        )
        return (
            a.join(b, ["shard", "local_id"])
            .filter(F.col("ta") < F.col("tb"))
            .select("shard", "local_id", pair_min.alias("pair_min"))
            .groupBy("shard", "local_id")
            .agg(F.min("pair_min").cast("long").alias("min_dist"))
        )

    def explain_score(self, query: str, url: str) -> DataFrame:
        """Lucene-style Explanation for one (query, document) pair:
        per matched term, the BM25 contribution, the importance bonus,
        and the blended part (a·contrib + b·bonus) — the parts sum to
        exactly the document's :meth:`search` score, the invariant the
        search_explain driver row pins.  The relevance-debugging
        surface every ranking change gets interrogated with.

        Plan: the ordinary pruned scan of the QUERY's own terms,
        unpacked once, then a 1-row broadcast semi-restriction to the
        target document's (shard, local_id) — the accepted scalar
        pattern; never a corpus pass."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark,
                         "term_key string, bm25_contrib double, bonus double, part double")
        target = (self._doc_map().filter(F.col("url") == url)
                  .select("shard", "local_id"))
        return (
            per.join(F.broadcast(target), ["shard", "local_id"])
            .select(
                "term_key",
                F.col("contrib").alias("bm25_contrib"),
                "bonus",
                self._blend(F.col("contrib"), F.col("bonus")).alias("part"),
            )
        )

    def search_with_snippets(self, query: str, docstore_path: str,
                             k: int | None = None,
                             window: int = 5) -> DataFrame:
        """The assembled result page from stored artifacts: top-k
        BM25 + the 0-based first match position of any query term +
        the ±``window``-token excerpt.  (url, score, rank, match_pos,
        snippet).  Requires ``keep_positions=True`` and a docstore
        built by ``operators/docstore.write_docstore``.

        Scale shape — no corpus pass anywhere:
        - match_pos comes from the POSITIONAL POSTINGS (the
          term-vector trick: the index already knows where each hit
          is), pruned to the query's own terms;
        - text comes from the docstore via bucket PartitionFilters +
          a k-url IN pushdown (row-group min/max on the url-sorted
          files);
        - the excerpt re-tokenizes exactly the k result documents
          (one Arrow batch) with the BUILD tokenizer, so the window
          aligns with the recorded positions."""
        from .operators.docstore import attach_snippets, fetch_docs

        if not self.meta.get("keep_positions"):
            raise ValueError(
                "search_with_snippets requires an index built with "
                "keep_positions=True")
        k = k or self.cfg.top_k
        rows = self.search(query, k).collect()  # k rows: the serving cut
        if not rows:
            return empty(self.spark, TOPK_SCHEMA + ", match_pos long, snippet string")
        run = self.spark.createDataFrame(rows, TOPK_SCHEMA)
        urls = [r["url"] for r in rows]
        resolved = self.resolve_terms(self.parse_query(query))
        pos = self._drop_deleted(
            self._unpack_position_arrays(self._scan_index(resolved)))
        first = (
            pos.select("shard", "local_id", F.array_min("poss").alias("p"))
            .groupBy("shard", "local_id")
            .agg(F.min("p").cast("long").alias("match_pos"))
            .join(self._doc_map(), ["shard", "local_id"])
            .select("url", "match_pos")
        )
        texts = fetch_docs(self.spark, docstore_path, urls)
        joined = (
            run.join(first, "url").join(texts, "url")
            .select("url", "score", "rank", "match_pos", "text")
        )
        return attach_snippets(joined, window=window).orderBy("rank")

    def entities_top5(self, urls: list[str] | None = None, k: int = 5) -> DataFrame:
        """A8/R6: top-k entities per doc by round(new_tf/df, 3)."""
        from .operators.entities import top_entities

        ents = self.spark.read.parquet(self.paths.entities)
        dead = self._tombstone_rows()
        if dead is not None:
            ents = tombstone_join(ents, dead, "left_anti")
        if urls is not None:
            ents = ents.filter(F.col("url").isin(urls))
        return top_entities(ents, self._dictionary, k)

    def search_batch(self, queries: list[tuple[str, str]], k: int | None = None) -> DataFrame:
        """All queries in one job (lifecycle 3.3): one pruned index
        scan over the union of query terms, unpacked once per index
        row, fanned out to queries by a broadcast join, scored grouped
        by (qid, doc)."""
        k = k or self.cfg.top_k
        q_terms: list[tuple[str, str]] = []
        for qid, q in queries:
            for t in self.parse_query(q):
                q_terms.append((qid, t))
        if not q_terms:
            return empty(self.spark, BATCH_SCHEMA)
        all_keys = sorted({t for _, t in q_terms})
        resolved = self.resolve_terms(all_keys)
        if resolved.empty:
            return empty(self.spark, BATCH_SCHEMA)
        matched = set(resolved["term_key"])
        # distinct (qid, term): a qid repeated across batch entries is
        # scored over the UNION of its queries' terms — duplicate rows
        # here would double-count a shared term's contribution
        qt = self.spark.createDataFrame(
            sorted({(qid, t) for qid, t in q_terms if t in matched}),
            "qid string, term_key string",
        )
        per_posting = self._resolved_postings(resolved).join(F.broadcast(qt), "term_key")
        return topk_by_qid(self._doc_scores(per_posting, by=("qid",)), k)

    def search_extended_stats(self, query: str, values: DataFrame,
                              dim_col: str, value_col: str,
                              url_col: str = "url",
                              approx: bool = False) -> DataFrame:
        """ES ``extended_stats`` + ``percentiles`` aggregations under
        a query context — the numeric sidebar ("matching pages by
        language: median length, p75, spread"): over the FULL live
        matching doc set, per ``dim_col`` value, the count, min, max,
        sum, mean, population stddev and quartiles of an integer
        attribute.  Returns (facet, n_docs, v_min, v_max, v_sum,
        v_avg, v_sd, p25, p50, p75).

        Determinism: sum/min/max are exact BIGINTs; mean and stddev
        are derived from the exact BIGINT Σx and Σx² in ONE double
        expression each (never a float running sum, so no
        partition-order noise) and half-up-rounded to 6dp; the
        quartiles use linear interpolation on the sorted values —
        Spark's ``percentile`` and DuckDB's ``quantile_cont`` agree
        bit for bit (probed).

        Scale: the candidate set is posting-union-sized (pruned
        scan); one join to the attribute table; one hash agg per
        facet.  Exact percentiles buffer each group's values —
        bounded by the largest facet's match count; at corpus-scale
        result sets pass ``approx=True`` to swap in
        ``percentile_approx`` (ES's own t-digest answer; the oracle
        rows keep the exact form)."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return empty(self.spark,
                         "facet string, n_docs long, v_min long, v_max long, "
                         "v_sum long, v_avg double, v_sd double, p25 double, "
                         "p50 double, p75 double")
        cand = per.select("shard", "local_id").distinct()
        rows = (
            cand.join(self._doc_map(), ["shard", "local_id"])
            .join(values.select(F.col(url_col).alias("url"),
                                F.col(dim_col).cast("string").alias("facet"),
                                F.col(value_col).cast("long").alias("v")),
                  "url")
        )
        pct = F.percentile_approx if approx else F.percentile
        n = F.count(F.lit(1)).cast("long")
        sx = F.sum("v").cast("long")
        sx2 = F.sum(F.col("v") * F.col("v")).cast("long")
        return (
            rows.groupBy("facet")
            .agg(
                n.alias("n_docs"),
                F.min("v").alias("v_min"),
                F.max("v").alias("v_max"),
                sx.alias("v_sum"),
                sx2.alias("_sx2"),
                pct(F.col("v"), 0.25).alias("p25"),
                pct(F.col("v"), 0.5).alias("p50"),
                pct(F.col("v"), 0.75).alias("p75"),
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

    def search_cardinality(self, query: str, values: DataFrame,
                           value_col: str, url_col: str = "url",
                           approx: bool = False) -> DataFrame:
        """ES ``cardinality`` aggregation under a query context: the
        number of DISTINCT values of an attribute among the live
        matching docs ("results from N different hosts").  Returns a
        1-row (n_values) frame — exact BIGINT countDistinct by
        default; ``approx=True`` swaps in the deterministic md5-HLL
        sketch (operators/sketches.py, half-up-rounded estimate) —
        ES's own answer, and the web-scale shape when the value
        domain is too large to shuffle distinct: register state
        max-merges inside one hash agg, exchange bounded by m
        register rows regardless of corpus size."""
        from .operators import sketches as SK

        per = self._postings(self.parse_query(query))
        if per is None:
            return self.spark.createDataFrame([(0,)], "n_values long")
        cand = per.select("shard", "local_id").distinct()
        rows = (
            cand.join(self._doc_map(), ["shard", "local_id"])
            .join(values.select(F.col(url_col).alias("url"),
                                F.col(value_col).cast("string").alias("v")),
                  "url")
        )
        if approx:
            return (
                SK.hll_estimate(SK.hll_registers(rows, "v"))
                .select(F.floor(F.col("est") + F.lit(0.5)).cast("long")
                        .alias("n_values"))
            )
        return rows.agg(
            F.countDistinct("v").cast("long").alias("n_values"))

    def search_facets(self, query: str, dims: DataFrame, dim_col: str,
                      url_col: str = "url") -> DataFrame:
        """Facet counts over the FULL matching doc set — the
        result-page sidebar ("124 results in en, 31 in de, ...") the reference
        UI approximates with its per-doc city column
        (MainWindowController.java result table): for every value of
        ``dims.dim_col``, the number of DISTINCT matching docs
        (>= 1 query term on its posting list, tombstones excluded)
        carrying that value.  Returns (facet, n_docs).

        Plan shape at scale: pruned index scan (bucket dirs +
        term_key stats) -> distinct candidate doc ids (map-side
        combining) -> url via doc_map -> one join against the
        dimension table -> hash agg.  The candidate set is
        posting-union-sized, never the corpus; no window, no sort —
        facet counting must stream at agg speed because it runs over
        ALL matches, not the top-k."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return (
                dims.select(F.col(dim_col).alias("facet")).limit(0)
                .withColumn("n_docs", F.lit(0).cast("long"))
            )
        cand = per.select("shard", "local_id").distinct()
        urls = cand.join(self._doc_map(), ["shard", "local_id"]).select("url")
        pairs = (
            urls.join(
                dims.select(F.col(url_col).alias("url"),
                            F.col(dim_col).alias("facet")),
                "url",
            )
            # a doc may carry a dim value several times (e.g. multiple
            # city tags) — each doc counts once per facet value
            .select("url", "facet").distinct()
        )
        return pairs.groupBy("facet").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))

    def search_facets_multi(self, query: str,
                            dims_list: list[tuple]) -> DataFrame:
        """Every sidebar dimension in ONE pass — a result page renders
        several facet groups (language, host, year, …) per query, and
        re-running :meth:`search_facets` per dimension re-scans the
        candidate set each time.  ``dims_list`` entries are
        ``(dim_name, dims_df, dim_col)`` or ``(dim_name, dims_df,
        dim_col, url_col)``; returns ``(dim, facet, n_docs)`` with
        ``facet`` cast to string (the union of heterogeneous dimension
        types needs one column type; counts are unaffected).

        Plan shape at scale: the pruned index scan -> distinct
        candidates -> doc_map runs ONCE; the dimension tables union
        behind a literal ``dim`` label (cheap — dimension tables are
        url-keyed projections) into a single join + a single
        (dim, facet) hash agg.  Equivalent per dimension to
        :meth:`search_facets` (driver row ``search_facets_multi``)."""
        labeled = None
        for spec in dims_list:
            name, dims, dim_col = spec[0], spec[1], spec[2]
            url_col = spec[3] if len(spec) > 3 else "url"
            part = dims.select(
                F.lit(name).alias("dim"),
                F.col(url_col).alias("url"),
                F.col(dim_col).cast("string").alias("facet"),
            )
            labeled = part if labeled is None else labeled.unionByName(part)
        per = self._postings(self.parse_query(query))
        if per is None or labeled is None:
            return empty(self.spark, "dim string, facet string, n_docs long")
        cand = per.select("shard", "local_id").distinct()
        urls = cand.join(self._doc_map(), ["shard", "local_id"]).select("url")
        pairs = (
            urls.join(labeled, "url")
            .select("dim", "url", "facet").distinct()
        )
        return pairs.groupBy("dim", "facet").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))

    def search_histogram(self, query: str, values: DataFrame,
                         value_col: str, interval: int,
                         url_col: str = "url") -> DataFrame:
        """ES ``histogram`` aggregation under a query context: distinct
        matching docs per fixed-width bucket of a numeric attribute
        ("results per doc-length band", "per price band").  Returns
        (bucket, n_docs) with ``bucket`` the floor multiple of
        ``interval`` — computed as ``v - pmod(v, interval)``, pure
        BIGINT arithmetic that floors toward -inf for negative values
        exactly like ES's Math.floor bucketing (a float
        ``floor(v/interval)`` would lose exactness past 2^53).  The
        plan is the audited facets kernel over the derived dimension:
        one pruned scan, one hash agg, bucket cardinality =
        value range / interval."""
        if interval < 1:
            raise ValueError("interval must be >= 1")
        v = F.col(value_col).cast("long")
        dims = values.select(
            F.col(url_col).alias("url"),
            (v - F.pmod(v, F.lit(int(interval)))).alias("bucket"),
        )
        return (
            self.search_facets(query, dims, "bucket")
            .select(F.col("facet").alias("bucket"), "n_docs")
        )

    def search_range_agg(self, query: str, values: DataFrame,
                         value_col: str, ranges: list[tuple],
                         url_col: str = "url") -> DataFrame:
        """ES ``range`` aggregation under a query context: distinct
        matching docs per CALLER-DEFINED numeric band — the custom
        complement of :meth:`search_histogram`'s fixed-width grid
        ("0-100 tokens", "100-1000", "1000+").  ``ranges`` entries are
        ``(frm, to)`` half-open ``[frm, to)`` BIGINT bounds with
        ``None`` for an unbounded end; bands may overlap (a doc counts
        once in EVERY band it falls into) and EVERY requested band
        returns a row, zero-count bands included — both ES contracts.
        Returns (band, frm, to, n_docs) with ``band`` the 0-based
        index of the range in the request (deterministic key; ES's
        "from-to" string key breaks ties poorly under overlap).

        Scale shape: the audited facets kernel with the band
        membership as a pure codegen projection — the bands are
        driver literals, so membership is a when()-array + explode
        riding the candidate-values join (no band table join, no new
        shuffle); the zero-fill is a |ranges|-row literal frame
        joined AFTER the agg.  Bucket cardinality = |ranges|."""
        if not ranges:
            raise ValueError("ranges must be non-empty")
        for frm, to in ranges:
            if frm is None and to is None:
                raise ValueError("a range needs at least one bound")
            if frm is not None and to is not None and int(frm) >= int(to):
                raise ValueError(f"empty range [{frm}, {to})")
        per = self._postings(self.parse_query(query))
        spec = self.spark.createDataFrame(
            [(i, None if frm is None else int(frm),
              None if to is None else int(to)) for i, (frm, to) in
             enumerate(ranges)],
            "band long, frm long, to long")
        if per is None:
            return spec.withColumn("n_docs", F.lit(0).cast("long"))
        cand = per.select("shard", "local_id").distinct()
        urls = cand.join(self._doc_map(), ["shard", "local_id"]).select("url")
        v = F.col("v")
        conds = []
        for i, (frm, to) in enumerate(ranges):
            c = F.lit(True)
            if frm is not None:
                c = c & (v >= F.lit(int(frm)))
            if to is not None:
                c = c & (v < F.lit(int(to)))
            conds.append(F.when(c, F.lit(i)))
        counts = (
            urls.join(values.select(F.col(url_col).alias("url"),
                                    F.col(value_col).cast("long").alias("v")),
                      "url")
            .select("url",
                    F.explode(F.array_compact(F.array(*conds))).alias("band"))
            # a doc may carry several values landing in one band —
            # each doc counts once per band
            .distinct()
            .groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        return (
            spec.join(counts, "band", "left")
            .select("band", "frm", "to",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                    .alias("n_docs"))
        )

    def search_rare_terms(self, query: str, dims: DataFrame,
                          dim_col: str, max_doc_count: int = 1,
                          url_col: str = "url") -> DataFrame:
        """ES ``rare_terms`` aggregation under a query context: the
        dimension values carried by AT MOST ``max_doc_count`` distinct
        matching docs — the long-tail complement of the facets
        sidebar's head counts (ES added it because a ``terms`` agg
        ordered count-ASC cannot be served from per-shard top-k
        summaries: a globally-rare term can be locally common, so ES
        falls back to a CuckooFilter approximation; this engine
        computes the exact answer because the facets kernel already
        aggregates globally).  Returns (facet, n_docs), n_docs >= 1 —
        a value carried by NO matching doc is not a bucket.

        Scale shape: identical to :meth:`search_facets` plus one
        post-agg filter; the rare tail is large at web scale but the
        output is a frame, never a driver collect."""
        if max_doc_count < 1:
            raise ValueError("max_doc_count must be >= 1")
        return (
            self.search_facets(query, dims, dim_col, url_col)
            .filter(F.col("n_docs") <= int(max_doc_count))
        )

    def search_missing(self, query: str, dims: DataFrame,
                       url_col: str = "url") -> DataFrame:
        """ES ``missing`` aggregation under a query context: how many
        matching docs carry NO value for a field — the data-quality
        sidebar row ("12,431 results without a language tag") and the
        complement of every facet count.  ``dims`` is the url-keyed
        attribute table; a doc is missing iff it has no row there.
        Returns one row (n_docs).

        Scale shape: the facets kernel's candidate set anti-joined
        against the dimension table (no forced broadcast — at web
        scale the attribute table is corpus-sized; AQE decides), then
        one count."""
        per = self._postings(self.parse_query(query))
        if per is None:
            return self.spark.createDataFrame([(0,)], "n_docs long")
        cand = per.select("shard", "local_id").distinct()
        urls = cand.join(self._doc_map(), ["shard", "local_id"]).select("url")
        missing = urls.join(
            dims.select(F.col(url_col).alias("url")).distinct(),
            "url", "left_anti")
        return missing.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))

    def search_facets_sampled(self, query: str, dims: DataFrame,
                              dim_col: str, rate_ppm: int,
                              salt: str = "",
                              url_col: str = "url") -> DataFrame:
        """ES ``sampler`` aggregation under a query context: run the
        facet counts over a SAMPLE of the matching docs instead of
        all of them — the cost lever for expensive sub-aggregations
        over huge match sets.  ES samples the top-scoring shard-local
        docs; this engine samples DETERMINISTICALLY by md5 hash
        bucket (the ``sample_stratified`` discipline: a doc is in or
        out as a pure function of (url, salt), so the sample — and
        therefore the aggregation — is identical on any engine,
        partitioning, and run).  ``rate_ppm`` is the keep rate in
        parts per million.  Returns (facet, n_docs) over the sampled
        match set.

        Scale shape: the facets kernel with ONE extra codegen hash
        filter on the candidate urls — the sample costs nothing and
        everything downstream shrinks by the rate."""
        if not (0 < rate_ppm <= 1_000_000):
            raise ValueError("rate_ppm must be in (0, 1000000]")
        per = self._postings(self.parse_query(query))
        if per is None:
            return (
                dims.select(F.col(dim_col).alias("facet")).limit(0)
                .withColumn("n_docs", F.lit(0).cast("long"))
            )
        cand = per.select("shard", "local_id").distinct()
        urls = (
            cand.join(self._doc_map(), ["shard", "local_id"]).select("url")
            # deterministic ppm bucket from the md5's first 8 hex
            # chars (the sample_bucket convention DuckDB evaluates
            # identically via ('0x'||substr)::BIGINT)
            .filter(
                F.conv(F.substring(F.md5(F.concat(F.col("url"),
                                                  F.lit(salt))), 1, 8),
                       16, 10).cast("long") % 1_000_000
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

    def search_composite(self, query: str, dims_list: list[tuple],
                         size: int = 10,
                         after: tuple | list | None = None) -> DataFrame:
        """ES ``composite`` aggregation under a query context — the
        bucket-PAGINATION surface: buckets are keyed by the TUPLE of
        source values, totally ordered by that key ascending, and a
        page is the first ``size`` buckets strictly AFTER the
        ``after`` key tuple (the previous page's last key — ES's
        ``after_key`` cursor).  Facet/top-hits aggregations sort
        buckets by count and so must see every bucket at once;
        composite's key order is what lets a client walk an
        unbounded bucket space (every (host, lang) pair of a crawl)
        in bounded pages.  ``dims_list`` entries are ``(dim_name,
        dims_df, dim_col)`` or ``(..., url_col)`` as in
        :meth:`search_facets_multi`; returns one column per
        ``dim_name`` plus ``n_docs``.  A doc missing a source
        contributes no bucket (inner joins — ES
        ``missing_bucket:false``); multi-valued sources cross, the ES
        contract.

        Scale shape: the pruned scan -> distinct candidates ->
        doc_map runs once; each source joins on url; one hash agg on
        the key tuple.  The keyset filter applies BEFORE the sort, so
        the only ordered operator is a TakeOrderedAndProject of
        ``size`` rows over the bucket space — page depth never grows
        a heap (the search_after lesson applied to buckets), and the
        cursor is exact (BIGINT/string keys, never a float score).
        No reference counterpart (flat top-50 UI); the aggregation
        layer of SURVEY §2.10."""
        if size < 1:
            raise ValueError("size must be >= 1")
        names = [spec[0] for spec in dims_list]
        if not names or len(set(names)) != len(names):
            raise ValueError("dims_list needs unique, non-empty dim names")
        if after is not None and len(after) != len(names):
            raise ValueError(
                f"after key has {len(after)} values for {len(names)} sources")
        cur = self.matching_urls(query)
        for spec in dims_list:
            name, dims, dim_col = spec[0], spec[1], spec[2]
            url_col = spec[3] if len(spec) > 3 else "url"
            # a NULL source value is a MISSING value (ES
            # missing_bucket:false) — and it must never enter the key
            # space, where it would break the strict after-key order
            cur = cur.join(
                dims.select(F.col(url_col).alias("url"),
                            F.col(dim_col).alias(name))
                .filter(F.col(name).isNotNull()),
                "url",
            )
        pairs = cur.select("url", *names).distinct()
        buckets = pairs.groupBy(*names).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))
        if after is not None:
            # strict lexicographic key > after, built innermost-last:
            # (k1 > a1) OR (k1 = a1 AND (k2 > a2 OR ...))
            cond = F.lit(False)
            for name, a in reversed(list(zip(names, after))):
                cond = (F.col(name) > F.lit(a)) | (
                    (F.col(name) == F.lit(a)) & cond)
            buckets = buckets.filter(cond)
        return buckets.orderBy(*[F.col(n).asc() for n in names]).limit(size)
