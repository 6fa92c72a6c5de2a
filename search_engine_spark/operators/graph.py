"""Link-graph operators: PageRank as iterative DataFrame joins.

Web-curation pipelines rank crawl frontiers and weight training
sources by link-graph centrality (host- or page-level PageRank
priors); the reference engine ranks purely lexically (BM25 + entity
boost, Ranker.java) — this is the web-scale prior that composes with
it.

Exactness: ranks live on an INTEGER nano-grid (1e9 units) and every
step is integer arithmetic — per-edge share = rank // out_degree,
damping = rational 17/20 applied as ``(num * x) // den`` — so the
result is bit-identical on any engine and any partitioning, with no
float-sum ordering anywhere (the integer-Gopher-flags trick applied
to an iterative algorithm).  The quantization error vs real-valued
PageRank is < 1 nano per node per iteration — irrelevant for a
ranking prior, decisive for cross-engine verification.

Scale shape (100 TB / 1e12-edge graphs):
- each iteration is the canonical contribs pattern: ranks ⋈ edges on
  ``src`` (shuffle keyed by src), per-edge integer share, one
  map-side-combining groupBy on ``dst`` — at production the edge
  table is bucketed by ``src`` once so every iteration reuses the
  same co-location instead of re-shuffling the (static) edges.
- the dangling-mass term is one scalar agg per iteration (an O(1)
  driver action, same budget as dedup_clusters' convergence probes).
- ranks are localCheckpoint'ed per iteration; the previous
  generation's blocks are reclaimed by ContextCleaner once its
  DataFrame is dropped (bounded executor memory across deep loops).
  Persist alone is NOT enough: it caches blocks but the logical plan
  still deepens one join+agg per round, and re-analyzing that tree
  came to dominate wall time (measured 392s -> 14s at 5k nodes x 8
  iterations when the checkpoint replaced a persist).  Same pattern
  and tradeoff as dedup_clusters; on a cluster, executor loss during
  the loop means rerunning the job, which is acceptable for an
  offline prior.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NANO = 10**9
NANO_REL = 10**6                # blend normalization grid (micro)
DAMP_NUM, DAMP_DEN = 17, 20     # damping 0.85 as a rational


def pagerank(nodes: DataFrame, edges: DataFrame, n_iters: int = 8,
             id_col: str = "id", weight_col: str | None = None) -> DataFrame:
    """Integer-grid PageRank: ``(id, rank_nano)`` after ``n_iters``
    synchronous iterations over ``edges(src, dst)``.

    rank'_v = ((DEN-NUM) * (NANO // N)) // DEN
              + (NUM * (contrib_v + dangling // N)) // DEN
    with contrib_v = sum over in-edges of ((rank_u * w) // out_wt_u)
    and dangling = sum of ranks of nodes with no out-edges.  With no
    ``weight_col`` every edge has w = 1 and out_wt = out-degree (the
    classic page-level form); with ``weight_col`` (e.g. the host
    graph's ``n_links``) each edge carries its multiplicity — the
    weighted PageRank host-level priors use.  Every term is BIGINT
    and the share uses SQL integer division (``div``), so the result
    is bit-identical on any engine and partitioning; magnitudes stay
    < 1e15 (rank < 2e10, weights realistically < 1e5 per edge), far
    inside int64 on both engines."""
    # the graph is STATIC across iterations: materialize the node-id
    # set, the (src, dst, w, deg) frame and the sink-node set once,
    # or every consumer re-runs the upstream derivation (nodes is
    # typically url-normalize + distinct over the crawl; without the
    # node persist it evaluated three times — count, sink anti-join,
    # rank init — the cost the TrustRank variant measured at 58s in
    # one join alone)
    node_ids = (
        nodes.select(F.col(id_col).alias("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = node_ids.count()
    if n == 0:
        node_ids.unpersist()
        return nodes.select(F.col(id_col).alias("id"),
                            F.lit(0).cast("long").alias("rank_nano"))
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    ew = edges.select("src", "dst", w.alias("w"))
    edged = (
        ew.join(ew.groupBy("src").agg(F.sum("w").alias("deg")), "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edged.count()
    sinks = (
        node_ids
        .join(edged.select(F.col("src").alias("id")), "id", "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sinks.count()
    base = ((DAMP_DEN - DAMP_NUM) * (NANO // n)) // DAMP_DEN
    # ranks are localCheckpoint'ed per iteration (the dedup_clusters
    # pattern): persist alone caches BLOCKS but leaves the logical
    # plan growing one join+agg deeper per round, and re-analyzing
    # that tree dominates wall time after a few iterations
    ranks = node_ids.select(
        "id",
        F.lit(NANO // n).cast("long").alias("r"),
    ).localCheckpoint()
    for _ in range(n_iters):
        dangling = (
            ranks.join(sinks, "id", "leftsemi")
            .agg(F.sum("r")).first()[0]
        ) or 0
        contrib = (
            ranks.join(edged, ranks["id"] == edged["src"])
            # SQL integer division: exact on BIGINT at any magnitude
            # (a double floor(a/b) can flip one ulp below an integer
            # once deg reaches web-scale out-weights)
            .select("dst", F.expr("CAST((r * w) DIV deg AS LONG)")
                    .alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        nxt = (
            ranks.select("id")
            .join(contrib, ranks["id"] == contrib["dst"], "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.floor(
                        F.lit(DAMP_NUM)
                        * (F.coalesce(F.col("c"), F.lit(0))
                           + F.lit(dangling // n))
                        / F.lit(DAMP_DEN)
                    ).cast("long")
                ).alias("r"),
            )
        ).localCheckpoint()  # eager: materialized before the swap below
        # no explicit release: DataFrame.unpersist() is a no-op on
        # localCheckpoint blocks (the checkpointed RDD is not registered
        # with the CacheManager) — dropping the reference lets
        # ContextCleaner reclaim the previous generation's blocks once
        # the old DataFrame is garbage-collected.  The loop holds at
        # most two generations at a time either way.
        ranks = nxt
    edged.unpersist()
    sinks.unpersist()
    node_ids.unpersist()
    # the returned frame reads the final generation's checkpoint;
    # earlier generations free via ContextCleaner as noted above
    return ranks.select("id", F.col("r").alias("rank_nano"))


def extract_links(pages: DataFrame, url_col: str = "url",
                  text_col: str = "text") -> DataFrame:
    """Edges ``(src, dst)`` from the crawl table itself: one codegen
    ``regexp_extract_all`` pass pulls every ``href="…"`` target out of
    the page body, then BOTH endpoints go through the URL hygiene
    normalizer (``urls.normalize_url`` rules 1-5) so recrawl spellings
    of the same resource collapse to one node — the prerequisite for a
    meaningful link graph (raw-spelling nodes would split a page's
    in-links across its surface forms).  Self-loops (after
    normalization) dropped, edges distinct.

    Scale shape (100 TB): extraction + normalization ride the scan
    (Generate + expression chain, no UDF); the only shuffle is the
    final distinct on (src, dst) — map-side combining, keyed by the
    edge.  Composes: extract_links -> pagerank -> blend_prior is the
    URL-hygiene -> link-graph -> authority-prior pipeline over the
    BASELINE input-hint schema (url, warc_ts, html, text, lang)."""
    from .urls import _norm_expr

    hrefs = F.regexp_extract_all(F.col(text_col), F.lit('href="([^"]+)"'),
                                 F.lit(1))
    return (
        pages.select(
            _norm_expr(F.col(url_col)).alias("src"),
            F.explode(hrefs).alias("raw_dst"),
        )
        .select("src", _norm_expr(F.col("raw_dst")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def host_graph(edges: DataFrame) -> DataFrame:
    """Host-level rollup of a page-level link graph:
    ``(src_host, dst_host, n_links)`` over distinct page edges,
    cross-host only — the graph host-level PageRank (the cheaper,
    skew-resistant prior most pipelines rank first) runs on.  One
    map-side-combining hash agg; host cardinality is bounded
    (~1e8 hosts vs 1e12 pages)."""
    from .urls import host_of

    return (
        edges.select(host_of(F.col("src")).alias("src"),
                     host_of(F.col("dst")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


def extract_anchors(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Anchor-text pairs ``(dst, term)`` from the crawl table — the
    classic web-ranking signal the reference's purely-lexical ranker
    (Ranker.java) never had: the words OTHER pages use when linking to
    a resource describe it, often better than its own body.  One
    codegen ``regexp_extract_all`` pass pulls every full
    ``<a href="…">text</a>`` tag, the href goes through the URL
    hygiene normalizer (rules 1-5, same as ``extract_links``) so all
    surface spellings of a target pool their anchor evidence, and the
    anchor text splits on whitespace into terms.  Multiplicity is
    KEPT (no distinct): each linking occurrence is one unit of
    evidence, which is what ``anchor_term_stats`` counts.

    Scale shape (100 TB): extraction, normalization and the term
    split all ride the scan (two Generates + expression chain, no
    UDF, no shuffle at all in this operator)."""
    from .urls import _norm_expr

    tags = F.regexp_extract_all(
        F.col(text_col), F.lit('<a href="[^"]*">[^<]*</a>'), F.lit(0))
    tag = F.col("tag")
    return (
        pages.select(F.explode(tags).alias("tag"))
        .select(
            _norm_expr(F.regexp_extract(tag, '<a href="([^"]*)">', 1))
            .alias("dst"),
            F.explode(F.split(
                F.regexp_extract(tag, '>([^<]*)</a>', 1), r"\s+"))
            .alias("term"),
        )
        .filter(F.col("term") != "")
    )


def anchor_term_stats(anchors: DataFrame) -> DataFrame:
    """Per-target anchor-term frequencies ``(dst, term, n_links)`` —
    the table an indexer joins in as an extra scored field (anchor
    terms boost the TARGET document; BM25F's anchor stream).  ONE
    map-side-combining hash agg keyed (dst, term); output cardinality
    is bounded by distinct targets x their anchor vocabularies, tiny
    next to the crawl."""
    return (anchors.groupBy("dst", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("n_links")))


def anchor_search(stats: DataFrame, terms: list[str] | tuple[str, ...],
                  k: int = 10) -> DataFrame:
    """Anchor-field retrieval: rank targets by the words OTHER pages
    use when linking to them — the field web engines weight hardest
    for navigational queries (the target page may not even contain
    its own best query terms).  Input is :func:`anchor_term_stats`
    ``(dst, term, n_links)``; score is pure BIGINT arithmetic so the
    oracle comparison is exact:

        weight(term)  = NANO_REL // df(term)       (rarer terms count more)
        score(dst)    = sum over matching terms of n_links * weight

    with df(term) = distinct targets carrying the term (computable on
    the term-filtered slice alone).  Output ``(dst, anchor_score,
    rank)``, ties (score desc, dst asc), cut at ``k``.

    Scale shape (100 TB): the literal ``term IN (...)`` filter is
    pushed into the scan of the (stored) anchor-stats table, so the
    whole query touches only the query terms' rows — the df agg is
    |terms| rows, its join back is AQE-broadcast, and the per-target
    sum is one map-side-combining agg over the filtered slice."""
    q = stats.filter(F.col("term").isin(list(terms)))
    dfq = q.groupBy("term").agg(F.countDistinct("dst").alias("df"))
    order = (F.desc("anchor_score"), F.asc("dst"))
    return (
        q.join(dfq, "term")
        .select("dst",
                (F.col("n_links") * F.expr(f"{NANO_REL} div df")).alias("w"))
        .groupBy("dst")
        .agg(F.sum("w").cast("long").alias("anchor_score"))
        .orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


def write_anchor_index(stats: DataFrame, path: str,
                       n_buckets: int = 64) -> dict:
    """Materialize :func:`anchor_term_stats` once per crawl snapshot
    as a term-bucketed serving layout — the anchor analogue of the
    stored MLT/suggest layouts: ``stats/`` partitioned by the md5
    term bucket (same portable bucket fn as the MLT dictionary) and
    range-sorted by ``term`` inside each partition so parquet
    row-group min/max stats prune within the bucket too.  Build cost
    is one shuffle of the (already tiny next to the crawl) stats
    table; afterwards a query's ``term IN`` filter reaches the scan
    as PartitionFilters (bucket) + PushedFilters (term) and touches
    only its own terms' rows — no corpus pass, no full-stats scan."""
    import json
    import os

    from .mlt import _bucket_expr

    (stats.withColumn("bucket", _bucket_expr("term", n_buckets))
     .repartition("bucket")
     .sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(path, "stats")))
    meta = {"n_buckets": n_buckets}
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def read_anchor_stats(spark, path: str, terms) -> DataFrame:
    """The stored anchor-stats rows a query needs: bucket ids computed
    driver-side (literal PartitionFilters — only the query terms'
    partition dirs are listed) plus the ``term IN`` pushdown."""
    import json
    import os

    from .mlt import _py_bucket

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    buckets = sorted({_py_bucket(t, meta["n_buckets"]) for t in terms})
    return (spark.read.parquet(os.path.join(path, "stats"))
            .filter(F.col("bucket").isin(buckets)))


def anchor_search_indexed(spark, path: str, terms, k: int = 10) -> DataFrame:
    """:func:`anchor_search` served from the stored layout: identical
    results, but the scan reads only the query terms' bucket
    partitions / row groups instead of recomputing the stats from the
    crawl."""
    return anchor_search(read_anchor_stats(spark, path, terms), terms, k)


def duckdb_anchor_search_sql(anchor_sql: str, terms, k: int = 10) -> str:
    """Oracle twin of :func:`anchor_search` over any anchor-stats SQL
    (normally :func:`duckdb_anchor_terms_sql`): the same BIGINT
    weight/score/rank arithmetic, so the comparison is exact."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH ast AS ({anchor_sql}),
q AS (SELECT * FROM ast WHERE term IN ({tl})),
dfq AS (SELECT term, CAST(count(DISTINCT dst) AS BIGINT) AS df
        FROM q GROUP BY term),
s AS (SELECT q.dst,
        CAST(sum(q.n_links * ({NANO_REL} // dfq.df)) AS BIGINT)
          AS anchor_score
      FROM q JOIN dfq ON q.term = dfq.term GROUP BY q.dst),
rk AS (SELECT dst, anchor_score,
         CAST(row_number() OVER (ORDER BY anchor_score DESC, dst ASC)
              AS BIGINT) AS rank
       FROM s)
SELECT dst, anchor_score, rank FROM rk WHERE rank <= {k}
"""


def duckdb_anchor_terms_sql(synth_sql: str, norm) -> str:
    """Analytic oracle of
    ``anchor_term_stats(extract_anchors(synthetic_linked_crawl()))``:
    the planted anchors derived directly — page s (s%10<>0) links to
    t=(s*p+k)%N with anchor text 'about topic<t%7>', WITHOUT distinct
    (multiplicity is evidence), dst = the DuckDB-normalized spelling
    of t.  A Spark/oracle match certifies the tag extraction, href
    normalization, term split and counting all recovered exactly what
    was planted."""
    unions = " UNION ALL ".join(
        f"""SELECT s.doc_id AS sid, t.doc_id AS tid
        FROM syn s JOIN syn t
          ON t.doc_id = (s.doc_id * {p} + {k})
                        % (SELECT count(*) FROM documents)
        WHERE s.doc_id % 10 <> 0"""
        for p, k in ((7, 1), (13, 2), (29, 3))
    )
    return f"""
WITH syn AS ({synth_sql}),
pairs AS ({unions}),
terms AS (
  SELECT {norm('t.url')} AS dst, w.term
  FROM pairs
  JOIN syn t ON t.doc_id = pairs.tid
  CROSS JOIN LATERAL (
    SELECT 'about' AS term
    UNION ALL SELECT 'topic' || CAST(pairs.tid % 7 AS VARCHAR)
  ) w
)
SELECT dst, term, CAST(count(*) AS BIGINT) AS n_links
FROM terms GROUP BY dst, term
"""


def synthetic_linked_crawl(docs: DataFrame,
                           n_resources: int = 100) -> DataFrame:
    """The synthetic crawl (``urls.synthetic_crawl``: raw spellings
    vary per crawl, resource identity = doc_id % n_resources) with
    deterministic ``<a href>`` anchors EMBEDDED IN THE TEXT: page i
    links to pages (i*7+1)%N, (i*13+2)%N, (i*29+3)%N — the
    ``synthetic_links`` pattern — each anchor spelling the TARGET's
    own raw url (so only the normalizer can resolve the true edge);
    pages with i%10==0 embed nothing (dangling).  Mirrored
    analytically by ``duckdb_linked_edges_sql`` — the oracle derives
    the planted edge set directly, so a driver match proves the
    extraction recovered exactly what was planted."""
    from .urls import synth_url, synthetic_crawl

    n = docs.count()
    d = F.col("doc_id")
    def tag(p: int, k: int):
        t = (d * p + k) % n
        # anchor text DESCRIBES the target ("about topic<t%7>") so the
        # extract_anchors -> anchor_term_stats signal is analytically
        # derivable the same way the edge set is
        return F.concat(F.lit(' <a href="'),
                        synth_url(t, n_resources),
                        F.lit('">about topic'),
                        (t % 7).cast("string"),
                        F.lit('</a>'))

    anchors = F.concat(*[tag(p, k) for p, k in ((7, 1), (13, 2), (29, 3))])
    text = F.when(d % 10 == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), anchors))
    return (
        synthetic_crawl(docs, n_resources)
        .join(docs.select("doc_id", text.alias("text")), "doc_id")
    )


def duckdb_linked_edges_sql(synth_sql: str, norm) -> str:
    """Analytic oracle of ``extract_links(synthetic_linked_crawl())``:
    the planted edges derived directly — src = normalized spelling of
    page i, dst = normalized spelling of page (i*p+k)%N — normalized
    with the SAME DuckDB rule 1-5 expression the url rows pin
    (``norm`` = urls.duckdb_norm_sql).  A Spark/oracle match therefore
    certifies the regexp extraction + normalization recovered exactly
    the planted link set."""
    unions = " UNION ALL ".join(
        f"""SELECT s.doc_id AS sid,
               t.doc_id AS tid
        FROM syn s JOIN syn t
          ON t.doc_id = (s.doc_id * {p} + {k})
                        % (SELECT count(*) FROM documents)
        WHERE s.doc_id % 10 <> 0"""
        for p, k in ((7, 1), (13, 2), (29, 3))
    )
    return f"""
WITH syn AS ({synth_sql}),
pairs AS ({unions}),
normed AS (
  SELECT {norm('s.url')} AS src, {norm('t.url')} AS dst
  FROM pairs JOIN syn s ON s.doc_id = pairs.sid
             JOIN syn t ON t.doc_id = pairs.tid
)
SELECT DISTINCT src, dst FROM normed WHERE src <> dst
"""


def synthetic_links(docs: DataFrame) -> DataFrame:
    """Deterministic link table over the testdata doc ids: node i
    links to (i*p + k) % N for p,k in {(7,1),(13,2),(29,3)}; nodes
    with i % 10 == 0 emit nothing (dangling), self-loops dropped,
    edges distinct.  Mirrored by DUCKDB_LINKS_SQL."""
    n = docs.count()
    d = F.col("doc_id")
    parts = [
        docs.select(d.alias("src"), ((d * p + k) % n).alias("dst"))
        for p, k in ((7, 1), (13, 2), (29, 3))
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        edges.filter((F.col("src") % 10 != 0) & (F.col("src") != F.col("dst")))
        .distinct()
    )


DUCKDB_LINKS_SQL = """
SELECT DISTINCT src, dst FROM (
  SELECT doc_id AS src,
         (doc_id * 7 + 1) % (SELECT count(*) FROM documents) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 2) % (SELECT count(*) FROM documents)
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 29 + 3) % (SELECT count(*) FROM documents)
  FROM documents
) WHERE src % 10 <> 0 AND src <> dst
"""


def duckdb_pagerank_sql(n_iters: int = 8, edges_sql: str | None = None,
                        nodes_sql: str | None = None,
                        weighted: bool = False) -> str:
    """The oracle twin: the same integer-grid iterations unrolled as
    chained CTEs (one pair per iteration).  ``edges_sql``/``nodes_sql``
    default to the synthetic doc-id link table; pass the extracted
    link-graph SQL (``duckdb_linked_edges_sql`` + a normalized-url
    node set) to oracle PageRank over the crawl table itself — node
    ids may be any comparable type (BIGINT doc ids, VARCHAR urls):
    the iterations only ever join and aggregate on them.  With
    ``weighted`` the edges SQL must expose a BIGINT ``w`` column
    (edge multiplicity); out-weight and shares then mirror the
    weighted Spark form exactly."""
    edges_sql = edges_sql or DUCKDB_LINKS_SQL
    nodes_sql = nodes_sql or "SELECT doc_id AS id FROM documents"
    deg_expr = "sum(w)" if weighted else "count(*)"
    share_expr = "(r.r * e.w) // g.deg" if weighted else "r.r // g.deg"
    head = f"""
edges AS MATERIALIZED ({edges_sql}),
deg AS MATERIALIZED (SELECT src, CAST({deg_expr} AS BIGINT) AS deg FROM edges GROUP BY src),
nodes AS MATERIALIZED ({nodes_sql}),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT id,
              CAST({NANO} // (SELECT n FROM nn) AS BIGINT) AS r
       FROM nodes)"""
    blocks = [head]
    for i in range(1, n_iters + 1):
        p = i - 1
        blocks.append(f"""
d{i} AS MATERIALIZED (SELECT coalesce(sum(r), 0) AS dang FROM r{p}
         WHERE id NOT IN (SELECT src FROM deg)),
c{i} AS MATERIALIZED (SELECT e.dst AS id, sum({share_expr}) AS c
         FROM r{p} r JOIN edges e ON e.src = r.id
         JOIN deg g ON g.src = e.src
         GROUP BY e.dst),
r{i} AS MATERIALIZED (SELECT r.id,
           CAST(({DAMP_DEN - DAMP_NUM} * ({NANO} // (SELECT n FROM nn)))
                // {DAMP_DEN}
              + ({DAMP_NUM} * (coalesce(c.c, 0)
                 + (SELECT dang FROM d{i}) // (SELECT n FROM nn)))
                // {DAMP_DEN} AS BIGINT) AS r
         FROM r{p} r LEFT JOIN c{i} c ON c.id = r.id)""")
    return (
        "WITH " + ",".join(blocks)
        + f"\nSELECT id, r AS rank_nano FROM r{n_iters}"
    )


def blend_prior(run: DataFrame, prior: DataFrame,
                alpha_num: int = 1, alpha_den: int = 4,
                k: int = 10) -> DataFrame:
    """Re-rank a retrieval run with a query-independent centrality
    prior — the classic web-search blend (lexical score x link
    authority).  ``run`` is (doc_id, score, ...) [a top-k cut or a
    full scored set], ``prior`` is :func:`pagerank` output
    (id, rank_nano); blended = ((den-num)*rel_score + num*rel_prior)
    // den on the half-up 1e-6 integer grid, where each side is
    normalized by its own maximum — so the blend decision, like the
    prior itself, cannot flip on a float boundary across engines.
    Output: (doc_id, blended_micro, rank), ties (blended desc,
    doc_id asc), cut at ``k``.

    Scale shape: two scalar max aggs (O(1)-row broadcast joins, the
    accepted scalar-subquery pattern), one doc_id-keyed join of the
    run against the prior (run-sized, not corpus-sized, when the run
    is a top-k cut), one TakeOrdered-style cut."""
    ms = run.agg(F.max("score").alias("ms"))
    mp = prior.agg(F.max("rank_nano").alias("mp"))
    rel = (
        run.join(prior.withColumnRenamed("id", "doc_id"), "doc_id")
        .crossJoin(F.broadcast(ms)).crossJoin(F.broadcast(mp))
        .select(
            "doc_id",
            F.floor(F.col("score") * NANO_REL / F.col("ms") + 0.5)
            .cast("long").alias("rs"),
            F.floor(F.col("rank_nano") * NANO_REL / F.col("mp") + 0.5)
            .cast("long").alias("rp"),
        )
    )
    blended = rel.select(
        "doc_id",
        (
            F.floor(
                (F.lit(alpha_den - alpha_num) * F.col("rs")
                 + F.lit(alpha_num) * F.col("rp")) / F.lit(alpha_den)
            ).cast("long")
        ).alias("blended_micro"),
    )
    order = (F.desc("blended_micro"), F.asc("doc_id"))
    return (blended.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


# ---------------------------------------------------------------------------
# HITS (Kleinberg 1999) — the hub/authority dual of PageRank: an
# authority is a page pointed at by good hubs, a hub points at good
# authorities.  Same reproducibility discipline as pagerank():
# everything BIGINT on a fixed grid, so results are bit-identical
# across engines and partitionings and the DuckDB oracle unrolls the
# same iterations as chained CTEs.

HITS_GRID = 1_000_000  # micro grid: after each max-rescale values are
# <= 1e6, so the next step's sum*GRID stays under int64 for in/out
# degrees up to ~9e6 — beyond that (celebrity pages at full web
# scale) drop to a 1e3 grid; the rescale rule is grid-agnostic.


def hits(nodes: DataFrame, edges: DataFrame, n_iters: int = 5,
         id_col: str = "id") -> DataFrame:
    """(id, hub_micro, auth_micro) — HITS with MAX-rescaling instead
    of the L2 norm: after each update the vector is rescaled to the
    grid by ``v * GRID // max(v)`` (a positive scale factor preserves
    the ordering HITS is used for, and integer floor-division keeps
    every value BIGINT — the L2 norm would drag every component
    through a float sqrt whose summation order is
    partition-dependent).  Update order is the classic one —
    authorities from the PREVIOUS hubs, hubs from the REFRESHED
    authorities — with both vectors localCheckpoint'ed per iteration
    (the pagerank() plan-growth lesson) and the static edge set
    checkpointed once.  Each iteration runs two edge joins + two
    map-side-combining aggs + two O(1) scalar maxes (the blocking
    driver round-trips, same as pagerank's dangling mass)."""
    e = (edges.select(F.col("src"), F.col("dst"))
         .filter(F.col("src") != F.col("dst")).distinct().localCheckpoint())
    ids = nodes.select(F.col(id_col).alias("id")).distinct().localCheckpoint()
    h = ids.select("id", F.lit(HITS_GRID).cast("long").alias("v"))
    h = h.localCheckpoint()
    a = None
    for _ in range(n_iters):
        a_raw = (
            e.join(h, e["src"] == h["id"]).groupBy("dst")
            .agg(F.sum("v").alias("s"))
        )
        amax = a_raw.agg(F.max("s")).first()[0]
        if not amax:
            a = a_raw.select(F.col("dst").alias("id"),
                             F.lit(0).cast("long").alias("v"))
            h = a
            break
        a = a_raw.select(
            F.col("dst").alias("id"),
            F.expr(f"CAST((s * {HITS_GRID}) DIV {amax} AS LONG)").alias("v"),
        ).localCheckpoint()
        h_raw = (
            e.join(a, e["dst"] == a["id"]).groupBy("src")
            .agg(F.sum("v").alias("s"))
        )
        hmax = h_raw.agg(F.max("s")).first()[0]
        h = h_raw.select(
            F.col("src").alias("id"),
            F.expr(f"CAST((s * {HITS_GRID}) DIV {hmax} AS LONG)").alias("v"),
        ).localCheckpoint()
    return (
        ids.join(h.withColumnRenamed("v", "hub_micro"), "id", "left")
        .join(a.withColumnRenamed("v", "auth_micro"), "id", "left")
        .fillna(0, subset=["hub_micro", "auth_micro"])
        .select("id", F.col("hub_micro").cast("long"),
                F.col("auth_micro").cast("long"))
    )


def duckdb_hits_sql(n_iters: int = 5, edges_sql: str | None = None,
                    nodes_sql: str | None = None) -> str:
    """The oracle twin of :func:`hits`: the same max-rescaled integer
    iterations unrolled as chained MATERIALIZED CTEs."""
    edges_sql = edges_sql or DUCKDB_LINKS_SQL
    nodes_sql = nodes_sql or "SELECT doc_id AS id FROM documents"
    g = HITS_GRID
    blocks = [f"""
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst),
nodes AS MATERIALIZED ({nodes_sql}),
h0 AS MATERIALIZED (SELECT id, CAST({g} AS BIGINT) AS v FROM nodes)"""]
    for i in range(1, n_iters + 1):
        p = i - 1
        blocks.append(f"""
ar{i} AS MATERIALIZED (SELECT e.dst AS id, sum(h.v) AS s
         FROM h{p} h JOIN edges e ON e.src = h.id GROUP BY e.dst),
a{i} AS MATERIALIZED (SELECT id,
         CAST((s * {g}) // (SELECT max(s) FROM ar{i}) AS BIGINT) AS v
         FROM ar{i}),
hr{i} AS MATERIALIZED (SELECT e.src AS id, sum(a.v) AS s
         FROM a{i} a JOIN edges e ON e.dst = a.id GROUP BY e.src),
h{i} AS MATERIALIZED (SELECT id,
         CAST((s * {g}) // (SELECT max(s) FROM hr{i}) AS BIGINT) AS v
         FROM hr{i})""")
    return (
        "WITH " + ",".join(blocks)
        + f"""
SELECT n.id, CAST(coalesce(h.v, 0) AS BIGINT) AS hub_micro,
       CAST(coalesce(a.v, 0) AS BIGINT) AS auth_micro
FROM nodes n
LEFT JOIN h{n_iters} h ON n.id = h.id
LEFT JOIN a{n_iters} a ON n.id = a.id"""
    )


def personalized_pagerank(nodes: DataFrame, edges: DataFrame,
                          seeds: DataFrame, n_iters: int = 8,
                          id_col: str = "id", seed_col: str = "id",
                          weight_col: str | None = None) -> DataFrame:
    """Personalized PageRank / TrustRank (Gyongyi, Garcia-Molina &
    Pedersen, VLDB 2004): the teleport mass lands ONLY on the
    ``seeds`` — rank flows outward from a trusted set instead of
    being sprinkled uniformly, which is the standard web-spam
    demotion prior (trust a curated seed list, let it propagate
    through links) and the "related pages" walk when seeded with one
    page.  Same integer-grid discipline as :func:`pagerank`: every
    term BIGINT, shares in SQL integer division, per-iteration
    localCheckpoint — bit-identical on any engine and partitioning.

    Differences from the uniform form, all three the TrustRank
    contract: r0 is the seed distribution (NANO // |S| on seeds, 0
    elsewhere), the (1-d) teleport adds only onto seeds, and the
    dangling mass redistributes over the seed set.  A node unreachable
    from the seeds keeps rank exactly 0.  Seeds outside the node set
    are ignored; an empty effective seed set is refused (the mass
    would vanish)."""
    # materialize the node-id set FIRST: nodes is typically a derived
    # frame (url-normalize + distinct over the crawl), and without
    # this every consumer below — the seed intersection's join sides,
    # the sink anti-join, the rank init — re-runs that derivation
    # (measured 58s in the seed join alone at sf0.1 vs ~1s from the
    # materialized set)
    node_ids = (
        nodes.select(F.col(id_col).alias("id")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    node_ids.count()
    n_seeds_frame = (
        seeds.select(F.col(seed_col).alias("id")).distinct()
        .join(node_ids, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ns = n_seeds_frame.count()
    if ns == 0:
        node_ids.unpersist()
        raise ValueError("personalized_pagerank needs >= 1 seed inside "
                         "the node set")
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    ew = edges.select("src", "dst", w.alias("w"))
    edged = (
        ew.join(ew.groupBy("src").agg(F.sum("w").alias("deg")), "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edged.count()
    sinks = (
        node_ids
        .join(edged.select(F.col("src").alias("id")), "id", "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sinks.count()
    seedf = n_seeds_frame.withColumn("is_seed", F.lit(1))
    base_s = ((DAMP_DEN - DAMP_NUM) * (NANO // ns)) // DAMP_DEN
    # the seed FLAG rides inside the checkpointed ranks frame (id, r,
    # s): the flag is static, so joining it once at init keeps every
    # iteration at exactly ONE join + one agg — the classic form's
    # plan shape (a per-iteration seed join measured 5x the wall at
    # 32 cores: six extra exchanges of the node frame)
    ranks = (
        node_ids
        .join(seedf, "id", "left")
        .select(
            "id",
            F.when(F.col("is_seed").isNotNull(),
                   F.lit(NANO // ns)).otherwise(F.lit(0))
            .cast("long").alias("r"),
            F.coalesce(F.col("is_seed"), F.lit(0)).cast("int").alias("s"),
        )
    ).localCheckpoint()
    for _ in range(n_iters):
        dangling = (
            ranks.join(sinks, "id", "leftsemi").agg(F.sum("r")).first()[0]
        ) or 0
        contrib = (
            ranks.join(edged, ranks["id"] == edged["src"])
            .select("dst", F.expr("CAST((r * w) DIV deg AS LONG)")
                    .alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        nxt = (
            ranks.select("id", "s")
            .join(contrib, ranks["id"] == contrib["dst"], "left")
            .select(
                "id",
                (
                    F.when(F.col("s") == 1,
                           F.lit(base_s)).otherwise(F.lit(0))
                    + F.floor(
                        F.lit(DAMP_NUM)
                        * (F.coalesce(F.col("c"), F.lit(0))
                           + F.when(F.col("s") == 1,
                                    F.lit(dangling // ns))
                           .otherwise(F.lit(0)))
                        / F.lit(DAMP_DEN)
                    ).cast("long")
                ).alias("r"),
                "s",
            )
        ).localCheckpoint()
        ranks = nxt
    edged.unpersist()
    sinks.unpersist()
    n_seeds_frame.unpersist()
    node_ids.unpersist()
    return ranks.select("id", F.col("r").alias("rank_nano"))


def duckdb_personalized_pagerank_sql(n_iters: int, edges_sql: str,
                                     nodes_sql: str,
                                     seeds_sql: str) -> str:
    """Oracle twin of :func:`personalized_pagerank` — the same
    seed-restricted teleport/init/dangling rules unrolled as chained
    MATERIALIZED CTEs.  ``seeds_sql`` must yield an ``id`` column
    (it is intersected with the node set, like the Spark form)."""
    head = f"""
edges AS MATERIALIZED ({edges_sql}),
deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT DISTINCT id FROM ({nodes_sql})),
seedset AS MATERIALIZED (SELECT DISTINCT s.id FROM ({seeds_sql}) s
                         JOIN nodes USING (id)),
nsd AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS ns FROM seedset),
r0 AS MATERIALIZED (SELECT n.id,
              CAST(CASE WHEN s.id IS NOT NULL
                   THEN {NANO} // (SELECT ns FROM nsd) ELSE 0 END
                   AS BIGINT) AS r
       FROM nodes n LEFT JOIN seedset s ON s.id = n.id)"""
    base_s = (f"({DAMP_DEN - DAMP_NUM} * ({NANO} // (SELECT ns FROM nsd)))"
              f" // {DAMP_DEN}")
    blocks = [head]
    for i in range(1, n_iters + 1):
        p = i - 1
        blocks.append(f"""
d{i} AS MATERIALIZED (SELECT coalesce(sum(r), 0) AS dang FROM r{p}
         WHERE id NOT IN (SELECT src FROM deg)),
c{i} AS MATERIALIZED (SELECT e.dst AS id, sum(r.r // g.deg) AS c
         FROM r{p} r JOIN edges e ON e.src = r.id
         JOIN deg g ON g.src = e.src
         GROUP BY e.dst),
r{i} AS MATERIALIZED (SELECT r.id,
           CAST(CASE WHEN s.id IS NOT NULL THEN {base_s} ELSE 0 END
              + ({DAMP_NUM} * (coalesce(c.c, 0)
                 + CASE WHEN s.id IS NOT NULL
                   THEN (SELECT dang FROM d{i}) // (SELECT ns FROM nsd)
                   ELSE 0 END))
                // {DAMP_DEN} AS BIGINT) AS r
         FROM r{p} r LEFT JOIN c{i} c ON c.id = r.id
         LEFT JOIN seedset s ON s.id = r.id)""")
    return (
        "WITH " + ",".join(blocks)
        + f"\nSELECT id, r AS rank_nano FROM r{n_iters}"
    )
