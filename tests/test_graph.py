"""Integer-grid PageRank: hand-computed first iteration, dangling
mass, approximate mass conservation, and partitioning-independence
(the property the integer grid buys)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.operators import graph as GR  # noqa: E402


def _graph(spark):
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "src long, dst long")
    return nodes, edges


def test_one_iteration_hand_computed(spark):
    nodes, edges = _graph(spark)
    got = {r.id: r.rank_nano
           for r in GR.pagerank(nodes, edges, n_iters=1).collect()}
    # N=3, init 333333333, base 49999999, dangling node 2 contributes
    # 333333333 // 3 = 111111111 to everyone
    # shares: node0 -> 166666666 each to {1,2}; node1 -> 333333333 to 2
    assert got[0] == 49999999 + (17 * 111111111) // 20
    assert got[1] == 49999999 + (17 * (166666666 + 111111111)) // 20
    assert got[2] == 49999999 + (17 * (499999999 + 111111111)) // 20


def test_mass_approximately_conserved(spark):
    nodes, edges = _graph(spark)
    iters = 6
    total = sum(r.rank_nano
                for r in GR.pagerank(nodes, edges, n_iters=iters).collect())
    # each floor division loses < 1 nano per node per term (4 floors)
    assert abs(total - GR.NANO) < 4 * 3 * iters


def test_partitioning_independence(spark):
    """The integer grid makes the result independent of how edges are
    partitioned — the cross-engine-exactness claim, locally."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nodes = docs.select("doc_id")
    edges = GR.synthetic_links(docs)
    a = {(r.id, r.rank_nano)
         for r in GR.pagerank(nodes, edges, 4, id_col="doc_id").collect()}
    b = {(r.id, r.rank_nano)
         for r in GR.pagerank(nodes.repartition(7), edges.repartition(13),
                              4, id_col="doc_id").collect()}
    assert a == b


def test_sink_only_graph_is_uniform(spark):
    """No edges at all: every node keeps base + damped dangling share
    and all ranks stay equal."""
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    ranks = [r.rank_nano for r in GR.pagerank(nodes, edges, 3).collect()]
    assert len(set(ranks)) == 1


def test_blend_prior_hand_computed_and_alpha_flip(spark):
    """Integer-grid blend: at 3:1 the lexical leader wins; at 1:1 the
    authority leader overtakes — both on hand-computed micro values."""
    from search_engine_spark.operators.graph import blend_prior

    run = spark.createDataFrame([(0, 2.0), (1, 1.0)],
                                "doc_id long, score double")
    prior = spark.createDataFrame([(0, 100), (1, 1_000_000_000)],
                                  "id long, rank_nano long")
    out = {r.doc_id: r for r in blend_prior(run, prior, 1, 4, k=10).collect()}
    # rs = (1e6, 5e5); rp = (0, 1e6)
    assert out[0].blended_micro == (3 * 1_000_000 + 0) // 4       # 750000
    assert out[1].blended_micro == (3 * 500_000 + 1_000_000) // 4  # 625000
    assert (out[0].rank, out[1].rank) == (1, 2)
    flip = {r.doc_id: r for r in blend_prior(run, prior, 1, 2, k=10).collect()}
    assert (flip[1].rank, flip[0].rank) == (1, 2)  # authority wins at 1:1


def test_extract_links_normalizes_and_dedupes(spark):
    """href extraction + rule 1-5 normalization on both endpoints:
    spelling variants of the same target collapse to ONE edge,
    self-links (across spellings) drop, pages without anchors emit
    nothing."""
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [
            # two spellings of the same target -> one edge
            ("https://a.com/x",
             'see <a href="HTTPS://WWW.B.com/y/">b</a> and '
             '<a href="https://b.com/y?utm_source=z">b again</a>'),
            # self-link across spellings -> dropped
            ("https://a.com/x2",
             '<a href="https://www.a.com/x2/#frag">me</a>'),
            # no anchors -> no rows
            ("https://c.com/z", "plain text, no links"),
            # src spelling also normalized
            ("HTTPS://WWW.D.com:443/w",
             '<a href="https://a.com/x">a</a>'),
        ],
        "url string, text string",
    )
    got = {(r["src"], r["dst"]) for r in GR.extract_links(pages).collect()}
    assert got == {
        ("https://a.com/x", "https://b.com/y"),
        ("https://d.com/w", "https://a.com/x"),
    }


def test_host_graph_rollup(spark):
    edges = spark.createDataFrame(
        [("https://a.com/1", "https://b.com/x"),
         ("https://a.com/2", "https://b.com/y"),
         ("https://a.com/1", "https://a.com/2"),   # same host -> dropped
         ("https://b.com/x", "https://a.com/9")],
        "src string, dst string",
    )
    got = {(r["src"], r["dst"]): r["n_links"]
           for r in GR.host_graph(edges).collect()}
    assert got == {("a.com", "b.com"): 2, ("b.com", "a.com"): 1}


def test_extracted_links_feed_pagerank(spark):
    """End-to-end composition on the input-hint schema: planted
    anchors -> extract_links -> pagerank over normalized resources
    equals pagerank over the analytically planted edge set."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators import urls as UR

    docs = spark.createDataFrame(
        [(i, f"body of doc {i}") for i in range(60)],
        "doc_id long, text string")
    pages = GR.synthetic_linked_crawl(docs, n_resources=20)
    nodes = (UR.normalize_url(pages)
             .select(F.col("norm_url").alias("id")).distinct())
    via_extract = {
        (r["id"], r["rank_nano"])
        for r in GR.pagerank(nodes, GR.extract_links(pages),
                             n_iters=4, id_col="id").collect()
    }
    n = docs.count()
    d = F.col("doc_id")
    planted = None
    for p, k in ((7, 1), (13, 2), (29, 3)):
        part = (
            UR.normalize_url(pages).select(
                F.col("norm_url").alias("src"),
                UR._norm_expr(UR.synth_url((d * p + k) % n, 20)).alias("dst"),
                "doc_id",
            ).filter(d % 10 != 0).select("src", "dst")
        )
        planted = part if planted is None else planted.unionByName(part)
    planted = planted.filter(F.col("src") != F.col("dst")).distinct()
    via_planted = {
        (r["id"], r["rank_nano"])
        for r in GR.pagerank(nodes, planted, n_iters=4, id_col="id").collect()
    }
    assert via_extract == via_planted and len(via_extract) == 20


def test_extract_anchors_planted(spark):
    """Planted anchor text recovered exactly: every target's anchor
    terms are 'about' + 'topic<t%7>', counted WITH multiplicity and
    pooled across the target's surface spellings by the normalizer —
    asserted against an independent pure-Python derivation."""
    from search_engine_spark.operators import urls as UR

    n = 40
    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(n)], "doc_id long, text string")
    pages = GR.synthetic_linked_crawl(docs, n_resources=10)
    got = {
        (r["dst"], r["term"]): r["n_links"]
        for r in GR.anchor_term_stats(GR.extract_anchors(pages)).collect()
    }
    norm = {
        r["doc_id"]: r["norm_url"]
        for r in UR.normalize_url(UR.synthetic_crawl(docs, 10))
        .select("doc_id", "norm_url").collect()
    }
    exp: dict[tuple[str, str], int] = {}
    for s in range(n):
        if s % 10 == 0:
            continue
        for p, k in ((7, 1), (13, 2), (29, 3)):
            t = (s * p + k) % n
            for term in ("about", f"topic{t % 7}"):
                key = (norm[t], term)
                exp[key] = exp.get(key, 0) + 1
    assert got == exp


def test_anchor_search_planted(spark):
    """Anchor-field retrieval matches an independent pure-Python
    scorer on the planted corpus: integer-idf weights (NANO_REL //
    df), per-target sums, deterministic (score desc, dst asc) top-k
    with 1-based ranks."""
    from search_engine_spark.operators import urls as UR

    n = 40
    terms = ("topic1", "topic4", "about")
    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(n)], "doc_id long, text string")
    pages = GR.synthetic_linked_crawl(docs, n_resources=10)
    stats = GR.anchor_term_stats(GR.extract_anchors(pages))
    got = [
        (r["dst"], r["anchor_score"], r["rank"])
        for r in GR.anchor_search(stats, terms, k=5)
        .orderBy("rank").collect()
    ]

    norm = {
        r["doc_id"]: r["norm_url"]
        for r in UR.normalize_url(UR.synthetic_crawl(docs, 10))
        .select("doc_id", "norm_url").collect()
    }
    cnt: dict[tuple[str, str], int] = {}
    for s in range(n):
        if s % 10 == 0:
            continue
        for p, k in ((7, 1), (13, 2), (29, 3)):
            t = (s * p + k) % n
            for term in ("about", f"topic{t % 7}"):
                key = (norm[t], term)
                cnt[key] = cnt.get(key, 0) + 1
    df_by_term: dict[str, int] = {}
    for (dst, term), _c in cnt.items():
        if term in terms:
            df_by_term[term] = df_by_term.get(term, 0) + 1
    scores: dict[str, int] = {}
    for (dst, term), c in cnt.items():
        if term in terms:
            scores[dst] = scores.get(dst, 0) + c * (GR.NANO_REL // df_by_term[term])
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == [(d, s, i + 1) for i, (d, s) in enumerate(exp)]


def test_anchor_index_serves_pruned(spark, tmp_path):
    """The stored anchor layout serves identical results to the
    direct computation, and the serving scan is pruned: the query
    terms' md5 buckets appear as PartitionFilters and the term IN
    list is pushed to the parquet scan."""
    n = 40
    terms = ("topic1", "topic4", "about")
    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(n)], "doc_id long, text string")
    stats = GR.anchor_term_stats(GR.extract_anchors(
        GR.synthetic_linked_crawl(docs, n_resources=10)))
    path = str(tmp_path / "anchor_ix")
    GR.write_anchor_index(stats, path, n_buckets=8)

    direct = [(r["dst"], r["anchor_score"], r["rank"])
              for r in GR.anchor_search(stats, terms, k=5)
              .orderBy("rank").collect()]
    served = [(r["dst"], r["anchor_score"], r["rank"])
              for r in GR.anchor_search_indexed(spark, path, terms, k=5)
              .orderBy("rank").collect()]
    assert served == direct and served

    plan = GR.anchor_search_indexed(spark, path, terms, k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "term" in plan


def test_pagerank_weighted(spark):
    """Weighted PageRank: unit weights reproduce the unweighted form
    bit-for-bit, and doubling EVERY weight leaves ranks unchanged
    (shares are w/out_weight ratios) — while an asymmetric weighting
    must shift rank toward the heavier target."""
    edges = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 1), (1, 2, 1), (2, 0, 1), (3, 2, 1)],
        "src long, dst long, w long")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    plain = {(r["id"], r["rank_nano"])
             for r in GR.pagerank(nodes, edges, n_iters=6).collect()}
    unit = {(r["id"], r["rank_nano"])
            for r in GR.pagerank(nodes, edges, n_iters=6,
                                 weight_col="w").collect()}
    assert unit == plain
    from pyspark.sql import functions as F

    doubled = edges.withColumn("w", F.col("w") * 2)
    scaled = {(r["id"], r["rank_nano"])
              for r in GR.pagerank(nodes, doubled, n_iters=6,
                                   weight_col="w").collect()}
    assert scaled == plain
    skew = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 1), (1, 2, 1), (2, 0, 1), (3, 2, 1)],
        "src long, dst long, w long")
    ranks = {r["id"]: r["rank_nano"]
             for r in GR.pagerank(nodes, skew, n_iters=6,
                                  weight_col="w").collect()}
    plain_by = dict(plain)
    assert ranks[1] > plain_by[1]  # node 1 now receives 9/10 of node 0


def test_hits_hand_computed_and_partition_independent(spark):
    """HITS on a tiny directed graph: one pure-hub node pointing at
    the two authorities, one pure authority; the integer-grid result
    matches a from-scratch numpy iteration with the same max-rescale
    rule, and repartition(5) changes nothing."""
    import numpy as np

    from search_engine_spark.operators.graph import HITS_GRID, hits

    #  0 -> 2, 0 -> 3, 1 -> 2   (2 is the strongest authority,
    #  0 the strongest hub)
    edges = spark.createDataFrame(
        [(0, 2), (0, 3), (1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    got = {r["id"]: (r["hub_micro"], r["auth_micro"])
           for r in hits(nodes, edges, n_iters=4).collect()}

    e = [(0, 2), (0, 3), (1, 2)]
    h = {i: HITS_GRID for i in range(4)}
    a = {}
    for _ in range(4):
        raw_a = {}
        for s, d in e:
            raw_a[d] = raw_a.get(d, 0) + h.get(s, 0)
        m = max(raw_a.values())
        a = {d: v * HITS_GRID // m for d, v in raw_a.items()}
        raw_h = {}
        for s, d in e:
            raw_h[s] = raw_h.get(s, 0) + a.get(d, 0)
        m = max(raw_h.values())
        h = {s: v * HITS_GRID // m for s, v in raw_h.items()}
    want = {i: (h.get(i, 0), a.get(i, 0)) for i in range(4)}
    assert got == want
    # 0 is the top hub, 2 the top authority; sinks/sources zero out
    assert got[0][0] == HITS_GRID and got[2][1] == HITS_GRID
    assert got[2][0] == 0 and got[0][1] == 0

    got2 = {r["id"]: (r["hub_micro"], r["auth_micro"])
            for r in hits(nodes.repartition(5), edges.repartition(3),
                          n_iters=4).collect()}
    assert got2 == got


def test_personalized_pagerank_seed_restriction(spark):
    """TrustRank contract: teleport + init + dangling all land on the
    seeds only, and a node unreachable from the seed set stays at
    EXACTLY 0 (here node 3 points INTO the graph but nothing points
    at it, so with seed {0} it never receives mass)."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["rank_nano"] for r in
           GR.personalized_pagerank(nodes, edges, seeds,
                                    n_iters=6).collect()}
    assert got[3] == 0
    assert got[0] > got[1] > 0 and got[2] > 0
    # uniform-seed degeneracy: seeding EVERY node reproduces the
    # classic form bit-for-bit (same init, teleport and dangling)
    full = {r["id"]: r["rank_nano"] for r in
            GR.personalized_pagerank(nodes, edges, nodes,
                                     n_iters=6).collect()}
    plain = {r["id"]: r["rank_nano"] for r in
             GR.pagerank(nodes, edges, n_iters=6).collect()}
    assert full == plain


def test_personalized_pagerank_edges_and_refusals(spark):
    import pytest as _pt

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    # seeds outside the node set are ignored; all-outside refuses
    got = {r["id"]: r["rank_nano"] for r in
           GR.personalized_pagerank(
               nodes, edges,
               spark.createDataFrame([(0,), (99,)], "id long"),
               n_iters=3).collect()}
    assert got[0] > 0 and got[1] > 0
    with _pt.raises(ValueError):
        GR.personalized_pagerank(
            nodes, edges,
            spark.createDataFrame([(99,)], "id long"), n_iters=3)


def test_personalized_pagerank_partitioning_independent(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 23) for i in range(23)] +
        [(i, (i * 3 + 2) % 23) for i in range(23)],
        "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(23)], "id long")
    seeds = spark.createDataFrame([(0,), (5,), (11,)], "id long")
    a = {(r["id"], r["rank_nano"]) for r in
         GR.personalized_pagerank(nodes, edges, seeds, n_iters=5).collect()}
    b = {(r["id"], r["rank_nano"]) for r in
         GR.personalized_pagerank(nodes.repartition(7),
                                  edges.repartition(5), seeds,
                                  n_iters=5).collect()}
    assert a == b
