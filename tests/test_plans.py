"""Physical-plan assertions: the plans we ship are the plans we mean.

- filters reach the parquet scan (PushedFilters / PartitionFilters)
- small dims broadcast (BroadcastHashJoin, not SortMergeJoin)
- hot aggregates stay in codegen hash aggregation (a string agg
  buffer would silently fall back to SortAggregate — the dictionary
  regression this suite pins down)
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_q1_filter_pushdown(spark):
    import __spark_entry__ as entry

    df = entry.queries()["tpch_q1_pricing"](spark, SF_DIR)
    txt = _optimized(df)
    assert "PushedFilters" in txt and "l_quantity" in txt


def test_revenue_joins_broadcast(spark):
    import __spark_entry__ as entry

    df = entry.queries()["revenue_by_nation"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dictionary_agg_stays_hash_based(spark, built_index):
    """The dictionary stats aggregation must be hash-based: a string
    aggregation buffer silently degrades to SortAggregate (~70x at
    74M postings)."""
    out, cfg, meta = built_index
    raw = spark.read.parquet(f"{out}/postings_raw")
    stats = raw.groupBy("term_key").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.bool_and("capital").alias("capital"),
    )
    plan = _plan(stats)
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_semi_join_is_semi(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["semi_join_urgent_customers"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_simhash_band_join_is_hash_join(spark):
    """Banded-Hamming candidates must come from an equality hash join
    on band values — never a cartesian/BNLJ pass."""
    from search_engine_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(D.simhash_near_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_probe_filters_reach_scan(spark, tmp_dir):
    """Stored ANN layouts: the probe filter must be a PartitionFilter
    (reading only the probed directories), for both LSH and IVF."""
    import numpy as np

    from search_engine_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    p1 = os.path.join(tmp_dir, "lsh")
    SIM.write_bucketed_embeddings(emb, p1)
    plan1 = _plan(SIM.ann_lsh_topk_pruned(spark, p1, qvec))
    assert "PartitionFilters" in plan1 and "bucket" in plan1

    p2 = os.path.join(tmp_dir, "ivf")
    SIM.write_ivf_index(emb, p2)
    plan2 = _plan(SIM.ivf_topk_pruned(spark, p2, emb, qvec))
    assert "PartitionFilters" in plan2 and "centroid_id" in plan2


@pytest.fixture(scope="module")
def positions_index(spark, fixture_pages_parquet, tmp_path_factory):
    """A small keep_positions index for the positional top-k paths."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.indexer import build_index

    cfg = EngineConfig(n_doc_shards=2, n_term_buckets=2, n_bucket_groups=1,
                       keep_positions=True)
    out = str(tmp_path_factory.mktemp("pos_index"))
    build_index(spark, spark.read.parquet(fixture_pages_parquet).limit(80), out, cfg)
    return out, cfg


def _topk_plans():
    from search_engine_spark import wand
    from search_engine_spark.federated import federated_search

    q = "world trade"
    return {
        "search": lambda e: e.search(q, 10),
        "dismax_search": lambda e: e.dismax_search(q, 10),
        "search_matched": lambda e: e.search_matched(q, 10),
        "search_after": lambda e: e.search_after(q, "http://nowhere", 10),
        "phrase_search": lambda e: e.phrase_search(q, 10),
        "proximity_search": lambda e: e.proximity_search(q, 10),
        "wand_search": lambda e: wand.wand_search(e, q, 10),
        # the plan shape is what is checked: two members, one index
        "federated_search": lambda e: federated_search(
            e.spark, [e.paths.root] * 2, q, 10, e.cfg),
    }


@pytest.mark.parametrize("path", list(_topk_plans()))
def test_search_ranks_the_topk_cut_with_one_window(spark, built_index,
                                                  positions_index, path):
    """Every BM25 top-k attaches its rank with a row_number window
    directly above the TakeOrderedAndProject cut: the window's input is
    the k rows, with no nested-loop join, no self-join and no
    checkpointed RDD in the plan."""
    from search_engine_spark.searcher import SearchEngine

    out, cfg = positions_index if path in ("phrase_search", "proximity_search") \
        else built_index[:2]
    plan = _plan(_topk_plans()[path](SearchEngine(spark, out, cfg)))
    lines = [ln.strip(" :+-") for ln in plan.splitlines()]
    at = next(i for i, ln in enumerate(lines) if ln.startswith("Window "))
    assert lines[at + 1].startswith("TakeOrderedAndProject(limit=10,")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" not in plan


def _subtree(plan: str, at: int) -> list[str]:
    """Line ``at`` of a plan tree string and every line below it in
    its subtree (deeper indentation of the node name)."""
    lines = plan.splitlines()

    def col(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out = [lines[at]]
    for ln in lines[at + 1:]:
        if col(ln) <= col(lines[at]):
            break
        out.append(ln)
    return out


def test_tombstone_anti_join_broadcasts(spark, built_index, tmp_dir):
    """The delete filter must cost a broadcast, not a shuffle: the
    tombstone mask is delta-sized between compactions, so the
    anti-join on (shard, local_id) runs as a broadcast join of the
    mask against the posting stream, and the posting side below it is
    never shuffled on (shard, local_id).  Both tombstone sources go
    through the same mask: the persisted table (on a snapshot copy of
    the shared index) and the constructor overlay."""
    from search_engine_spark.incremental import delete_documents
    from search_engine_spark.indexer import snapshot_index
    from search_engine_spark.searcher import SearchEngine

    out, cfg, meta = built_index
    clean = SearchEngine(spark, out, cfg)
    dead = [r["url"] for r in clean.search("world trade", 3).collect()]
    copy = os.path.join(tmp_dir, "ix")
    snapshot_index(out, copy)
    delete_documents(spark, dead, copy)
    for eng in (SearchEngine(spark, copy, cfg),
                SearchEngine(spark, out, cfg, deleted_urls=dead)):
        res = eng.search("world trade", 10)
        assert not {r["url"] for r in res.collect()} & set(dead)
        final = _plan(res).split("== Initial Plan ==")[0]
        lines = final.splitlines()
        anti = [i for i, ln in enumerate(lines) if "LeftAnti" in ln]
        assert anti and all("BroadcastHashJoin" in lines[i] for i in anti)
        for i in anti:
            below = "\n".join(_subtree(final, i))
            assert "Exchange hashpartitioning(shard" not in below, below
    # no-deletes engines must not pay ANY anti-join node, and neither
    # does an overlay that kills no indexed doc
    assert "LeftAnti" not in _plan(clean.search("world trade", 10))
    assert SearchEngine(spark, out, cfg,
                        deleted_urls=["nope://absent"]).deleted_docs() is None


def test_index_scan_prunes(spark, built_index):
    """Query-path scan: bucket partition pruning + term_key pushdown
    (the Spark equivalent of the reference's bucket-file seek)."""
    from search_engine_spark.searcher import SearchEngine

    out, cfg, meta = built_index
    eng = SearchEngine(spark, out, cfg)
    resolved = eng.resolve_terms(eng.parse_query("world trade"))
    scan = eng._scan_index(resolved)
    txt = _optimized(scan)
    assert "PushedFilters" in txt or "term_key" in txt
    assert "PartitionFilters" in _plan(scan) or "bucket" in _plan(scan)
