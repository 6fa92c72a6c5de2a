"""Result diversification: collapse a scored run by a grouping key.

Real result pages cap how many hits one host (or one source /
site / domain) may occupy — the classic two-per-host rule — so a
single content farm cannot fill the whole page.  The reference
returns a flat ranked list (Searcher.java:166-197 emits top-50 with
no diversity pass); this is the serving-side collapse a web-scale
deployment layers on top of any scored run.

Plan shape at 100 TB
--------------------
``collapse_run`` is a POST-SCORING operator: its input is either

* a top-pool cut (the documented serving path: ``search(q, pool)``
  with pool ~ 50-200 rows) — every stage below is then pool-sized
  and the window is a no-op cost; or
* a full scored set (offline re-ranking) — the ``row_number``
  window partitions by the group key (host-bounded cardinality,
  ~1e8 hosts vs 1e12 pages), so no global single-partition sort
  ever appears; the final cut is ``orderBy().limit(k)`` which plans
  as TakeOrderedAndProject (per-partition heaps, k rows to the
  driver).

The tie-break is total — (score desc, id asc) inside the group and
globally — so the collapsed page is deterministic and engine-
independent, which is what lets the DuckDB oracle re-derive it
exactly (driver rows ``ft_diversified_topk`` / ``search_collapse``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def collapse_run(run: DataFrame, group_col: str = "host",
                 per_group: int = 2, k: int = 10,
                 score_col: str = "score", id_col: str = "url") -> DataFrame:
    """Diversified top-k of a scored run: at most ``per_group`` rows
    per ``group_col`` value, then the global best ``k`` survivors,
    re-ranked 1..k.  Order inside a group and globally is
    (``score_col`` desc, ``id_col`` asc) — deterministic under ties.

    Returns the surviving run columns plus a fresh ``rank``.
    """
    # scored runs commonly arrive with their own rank column (e.g.
    # SearchEngine.search output); the collapse re-ranks, so drop it
    if "rank" in run.columns:
        run = run.drop("rank")
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col))
    kept = (
        run.withColumn("_gpos", F.row_number().over(w))
        .filter(F.col("_gpos") <= per_group)
        .drop("_gpos")
    )
    order = (F.desc(score_col), F.asc(id_col))
    return (kept.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def collapse_run_agg(run: DataFrame, group_col: str = "host",
                     per_group: int = 2, k: int = 10,
                     score_col: str = "score",
                     id_col: str = "url") -> DataFrame:
    """Same semantics as :func:`collapse_run` through a DIFFERENT
    physical plan — the per-group cap as an aggregation instead of a
    window: ``collect_list`` per group, ``sort_array`` on a
    (-score, id) struct (ascending == score desc / id asc, exact for
    doubles), ``slice`` the first ``per_group``, ``posexplode`` back.
    Used as the independent twin in the ``search_collapse``
    equivalence row so the two engines do not share a code path;
    also the better shape when ``per_group`` is tiny and groups are
    hot (one combine-capable agg, no window state)."""
    if "rank" in run.columns:
        run = run.drop("rank")
    packed = run.select(
        F.col(group_col),
        F.struct(
            (-F.col(score_col)).alias("neg_score"),
            F.col(id_col).alias("id"),
        ).alias("sv"),
    )
    kept = (
        packed.groupBy(group_col)
        .agg(F.slice(F.sort_array(F.collect_list("sv")), 1, per_group)
             .alias("top"))
        .select(group_col, F.explode("top").alias("sv"))
        .select(
            group_col,
            (-F.col("sv.neg_score")).alias(score_col),
            F.col("sv.id").alias(id_col),
        )
    )
    order = (F.desc(score_col), F.asc(id_col))
    return (kept.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))
