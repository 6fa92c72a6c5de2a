"""Entity operators (SURVEY.md A7/A8/R6).

Reference semantics:
- A7 (Indexer.java:86-93): a term whose doc-level display is
  capitalized is an entity of that doc; its stored frequency is
  ``new_tf = tf + 10`` when the term is important (first position
  < 30), else ``tf``.
- A8/R6 (MainWindowController.java:606-630): entity score =
  round(new_tf / df, 3) (Math.round — half-up), ranked score desc
  with lexicographic tie-break on the term, top 5 per doc.

``doc_entities`` runs over the tokenized postings (one filter +
projection — no extra pass over the text); ``top_entities`` is a
broadcast join with the dictionary df plus a per-doc window top-k.
At web scale the entities table is a small projection of the postings
(capitalized display terms only), partitioned by doc shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def doc_entities(tokenized: DataFrame) -> DataFrame:
    """(url, term, term_key, new_tf, gen) for capitalized doc-level
    terms (A7; the +10 importance boost per Indexer.java:89-92).  The
    ``gen`` version column rides along so a superseded version's
    entity rows stay maskable (searcher ``entities_top5`` applies the
    tombstone rule on (url, gen))."""
    return tokenized.filter(F.col("capital")).select(
        F.col("url"), F.col("term"), F.col("term_key"),
        (F.col("tf") + F.when(F.col("important"), F.lit(10)).otherwise(F.lit(0)))
        .cast("int").alias("new_tf"),
        F.col("gen"),
    )


def top_entities(entities: DataFrame, dictionary: DataFrame, k: int = 5) -> DataFrame:
    """Top-k entities per doc by round(new_tf/df, 3) (A8/R6).

    Join on ``term_key`` — the reference's dictionary is a
    case-insensitive TreeMap, so its ``containsKey(entity)`` check is
    exactly a lowercase-key lookup.  round half-up matches the
    reference's Math.round (Spark's ROUND is half-up for positives).
    """
    w = Window.partitionBy("url").orderBy(F.desc("score"), F.asc("term"))
    return (
        entities.join(F.broadcast(dictionary.select("term_key", "df")), "term_key")
        .withColumn("score", F.round(F.col("new_tf") / F.col("df"), 3))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("url", "term", "new_tf", "df", "score", "rank")
    )
