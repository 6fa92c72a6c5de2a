"""Engine configuration.

Ranking constants must match the reference ranker (Ranker.java:33-49,
Indexer.java:504): BM25 k1=1.2 b=0.75, idf=log2(N/df), blended score
0.8*bm25 + 0.2*bonus with bonus 1.2 (important) / 1.0, top-k=50.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .fixtures import STOP_WORDS


@dataclass(frozen=True)
class EngineConfig:
    # ranking (reference constants — do not change for rank-identity)
    k1: float = 1.2
    b: float = 0.75
    blend_bm25: float = 0.8
    blend_bonus: float = 0.2
    top_k: int = 50

    # parsing
    stem: bool = True
    stop_words: tuple[str, ...] = field(default=STOP_WORDS)

    # index layout
    n_doc_shards: int = 32        # doc-hash shards; postings of a head term
                                  # split across shards => bounded group size
                                  # (this is the explicit skew/salting control)
    n_term_buckets: int = 16      # partition dirs by hash(term_key) for pruning
    block_size: int = 128         # postings per WAND block
    n_bucket_groups: int = 8      # stage-2 jobs (resume granularity)
    keep_positions: bool = False  # True: pack per-posting position lists
                                  # (delta+varint `poss` blobs) enabling
                                  # SearchEngine.phrase_search; False saves
                                  # the space — reference scoring only ever
                                  # reads the first position (importance)

    def stop_set(self) -> frozenset[str]:
        return frozenset(self.stop_words)


DEFAULT = EngineConfig()
