"""Seeded inputs: the pages corpus, the query mix and the ingest deltas.

Everything here is a pure function of its arguments; the engine only
ever sees the generated pages and query strings.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from search_engine_spark import fixtures

HEAD_VOCAB = 40          # Zipf head of fixtures._vocab() (rank <= 40)
HEAD_TERM_FRAC = 0.6     # share of query terms drawn from the head


def write_corpus(path: str, n_docs: int, seed: int) -> str:
    """The seeded corpus as parquet, ~16 row groups so the scan splits
    across cores (one row group would serialize it onto one)."""
    return fixtures.write_pages_parquet(
        path, n_docs, seed, row_group_size=max(1, math.ceil(n_docs / 16)))


def write_pages(pages: list[dict], path: str) -> str:
    """Arbitrary page rows (ingest deltas) in the corpus schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(pages, schema=fixtures.pages_schema_arrow())
    pq.write_table(table, path, row_group_size=max(1, math.ceil(len(pages) / 8)))
    return path


def query_mix(seed: int, n: int) -> list[str]:
    """``n`` query strings on a fixed pattern whose words the seed picks:
    every 20th query is stop-word-only (5%), every 33rd out of the
    dictionary (3%), and the rest cycle through 1, 2, 3 and 4 terms, each
    term from the Zipf head (theme terms and the top of the vocabulary)
    or the tail vocabulary.  The fixed pattern keeps the mix the same in
    every prefix, so runs of different length or seed see one mix."""
    rng = random.Random(f"queries-{seed}")
    vocab = fixtures._vocab()
    head = sorted({w for theme in fixtures._THEMES for w in theme}) + vocab[:HEAD_VOCAB]
    tail = vocab[HEAD_VOCAB:]
    # "between" survives stop-word removal inside "between X and Y"
    stops = [w for w in fixtures.STOP_WORDS if w != "between"]
    out = []
    for i in range(n):
        if i % 20 == 10:
            q = " ".join(rng.choice(stops) for _ in range(rng.randint(1, 3)))
        elif i % 33 == 16:
            # "qz" occurs in no vocabulary syllable or rule snippet
            q = "qz" + "".join(rng.choice("jkvwxy") for _ in range(6))
        else:
            q = " ".join(
                rng.choice(head) if rng.random() < HEAD_TERM_FRAC else rng.choice(tail)
                for _ in range(1 + i % 4))
        out.append(q)
    return out


def topics(seed: int, n: int) -> list[tuple[str, str]]:
    """A batch topic file: (qid, query) pairs over the query mix."""
    return [(f"t{i:04d}", q) for i, q in enumerate(query_mix(seed, n))]


@dataclass
class IngestPlan:
    base: list[dict]
    adds: list[list[dict]]       # per cycle: pages with fresh urls
    updates: list[list[dict]]    # per cycle: recrawls of live base urls
    deletes: list[list[str]]     # per cycle: base urls, never updated


def ingest_plan(seed: int, n_base: int, cycles: int, n_add: int,
                n_update: int, n_delete: int) -> IngestPlan:
    """Base corpus plus per-cycle add/update/delete deltas.  The add,
    update and delete url sets are pairwise disjoint: an update of a
    url that is already tombstoned is refused by the engine."""
    if cycles * (n_update + n_delete) > n_base:
        raise ValueError("base corpus too small for the update/delete sets")
    pages = fixtures.make_pages(n_base + cycles * n_add, seed)
    base = pages[:n_base]
    adds = [pages[n_base + c * n_add: n_base + (c + 1) * n_add] for c in range(cycles)]
    rng = random.Random(f"ingest-{seed}")
    order = rng.sample(range(n_base), cycles * (n_update + n_delete))
    upd_idx, del_idx = order[:cycles * n_update], order[cycles * n_update:]
    # recrawled text: pages of an unrelated seed, under the live url
    fresh = fixtures.make_pages(cycles * n_update, seed + 1_000_003)
    updates = []
    for c in range(cycles):
        batch = []
        for j in range(c * n_update, (c + 1) * n_update):
            old = base[upd_idx[j]]
            text = fresh[j]["text"]
            batch.append(dict(old, text=text, html=fixtures.html_wrapper(text)))
        updates.append(batch)
    deletes = [[base[i]["url"] for i in del_idx[c * n_delete:(c + 1) * n_delete]]
               for c in range(cycles)]
    return IngestPlan(base, adds, updates, deletes)


def live_corpus(plan: IngestPlan, cycles_done: int) -> list[dict]:
    """The live documents after ``cycles_done`` full cycles: base minus
    deletes, updated urls at their new text, plus every added page."""
    by_url = {p["url"]: p for p in plan.base}
    for c in range(cycles_done):
        for p in plan.adds[c]:
            by_url[p["url"]] = p
        for p in plan.updates[c]:
            by_url[p["url"]] = p
        for u in plan.deletes[c]:
            del by_url[u]
    return list(by_url.values())
