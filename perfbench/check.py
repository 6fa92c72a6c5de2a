"""Output checks against the single-node oracle.

The oracle (``search_engine_spark.oracle.OracleIndex``) is the
correctness reference and is never timed: ``expected_*`` build it from
the same seeded inputs in a separate process while the engine's
session starts, and the workloads compare what they collected with it
after the fact.
"""

from __future__ import annotations

import os
import pickle
import sys

from search_engine_spark.fixtures import STOP_WORDS
from search_engine_spark.oracle import OracleIndex

TOL = 1e-9   # score tolerance of the repo's rank-identity tests


def oracle_for(pages: list[dict]) -> OracleIndex:
    o = OracleIndex(frozenset(STOP_WORDS))
    o.build(pages)
    return o


def oracle_ranking(oracle: OracleIndex, query: str, k: int) -> list[tuple[str, float]]:
    """The oracle's top-k plus every further doc tied (within TOL) with
    the k-th score, so a tie broken the other way at the cut is still
    recognised as correct."""
    full = oracle.search(query, 1 << 30)
    if len(full) <= k:
        return full
    cut = full[k - 1][1]
    end = k
    while end < len(full) and abs(full[end][1] - cut) <= TOL:
        end += 1
    return full[:end]


def expected(pages: list[dict], queries: list[str], k: int) -> dict[str, list]:
    o = oracle_for(pages)
    return {q: oracle_ranking(o, q, k) for q in set(queries)}


def topk_mismatch(got: list[tuple[str, float]], want: list[tuple[str, float]],
                  k: int) -> str | None:
    """None when ``got`` is rank-identical to the oracle ranking
    ``want``: same length, each score within TOL of the oracle's, and
    a url differing from the oracle's at a rank only when the two
    docs' oracle scores are within TOL of each other."""
    n = min(k, len(want))
    if len(got) != n:
        return f"{len(got)} results, oracle has {n}"
    oracle_score = dict(want)
    seen = set()
    for i, (url, score) in enumerate(got):
        if url in seen:
            return f"rank {i + 1}: {url} returned twice"
        seen.add(url)
        ref = oracle_score.get(url)
        if ref is None or abs(ref - want[i][1]) > TOL:
            return f"rank {i + 1}: {url}, oracle has {want[i][0]}"
        if abs(score - ref) >= TOL:
            return f"rank {i + 1}: {url} score {score!r}, oracle {ref!r}"
    return None


def same_ranking(a: list[tuple[str, float]], b: list[tuple[str, float]]) -> str | None:
    """None when two engine rankings list the same urls in the same
    order with scores within TOL (WAND against the exhaustive batch)."""
    if [u for u, _ in a] != [u for u, _ in b]:
        return f"urls differ: {[u for u, _ in a][:3]}... vs {[u for u, _ in b][:3]}..."
    for (u, x), (_, y) in zip(a, b):
        if abs(x - y) >= TOL:
            return f"{u}: score {x!r} vs {y!r}"
    return None


def by_qid(rows) -> dict[str, list[tuple[str, float]]]:
    """Collected (qid, rank, url, score) rows -> qid -> ranked list."""
    out: dict[str, list[tuple[int, str, float]]] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    return {q: [(u, s) for _, u, s in sorted(v)] for q, v in out.items()}


def oracle_job(spec: dict) -> dict:
    """Expected rankings for one run, rebuilt from the run's seed (runs
    in a child process, see ``main``)."""
    from . import gen
    from search_engine_spark import fixtures

    k = spec["k"]
    if spec["kind"] == "corpus":
        pages = fixtures.make_pages(spec["n_docs"], spec["seed"])
        return {"final": expected(pages, spec["queries"], k)}
    plan = gen.ingest_plan(spec["seed"], *spec["plan"])
    first_add = plan.base + plan.adds[0]
    return {"first_add": expected(first_add, spec["add_probes"], k),
            "final": expected(gen.live_corpus(plan, spec["cycles"]),
                              spec["final_probes"], k)}


def main(spec_path: str, out_path: str) -> None:
    """``python3 -m perfbench.check SPEC OUT``: the oracle child of a
    run; reads the pickled spec and writes the pickled expectations."""
    with open(spec_path, "rb") as fh:
        spec = pickle.load(fh)
    res = oracle_job(spec)
    with open(out_path + ".part", "wb") as fh:
        pickle.dump(res, fh)
    os.replace(out_path + ".part", out_path)


if __name__ == "__main__":
    main(*sys.argv[1:])
