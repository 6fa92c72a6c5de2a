"""The benchmark's own tests: seeded generators, the output check and
the clean-up of the processes a run starts.

    python3 -m pytest perfbench -q

No Spark: the generators and the oracle check are plain Python.
"""

from __future__ import annotations

import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from perfbench import check, gen, procs
from perfbench.tracing import Tracer
from search_engine_spark import fixtures


def test_query_mix_is_deterministic_per_seed():
    assert gen.query_mix(7, 120) == gen.query_mix(7, 120)
    assert gen.query_mix(7, 120) != gen.query_mix(8, 120)
    assert gen.topics(7, 30) == gen.topics(7, 30)


def test_query_mix_shape():
    mix = gen.query_mix(3, 660)
    stop = set(fixtures.STOP_WORDS)
    stop_only = [q for q in mix if all(w in stop for w in q.split())]
    out_of_dict = [q for q in mix if q.startswith("qz")]
    assert len(stop_only) == 33          # 5%
    assert len(out_of_dict) == 19        # 3%, less the one slot shared with a stop-word slot
    terms = [len(q.split()) for q in mix if q not in stop_only and q not in out_of_dict]
    assert set(terms) == {1, 2, 3, 4}
    assert not any("@" in q for q in mix)

    # the fixed pattern: every seed has the same composition at each position
    def shape(q: str) -> object:
        if q.startswith("qz"):
            return "ood"
        return "stop" if all(w in stop for w in q.split()) else len(q.split())

    assert [shape(q) for q in gen.query_mix(4, 100)] == [shape(q) for q in gen.query_mix(5, 100)]


def test_corpus_file_is_deterministic(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a.parquet"), 40, seed=5)
    b = gen.write_corpus(str(tmp_path / "b.parquet"), 40, seed=5)
    c = gen.write_corpus(str(tmp_path / "c.parquet"), 40, seed=6)
    ta, tb, tc = pq.read_table(a), pq.read_table(b), pq.read_table(c)
    assert ta.equals(tb)
    assert not ta.equals(tc)
    assert pq.ParquetFile(a).metadata.num_row_groups > 1


def test_ingest_plan_is_deterministic_and_disjoint():
    p1 = gen.ingest_plan(9, 200, 2, 20, 20, 10)
    p2 = gen.ingest_plan(9, 200, 2, 20, 20, 10)
    assert p1 == p2
    base = {p["url"] for p in p1.base}
    added = {p["url"] for c in p1.adds for p in c}
    updated = {p["url"] for c in p1.updates for p in c}
    deleted = {u for c in p1.deletes for u in c}
    assert not added & base                  # fresh urls
    assert updated <= base and deleted <= base
    assert not updated & deleted             # never update a tombstoned url
    assert len(updated) == 40 and len(deleted) == 20
    old = {p["url"]: p["text"] for p in p1.base}
    assert all(p["text"] != old[p["url"]] for c in p1.updates for p in c)
    assert all(p["html"] == fixtures.html_wrapper(p["text"]) for c in p1.updates for p in c)
    live = {p["url"] for p in gen.live_corpus(p1, 1)}
    assert live == (base | {p["url"] for p in p1.adds[0]}) - set(p1.deletes[0])


@pytest.fixture(scope="module")
def oracle():
    return check.oracle_for(fixtures.make_pages(120, seed=3))


def _ranking(oracle):
    want = check.oracle_ranking(oracle, "world trade market", 10)
    assert len(want) >= 10
    return want


def test_check_accepts_the_oracle_result(oracle):
    want = _ranking(oracle)
    assert check.topk_mismatch(want[:10], want, 10) is None
    assert check.same_ranking(want[:10], list(want[:10])) is None


@pytest.mark.parametrize("perturb", ["swap", "score", "drop", "dup", "foreign"])
def test_check_fails_on_a_perturbed_result(oracle, perturb):
    want = _ranking(oracle)
    got = list(want[:10])
    # the first pair of adjacent ranks whose oracle scores differ
    i = next(j for j in range(9) if want[j][1] - want[j + 1][1] > 1e-6)
    if perturb == "swap":
        got[i], got[i + 1] = got[i + 1], got[i]
    elif perturb == "score":
        got[i] = (got[i][0], got[i][1] + 1e-6)
    elif perturb == "drop":
        got.pop()
    elif perturb == "dup":
        got[i + 1] = got[i]
    else:
        got[i] = ("https://example.org/not-indexed", got[i][1])
    assert check.topk_mismatch(got, want, 10) is not None
    assert check.same_ranking(got, want[:10]) is not None


def test_check_accepts_only_tied_reorderings():
    want = [("a", 3.0), ("b", 2.0), ("c", 2.0 + 5e-10), ("d", 1.0)]
    assert check.topk_mismatch([("a", 3.0), ("c", 2.0), ("b", 2.0)], want, 3) is None
    assert check.topk_mismatch([("a", 3.0), ("d", 1.0), ("b", 2.0)], want, 3) is not None


def test_oracle_ranking_keeps_ties_at_the_cut(oracle):
    full = oracle.search("the world", 1 << 30)
    for k in range(1, min(len(full), 30)):
        got = check.oracle_ranking(oracle, "the world", k)
        assert got[:k] == full[:k]
        assert all(abs(s - full[k - 1][1]) <= check.TOL for _, s in got[k:])


def test_self_time_subtracts_child_spans():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "bench.run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "indexer.build_index", "parent": 0, "start": 1.0, "end": 7.0},
        {"id": 2, "name": "sources.load_pages", "parent": 1, "start": 1.0, "end": 2.0},
    ]
    st = tr.self_times()
    assert st["bench"] == 4.0 and st["indexer"] == 5.0 and st["sources"] == 1.0



def test_wait_ended_stops_a_child_and_its_orphans():
    """Both a child and the grandchild it leaves behind ignore SIGTERM's
    grace period by sleeping; ``wait_ended`` must still end both."""
    child = subprocess.Popen([sys.executable, "-c",
                              "import subprocess, sys, time;"
                              "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']);"
                              "time.sleep(60)"])
    end = time.monotonic() + 20
    while len(procs.descendants(child.pid)) < 1 and time.monotonic() < end:
        time.sleep(0.05)
    started = procs.descendants(child.pid) | {child.pid}
    assert len(started) == 2
    procs.wait_ended(started, timeout=0.2)
    assert child.wait(timeout=5) is not None
    assert not started & procs.descendants(1)
