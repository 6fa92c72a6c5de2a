"""Codec roundtrip tests incl. hypothesis properties (FIXTURES.md §6)."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from search_engine_spark.codec import (
    bm25_contribution,
    decode_positions,
    decode_rows,
    delta_decode,
    delta_encode,
    encode_positions,
    pack_bits,
    pack_postings,
    unpack_bits,
    unpack_postings,
    varint_decode,
    varint_encode,
)


def test_empty():
    assert varint_encode(np.zeros(0, np.uint64)) == b""
    assert varint_decode(b"").size == 0
    assert delta_decode(delta_encode(np.zeros(0, np.uint64))).size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_delta_edge_shapes():
    for ids in ([0], [7], list(range(100)), [0, 2**32, 2**33], [2**40]):
        arr = np.array(ids, dtype=np.uint64)
        assert np.array_equal(delta_decode(delta_encode(arr)), arr)


@given(st.lists(st.booleans(), max_size=300))
@settings(max_examples=100, deadline=None)
def test_bitset_roundtrip(flags):
    arr = np.array(flags, dtype=bool)
    assert np.array_equal(unpack_bits(pack_bits(arr), len(flags)), arr)


def test_pack_postings_roundtrip_and_blocks():
    rng = np.random.default_rng(7)
    for n, bs in [(1, 128), (5, 1), (300, 128), (5000, 4096)]:
        ids = np.cumsum(rng.integers(1, 50, n).astype(np.uint64))
        tfs = rng.integers(1, 60, n).astype(np.uint64)
        lens = rng.integers(20, 600, n).astype(np.uint64)
        imps = rng.random(n) < 0.25
        row = pack_postings(ids, tfs, lens, imps, idf=3.1, k1=1.2, b=0.75,
                            avgdl=250.0, block_size=bs)
        u = unpack_postings(row)
        assert np.array_equal(u["doc_ids"], ids)
        assert np.array_equal(u["tfs"], tfs)
        assert np.array_equal(u["lens"], lens)
        assert np.array_equal(u["imps"], imps)
        n_blocks = (n + bs - 1) // bs
        assert u["block_last"].size == n_blocks
        assert u["block_last"][-1] == ids[-1]
        # block max must upper-bound every blended contribution in it
        contrib = bm25_contribution(tfs, lens, 3.1, 1.2, 0.75, 250.0)
        blended = 0.8 * contrib + 0.2 * np.where(imps, 1.2, 1.0)
        for bi in range(n_blocks):
            lo, hi = bi * bs, min((bi + 1) * bs, n)
            assert u["block_max"][bi] >= np.float32(blended[lo:hi].max()) - 1e-6


def test_bm25_monotone_in_tf():
    tfs = np.arange(1, 50, dtype=np.uint64)
    lens = np.full(49, 100, dtype=np.uint64)
    c = bm25_contribution(tfs, lens, 2.0, 1.2, 0.75, 120.0)
    assert np.all(np.diff(c) > 0)


def _index_row(rng, n: int, id_floor: int) -> dict:
    """One packed (term, shard) row with positions: ids from
    [id_floor, id_floor + 2^20), tfs and lens past one varint byte."""
    ids = id_floor + np.sort(rng.choice(1 << 20, n, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 200, n).astype(np.uint64)
    lens = rng.integers(1, 70_000, n).astype(np.uint64)
    imps = rng.random(n) < 0.3
    row = pack_postings(ids, tfs, lens, imps, idf=1.0, k1=1.2, b=0.75, avgdl=250.0)
    flat = np.concatenate(
        [np.sort(rng.choice(4 * int(t) + 300, int(t), replace=False)) for t in tfs])
    row["poss"] = encode_positions(flat, tfs)
    return row


@given(
    ns=st.lists(st.integers(min_value=1, max_value=300), max_size=6),
    id_floor=st.sampled_from([0, 1 << 20, (1 << 40) - (1 << 20)]),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@example(ns=[], id_floor=0, seed=0)
@example(ns=[1, 7, 129, 300, 8], id_floor=(1 << 40) - (1 << 20), seed=1)
@settings(max_examples=60, deadline=None)
def test_decode_rows_equals_per_row_decode(ns, id_floor, seed):
    """The batch kernel returns exactly the concatenated per-row
    unpack_postings / decode_positions output, and a contribution
    over the repeated per-row idf equals the per-row scalar-idf one
    bit for bit."""
    rng = np.random.default_rng(seed)
    rows = [_index_row(rng, n, id_floor) for n in ns]
    idfs = rng.uniform(0.01, 12.0, len(rows))
    d = decode_rows(
        [r["n"] for r in rows], [r["doc_ids"] for r in rows],
        **{c: [r[c] for r in rows]
           for c in ("tfs", "lens", "imps", "poss", "block_last", "block_max")})
    per_row = [unpack_postings(r) for r in rows]
    for col, dtype in (("doc_ids", np.uint64), ("tfs", np.uint64), ("lens", np.uint64),
                       ("imps", bool), ("block_last", np.uint64),
                       ("block_max", np.float32)):
        want = np.concatenate([u[col] for u in per_row] + [np.zeros(0, dtype)])
        assert d[col].dtype == want.dtype and np.array_equal(d[col], want), col
    want_pos = np.concatenate(
        [decode_positions(r["poss"], u["tfs"]) for r, u in zip(rows, per_row)]
        + [np.zeros(0, np.uint64)])
    assert np.array_equal(d["poss"], want_pos)
    assert np.array_equal(d["n"], ns)
    assert np.array_equal(d["n_blocks"], [u["block_max"].size for u in per_row])
    contrib = bm25_contribution(d["tfs"], d["lens"], np.repeat(idfs, d["n"]),
                                1.2, 0.75, 250.0)
    want_contrib = np.concatenate(
        [bm25_contribution(u["tfs"], u["lens"], idf, 1.2, 0.75, 250.0)
         for u, idf in zip(per_row, idfs)] + [np.zeros(0)])
    assert np.array_equal(contrib, want_contrib)
