"""Delta + varint posting-list codec with block-max metadata.

The reference engine stores postings as plain UTF-8 text lines
(PostingRecord.java:27-31 serialization, no compression); the north
rule requires a compressed binary layout instead.  Everything here is
numpy-vectorized so it can run inside Arrow UDFs without per-row
Python.

Layout per (term, shard) index row:

* ``doc_ids``    — strictly ascending local doc ids, delta + LEB128 varint
* ``tfs``        — term frequencies, varint
* ``lens``       — document lengths (needed by BM25 at score time), varint
* ``imps``       — per-posting "important" flags, bitset (LSB-first)
* ``poss``       — per-posting position lists (phrase/proximity
                   indexes only), see :func:`encode_positions`
* ``block_last`` — last doc id of each 128-posting block, varint-delta
                   (for skip/seek during WAND)
* ``block_max``  — float32 upper bound of the *blended* per-term score
                   contribution in each block (block-max WAND)

:func:`pack_postings` / :func:`unpack_postings` are the one-row forms.
The query paths decode with :func:`decode_rows`, which takes a whole
Arrow batch of index rows and decodes each column in one pass: the
rows' blobs are concatenated and varint-decoded once, and row
boundaries are re-imposed with the per-row counts.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    if a.max() < 128:  # common case for delta-encoded dense postings
        return a.astype(np.uint8).tobytes()
    nb = np.searchsorted(_THRESHOLDS, a, side="right").astype(np.int64) + 1
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(nb)[:-1]))
    max_nb = int(nb.max())
    for k in range(max_nb):
        mask = nb > k
        payload = (a[mask] >> np.uint64(7 * k)).astype(np.uint8) & np.uint8(0x7F)
        cont = (nb[mask] > k + 1).astype(np.uint8) << np.uint8(7)
        out[offsets[mask] + k] = payload | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back into a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    terminal = (b & 0x80) == 0
    if terminal.all():  # every value fit one byte
        return b.astype(np.uint64)
    term_pos = np.nonzero(terminal)[0]
    n_values = term_pos.size
    starts = np.empty(n_values, dtype=np.int64)
    starts[0] = 0
    starts[1:] = term_pos[:-1] + 1
    lengths = term_pos - starts + 1
    vals = np.zeros(n_values, dtype=np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        vals[m] |= (b[starts[m] + k] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return vals


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b""
    deltas = np.empty_like(a)
    deltas[0] = a[0]
    np.subtract(a[1:], a[:-1], out=deltas[1:])
    return varint_encode(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    return np.cumsum(deltas, dtype=np.uint64)


def pack_bits(flags: np.ndarray) -> bytes:
    return np.packbits(np.asarray(flags, dtype=bool), bitorder="little").tobytes()


def unpack_bits(buf: bytes, n: int) -> np.ndarray:
    return np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n, bitorder="little").astype(bool)


def encode_positions(flat_positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode per-posting position lists (phrase support).

    ``flat_positions`` is the concatenation of each posting's ascending
    position list; segment lengths are exactly ``tfs``, so no count
    prefix is stored — the decoder re-splits using the tfs column that
    the index row already carries.  Within each segment positions are
    delta-coded (first absolute), then the whole stream is varint."""
    flat = np.ascontiguousarray(flat_positions, dtype=np.uint64)
    if flat.size == 0:
        return b""
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    seg_starts = np.concatenate(
        ([0], np.cumsum(np.asarray(tfs, dtype=np.int64))[:-1])
    )
    deltas[seg_starts] = flat[seg_starts]
    return varint_encode(deltas)


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions`: the flat ascending position
    array (split it with ``np.cumsum(tfs)`` if per-posting lists are
    needed; phrase matching consumes it flat with a repeated doc id)."""
    vals = varint_decode(buf)
    if vals.size == 0:
        return vals
    tfs = np.asarray(tfs, dtype=np.int64)
    cs = np.cumsum(vals, dtype=np.uint64)
    seg_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    base = np.zeros(tfs.size, dtype=np.uint64)
    base[1:] = cs[seg_starts[1:] - 1]
    return cs - np.repeat(base, tfs)


def bm25_contribution(
    tfs: np.ndarray,
    lens: np.ndarray,
    idf: float | np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
) -> np.ndarray:
    """Per-posting BM25 term contribution:
    ``(k1+1)*tf*idf / (tf + k1*(1-b + b*len/avgdl))``
    (constants and formula per the reference ranker, Ranker.java:32-40).
    ``idf`` is a scalar or an array parallel to ``tfs``; either way each
    element takes the same float operations in the same order.
    """
    tf = tfs.astype(np.float64)
    norm = tf + k1 * ((1.0 - b) + b * (lens.astype(np.float64) / avgdl))
    return (k1 + 1.0) * tf * idf / norm


def pack_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    lens: np.ndarray,
    importants: np.ndarray,
    idf: float,
    k1: float,
    b: float,
    avgdl: float,
    blend_bm25: float = 0.8,
    blend_bonus: float = 0.2,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Pack one (term, shard) posting list.  Input arrays must be
    parallel and doc_ids strictly ascending."""
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    lens = np.asarray(lens, dtype=np.uint64)
    importants = np.asarray(importants, dtype=bool)
    n = doc_ids.size

    contrib = bm25_contribution(tfs, lens, idf, k1, b, avgdl)
    bonus = np.where(importants, 1.2, 1.0)
    blended = blend_bm25 * contrib + blend_bonus * bonus

    n_blocks = (n + block_size - 1) // block_size
    block_last = np.empty(n_blocks, dtype=np.uint64)
    block_max = np.empty(n_blocks, dtype=np.float32)
    for bi in range(n_blocks):
        lo, hi = bi * block_size, min((bi + 1) * block_size, n)
        block_last[bi] = doc_ids[hi - 1]
        block_max[bi] = blended[lo:hi].max()

    return {
        "n": int(n),
        "doc_ids": delta_encode(doc_ids),
        "tfs": varint_encode(tfs),
        "lens": varint_encode(lens),
        "imps": pack_bits(importants),
        "block_last": delta_encode(block_last),
        "block_max": block_max.tobytes(),
    }


def unpack_postings(row: dict) -> dict:
    """Inverse of :func:`pack_postings` (block metadata included)."""
    n = int(row["n"])
    return {
        "doc_ids": delta_decode(row["doc_ids"]),
        "tfs": varint_decode(row["tfs"]),
        "lens": varint_decode(row["lens"]),
        "imps": unpack_bits(row["imps"], n),
        "block_last": delta_decode(row["block_last"]),
        "block_max": np.frombuffer(row["block_max"], dtype=np.float32),
    }


def _rebased_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-row delta decode of the concatenation of several rows'
    deltas: one cumsum, minus the running total at each row start.
    uint64 arithmetic wraps, so the difference is exact even when the
    batch-wide total overflows."""
    cs = np.cumsum(deltas, dtype=np.uint64)
    starts = np.cumsum(counts) - counts
    base = np.zeros(counts.size, dtype=np.uint64)
    later = starts > 0
    base[later] = cs[starts[later] - 1]
    return cs - np.repeat(base, counts)


def decode_rows(
    n,
    doc_ids,
    tfs=None,
    lens=None,
    imps=None,
    poss=None,
    block_last=None,
    block_max=None,
) -> dict[str, np.ndarray]:
    """Batch inverse of :func:`pack_postings` over many index rows.

    ``n`` is the rows' posting counts; every other argument is one blob
    column (a sequence of bytes, one per row), and columns left None
    are not decoded.  Returns flat arrays over the batch's postings in
    row order — ``doc_ids``, ``tfs``, ``lens`` (uint64), ``imps``
    (bool), ``poss`` (uint64, the rows' :func:`decode_positions`
    streams back to back; needs ``tfs``) — plus ``n`` (int64, per
    row).  With ``block_max``, also ``block_max`` (float32) and
    ``block_last`` (uint64) flat over the rows' blocks, and
    ``n_blocks`` per row.  Each array equals the concatenation of the
    rows' :func:`unpack_postings` / :func:`decode_positions` outputs.

    Positions decode as one stream because they are delta-coded per
    posting (first value absolute), so a row boundary is a posting
    boundary too."""
    n = np.asarray(n, dtype=np.int64)
    out = {"n": n, "doc_ids": _rebased_cumsum(varint_decode(b"".join(doc_ids)), n)}
    if tfs is not None:
        out["tfs"] = varint_decode(b"".join(tfs))
    if lens is not None:
        out["lens"] = varint_decode(b"".join(lens))
    if imps is not None:
        # row r's flags start at bit 0 of its own first byte
        sizes = np.fromiter((len(x) for x in imps), dtype=np.int64, count=n.size)
        bits = np.unpackbits(np.frombuffer(b"".join(imps), dtype=np.uint8),
                             bitorder="little")
        first_bit = 8 * (np.cumsum(sizes) - sizes) - (np.cumsum(n) - n)
        idx = np.arange(int(n.sum()), dtype=np.int64) + np.repeat(first_bit, n)
        out["imps"] = bits[idx].astype(bool)
    if poss is not None:
        out["poss"] = decode_positions(b"".join(poss), out["tfs"])
    if block_max is not None:
        nb = np.fromiter((len(x) // 4 for x in block_max), dtype=np.int64,
                         count=n.size)
        out["n_blocks"] = nb
        out["block_max"] = np.frombuffer(b"".join(block_max), dtype=np.float32)
        out["block_last"] = _rebased_cumsum(varint_decode(b"".join(block_last)), nb)
    return out
