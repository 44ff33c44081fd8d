"""Vectorized delta + LEB128-varint codec for posting lists (SURVEY.md E2,
§7.4 hard-part 3).

Postings are stored as sorted doc_id gap sequences, varint-compressed.
Both encode and decode are numpy-vectorized (per 7-bit byte-slot, max 10
slots for uint64) — no per-element Python loops — so they can run inside
Arrow-batched applyInPandas kernels within the input_hint's
"no per-row Python" constraint.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7)


def varint_encode_ex(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """uint64 array -> (LEB128 bytes, per-value byte counts).

    The byte counts let a caller slice the buffer at arbitrary value
    boundaries — the posting builder encodes a whole partition in ONE call
    and carves per-block buffers by offset, instead of one numpy call per
    128-value block (which is pure call overhead at millions of blocks).
    """
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: 1 + number of 7-bit thresholds crossed
    nb = np.ones(a.shape, dtype=np.int64)
    for j in range(1, _MAX_BYTES):
        nb += (a >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(_MAX_BYTES):
        mask = nb > j
        if not mask.any():
            break
        pos = starts[mask] + j
        vals = (a[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nb[mask] - 1) > j
        out[pos] = vals.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes(), nb


def varint_encode(values: np.ndarray) -> bytes:
    """uint64 array -> LEB128 bytes (little-endian 7-bit groups,
    high bit = continuation)."""
    return varint_encode_ex(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """LEB128 bytes -> uint64 array. Every value's first byte is read in
    one gather; only the values still running revisit the next byte slot,
    so a stream of mostly one-byte values (doc id gaps, tfs, position
    gaps) costs a few whole-stream passes, not one per byte slot."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if ends.size == b.size:  # every value is one byte (or the stream is empty)
        return b.astype(np.uint64)
    if ends.size == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = (b[starts] & 0x7F).astype(np.uint64)
    run = np.flatnonzero(ends > starts)
    for j in range(1, _MAX_BYTES):
        if run.size == 0:
            break
        out[run] |= (b[starts[run] + j] & 0x7F).astype(np.uint64) << np.uint64(7 * j)
        run = run[ends[run] > starts[run] + j]
    return out


def delta_encode_ids(sorted_ids: np.ndarray) -> bytes:
    """Strictly-increasing int64 ids -> varint(gaps) with gap[0]=ids[0]."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    gaps = np.empty(ids.shape, dtype=np.uint64)
    gaps[0] = np.uint64(ids[0])
    if ids.size > 1:
        d = np.diff(ids)
        if (d <= 0).any():
            raise ValueError("doc_ids must be strictly increasing within a posting block")
        gaps[1:] = d.astype(np.uint64)
    return varint_encode(gaps)


def delta_decode_ids(buf: bytes) -> np.ndarray:
    return np.cumsum(varint_decode(buf).view(np.int64))


def positions_decode(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Flattened per-posting positions stream -> absolute positions.

    The stream stores, per doc, its ascending token positions delta-encoded
    (first absolute, then gaps); per-doc boundaries come from the tfs array
    (tf == number of positions). Vectorized reset-at-boundary cumsum:
    within doc k starting at element s_k, pos[j] = C[j] - C[s_k - 1] where
    C is the global cumsum (C[-1] = 0).
    """
    g = varint_decode(buf).view(np.int64)
    if g.size == 0:
        return g
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    cs = np.concatenate(([0], np.cumsum(tfs)))
    if int(cs[-1]) != g.size:
        raise ValueError(f"positions stream length {g.size} != sum(tf) {int(cs[-1])}")
    c = np.cumsum(g)
    c -= np.repeat(np.concatenate(([0], c[cs[1:-1] - 1])), tfs)
    return c


# Referenced from inside worker-side kernels; must pickle by value (see
# _pickle.py).
from .._pickle import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
