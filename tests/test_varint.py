"""Property tests for the vectorized varint/delta codec (FIXTURES.md §4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ariadna_spark.functions.varint import (
    delta_decode_ids,
    delta_encode_ids,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(a)).tolist() == vals


@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=400))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    sorted_ids = sorted(ids)
    a = np.array(sorted_ids, dtype=np.int64)
    assert delta_decode_ids(delta_encode_ids(a)).tolist() == sorted_ids


def test_known_encodings():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([2**64 - 1], dtype=np.uint64)) == b"\xff" * 9 + b"\x01"


def test_compression_wins_on_dense_ids():
    ids = np.arange(0, 100000, 3, dtype=np.int64)  # gaps of 3 -> 1 byte each
    enc = delta_encode_ids(ids)
    assert len(enc) < ids.size * 1.1
    assert (delta_decode_ids(enc) == ids).all()


def test_empty_and_monotonicity_guard():
    assert delta_encode_ids(np.array([], dtype=np.int64)) == b""
    assert delta_decode_ids(b"").size == 0
    import pytest

    with pytest.raises(ValueError):
        delta_encode_ids(np.array([5, 5], dtype=np.int64))


def test_arrow_groupby_list_agg_preserves_scan_order():
    """stats.py's positions stream relies on pyarrow's TableGroupBy 'list'
    aggregation accumulating values in SCAN ORDER — an undocumented Arrow
    implementation detail (ADVICE r3). The encode-time strictly-increasing
    check in build_postings would fail loudly on a violation; this pin
    attributes a pyarrow-upgrade regression immediately to the real cause
    instead of failing every positional build."""
    import pyarrow as pa

    keys = [1, 2, 1, 3, 2, 1, 3, 1] * 50
    vals = list(range(len(keys)))
    t = pa.table({"k": keys, "v": vals})
    g = pa.TableGroupBy(t, ["k"]).aggregate([("v", "list")])
    by_k = dict(zip(g["k"].to_pylist(), g["v_list"].to_pylist()))
    for k in set(keys):
        expect = [v for kk, v in zip(keys, vals) if kk == k]
        assert by_k[k] == expect, (
            f"pyarrow {pa.__version__}: TableGroupBy list agg is no longer "
            f"scan-ordered (key {k}) — sort position lists in "
            f"stats._tf_arrow_kernel before encoding"
        )


@given(
    st.lists(
        st.lists(st.integers(0, 1 << 20), min_size=1, max_size=30),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=200, deadline=None)
def test_positions_roundtrip(doclists):
    """The positions stream spec (postings.py encode, varint.py decode):
    per doc, ascending distinct positions stored first-absolute then
    gaps, concatenated; tfs give the boundaries. Round-trips exactly."""
    from ariadna_spark.functions.varint import positions_decode, varint_encode

    docs = [np.unique(np.asarray(ls, dtype=np.int64)) for ls in doclists]
    tfs = np.asarray([len(d) for d in docs], dtype=np.int64)
    stream: list[int] = []
    for d in docs:
        stream.append(int(d[0]))
        stream.extend(int(x) for x in np.diff(d))
    buf = varint_encode(np.asarray(stream, dtype=np.uint64))
    got = positions_decode(buf, tfs)
    assert (got == np.concatenate(docs)).all()


def test_positions_length_guard():
    """A stream whose length disagrees with sum(tf) fails loudly."""
    from ariadna_spark.functions.varint import positions_decode, varint_encode

    buf = varint_encode(np.asarray([1, 2, 3], dtype=np.uint64))
    with pytest.raises(ValueError, match="positions stream length"):
        positions_decode(buf, np.asarray([2], dtype=np.int64))


@given(
    st.lists(st.sets(st.integers(0, 2**40), min_size=1, max_size=40), min_size=1, max_size=8),
    st.integers(0, 2**32 - 1),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_explode_batch_matches_per_block_decode(id_sets, seed, sliced):
    """explode_blocks decodes a whole Arrow batch of posting blocks with
    one varint decode per stream; the per-block decode loop it replaced is
    the reference. Covers a sliced batch (non-zero Arrow offset)."""
    import pyarrow as pa

    from ariadna_spark.functions.varint import positions_decode
    from ariadna_spark.operators.postings import _explode_batch

    rng = np.random.default_rng(seed)
    cols: dict = {k: [] for k in ("term", "doc_ids_varint", "tfs_varint", "dls_varint", "pos_varint")}
    for b, ids in enumerate(id_sets):
        ids = np.asarray(sorted(ids), dtype=np.int64)
        tfs = rng.integers(1, 5, ids.size).astype(np.uint64)
        gaps = [
            np.diff(np.sort(rng.choice(500, int(t), replace=False)), prepend=0) for t in tfs
        ]
        cols["term"].append(f"t{b}")
        cols["doc_ids_varint"].append(delta_encode_ids(ids))
        cols["tfs_varint"].append(varint_encode(tfs))
        cols["dls_varint"].append(varint_encode(rng.integers(0, 2**40, ids.size).astype(np.uint64)))
        cols["pos_varint"].append(varint_encode(np.concatenate(gaps).astype(np.uint64)))
    rb = pa.RecordBatch.from_pydict(cols)
    if sliced and rb.num_rows > 1:
        rb = rb.slice(1)
    got = _explode_batch(rb)

    want: dict = {k: [] for k in ("doc_id", "term", "tf", "doc_len", "positions")}
    for i in range(rb.num_rows):
        ids = delta_decode_ids(rb.column("doc_ids_varint")[i].as_py())
        tfs = varint_decode(rb.column("tfs_varint")[i].as_py()).astype(np.int64)
        pos = positions_decode(rb.column("pos_varint")[i].as_py(), tfs)
        want["doc_id"] += ids.tolist()
        want["term"] += [rb.column("term")[i].as_py()] * ids.size
        want["tf"] += tfs.tolist()
        want["doc_len"] += varint_decode(rb.column("dls_varint")[i].as_py()).tolist()
        want["positions"] += [p.tolist() for p in np.split(pos, np.cumsum(tfs)[:-1])]
    assert got.to_pydict() == want
    ids_only = _explode_batch(rb.select(["doc_ids_varint"]))
    assert ids_only.schema.names == ["doc_id"]
    assert ids_only.column(0).to_pylist() == want["doc_id"]
