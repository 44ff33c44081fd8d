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


def _range_fixture(blocks, seed, with_allow, range_size):
    """Block rows of rid 1 for two fields with their own statistics, plus
    is_tomb rows killing some of build b1's ids and, optionally, is_filt
    allow rows -> (frame, {(field, build): dead ids}, allow ids or None)."""
    import pandas as pd

    from ariadna_spark.functions.varint import varint_encode_ex

    rng = np.random.default_rng(seed)
    lo = range_size
    rows, all_ids = [], []
    for f, term, bid, off, n, gap in blocks:
        ids = max(0, lo + off) + np.cumsum(rng.integers(1, 2 * gap + 1, n)) - 1
        tfs = rng.integers(1, 5, n).astype(np.uint64)
        gaps = [np.diff(np.sort(rng.choice(300, int(t), replace=False)), prepend=0) for t in tfs]
        tfn = tfs * 2.2 / (tfs + 1.2)
        rows.append(
            {
                "rid": 1, "field": f, "term": term, "bid": bid, "df": 5 + 7 * f + ord(term),
                "first_doc_id": int(ids[0]), "last_doc_id": int(ids[-1]),
                "block_max_tfnorm": float(tfn.max()),
                "doc_ids_varint": delta_encode_ids(ids),
                "tfs_varint": varint_encode(tfs),
                "dls_varint": varint_encode(rng.integers(1, 200, n).astype(np.uint64)),
                "pos_varint": varint_encode_ex(np.concatenate(gaps).astype(np.uint64))[0],
                "is_tomb": False, "is_filt": False,
            }
        )
        all_ids.append(ids)
    all_ids = np.unique(np.concatenate(all_ids))
    dead_ids = np.sort(rng.choice(all_ids, all_ids.size // 4, replace=False))
    dead = {(f, "b1"): dead_ids for f in (0, 1)}
    rows += [
        {"rid": 1, "field": f, "bid": "b1", "first_doc_id": int(d), "last_doc_id": int(d),
         "is_tomb": True, "is_filt": False}
        for f in (0, 1) for d in dead_ids
    ]
    if not with_allow:  # no filter context: the planner adds no is_filt column
        return pd.DataFrame(rows).drop(columns="is_filt"), dead, None
    allow = np.union1d(rng.choice(all_ids, all_ids.size // 2 + 1), [lo])
    rows += [
        {"rid": 1, "field": 0, "first_doc_id": int(d), "is_tomb": False, "is_filt": True}
        for d in allow
    ]
    return pd.DataFrame(rows), dead, allow


_BLOCKS = st.lists(
    st.tuples(
        st.integers(0, 1),  # field
        st.sampled_from("ab"),  # term
        st.sampled_from(["b1", "b2"]),  # build
        st.integers(-300, 1023 + 300),  # first id, relative to the range start
        st.integers(1, 60),  # postings
        st.integers(1, 40),  # mean doc id gap: up to ~4 strides per block
    ),
    min_size=1,
    max_size=10,
)


@given(_BLOCKS, st.integers(0, 2**32 - 1), st.booleans())
@settings(max_examples=60, deadline=None)
def test_range_blocks_batched_decode_matches_per_block_decode(blocks, seed, with_allow):
    """_RangeBlocks decodes every not-yet-decoded block of a visited
    stride in one postings.decode_blocks call and scores the batch
    vectorized; decoding each block on its own with functions.varint and
    scoring it with _score_block under its field's statistics is the
    reference: equal ids, bit-equal scores, the same live (tombstone) and
    allow-list masks. The positional kernels' two passes, one batch per
    term, equal the per-block positions_decode reference too."""
    from ariadna_spark.functions.varint import positions_decode
    from ariadna_spark.operators.wand import _idf, _RangeBlocks, _score_block, _two_pass_positions

    range_size, stride = 1024, 64
    fields = {0: (1000, 37.5, 1.0), 1: (800, 12.25, 2.5)}
    pdf, dead, allow = _range_fixture(blocks, seed, with_allow, range_size)
    lo, hi = range_size, 2 * range_size

    def live(row, ids, field=None):
        m = (ids >= lo) & (ids < hi)
        dd = dead.get((int(row["field"]) if field is None else field, row["bid"]))
        return m if dd is None else m & ~np.isin(ids, dd)

    rb = _RangeBlocks(pdf, fields, range_size)
    want = []
    for _, row in rb.pdf.iterrows():
        ids = delta_decode_ids(row["doc_ids_varint"])
        tfs = varint_decode(row["tfs_varint"]).astype(np.float64)
        dls = varint_decode(row["dls_varint"]).astype(np.float64)
        n_docs, avgdl, boost = fields[int(row["field"])]
        sc = _score_block(tfs, dls, _idf(int(row["df"]), n_docs), avgdl) * boost
        m = live(row, ids)
        if allow is not None:
            m &= np.isin(ids, allow)
        want.append((ids[m], sc[m]))
    # stride by stride, as _bmw_range_topk visits them: blocks spanning
    # several strides decode in the first batch that reaches them
    for s in range(range_size // stride):
        st_lo, st_hi = lo + s * stride, lo + (s + 1) * stride
        rows = np.flatnonzero((rb.fd < st_hi) & (rb.ld >= st_lo))
        ids, sc, src = rb.decode_rows(rows)
        assert np.array_equal(ids, np.concatenate([want[i][0] for i in rows] + [[]]))
        assert np.array_equal(sc, np.concatenate([want[i][1] for i in rows] + [[]]))
        assert np.array_equal(src, np.repeat(rows, [want[i][0].size for i in rows]))
    for i, (ids, sc) in enumerate(want):  # memo hits, or one-row batches
        got_ids, got_sc, _ = rb.decode_rows(np.asarray([i]))
        assert got_ids.dtype == np.int64 and np.array_equal(got_ids, ids)
        assert np.array_equal(got_sc, sc)  # bit-equal
    assert len(rb.decoded) == len(want)

    # positional passes over the primary field's blocks
    one = pdf[pdf["field"] == 0].drop(columns="field")
    terms = sorted(set(one["term"].dropna()))
    if not terms:
        return
    rb1 = _RangeBlocks(one, {0: fields[0]}, range_size)
    per_term, cand = _two_pass_positions(rb1, terms)
    blocks1 = [row for _, row in rb1.pdf.iterrows()]
    want_cand = None
    for t in terms:
        t_blocks = [r for r in blocks1 if r["term"] == t]
        ids = [delta_decode_ids(r["doc_ids_varint"]) for r in t_blocks]
        u = np.unique(np.concatenate([i[live(r, i, 0)] for r, i in zip(t_blocks, ids)]))
        want_cand = u if want_cand is None else np.intersect1d(want_cand, u)
    if allow is not None:
        want_cand = np.intersect1d(want_cand, allow)
    if want_cand.size == 0:
        assert per_term is None and cand is None
        return
    assert np.array_equal(cand, want_cand)
    for t in terms:
        parts = []
        for r in blocks1:
            if r["term"] != t:
                continue
            ids = delta_decode_ids(r["doc_ids_varint"])
            tfs = varint_decode(r["tfs_varint"]).astype(np.int64)
            pos = positions_decode(r["pos_varint"], tfs)
            cm = live(r, ids, 0) & np.isin(ids, want_cand)
            dls = varint_decode(r["dls_varint"]).astype(np.float64)
            em = np.repeat(cm, tfs)
            parts.append((ids[cm], tfs[cm], dls[cm], np.repeat(ids, tfs)[em], pos[em]))
        for got, ref in zip(per_term[t], zip(*parts)):
            ref = np.concatenate(ref)
            assert got.dtype == ref.dtype and np.array_equal(got, ref)
