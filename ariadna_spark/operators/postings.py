"""Compressed posting-list construction (SURVEY.md E2, C1, §7.4).

The reference's inverted index is an in-memory multimap appended during the
scan (/root/reference/osm/handler/handler.go:13,145-148). At 10^12-file
scale that becomes: doc-local tf rows (computed shuffle-free inside the
tokenize kernel, stats.term_freqs_dl) -> salted groupBy(term) -> per-group
Arrow kernel that sorts, chunks into fixed-size blocks, delta+varint
compresses, and attaches per-block max metadata for WAND pruning.

Scale decisions:

* Block metadata is **idf-free**: blocks carry block_max_tfnorm =
  max(tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl))), and the query multiplies by
  idf(term) from the separate terms table. This keeps the build free of a
  per-row df join — at code-corpus scale the vocabulary is billions of
  terms, so a broadcast of dfreq is impossible and a shuffle join would
  double the big shuffle.

* dl and avgdl are the term's FIELD's: the encoder always takes a map
  from field prefix to avgdl ("" for the primary field's bare terms,
  "<field>" for a "<field>:<term>" term, segments.FIELD_SEP) and resolves
  each (term, salt) group's entry in one vectorized pass, so a one-field
  build pays one lookup per partition, not one per term.

* Skew handling (north rule "explicit skew splitting"): only the Zipf
  *head* needs df before the shuffle — and the head is by definition tiny,
  so hot terms are found with one light aggregate and broadcast as a set.
  Hot terms are split by *doc_id range*, not hash: each (term, salt) group
  is then a contiguous disjoint doc_id interval, so per-term blocks are
  globally doc_id-sorted by construction and the distributed multi-way
  merge degenerates to a metadata union (no second shuffle). A hash salt
  would interleave doc_ids and force a real merge pass; ranges give the
  same load-balancing for hot terms, which by definition occur across the
  whole doc_id space.

Block schema (FIXTURES.md §4):
    term, block_id, n_docs, first_doc_id, last_doc_id,
    block_max_tf, block_max_tfnorm, doc_ids_varint, tfs_varint, dls_varint,
    pos_varint

This module owns the block codec in both directions: the encoder above and
`decode_blocks`, the one decoder that turns block rows back into
postings. `explode_blocks` maps it over Spark batches (compaction,
candidate ids, explain); the WAND kernels call it on just the blocks they
visit (wand._RangeBlocks: every not-yet-decoded block of a visited stride
in one batch, one batch per term for the positional kernels), so
block-max pruning still decodes only the blocks that survive.
verify_index keeps its own decode, because it counts decode failures
instead of raising and a checker should not share the decoder it checks.
The dead-version rule and tombstone writes belong to sources/segments.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import B, K1
from .._pickle import register_by_value
from ..functions.varint import (
    delta_decode_ids,
    positions_decode,
    varint_decode,
    varint_encode_ex,
)
from ..stats import doc_freqs, doc_lengths

BLOCK_SIZE = 128
POSTINGS_SCHEMA = (
    "term string, block_id long, n_docs int, "
    "first_doc_id long, last_doc_id long, block_max_tf int, "
    "block_max_tfnorm double, doc_ids_varint binary, tfs_varint binary, "
    "dls_varint binary, pos_varint binary"
)


def tfnorm_np(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    return (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * dls / avgdl))


def _encode_sorted_partition(batches, avgdl: dict, block_size: int, sep: str):
    """One shuffle partition, pre-sorted by (term, salt, doc_id) -> block
    rows. Sort-based grouping in a single Arrow pass: group boundaries and
    per-block maxima are vectorized (np.flatnonzero / reduceat); the only
    python-level loop is over emitted blocks (a slice + varint encode
    each), never over postings.

    The partition is materialized once (its size is bounded by the shuffle
    partition count — at real scale thousands of partitions keep this at
    tens of MB); a streaming carry-over variant is possible but pointless
    while partitions are sized correctly.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    batch_list = list(batches)
    if not batch_list:
        return
    tbl = pa.Table.from_batches(batch_list)
    if tbl.num_rows == 0:
        return
    terms = tbl["term"].to_numpy(zero_copy_only=False)
    salts = tbl["salt"].to_numpy(zero_copy_only=False).astype(np.int64)
    ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
    tfs = tbl["tf"].to_numpy(zero_copy_only=False).astype(np.int64)
    dls = tbl["doc_len"].to_numpy(zero_copy_only=False).astype(np.int64)

    n = len(ids)
    change = np.flatnonzero((terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])) + 1
    g_starts = np.concatenate(([0], change))
    g_ends = np.concatenate((change, [n]))

    # block_max_tfnorm must use the TERM'S FIELD'S avgdl or the WAND bound
    # goes unsound (tfnorm grows with avgdl — a too-small stored bound
    # would prune true winners). A term's field is its "<field><sep>"
    # prefix, "" for the primary field's bare terms; it is resolved per
    # sorted GROUP in one vectorized pass, never per posting row.
    g_terms = tbl["term"].combine_chunks().take(pa.array(g_starts))
    parts = pc.split_pattern(g_terms, pattern=sep, max_splits=1)
    prefix = pc.if_else(
        pc.equal(pc.list_value_length(parts), 2), pc.list_element(parts, 0), ""
    )
    keys = list(avgdl)
    slot = pc.index_in(prefix, value_set=pa.array(keys, type=prefix.type))
    if slot.null_count:
        raise ValueError(f"posting terms of fields outside the avgdl map {keys}")
    g_avg = np.asarray([avgdl[k] for k in keys], dtype=np.float64)[
        slot.to_numpy(zero_copy_only=False)
    ]
    avg_row = np.repeat(g_avg, g_ends - g_starts)
    tfn = tfnorm_np(tfs.astype(np.float64), dls.astype(np.float64), avg_row)

    b_starts_l, b_seq_l = [], []
    for gs, ge in zip(g_starts, g_ends):  # loop over groups in this partition
        bs = np.arange(gs, ge, block_size)
        b_starts_l.append(bs)
        b_seq_l.append(np.arange(len(bs)))
    b_starts = np.concatenate(b_starts_l)
    b_seq = np.concatenate(b_seq_l)
    b_ends = np.empty_like(b_starts)
    b_ends[:-1] = b_starts[1:]
    b_ends[-1] = n
    # a block never crosses a group boundary because starts restart per group

    bm_tf = np.maximum.reduceat(tfs, b_starts)
    bm_tfn = np.maximum.reduceat(tfn, b_starts)

    # Vectorized delta+varint for the WHOLE partition in one pass: gaps
    # everywhere, reset to the absolute doc_id at each block start; the
    # monotonicity invariant (strictly increasing within a block) is
    # checked globally. Per-block buffers are then byte-offset slices.
    gaps = np.empty(n, dtype=np.uint64)
    if n > 1:
        d = ids[1:] - ids[:-1]
        interior = np.ones(n, dtype=bool)
        interior[b_starts] = False
        if (d[interior[1:]] <= 0).any():
            raise ValueError("doc_ids not strictly increasing within a posting block")
        gaps[1:] = d.astype(np.uint64)
    gaps[b_starts] = ids[b_starts].astype(np.uint64)

    def _sliced(buf_nb):
        buf, nb = buf_nb
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nb, out=off[1:])
        return [buf[off[s] : off[e]] for s, e in zip(b_starts, b_ends)]

    # Positions stream (phrase/proximity queries, the match_phrase half of
    # the delegated ES contract — ES dynamic text mapping indexes positions
    # by default, /root/reference/elastic/elastic.go:37-44). Layout: per
    # posting, the doc's ascending token positions delta-encoded (first
    # absolute, then gaps), flattened across the block; per-doc boundaries
    # at decode time come from the tfs stream (tf == len(positions)).
    if "positions" in tbl.column_names:
        posarr = tbl["positions"].combine_chunks()
        eo = np.asarray(posarr.offsets, dtype=np.int64)
        fp = np.asarray(posarr.values, dtype=np.int64)[eo[0] : eo[-1]]
        eo = eo - eo[0]
        if fp.size:
            d = np.empty(fp.size, dtype=np.int64)
            d[0] = fp[0]
            d[1:] = fp[1:] - fp[:-1]
            isstart = np.zeros(fp.size + 1, dtype=bool)
            isstart[eo[:-1]] = True
            isstart = isstart[: fp.size]
            d[isstart] = fp[isstart]
            if (d[~isstart] <= 0).any():
                raise ValueError("positions not strictly increasing within a posting")
            pbuf, pnb = varint_encode_ex(d.astype(np.uint64))
            ebyte = np.zeros(fp.size + 1, dtype=np.int64)
            np.cumsum(pnb, out=ebyte[1:])
            pos_slices = [
                pbuf[ebyte[eo[s]] : ebyte[eo[e]]] for s, e in zip(b_starts, b_ends)
            ]
        else:
            pos_slices = [b""] * len(b_starts)
    else:
        pos_slices = [b""] * len(b_starts)

    out = {
        "term": terms[b_starts],
        "block_id": (salts[b_starts] << 32) | b_seq,
        "n_docs": (b_ends - b_starts).astype(np.int32),
        "first_doc_id": ids[b_starts],
        "last_doc_id": ids[b_ends - 1],
        "block_max_tf": bm_tf.astype(np.int32),
        "block_max_tfnorm": bm_tfn,
        "doc_ids_varint": _sliced(varint_encode_ex(gaps)),
        "tfs_varint": _sliced(varint_encode_ex(tfs.astype(np.uint64))),
        "dls_varint": _sliced(varint_encode_ex(dls.astype(np.uint64))),
        "pos_varint": pos_slices,
    }
    yield from pa.table(
        {
            "term": pa.array(out["term"], type=pa.string()),
            "block_id": pa.array(out["block_id"], type=pa.int64()),
            "n_docs": pa.array(out["n_docs"], type=pa.int32()),
            "first_doc_id": pa.array(out["first_doc_id"], type=pa.int64()),
            "last_doc_id": pa.array(out["last_doc_id"], type=pa.int64()),
            "block_max_tf": pa.array(out["block_max_tf"], type=pa.int32()),
            "block_max_tfnorm": pa.array(out["block_max_tfnorm"], type=pa.float64()),
            "doc_ids_varint": pa.array(out["doc_ids_varint"], type=pa.binary()),
            "tfs_varint": pa.array(out["tfs_varint"], type=pa.binary()),
            "dls_varint": pa.array(out["dls_varint"], type=pa.binary()),
            "pos_varint": pa.array(out["pos_varint"], type=pa.binary()),
        }
    ).to_batches()


def hot_terms(dfreq: DataFrame, threshold: int) -> list[str]:
    """The Zipf head: terms with df above threshold. Tiny by construction
    (a term in >T% of docs); safe to collect + broadcast."""
    return [r["term"] for r in dfreq.filter(F.col("df") > threshold).select("term").collect()]


def build_postings(
    tf: DataFrame,
    n_docs: int,
    avgdl: dict,
    block_size: int = BLOCK_SIZE,
    hot: list[str] | None = None,
    hot_df_threshold: int | None = None,
    n_salts: int = 16,
    shuffle_parts: int | None = None,
) -> DataFrame:
    """(doc_id, term, tf[, doc_len]) -> compressed posting blocks.

    avgdl: field prefix -> that field's avgdl, the key "" for the primary
    field's bare terms and "<field>" for a "<field>:<term>" term
    (segments.FIELD_SEP); every field present in tf needs an entry.

    hot: explicit hot-term list; if None it is computed from tf with
    hot_df_threshold (default N/8 — a term in >12.5% of docs would
    dominate a single task).
    """
    if "doc_len" not in tf.columns:
        tf = tf.join(doc_lengths(tf), "doc_id")
    if hot is None:
        if hot_df_threshold is None:
            hot_df_threshold = max(block_size * 4, n_docs // 8)
        hot = hot_terms(doc_freqs(tf.select("doc_id", "term", "tf")), hot_df_threshold)

    # Range salt: doc_id * n_salts / n_docs keeps each (term, salt) a
    # contiguous disjoint doc_id interval (doc_ids are dense 0..N-1).
    salt = F.when(
        F.col("term").isin(hot) if hot else F.lit(False),
        F.floor(F.col("doc_id") * n_salts / F.lit(max(n_docs, 1))).cast("int"),
    ).otherwise(F.lit(0))
    carry = ["term", "doc_id", "tf", "doc_len"] + (
        ["positions"] if "positions" in tf.columns else []
    )
    salted = tf.select(*carry).withColumn("salt", salt)

    # THE build shuffle: hash-partition by (term, salt) then sort within
    # partitions — sort-based grouping lets one Arrow kernel per partition
    # emit every group's blocks with no per-group invocation overhead.
    # The sort key leads with xxhash64(term): long comparisons instead of
    # string comparisons (measured several-fold faster on a 40M-row sort);
    # the term string follows as tiebreak so a 64-bit hash collision still
    # sorts each term contiguously and the kernel's boundary detection
    # (term equality) stays exact.
    # Partition count: scale-adaptive. `shuffle_parts` (derived by the
    # caller from the tf input's on-disk size — see build_index) sizes the
    # shuffle to the DATA per guide §2.2 (partitions in the 100MB-1GB
    # range at scale); the fallback floor is 2x parallelism so (term,
    # salt) Zipf skew can't straggle the stage at test scale. Partition
    # count never changes block content: a (term, salt) group is wholly
    # inside one hash partition whatever the count, and block boundaries
    # restart per group.
    spark = tf.sparkSession
    n_parts = shuffle_parts or max(64, spark.sparkContext.defaultParallelism * 2)
    tid = F.xxhash64("term")
    arranged = salted.repartition(n_parts, tid, F.col("salt")).sortWithinPartitions(
        tid, "term", "salt", "doc_id"
    )

    from ..sources.segments import FIELD_SEP

    def kernel(batches):
        return _encode_sorted_partition(batches, avgdl, block_size, FIELD_SEP)

    return arranged.mapInArrow(kernel, POSTINGS_SCHEMA)


_VARINT_COLS = ("doc_ids_varint", "tfs_varint", "dls_varint", "pos_varint")


def _varint_stream(col) -> tuple[np.ndarray, np.ndarray]:
    """A binary column of per-block LEB128 buffers -> (its bytes
    concatenated, the number of values in each row's buffer). A value ends
    at a byte below 0x80, so a row's count is the number of such bytes
    between its offsets."""
    import pyarrow as pa

    _, obuf, buf = col.buffers()
    otype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(obuf, dtype=otype)[col.offset : col.offset + len(col) + 1]
    offs = offs.astype(np.int64)
    data = np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.empty(0, np.uint8)
    data = data[offs[0] : offs[-1]]
    ends = np.concatenate(([0], np.cumsum(data < 0x80)))
    return data, np.diff(ends[offs - offs[0]])


def decode_blocks(cols: dict) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """The one block decoder: the varint columns of a batch of block rows
    (Arrow binary arrays keyed by column name, doc_ids_varint always among
    them) -> (postings per block, the decoded postings as numpy arrays:
    doc_id, plus tf, doc_len and positions for the columns given).

    Decoded a whole column at a time: each stream is one concatenated
    varint decode, and doc ids restart at every block because a block's
    first gap is its absolute first id (ids = running sum minus the sum
    before the block). Positions are per-doc runs whose lengths are the
    tfs, so they need tfs_varint; they come out flat, tf per posting.
    _explode_batch wraps the result as Arrow posting rows for Spark; the
    WAND kernels (wand._RangeBlocks.explode) call it on the blocks of one
    stride or one term at a time.

    A block whose tfs or dls stream holds a different number of values
    than its doc id stream raises ValueError, never a silently
    misaligned posting."""

    def per_posting(col) -> np.ndarray:
        data, n = _varint_stream(col)
        if not np.array_equal(n, counts):
            raise ValueError("a posting block's varint streams disagree on its posting count")
        return varint_decode(data).astype(np.int64)

    data, counts = _varint_stream(cols["doc_ids_varint"])
    c = delta_decode_ids(data)
    starts = np.cumsum(counts) - counts
    out = {"doc_id": c - np.repeat(np.concatenate(([0], c))[starts], counts)}
    if "tfs_varint" in cols:
        out["tf"] = per_posting(cols["tfs_varint"])
    if "dls_varint" in cols:
        out["doc_len"] = per_posting(cols["dls_varint"])
    if "pos_varint" in cols:
        out["positions"] = positions_decode(_varint_stream(cols["pos_varint"])[0], out["tf"])
    return counts, out


def _explode_batch(rb):
    """One Arrow batch of block rows -> its posting rows (decode_blocks):
    every non-varint column passes through, repeated per posting."""
    import pyarrow as pa

    cols = dict(zip(rb.schema.names, rb.columns))
    counts, dec = decode_blocks({k: v for k, v in cols.items() if k in _VARINT_COLS})
    out = {"doc_id": pa.array(dec["doc_id"])}
    rows = pa.array(np.repeat(np.arange(rb.num_rows), counts))
    out.update({k: v.take(rows) for k, v in cols.items() if k not in _VARINT_COLS})
    if "tf" in dec:
        out["tf"] = pa.array(dec["tf"].astype(np.int32))
    if "doc_len" in dec:
        out["doc_len"] = pa.array(dec["doc_len"])
    if "positions" in dec:
        offs = np.concatenate(([0], np.cumsum(dec["tf"])))
        out["positions"] = pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32)), pa.array(dec["positions"].astype(np.int32))
        )
    return pa.RecordBatch.from_arrays(list(out.values()), list(out))


def explode_blocks(blocks: DataFrame) -> DataFrame:
    """Posting block rows -> posting rows: the block decoder of the
    merge-on-read layer. Always emits doc_id; tf, doc_len and positions
    only for the varint columns the caller kept (tfs_varint, dls_varint,
    pos_varint), so an ids-only scan decodes doc_ids_varint alone and
    Catalyst prunes the rest from the parquet read. Every other column
    (bid, term, df, ...) passes through, repeated per posting. Output
    order: doc_id, the pass-through columns, the decoded columns."""
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    names = blocks.columns
    decoded = [
        StructField(name, t)
        for src, name, t in (
            ("tfs_varint", "tf", IntegerType()),
            ("dls_varint", "doc_len", LongType()),
            ("pos_varint", "positions", ArrayType(IntegerType())),
        )
        if src in names
    ]
    schema = StructType(
        [StructField("doc_id", LongType())]
        + [blocks.schema[c] for c in names if c not in _VARINT_COLS]
        + decoded
    )

    def kernel(batches):
        for rb in batches:
            if rb.num_rows:
                yield _explode_batch(rb)

    return blocks.mapInArrow(kernel, schema)


register_by_value(__name__)
