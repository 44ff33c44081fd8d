"""Distributed top-k BM25 over compressed segments with block-max pruning
(SURVEY.md E5/E6, M6).

Query lifecycle (the native replacement for ariadna's delegated ES match
query, /root/reference/osm/osm.go:181, /root/reference/elastic contract):

 1. analyze the query with the SAME analyzer as the index (symmetric
    analyzer discipline),
 2. prune segment *buckets* driver-side (crc32(term) % n_buckets — only
    directories that can contain a query term are listed at all),
 3. scan those buckets with a pushed-down `term IN (...)` filter
    (parquet row-group pruning on the sorted term column),
 4. partition the matched blocks by doc_id range (each block is assigned
    to every range it overlaps; decoded ids are masked to the range so a
    doc is scored exactly once). Steps 2-4 are ONE planner for every
    verb (IndexReader._wand): its input is a list of (store, field,
    boost) sources — a single-field query is BM25F with one source — the
    query terms, a per-range kernel and the output shape,
 5. inside each range partition, the one Spark executor
    (IndexReader._execute) builds the range's _RangeBlocks (idf, block-max
    bounds and a memoized decoder under each source's field statistics)
    and hands it to the verb's Arrow kernel. The scoring kernels run
    *stride-level block-max WAND*: strides are scored in descending
    upper-bound order (UB = sum over (field, term) keys of the max
    block_max_score overlapping the stride) and the kernel stops as soon
    as UB < current local top-k threshold theta — blocks in never-visited
    strides are never decoded,
 6. per-range top-k rows are merged globally by
    orderBy(score desc, doc_id asc).limit(k) — a TakeOrdered merge of
    tiny per-partition heaps, not a full sort — or, for the batch and
    exhaustive verbs, returned per range for the caller's own combine.

Scale notes: nothing per-doc ever reaches the driver; the only data
movement is (matched blocks -> range shuffle) and (k rows per range ->
driver). Threshold sharing across ranges is intentionally not done (it
would serialize partitions); each range prunes locally, which is the
standard distributed BMW trade-off.
"""

from __future__ import annotations

import heapq
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import B, K1
from .._pickle import register_by_value
from ..analyze import NGRAM_MAX, NGRAM_MIN, tokenize_expr, tokenize_py
from ..sources.segments import FIELD_SEP, primary_term, term_field
from .postings import decode_blocks, explode_blocks

RANGE_SIZE_DEFAULT = 8192  # doc_ids per WAND partition at test scale
STRIDE = 1024  # doc_ids per pruning stride inside a range

WAND_OUT_SCHEMA = "doc_id long, score double"


def _idf(df: int, n_docs: int) -> float:
    """BM25 idf with df clamped to the live doc count N: per-term df stays
    overcounted for tombstoned docs until compaction (the documented
    Lucene deleted-docs drift), and after a large delete_by_query df can
    exceed N — which would flip idf negative and zero every block-max
    upper bound, pruning ALL results. min(df, N) keeps idf positive and
    is bit-identical to the unclamped form whenever there is no drift
    (df <= N)."""
    d = min(df, n_docs)
    return float(np.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)))


def _score_block(tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _bmw_range_topk(
    sub: np.ndarray,
    row_term: np.ndarray,
    fd: np.ndarray,
    ld: np.ndarray,
    bms: np.ndarray,
    decode,
    k: int,
    lo: int,
    range_size: int,
    stride: int,
    after: tuple[float, int] | None = None,
    stride_mask: np.ndarray | None = None,
    keep=None,
) -> tuple[np.ndarray, np.ndarray]:
    """Stride-level block-max WAND over ONE doc_id range, restricted to the
    posting-block rows indexed by `sub` — the one scoring loop of every
    non-positional kernel (wand_topk, bool, multiquery), reached
    through _RangeBlocks.topk. The batch path reuses it per query over a
    SHARED decode cache, so a stop-word block is decoded once for the
    whole batch while every query still gets its own block-max pruning.

    `row_term` is the accumulation key per row (the term, or "field|term"
    for BM25F): a stride's upper bound sums, per key, the max block bound
    overlapping it. A visited stride hands every block row overlapping it
    to `decode(rows)` at once, which returns their postings concatenated
    in `rows` order as (ids, scores, block row of each posting), masked
    to this range, tombstone- and filter-masked (_RangeBlocks.decode_rows:
    memoized per block, the not-yet-decoded ones decoded together in one
    postings.decode_blocks call). Strides are visited in descending
    upper-bound order and the loop stops as soon as UB < the current k-th
    score (strict <, preserving doc_id tie-break rank-identity). Returns
    (doc_ids, scores) sorted by (-score, doc_id), at most k entries.

    `after=(score, doc_id)` is the search_after cursor (ES deep-pagination
    semantics): only docs strictly AFTER the cursor in (score desc, doc_id
    asc) order qualify — score < cursor score, or equal score with a
    larger doc_id. The cut happens after exact per-stride scoring (a
    stride's bound says nothing about which side of the cursor its docs
    land on), so block-max pruning still only compares against the
    qualifying top-k threshold and stays sound.

    `stride_mask` (bool, n_strides) zeroes the upper bound of strides a
    caller has proven empty of eligible docs (e.g. no filter-allowed doc
    falls inside) — they are never visited, so their blocks never decode.

    `keep(st_lo, st_hi, src, uniq, inv)` is an optional per-stride
    candidate predicate (bool_kernel's clause counts and must_not
    exclusion): `uniq` are the stride's candidate doc ids, `inv` maps each
    decoded posting to its uniq slot and `src` gives the posting's row.
    It returns a bool mask over `uniq`; rejected docs never reach the heap,
    so theta only ever reflects qualifying docs and pruning stays sound.
    """
    n_strides = (range_size + stride - 1) // stride
    sub_fd, sub_ld = fd[sub], ld[sub]
    sub_term = row_term[sub]
    s_lo = np.maximum((sub_fd - lo) // stride, 0)
    s_hi = np.minimum((sub_ld - lo) // stride, n_strides - 1)
    ub = np.zeros(n_strides, dtype=np.float64)
    # terms in order of first appearance (bit-identical ub accumulation to
    # the historical single-query loop, which iterated pandas .unique())
    uniq_t, first_idx = np.unique(sub_term, return_index=True)
    for t in uniq_t[np.argsort(first_idx)]:
        term_ub = np.zeros(n_strides, dtype=np.float64)
        for j in np.flatnonzero(sub_term == t):
            a, b_ = int(s_lo[j]), int(s_hi[j])
            if b_ < 0 or a >= n_strides:
                continue
            seg = term_ub[a : b_ + 1]
            np.maximum(seg, bms[sub[j]], out=seg)
        ub += term_ub

    if stride_mask is not None:
        ub[~stride_mask] = 0.0
    order = np.argsort(-ub, kind="stable")
    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id)
    theta = 0.0
    for si in order:
        if ub[si] <= 0.0:
            break
        # Strict <: a stride with ub == theta could still hold a doc tying
        # the k-th score but winning the doc_id tie-break (rank-identity).
        if len(heap) >= k and ub[si] < theta:
            break  # block-max pruning: no doc in this stride can enter top-k
        st_lo, st_hi = lo + si * stride, lo + (si + 1) * stride
        ids, sc, src = decode(sub[(sub_fd < st_hi) & (sub_ld >= st_lo)])
        m = (ids >= st_lo) & (ids < st_hi)
        if not m.any():
            continue
        uniq, inv = np.unique(ids[m], return_inverse=True)
        sums = np.zeros(uniq.shape, dtype=np.float64)
        np.add.at(sums, inv, sc[m])
        if keep is not None:
            ok = keep(st_lo, st_hi, src[m], uniq, inv)
            uniq, sums = uniq[ok], sums[ok]
        if after is not None:
            a_s, a_d = after
            ok = (sums < a_s) | ((sums == a_s) & (uniq > a_d))
            uniq, sums = uniq[ok], sums[ok]
        if uniq.size == 0:
            continue
        heap, theta = _merge_stride_topk(heap, uniq, sums, k)

    pairs = sorted(((-d, s) for s, d in heap), key=lambda x: (-x[1], x[0]))
    if not pairs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    d_out, s_out = zip(*pairs)
    return np.asarray(d_out, dtype=np.int64), np.asarray(s_out, dtype=np.float64)


_EMPTY_TOPK = {"doc_id": "int64", "score": "float64"}


def _topk_frame(doc_ids, scores) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": doc_ids, "score": scores}).astype(_EMPTY_TOPK)


def _split_pseudo_rows(pdf: pd.DataFrame) -> tuple[pd.DataFrame, np.ndarray | None, dict]:
    """Strip the two pseudo-row families that ride the rid shuffle and
    return (block_rows, allow, dead). `allow` (sorted int64 ids, or None
    when no filter context) comes from is_filt rows — the ES bool-filter
    allow-list; `dead` maps (field, build id) -> dead doc_ids from is_tomb
    rows — the per-segment overwrite tombstones. One-source queries carry
    no `field` column; their tombstones key as field 0. Called only by
    _RangeBlocks, the setup every range kernel starts from."""
    allow: np.ndarray | None = None
    if "is_filt" in pdf.columns:
        fm = pdf["is_filt"].to_numpy().astype(bool)
        allow = np.sort(pdf.loc[fm, "first_doc_id"].to_numpy().astype(np.int64))
        pdf = pdf[~fm].reset_index(drop=True)
    dead: dict = {}
    if not pdf.empty and "is_tomb" in pdf.columns:
        tm = pdf["is_tomb"].to_numpy().astype(bool)
        if tm.any():
            trows = pdf[tm]
            if "field" not in trows.columns:
                trows = trows.assign(field=0)
            dead = {
                (int(f), b): g["first_doc_id"].to_numpy().astype(np.int64)
                for (f, b), g in trows.groupby(["field", "bid"])
            }
            pdf = pdf[~tm].reset_index(drop=True)
    return pdf, allow, dead


class _RangeBlocks:
    """The per-range setup every WAND-family kernel starts from: one rid
    group of the ranged union (see IndexReader._ranged) split into block
    rows, the filter allow-list and the dead versions, plus the idf per
    accumulation key, the block-max bounds and a memoized decoder.

    `fields` maps source index -> (N, avgdl, boost), one entry per
    planner source (IndexReader._wand): a single-field query passes
    {0: (N, avgdl, 1.0)}, BM25F one entry per source, its rows tagged by
    a `field` column. Every field keeps its OWN statistics (the Lucene
    per-field model). The accumulation key is the term for one field and
    "field|term" otherwise: the same term in two fields contributes twice
    to a doc's combined score, so a stride bound must sum per pair. idf
    is per key, with df clamped to the field's N (_idf). A block's bound
    is boost x idf x its stored idf-free tfnorm max x `scale` (1.0 for a
    single-build index; for merge-on-read, max(1, avgdl_global /
    avgdl_segment) of the block's own field keeps the stored per-build
    max a valid upper bound under the global avgdl). `empty` is set when
    the range holds no block or the filter context allows no doc."""

    def __init__(self, pdf: pd.DataFrame, fields: dict, range_size: int):
        rid = int(pdf["rid"].iloc[0])
        self.lo, self.hi = rid * range_size, (rid + 1) * range_size
        self.range_size = range_size
        self.fields = fields
        # Pseudo-rows ride the same rid shuffle as the blocks (never a
        # driver-held set): is_filt rows carry the ES filter-context
        # allow-list, is_tomb rows the per-segment overwrite tombstones.
        self.pdf, self.allow, self.dead = _split_pseudo_rows(pdf)
        self.decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.empty = self.pdf.empty or (self.allow is not None and self.allow.size == 0)
        if self.empty:
            return
        pdf = self.pdf
        self.row_term = pdf["term"].to_numpy()
        if "field" in pdf.columns:
            self.row_field = pdf["field"].to_numpy().astype(np.int64)
        else:
            self.row_field = np.zeros(len(pdf), dtype=np.int64)
        self.row_bid = pdf["bid"].to_numpy() if "bid" in pdf.columns else None
        self.fd = pdf["first_doc_id"].to_numpy()
        self.ld = pdf["last_doc_id"].to_numpy()
        if len(fields) == 1:
            self.key = self.row_term
        else:
            self.key = np.char.add(
                np.char.add(self.row_field.astype("U20"), "|"), self.row_term.astype("U")
            )
        df = pdf["df"].to_numpy()
        keys, first = np.unique(self.key, return_index=True)
        self.idf = {
            kk: _idf(int(df[i]), fields[int(self.row_field[i])][0])
            for kk, i in zip(keys.tolist(), first)
        }
        self.row_idf = pd.Series(self.key).map(self.idf).to_numpy()
        self.f_avgdl = np.asarray([fields[f][1] for f in range(len(fields))], dtype=np.float64)
        self.f_boost = np.asarray([fields[f][2] for f in range(len(fields))], dtype=np.float64)
        scale = pdf["scale"].to_numpy() if "scale" in pdf.columns else 1.0
        self.bms = (
            pdf["block_max_tfnorm"].to_numpy() * self.row_idf * scale * self.f_boost[self.row_field]
        )

    def live(self, row: np.ndarray, ids: np.ndarray) -> np.ndarray:
        """Mask of the postings (block `row`, `ids`) inside this range
        whose version in the row's build is not dead (overwritten versions
        never match)."""
        m = (ids >= self.lo) & (ids < self.hi)
        if self.dead and self.row_bid is not None:
            f, b = self.row_field[row], self.row_bid[row]
            for (fk, bk), dd in self.dead.items():
                sel = (f == fk) & (b == bk)
                if dd.size and sel.any():
                    m[sel] &= ~np.isin(ids[sel], dd)
        return m

    def explode(self, rows: np.ndarray, cols: tuple[str, ...]):
        """Block rows `rows` decoded in ONE postings.decode_blocks call over
        the varint columns `cols` -> (the block row of each posting, its
        doc id, its live mask, the decoded columns by name). Postings come
        out in `rows` order."""
        import pyarrow as pa

        counts, dec = decode_blocks(
            {c: pa.array(self.pdf[c].to_numpy()[rows], pa.binary()) for c in cols}
        )
        row = np.repeat(rows, counts)
        return row, dec["doc_id"], self.live(row, dec["doc_id"]), dec

    def decode_rows(self, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(ids, scores, block row of each posting) of block rows `rows`,
        concatenated in `rows` order: live ids only, filter-context
        exclusions applied, scores BM25 under each row's field statistics.
        Memoized per block: the rows not decoded yet decode together in
        one batch (explode), so a block decodes at most once per kernel
        invocation; the memo dict doubles as the decode counter for
        prune_stats."""
        miss = np.unique([i for i in rows.tolist() if i not in self.decoded]).astype(np.int64)
        if miss.size:
            row, ids, m, dec = self.explode(miss, ("doc_ids_varint", "tfs_varint", "dls_varint"))
            f = self.row_field[row]
            tfs, dls = dec["tf"].astype(np.float64), dec["doc_len"].astype(np.float64)
            sc = _score_block(tfs, dls, self.row_idf[row], self.f_avgdl[f]) * self.f_boost[f]
            if self.allow is not None:
                m &= np.isin(ids, self.allow)  # filter context: allowed docs only
            ids, sc, row = ids[m], sc[m], row[m]
            bounds = np.searchsorted(row, np.append(miss, miss[-1] + 1))
            for i, a, b in zip(miss.tolist(), bounds[:-1], bounds[1:]):
                self.decoded[i] = (ids[a:b], sc[a:b])
        parts = [self.decoded[i] for i in rows.tolist()]
        if not parts:
            return np.empty(0, np.int64), np.empty(0, np.float64), np.empty(0, np.int64)
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.repeat(rows, [p[0].size for p in parts]),
        )

    def topk(self, sub, k, stride, after=None, stride_mask=None, keep=None):
        """_bmw_range_topk over block rows `sub`. Strides holding no
        filter-allowed doc can never produce a candidate: their bound is
        zeroed so they are never visited (blocks never decode)."""
        if self.allow is not None:
            allowed = np.zeros((self.range_size + stride - 1) // stride, dtype=bool)
            allowed[np.unique((self.allow - self.lo) // stride)] = True
            stride_mask = allowed if stride_mask is None else stride_mask & allowed
        return _bmw_range_topk(
            sub, self.key, self.fd, self.ld, self.bms, self.decode_rows, k, self.lo,
            self.range_size, stride, after=after, stride_mask=stride_mask, keep=keep,
        )

    def report(self, prune_stats: dict | None) -> None:
        if prune_stats is not None:
            prune_stats["n_blocks_total"] = len(self.pdf)
            prune_stats["n_blocks_decoded"] = len(self.decoded)


def _merge_stride_topk(heap, uniq, sums, k):
    """Merge one stride's qualifying (uniq ids, summed scores) into the
    running top-k heap. Strides partition the doc_id space, so the heap
    and this stride's candidates are disjoint — one lexsort (doc_id asc
    breaks score ties) replaces a per-doc loop. Returns (heap, theta)."""
    if heap:
        hs = np.fromiter((s for s, _ in heap), dtype=np.float64, count=len(heap))
        hd = np.fromiter((-d for _, d in heap), dtype=np.int64, count=len(heap))
        all_s = np.concatenate([hs, sums])
        all_d = np.concatenate([hd, uniq])
    else:
        all_s, all_d = sums, uniq
    if all_d.size > k:
        top = np.lexsort((all_d, -all_s))[:k]
        all_s, all_d = all_s[top], all_d[top]
    heap = [(s, -d) for s, d in zip(all_s.tolist(), all_d.tolist())]
    heapq.heapify(heap)
    return heap, (heap[0][0] if len(heap) >= k else 0.0)


def wand_kernel(
    pdf: pd.DataFrame,
    n_docs: int,
    avgdl: float,
    k: int,
    range_size: int,
    stride: int = STRIDE,
    prune_stats: dict | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Blocks of all query terms for ONE doc_id range -> local top-k: the
    one-field wand_topk over a raw rid group (the kernel-level probe of
    the scoring loop; queries reach wand_topk through
    IndexReader._execute).

    Vectorized: per-stride upper bounds come from block metadata only;
    blocks are decoded lazily, at most once, and only when their stride is
    actually visited. Each block row carries the GLOBAL df of its term (a
    window sum over the pruned block rows), so idf is derived here — no
    driver-side stats round-trip per query.
    """
    rng = _RangeBlocks(pdf, {0: (n_docs, avgdl, 1.0)}, range_size)
    return wand_topk(rng, k, stride, prune_stats, after)


def wand_topk(
    rng: _RangeBlocks,
    k: int,
    stride: int = STRIDE,
    prune_stats: dict | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Block-max WAND over every block row of the range: the match query
    over one field and BM25F over several are the same loop, differing
    only in the range's field statistics (_RangeBlocks.fields).

    For BM25F the stride upper bound is the sum over (field, term) pairs
    of boost_f x idf_{f,t} x the pair's block-max tfnorm — a valid bound
    on the combined score because a doc scores each field independently —
    so _bmw_range_topk prunes soundly over the combined bound with
    "field|term" as the accumulation key. Survivor blocks decode lazily
    with their field's avgdl and boost applied at score time; docs never
    double-count because doc_id ranges align across fields (one shared
    doc_id space)."""
    if rng.empty:
        return _topk_frame([], [])
    d_out, s_out = rng.topk(np.arange(len(rng.pdf)), k, stride, after=after)
    rng.report(prune_stats)
    return _topk_frame(d_out, s_out)


def bool_kernel(
    rng: _RangeBlocks,
    k: int,
    must_terms: list[str],
    should_terms: list[str],
    not_terms: list[str],
    msm: int = 0,
    stride: int = STRIDE,
    prune_stats: dict | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """ES bool-query kernel for ONE doc_id range: top-k over docs that
    contain EVERY must term, at least `msm` distinct should terms, and NO
    must_not term; score = BM25 sum over must+should occurrences (the ES
    bool semantics — filter context rides the existing is_filt rows).

    Pruning stays block-max sound and gains a conjunctive rule: a stride
    not covered by ≥1 block of EVERY must term cannot hold a qualifying
    doc (a doc's posting for each must term lives in a block spanning its
    id), so its bound is zeroed and its blocks never decode — the
    dominant win for selective conjunctions. must_not blocks never
    contribute to bounds; they decode only in visited strides that hold
    a candidate. Both rules run inside the shared _bmw_range_topk loop:
    coverage as its stride_mask, the clause counts and must_not exclusion
    as its per-stride `keep` predicate.

    Clause term sets must be disjoint (asserted in bool_topk)."""
    must_s, not_s = set(must_terms), set(not_terms)
    # a must term with no block in this range -> nothing here qualifies
    # (and if the term is absent from the whole index, EVERY range hits
    # this branch — the globally correct empty result)
    if rng.empty or must_s - set(rng.row_term):
        return _topk_frame([], [])
    row_term, fd, ld, lo = rng.row_term, rng.fd, rng.ld, rng.lo
    is_not = np.asarray([t in not_s for t in row_term], dtype=bool)
    is_must = np.asarray([t in must_s for t in row_term], dtype=bool)
    n_strides = (rng.range_size + stride - 1) // stride
    s_lo = np.maximum((fd - lo) // stride, 0).astype(np.int64)
    s_hi = np.minimum((ld - lo) // stride, n_strides - 1).astype(np.int64)
    # conjunctive coverage: strides missing any must term's blocks
    covered = np.ones(n_strides, dtype=bool)
    for t in must_s:
        cov = np.zeros(n_strides, dtype=bool)
        for j in np.flatnonzero(row_term == t):
            if s_hi[j] >= 0 and s_lo[j] < n_strides:
                cov[s_lo[j] : s_hi[j] + 1] = True
        covered &= cov
    not_rows = np.flatnonzero(is_not)

    def keep(st_lo, st_hi, src, uniq, inv):
        # one posting per (term, doc): posting counts are term counts
        must = is_must[src]
        ok = (np.bincount(inv[must], minlength=uniq.size) == len(must_s)) & (
            np.bincount(inv[~must], minlength=uniq.size) >= msm
        )
        here = not_rows[(fd[not_rows] < st_hi) & (ld[not_rows] >= st_lo)]
        return ok & ~np.isin(uniq, rng.decode_rows(here)[0])

    d_out, s_out = rng.topk(
        np.flatnonzero(~is_not), k, stride, after=after, stride_mask=covered, keep=keep
    )
    rng.report(prune_stats)
    return _topk_frame(d_out, s_out)


def _two_pass_positions(
    rng: _RangeBlocks,
    uniq_terms: list[str],
    or_terms: list[str] | None = None,
) -> tuple[dict | None, np.ndarray | None]:
    """Shared two-pass decode for the positional kernels (VERDICT r3 #5).
    Only the range's live ids (rng.live) in its filter allow-list count.
    Both passes decode through rng.explode, one batch per term.

    PASS 1 decodes ONLY doc_ids (+tf lengths) of each term's blocks and
    intersects the terms' posting lists into the candidate doc set — the
    positions stream is never touched. PASS 2 decodes dls and positions
    exclusively for blocks that actually contain a candidate, and
    restricts the occurrence arrays to candidate docs before the
    per-occurrence np.repeat materializes.

    Bounds the stop-word-phrase cost: a stop-word term's (large) positions
    stream is decoded only where the rare terms left a survivor, so a
    phrase like "the merge" pays positions ~proportional to df("merge"),
    not df("the").

    `or_terms` (phrase-prefix support): an additional DISJUNCTIVE term
    group — candidates must also contain AT LEAST ONE of them (the union
    of their posting lists intersects the required set). or_terms absent
    from this range are simply skipped; per_term carries the surviving
    ones alongside the required terms.

    Returns (per_term, cand_docs) with per_term[t] = (ids, tfs, dls,
    occ_doc, occ_pos) restricted to candidates, or (None, None) when the
    range is empty, any required term is absent, no or_term is present,
    or the intersection is empty."""
    if rng.empty:
        return None, None
    row_term, allow = rng.row_term, rng.allow
    # term -> its pass-1 postings: (block row, doc id, live mask)
    raw: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    cand_docs = None

    def decode_ids(t: str, rows: np.ndarray) -> np.ndarray:
        row, ids, msk, _ = rng.explode(rows, ("doc_ids_varint", "tfs_varint"))
        raw[t] = (row, ids, msk)
        return np.unique(ids[msk])

    for t in uniq_terms:
        rows = np.flatnonzero(row_term == t)
        if not rows.size:
            return None, None  # a required term absent in this range -> no match
        u = decode_ids(t, rows)
        cand_docs = u if cand_docs is None else np.intersect1d(
            cand_docs, u, assume_unique=True
        )
        if cand_docs.size == 0:
            return None, None
    if allow is not None and cand_docs is not None:
        # ES filter context: only docs passing the docmap predicate can
        # match — narrowing HERE means PASS 2 never decodes positions for
        # filtered-out docs (filter-selective phrase queries get cheaper,
        # not just correct)
        cand_docs = np.intersect1d(cand_docs, allow, assume_unique=True)
        if cand_docs.size == 0:
            return None, None
    if or_terms:
        u_any = None
        for t in or_terms:
            if t in raw:
                continue  # already a required term; its docs qualify
            rows = np.flatnonzero(row_term == t)
            if not rows.size:
                continue
            u = decode_ids(t, rows)
            u_any = u if u_any is None else np.union1d(u_any, u)
        if not any(t in uniq_terms for t in or_terms):
            if u_any is None or u_any.size == 0:
                return None, None
            cand_docs = (
                u_any
                if cand_docs is None
                else np.intersect1d(cand_docs, u_any, assume_unique=True)
            )
            if cand_docs.size == 0:
                return None, None
            if allow is not None:
                # filter context also narrows an or_terms-only candidate
                # set (no required terms: cand_docs was None above)
                cand_docs = np.intersect1d(cand_docs, allow, assume_unique=True)
                if cand_docs.size == 0:
                    return None, None
        # an or_term that is ALSO required makes the disjunction a
        # tautology over the required intersection — no extra narrowing
    per_term: dict = {}
    for t, (row, ids, msk) in raw.items():
        # blocks holding no survivor: their positions never decode
        hit = np.unique(row[msk & np.isin(ids, cand_docs)])
        if not hit.size:
            if t in uniq_terms:  # unreachable while cand ⊆ required docs
                return None, None
            continue  # an or_term with no surviving docs just drops out
        cols = ("doc_ids_varint", "tfs_varint", "dls_varint", "pos_varint")
        _, ids, msk, dec = rng.explode(hit, cols)  # survivor blocks, with positions
        tfs, dls = dec["tf"], dec["doc_len"].astype(np.float64)
        cm = msk & np.isin(ids, cand_docs)
        em = np.repeat(cm, tfs)
        per_term[t] = (ids[cm], tfs[cm], dls[cm], np.repeat(ids, tfs)[em], dec["positions"][em])
    return per_term, cand_docs


def _and(cand: np.ndarray | None, keys: np.ndarray) -> np.ndarray:
    return keys if cand is None else np.intersect1d(cand, keys, assume_unique=True)


def _slot_keys(per_term: dict, t: str, off: int, lo: int) -> np.ndarray:
    """Candidate phrase starts of term t at phrase slot `off`, as packed
    (doc, start) keys: {(doc, p - off) : p in positions(t, doc)}. The
    RANGE-LOCAL doc offset (doc - lo < range_size <= 2^31) goes in the
    high bits, so the packing never wraps no matter how large global
    doc_ids get."""
    _, _, _, docs_r, pos_r = per_term[t]
    ok = pos_r >= off
    return np.unique(((docs_r[ok] - lo) << np.int64(32)) | (pos_r[ok] - off))


def _phrase_starts(per_term: dict, ordered: list[str], lo: int) -> np.ndarray | None:
    """Intersection over the phrase slots of their packed start keys
    (None when there is no slot; stops early once empty). A duplicate
    term reuses the same position set at different offsets, so "a b
    a"-style phrases are handled for free."""
    cand = None
    for off, t in enumerate(ordered):
        cand = _and(cand, _slot_keys(per_term, t, off, lo))
        if cand.size == 0:
            break
    return cand


def _term_bm25(rng: _RangeBlocks, per_term: dict, t: str, docs: np.ndarray):
    """(ids, BM25 scores) of term t's candidate postings in `docs`."""
    ids, tfs, dls, _, _ = per_term[t]
    sel = np.isin(ids, docs)
    sc = _score_block(tfs[sel].astype(np.float64), dls[sel], rng.idf[t], rng.fields[0][1])
    return ids[sel], sc


def _distinct_bm25(rng: _RangeBlocks, per_term: dict, terms, matched: np.ndarray) -> np.ndarray:
    """The positional family's rank: per matched doc (sorted), the summed
    BM25 of the query's DISTINCT terms."""
    acc = np.zeros(matched.shape, dtype=np.float64)
    for t in terms:
        ids, sc = _term_bm25(rng, per_term, t, matched)
        np.add.at(acc, np.searchsorted(matched, ids), sc)
    return acc


def _local_topk(matched: np.ndarray, acc: np.ndarray, k: int) -> pd.DataFrame:
    order = np.lexsort((matched, -acc))[:k]
    return _topk_frame(matched[order], acc[order])


def phrase_kernel(rng: _RangeBlocks, terms_ordered: list[str], k: int) -> pd.DataFrame:
    """Blocks (with positions) of one doc_id range -> local top-k docs
    containing the EXACT phrase (the match_phrase half of the delegated ES
    contract, /root/reference/elastic/elastic.go:37-44 — ES's dynamic text
    mapping indexes positions by default).

    Candidate starts are the intersection over phrase slots i of
    {(doc, p - i) : p in positions(term_i, doc)} (_phrase_starts).
    Matched docs score as the sum of their DISTINCT phrase terms' BM25
    (rank semantics documented in phrase_topk; the DuckDB oracle mirrors
    it exactly). All set ops are vectorized (np.intersect1d on packed
    (doc << 32 | start) keys).
    """
    uniq_terms = sorted(set(terms_ordered))
    per_term, _ = _two_pass_positions(rng, uniq_terms)
    if per_term is None:
        return _topk_frame([], [])
    cand = _phrase_starts(per_term, terms_ordered, rng.lo)
    if cand.size == 0:
        return _topk_frame([], [])
    matched = np.unique(cand >> np.int64(32)) + rng.lo
    return _local_topk(matched, _distinct_bm25(rng, per_term, uniq_terms, matched), k)


def phrase_prefix_kernel(
    rng: _RangeBlocks, fixed_ordered: list[str], exp_terms: list[str], k: int
) -> pd.DataFrame:
    """Blocks (with positions) of one doc_id range -> local top-k docs
    matching the phrase `fixed_ordered + <any exp_term>` — the ES
    match_phrase_prefix kernel (query-as-you-type). Candidate starts are
    the phrase_kernel intersection over the FIXED slots, then the final
    slot is a DISJUNCTION over the prefix expansions. Matched docs score
    as sum of the distinct fixed terms' BM25 plus the BEST matched
    expansion's BM25 (the per-doc max over expansions that actually
    complete the phrase there) — deterministic and replayed exactly by
    the DuckDB oracle."""
    uniq_fixed = sorted(set(fixed_ordered))
    uniq_exp = sorted(set(exp_terms))
    per_term, _ = _two_pass_positions(rng, uniq_fixed, or_terms=uniq_exp)
    if per_term is None:
        return _topk_frame([], [])
    cand = _phrase_starts(per_term, fixed_ordered, rng.lo)
    if cand is not None and cand.size == 0:
        return _topk_frame([], [])
    off_last = len(fixed_ordered)
    matched_per_e: list[tuple[str, np.ndarray]] = []
    for e in uniq_exp:
        if e not in per_term:
            continue
        me_keys = _and(cand, _slot_keys(per_term, e, off_last, rng.lo))
        if me_keys.size:
            matched_per_e.append((e, np.unique(me_keys >> np.int64(32)) + rng.lo))
    if not matched_per_e:
        return _topk_frame([], [])
    matched = np.unique(np.concatenate([me for _, me in matched_per_e]))
    acc = _distinct_bm25(rng, per_term, uniq_fixed, matched)
    best = np.full(matched.shape, -np.inf)
    for e, me in matched_per_e:
        ids, sc = _term_bm25(rng, per_term, e, me)
        np.maximum.at(best, np.searchsorted(matched, ids), sc)
    acc += best  # every matched doc completed the phrase with >= 1 expansion
    return _local_topk(matched, acc, k)


def _min_cover_mask(
    p: np.ndarray,
    g: np.ndarray,
    m: int,
    window: int,
    starts: np.ndarray,
    ends: np.ndarray,
) -> np.ndarray:
    """Vectorized minimal-cover window test (VERDICT r4 #7 — replaced the
    per-candidate-doc two-pointer interpreter loop): given occurrence rows
    sorted by (doc, position) and segmented into docs by starts/ends, a
    doc matches iff some occurrence range [i..j] spans < window positions
    and covers all m term groups. For each row j as the RANGE END, the
    largest valid start is i(j) = min over groups of that group's LAST
    occurrence at or before j (any later start misses a group; any
    earlier start only widens the span) — so a doc matches iff
    p[j] - p[i(j)] < window for some j with every group already seen
    inside the doc's segment. Per-group last-occurrence indices are
    running maxima over the sorted rows; rows leaking from previous docs
    are rejected by comparing against the segment start, so no per-doc
    reset is needed. O(m * n) numpy passes, m = distinct query terms.
    Returns a bool per segment."""
    n = p.size
    seg_start = np.repeat(starts, ends - starts)
    idx = np.arange(n, dtype=np.int64)
    min_last = None
    for c in range(m):
        acc = np.maximum.accumulate(np.where(g == c, idx, -1))
        min_last = acc if min_last is None else np.minimum(min_last, acc)
    covered = min_last >= seg_start  # all m groups occur within THIS doc
    ok_row = covered & ((p - p[np.maximum(min_last, 0)]) < window)
    return np.logical_or.reduceat(ok_row, starts)


def near_kernel(rng: _RangeBlocks, terms: list[str], window: int, k: int) -> pd.DataFrame:
    """Blocks (with positions) of one doc_id range -> local top-k docs
    whose analyzed token stream contains ALL query terms within a WINDOW
    of `window` consecutive positions (any order) — proximity search, the
    unordered cousin of match_phrase. Candidate docs are the intersection
    of the terms' posting lists; the window test is the vectorized
    minimal-cover sweep (_min_cover_mask) over each candidate's merged
    occurrence stream (O(occurrences), only for docs already known to
    contain every term). Matched docs score as the summed BM25 of the
    distinct query terms (same rank semantics as phrase_topk; the DuckDB
    oracle mirrors the window test with list slices)."""
    uniq_terms = sorted(set(terms))
    m = len(uniq_terms)
    per_term, cand = _two_pass_positions(rng, uniq_terms)
    if per_term is None:
        return _topk_frame([], [])
    d_all = np.concatenate([per_term[t][3] for t in uniq_terms])
    p_all = np.concatenate([per_term[t][4] for t in uniq_terms])
    g_all = np.concatenate(
        [np.full(per_term[t][3].shape, tid, dtype=np.int64) for tid, t in enumerate(uniq_terms)]
    )
    sel = np.isin(d_all, cand)
    order = np.lexsort((p_all[sel], d_all[sel]))
    d, p, g = d_all[sel][order], p_all[sel][order], g_all[sel][order]
    n = d.size
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    ends = np.concatenate((starts[1:], [n]))
    doc_ok = _min_cover_mask(p, g, m, window, starts, ends)
    if not doc_ok.any():
        return _topk_frame([], [])
    matched = d[starts[doc_ok]]
    return _local_topk(matched, _distinct_bm25(rng, per_term, uniq_terms, matched), k)


def multiquery_kernel(
    rng: _RangeBlocks,
    per_q: dict[int, list[str]],
    k_by_q: dict[int, int],
    stride: int = STRIDE,
) -> pd.DataFrame:
    """Blocks for the UNION of all batch-query terms in ONE doc_id range ->
    each query's local top-k (query_id, doc_id, score).

    The scale fix for batch scoring (VERDICT r2 #2): a posting block is
    shuffled to its range ONCE and decoded+scored AT MOST ONCE, no matter
    how many queries share it — a stop-word block no longer replicates per
    query. Each query then runs the SAME stride-level block-max WAND loop
    as the single-query path (_bmw_range_topk) restricted to its own
    terms' rows, over a decode cache SHARED across the whole batch
    (ADVICE r3: the former exhaustive per-term decode scaled batch latency
    with total postings; now a rare-term query prunes exactly like its
    single-query run, and shared stop-word blocks are decoded once for the
    batch, lazily — never at all if no query's WAND loop reaches them).
    The query->terms map rides in the closure (per-batch metadata, a few
    KB even for 1,000 queries); scores never shuffle.
    """
    empty = pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
        {"query_id": "int64", "doc_id": "int64", "score": "float64"}
    )
    if rng.empty:
        return empty
    term_rows = {t: np.flatnonzero(rng.key == t) for t in np.unique(rng.key)}
    frames = []
    for qid, terms in per_q.items():
        idxs = [term_rows[t] for t in terms if t in term_rows]
        if not idxs:
            continue
        # ascending row order: candidate concatenation order then matches
        # the single-query kernel exactly (bit-identical scores)
        sub = np.sort(np.concatenate(idxs))
        d_out, s_out = rng.topk(sub, k_by_q[qid], stride)
        if d_out.size:
            frames.append(
                pd.DataFrame({"query_id": qid, "doc_id": d_out, "score": s_out})
            )
    if not frames:
        return empty
    return pd.concat(frames, ignore_index=True).astype(
        {"query_id": "int64", "doc_id": "int64", "score": "float64"}
    )


def _field_tags(by_field: dict[str, list[int]], primary: str):
    """Array column of the planner source indices that a ranged row of
    one store feeds: the sources of the field its term belongs to
    (term_field); pseudo-rows (no term: tombstones, filter ids) feed
    every source of the store."""
    every = F.array(*[F.lit(fi) for fis in by_field.values() for fi in fis])
    if len(by_field) == 1:
        return every
    tags = every
    for f, fis in by_field.items():
        tags = F.when(term_field(primary) == f, F.array(*[F.lit(fi) for fi in fis])).otherwise(tags)
    return tags


class IndexReader:
    """Query-side handle on a published build."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        build_id: str | None = None,
        build_ids: list[str] | None = None,
    ):
        from ..sources.segments import SegmentStore, load_stats, store_fields, term_bucket_py

        self._term_bucket_py = term_bucket_py
        self.spark = spark
        self.out_dir = out_dir
        store = SegmentStore(out_dir)
        if build_ids is None:
            build_ids = [build_id] if build_id else store.live_builds()
        if not build_ids:
            raise FileNotFoundError(f"no live build in {out_dir}")
        self.build_ids = build_ids
        self.build_id = build_ids[-1]
        self.bdirs = [store.build_dir(b) for b in build_ids]
        self.bdir = self.bdirs[-1]
        self.build_stats = load_stats(store, build_ids)
        # per-doc overwrite (tombstones): dead versions leave N/avgdl
        # immediately (markers written at ingest); per-term df stays
        # overcounted until compaction — Lucene's deleted-docs semantics.
        n_dead, tok_dead = 0, 0
        for d in self.bdirs:
            p = os.path.join(d, "_tombstones.json")
            if os.path.exists(p):
                with open(p) as f:
                    tm = json.load(f)
                n_dead += tm["n"]
                tok_dead += tm["doc_len_sum"]
        self.has_tombstones = n_dead > 0
        # query-time GLOBAL stats per field across the live segment set,
        # merged once here: the segments were built independently (each
        # with its own N/avgdl), but BM25 must score against the whole
        # corpus — df summed per term (the kernels' df window), N and
        # token mass summed, avgdl from the totals (the merge-on-read half
        # of the "distributed multi-way posting merge"). The markers count
        # dead versions' PRIMARY tokens only, so only the primary entry is
        # tombstone-corrected (the planner refuses secondary fields of a
        # store with pending deletes). Builds must agree on the fields and
        # the primary (store_fields raises otherwise).
        fields = store_fields(self.build_stats)
        self.primary_field: str = fields[0]
        self.field_stats: dict = {}
        for fname in fields:
            per = [st["fields"][fname] for st in self.build_stats]
            dead_n, dead_tok = (n_dead, tok_dead) if fname == fields[0] else (0, 0)
            n = sum(int(s["N"]) for s in per) - dead_n
            tok = sum(int(s["total_tokens"]) for s in per) - dead_tok
            # `or 1.0`: a fully-deleted store (or a field no doc has
            # tokens in) has zero live tokens; any positive avgdl keeps
            # the kernels' arithmetic finite (no live doc can score)
            self.field_stats[fname] = {"N": n, "total_tokens": tok, "avgdl": tok / max(n, 1) or 1.0}
        prim = self.field_stats[self.primary_field]
        self.stats = {**self.build_stats[-1], "N": prim["N"], "avgdl": prim["avgdl"]}
        # Artifact schemas are fixed by the writer (segments._build_from_tf),
        # so prefill the per-kind schema cache with static DDL instead of
        # sniffing parquet footers: a bare spark.read.parquet costs a
        # one-task footer job per kind, which lands inside the FIRST query's
        # wall time (cold serve latency) — with the prefill no query ever
        # pays it.
        from pyspark.sql.types import StructType

        from .postings import POSTINGS_SCHEMA

        self._schemas: dict = {
            "blocks": StructType.fromDDL(POSTINGS_SCHEMA),
            "terms": StructType.fromDDL("term string, df long"),
            "ngrams": StructType.fromDDL("ng string, term string, df long"),
            "docmap": StructType.fromDDL(
                "doc_id long, repo string, path string, commit string, "
                "lang string, doc_len long, content_sha string"
            ),
        }

    def _read_parquet(self, dirs: list[str], kind: str) -> DataFrame:
        """Parquet read with a per-reader schema cache: every bare
        spark.read.parquet costs a one-task footer-sniff job; segments of
        one index share a writer schema, so after the first query the
        sniff jobs disappear (2 fewer jobs per warm top-k)."""
        cached = self._schemas.get(kind)
        if cached is not None:
            return self.spark.read.schema(cached).parquet(*dirs)
        df = self.spark.read.parquet(*dirs)
        self._schemas[kind] = df.schema
        return df

    def _terms_dirs(self) -> list[str]:
        """Every terms bucket dir across live segments (the vocabulary —
        tiny next to the postings); shared by the full-vocabulary scans
        (fuzzy/suggest/MLT/substring expansion)."""
        dirs = []
        for d, st in zip(self.bdirs, self.build_stats):
            for b in range(st["n_buckets"]):
                p = os.path.join(d, "terms", f"bucket={b}")
                if os.path.exists(p):
                    dirs.append(p)
        return dirs

    def _tombstones_df(self) -> DataFrame | None:
        if not self.has_tombstones:
            return None
        from ..sources.segments import SegmentStore, TOMB_SCHEMA, tombstone_dirs

        dirs = tombstone_dirs(SegmentStore(self.out_dir), self.build_ids)
        if not dirs:
            # markers say dead docs exist but no kb=<b> bucket dirs were
            # found: this is a pre-bucketed-layout store (or a corrupted
            # one). Returning None here would SILENTLY stop masking
            # overwritten versions — fail loudly instead.
            raise RuntimeError(
                f"index at {self.out_dir} records tombstones but has no "
                f"kb=<b> tombstone buckets — store predates the bucketed "
                f"docmap layout. Re-run compact() (or rebuild) to migrate."
            )
        return self.spark.read.schema(TOMB_SCHEMA).parquet(*dirs)

    def _ranged(self, blocks: DataFrame, range_size: int, flt=None) -> DataFrame:
        """The range plan every WAND-family verb shares: posting blocks
        keyed by doc_id range (`rid`), plus two pseudo-row families keyed
        by the same rid, so they travel in the SAME shuffle, fully
        distributed (never a driver-held set):

        - is_tomb rows: the per-segment overwrite tombstones (dead
          versions), present whenever the live set records any;
        - is_filt rows: the ES bool-filter allow-list, only when `flt` (a
          Catalyst predicate over docmap columns) is set. The predicate
          pushes into the docmap parquet scan and only SURVIVING doc ids
          travel. docmap() is tombstone-masked, so an overwritten doc's
          live version filters on its CURRENT attributes.

        A block overlapping several ranges is replicated to each; the
        kernel masks decoded ids to its own range (_RangeBlocks), so no
        doc is counted twice."""
        rid = F.explode(
            F.sequence(
                (F.col("first_doc_id") / range_size).cast("long"),
                (F.col("last_doc_id") / range_size).cast("long"),
            )
        ).alias("rid")
        ranged = blocks.select("*", rid).withColumn("is_tomb", F.lit(False))
        tomb = self._tombstones_df()
        if tomb is not None:
            ranged = ranged.unionByName(
                tomb.select(
                    F.col("dead_build").alias("bid"),
                    F.col("doc_id").alias("first_doc_id"),
                    F.col("doc_id").alias("last_doc_id"),
                    (F.col("doc_id") / range_size).cast("long").alias("rid"),
                    F.lit(True).alias("is_tomb"),
                ),
                allowMissingColumns=True,
            )
        if flt is not None:
            ranged = ranged.withColumn("is_filt", F.lit(False)).unionByName(
                self.docmap()
                .filter(flt)
                .select(
                    F.col("doc_id").alias("first_doc_id"),
                    (F.col("doc_id") / range_size).cast("long").alias("rid"),
                    F.lit(False).alias("is_tomb"),
                    F.lit(True).alias("is_filt"),
                ),
                allowMissingColumns=True,
            )
        return ranged

    def _wand(
        self,
        sources: list[tuple["IndexReader", str, float]],
        terms: list[str],
        kernel,
        k: int | None = None,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_positions: bool = False,
        flt=None,
        rid_filter: list[int] | None = None,
        with_docmap: bool = False,
        schema: str = WAND_OUT_SCHEMA,
    ) -> DataFrame | None:
        """The one planner of every WAND-family query: a single-field
        query is BM25F over [(self, primary, 1.0)].

        `sources` are (store, field, boost) triples; source i scores with
        field index i. Per distinct store (same dir and live builds) the
        query terms expand to each requested field's stored spelling and
        ONE pruned block read fetches them all (positions only when
        asked), ranged with the store's tombstones and `flt` (_ranged).
        With more than one source every row is tagged with the source
        indices it feeds (`field`, exploded: a store queried under two
        boosts replicates its rows, pseudo-rows feed every source of
        their store); a secondary field's "<field>:" prefix is stripped,
        so kernels see bare terms. `rid_filter` keeps only those doc_id
        ranges. The kernel gets each range's _RangeBlocks under the
        sources' per-field (N, avgdl, boost) and returns `schema` rows.

        k set: the global TakeOrdered top-k (an empty (doc_id, score)
        frame when no store holds a block of the terms); k None: the
        per-range frame (None when nothing matches).

        Field statistics of a store with pending deletes are
        tombstone-corrected for its primary field only, so a secondary
        field of such a store is refused (compact() first)."""
        stores: dict[tuple, tuple["IndexReader", dict[str, list[int]]]] = {}
        metas: dict[int, tuple[int, float, float]] = {}
        for fi, (reader, field, boost) in enumerate(sources):
            if reader.has_tombstones and field != reader.primary_field:
                raise NotImplementedError(
                    f"BM25F over secondary field {field!r} of a store with pending "
                    "deletions — compact() first (its statistics do not track tombstones)"
                )
            fs = reader.field_stats[field]
            metas[fi] = (fs["N"], fs["avgdl"], float(boost))
            key = (reader.out_dir, tuple(reader.build_ids))
            stores.setdefault(key, (reader, {}))[1].setdefault(field, []).append(fi)
        parts = []
        for reader, by_field in stores.values():
            prim = reader.primary_field
            stored = sorted(
                {t if f == prim else f"{f}{FIELD_SEP}{t}" for f in by_field for t in terms}
            )
            blocks = reader._blocks_for_terms(stored, with_positions)
            if blocks is None:
                continue
            ranged = reader._ranged(blocks, range_size, flt)
            if len(sources) > 1:
                ranged = ranged.withColumn("field", F.explode(_field_tags(by_field, prim)))
            if set(by_field) != {prim}:
                ranged = ranged.withColumn("term", F.substring_index("term", FIELD_SEP, -1))
            parts.append(ranged)
        if not parts:
            return None if k is None else self.spark.createDataFrame([], WAND_OUT_SCHEMA)
        ranged = parts[0]
        for p in parts[1:]:
            ranged = ranged.unionByName(p, allowMissingColumns=True)
        if rid_filter is not None:
            ranged = ranged.filter(F.col("rid").isin([int(r) for r in rid_filter]))
        return self._execute(ranged, metas, kernel, range_size, schema, k, with_docmap)

    def _execute(
        self,
        ranged: DataFrame,
        metas: dict,
        kernel,
        range_size: int,
        schema: str,
        k: int | None,
        with_docmap: bool,
    ) -> DataFrame:
        """The Spark executor: the kernel runs per rid group of the ranged
        union on that range's _RangeBlocks; with k set, the global
        TakeOrdered merge of the tiny per-range heaps by (score desc,
        doc_id asc) follows, and `with_docmap` joins the k winners'
        (repo, path)."""

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel(_RangeBlocks(pdf, metas, range_size))

        local = ranged.groupBy("rid").applyInPandas(run, schema)
        if k is None:
            return local
        out = local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if with_docmap:
            out = out.join(self.docmap().select("doc_id", "repo", "path"), "doc_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        return out

    def _one_field(self) -> list[tuple["IndexReader", str, float]]:
        """The planner sources of a single-field verb."""
        return [(self, self.primary_field, 1.0)]

    def _multiquery(
        self,
        per_q: dict[int, list[str]],
        k_by_q: dict[int, int],
        range_size: int = RANGE_SIZE_DEFAULT,
        rid_filter: list[int] | None = None,
    ) -> DataFrame | None:
        """Per-range (query_id, doc_id, score) rows of a query batch in ONE
        pass (multiquery_kernel): the union of all queries' terms is
        fetched and rid-shuffled once. topk_many and the clause verbs
        (ranking._clause_scores) share it; None when no term has a block."""
        return self._wand(
            self._one_field(),
            sorted({t for ts in per_q.values() for t in ts}),
            lambda rng: multiquery_kernel(rng, per_q, k_by_q),
            range_size=range_size,
            rid_filter=rid_filter,
            schema="query_id long, doc_id long, score double",
        )

    def _require_positions(self, verb: str) -> None:
        if not all(st.get("positions") for st in self.build_stats):
            raise ValueError(
                f"{verb} query requires every live segment built with_positions=True"
            )

    def docmap(self) -> DataFrame:
        from ..sources.segments import SegmentStore, bid_col, docmap_dirs, drop_dead_versions

        # kb=<b> leaf dirs enumerated driver-side (one multi-root read of
        # partitioned dirs is rejected by Spark's partition discovery)
        dm = self._read_parquet(
            docmap_dirs(SegmentStore(self.out_dir), self.build_ids), "docmap"
        )
        t = self._tombstones_df()
        if t is None:
            return dm
        return drop_dead_versions(dm.withColumn("bid", bid_col()), t).drop("bid")

    def mget(self, doc_ids: list[int]) -> DataFrame:
        """ES `_mget`: fetch live documents by id in one request (the
        delegated ES document surface; /root/reference/elastic/elastic.go
        passes doc APIs straight through). One tombstone-masked docmap
        read with the id IN-list pushed to the parquet scan; ids whose
        doc is dead (overwritten or deleted) or absent come back with
        found=false and null attributes — never a stale version, exactly
        the merge-on-read contract every query path honors.

        Scale shape: the asked-ids side is a tiny driver-local DataFrame
        broadcast into the join; the docmap side is the same pruned
        kb=<b> union-read docmap() always does, with row-group skipping
        from the pushed IN filter. Cost ∝ docmap scan, never content."""
        ids = sorted({int(i) for i in doc_ids})
        if not ids:
            raise ValueError("mget needs at least one doc id")
        asked = self.spark.createDataFrame([(i,) for i in ids], "doc_id long")
        hit = self.docmap().filter(F.col("doc_id").isin(ids))
        return (
            asked.join(F.broadcast(hit), "doc_id", "left")
            .select(
                "doc_id",
                F.col("repo").isNotNull().alias("found"),
                "repo",
                "path",
                "commit",
                "lang",
                "doc_len",
                "content_sha",
            )
            .orderBy("doc_id")
        )

    def _bucket_dirs(self, terms: list[str], sub: str | None = None) -> list[str]:
        """Matching bucket=<b> leaf dirs across ALL live segments (each
        segment may have its own n_buckets). Only directories that can
        contain a query term are listed at all — partition pruning by
        construction, before Spark sees a path."""
        out = []
        for d, st in zip(self.bdirs, self.build_stats):
            root = os.path.join(d, sub) if sub else d
            for b in sorted({self._term_bucket_py(t, st["n_buckets"]) for t in terms}):
                p = os.path.join(root, f"bucket={b}")
                if os.path.exists(p):
                    out.append(p)
        return out

    def _df_for_terms(self, terms: list[str]) -> DataFrame | None:
        """GLOBAL df per query term: ONE union-read over every live
        segment's matching term buckets (pushed-down `term IN`), summed in
        Spark. Job count is constant in the number of live segments."""
        dirs = self._bucket_dirs(terms, "terms")
        if not dirs:
            return None
        return (
            self._read_parquet(dirs, "terms")
            .filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
        )

    def _blocks_for_terms(
        self, terms: list[str], with_positions: bool = False
    ) -> DataFrame | None:
        """All matching posting blocks across ALL live segments in ONE
        read (one InMemoryFileIndex, one Spark job when consumed). The
        per-segment block-max bound correction is derived from the file
        path (builds/<id>/...) via a tiny literal map, not per-part reads;
        the term's GLOBAL df is derived from the blocks THEMSELVES — a
        posting block stores its doc count (n_docs), and a term's df is
        exactly the sum of its blocks' n_docs across live segments, so a
        window-sum over the already-pruned block rows replaces the former
        terms-table read + broadcast materialization (two fewer jobs per
        warm query; the window exchange moves only the pruned block rows).

        with_positions=False drops the pos_varint column BEFORE the range
        shuffle (and Catalyst prunes it from the parquet scan), so plain
        BM25 queries never pay for the positions stream.

        `scale` is per (build, field): a block's stored max is exact under
        its build's avgdl_f, and max(1, merged avgdl_f / build avgdl_f)
        keeps it an upper bound under the merged avgdl_f (a field whose
        avgdl grew across appends more than the primary's needs the larger
        factor, or WAND prunes that field's true winner). Terms name their
        field ("<field>:<term>", bare for the primary)."""
        dirs = self._bucket_dirs(terms)
        if not dirs:
            return None
        from ..sources.segments import bid_col

        prim = self.primary_field
        scale = None
        for f in sorted({t.split(FIELD_SEP)[0] if FIELD_SEP in t else prim for t in terms}):
            avgdl_q = self.field_stats[f]["avgdl"]
            # tombstone-only builds (delete_by_query) have avgdl == 0 and
            # no blocks — their scale is never consulted, any finite value
            # works
            by_build = {}
            for bid, st in zip(self.build_ids, self.build_stats):
                b_avgdl = st["fields"][f]["avgdl"]
                by_build[bid] = max(1.0, avgdl_q / b_avgdl) if b_avgdl > 0 else 1.0
            s = F.element_at(
                F.create_map(*[F.lit(x) for kv in by_build.items() for x in kv]), F.col("bid")
            )
            scale = s if scale is None else F.when(term_field(prim) == f, s).otherwise(scale)
        blocks = (
            self._read_parquet(dirs, "blocks")
            .filter(F.col("term").isin(terms))
            .withColumn("bid", bid_col())
            .withColumn("scale", scale)
        )
        if not with_positions:
            blocks = blocks.drop("pos_varint")
        return blocks.withColumn(
            "df", F.sum("n_docs").over(Window.partitionBy("term")).cast("long")
        )

    def _prefix_terms_df(self, prefix: str, max_terms: int = 256) -> DataFrame | None:
        """Edge-ngram prefix expansion AS A PLAN: ngram-bucket read with a
        pushed-down `ng =` predicate, per-term df summed across segments,
        capped at max_terms by (df desc, term asc) INSIDE Spark — compiles
        to TakeOrderedAndProject, so only max_terms rows ever reach the
        driver (an unbounded 2-char prefix over a 100x code vocabulary
        stays executor-side)."""
        norm = tokenize_py(prefix)
        if not norm:
            return None
        ng = norm[0][:NGRAM_MAX]
        if len(ng) < NGRAM_MIN:
            return None
        dirs = self._bucket_dirs([ng], "ngrams")
        if not dirs:
            return None
        return (
            self._read_parquet(dirs, "ngrams")
            .filter(F.col("ng") == ng)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_terms)
        )

    def expand_prefix(self, prefix: str, max_terms: int = 256) -> list[str]:
        """Edge-ngram prefix expansion (E1 fallback): prefix -> index terms.

        The prefix is truncated to the indexed max gram (8); the dominant-
        df terms carry the ranking signal. The cap is a TakeOrdered inside
        Spark (see _prefix_terms_df) — at most max_terms rows collect."""
        ranked = self._prefix_terms_df(prefix, max_terms)
        if ranked is None:
            return []
        return [r["term"] for r in ranked.collect()]

    def _vocab(self, terms_df: DataFrame) -> DataFrame:
        """Restrict a terms-table scan to the PRIMARY field's vocabulary.
        Secondary fields' terms are namespaced "<field>:<term>"
        (FIELD_SEP; analyzed tokens are alnum-only, so the separator can
        never appear in a bare term); every vocabulary-expansion verb
        (wildcard/grep expansion, fuzzy, suggest fallback) must exclude
        them or a pattern could silently match another field's tokens —
        with the wrong df/avgdl pairing to boot."""
        return terms_df.filter(primary_term())

    def terms_containing(self, needle: str, max_terms: int = 4096) -> list[str] | None:
        """ALL index terms containing `needle` as a substring, across every
        live segment — the vocabulary expansion for index-accelerated regex
        search (operators.text.regex_search_indexed). Substring matching
        cannot prune the crc32 hash buckets, so this scans the TERMS tables
        (the vocabulary — tiny next to the postings, let alone the corpus).
        Returns None when more than max_terms match: a capped expansion
        would be UNSOUND as a prefilter (a dropped term drops its docs), so
        the caller must fall back to the full scan."""
        dirs = self._terms_dirs()
        if not dirs:
            return []
        rows = (
            self._vocab(self._read_parquet(dirs, "terms"))
            .filter(F.col("term").contains(needle))
            .select("term")
            .distinct()
            .limit(max_terms + 1)
            .collect()
        )
        if len(rows) > max_terms:
            return None
        return sorted(r["term"] for r in rows)

    def wildcard_topk(
        self,
        pattern: str,
        k: int = 10,
        max_terms: int = 4096,
        **kw,
    ) -> DataFrame:
        """ES `wildcard` query, scoped to edge anchors: `core*` (prefix),
        `*core` (suffix) and `*core*` (infix). The core expands against
        the index vocabulary — prefix via the edge-ngram machinery, infix
        and suffix via ONE terms-table scan (the accelerated-grep
        expansion) — and the union scores as a disjunctive BM25 query
        through the block-max WAND kernel, each expanded term with its
        own df/idf (the same query-expansion semantics prefix_topk
        documents). Inner wildcards raise; an expansion past `max_terms`
        raises loudly (an unselective pattern would silently become a
        corpus scan — the caller should use regex_search for that
        shape)."""
        core = pattern.strip("*")
        stars = len(pattern) - len(core)
        if not core or "*" in core or stars != pattern.count("*") or stars == 0:
            raise ValueError(
                f"wildcard pattern {pattern!r}: edge anchors only "
                "(core*, *core, *core*), non-empty core"
            )
        toks = tokenize_py(core)
        if len(toks) != 1:
            raise ValueError(f"wildcard core must analyze to one token, got {toks}")
        core = toks[0]
        if pattern.endswith("*") and not pattern.startswith("*"):
            return self.prefix_topk(core, k, **kw)
        cands = self.terms_containing(core, max_terms=max_terms)
        if cands is None:
            raise ValueError(
                f"wildcard {pattern!r} expands past {max_terms} vocabulary "
                "terms; use regex_search for unselective patterns"
            )
        if not pattern.endswith("*"):  # *core: suffix anchor
            cands = [t for t in cands if t.endswith(core)]
        return self._topk_terms(sorted(cands), k, **kw)

    def regexp_topk(
        self,
        pattern: str,
        k: int = 10,
        max_terms: int = 4096,
        **kw,
    ) -> DataFrame:
        """ES `regexp` query: the pattern must match the WHOLE term (ES
        anchoring semantics), matching vocabulary terms expand to a
        disjunctive BM25 WAND query — each term with its own df/idf,
        exactly the wildcard/prefix expansion contract. The dialect is
        Java regex (Spark `rlike`), a superset of the Lucene operators ES
        exposes; expansions past `max_terms` raise loudly (unselective
        patterns belong to regex_search, which greps CONTENT rather than
        ranking by vocabulary match). One primary-field vocabulary scan
        (self._vocab — namespaced multifield terms excluded)."""
        dirs = self._terms_dirs()
        if not dirs:
            return self.spark.createDataFrame([], WAND_OUT_SCHEMA)
        rows = (
            self._vocab(self._read_parquet(dirs, "terms"))
            .filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .select("term")
            .distinct()
            .limit(max_terms + 1)
            .collect()
        )
        if len(rows) > max_terms:
            raise ValueError(
                f"regexp {pattern!r} expands past {max_terms} vocabulary "
                "terms; use regex_search for unselective patterns"
            )
        return self._topk_terms(sorted(r["term"] for r in rows), k, **kw)

    def fuzzy_terms(
        self,
        token: str,
        max_dist: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
    ) -> list[str]:
        """Vocabulary expansion for a fuzzy (edit-distance) query token:
        index terms within Levenshtein distance <= max_dist of `token`,
        sharing its first `prefix_len` characters (ES's fuzzy
        prefix_length, which keeps the expansion anchored and cheap — the
        delegated ES match surface accepts `fuzziness` on exactly this
        contract, /root/reference/elastic/elastic.go:103-117's
        Search passthrough). The scan touches only the TERMS tables (the
        vocabulary — tiny next to the postings) with a pushed length-band
        + prefix filter; levenshtein() is a Catalyst builtin, so the whole
        expansion is one JVM-side job collecting at most max_terms rows.
        Deterministic cap order: (distance ASC, term ASC) — df-free, so a
        DuckDB oracle over the raw corpus replays it exactly."""
        if not token:
            return []
        dirs = self._terms_dirs()
        if not dirs:
            return []
        cond = F.abs(F.length("term") - F.lit(len(token))) <= max_dist
        if prefix_len > 0:
            cond = cond & F.col("term").startswith(token[:prefix_len])
        rows = (
            self._vocab(self._read_parquet(dirs, "terms"))
            .filter(cond)
            .select("term")
            .distinct()
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(token)))
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.asc("term"))
            .limit(max_terms)
            .collect()
        )
        return [r["term"] for r in rows]

    def fuzzy_topk(
        self,
        query: str,
        k: int = 10,
        max_dist: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
        **kw,
    ) -> DataFrame:
        """Typo-tolerant top-k: each analyzed query token expands to its
        fuzzy vocabulary variants (fuzzy_terms), and the union scores as a
        disjunctive BM25 query through the block-max WAND kernel — each
        expanded term with its own df/idf, the same query-expansion
        semantics prefix_topk documents. Variants shared by two query
        tokens count once (set union)."""
        variants = self.fuzzy_terms_many(
            sorted(set(tokenize_py(query))),
            max_dist=max_dist,
            prefix_len=prefix_len,
            max_terms=max_terms,
        )
        return self._topk_terms(sorted({t for ts in variants.values() for t in ts}), k, **kw)

    def fuzzy_terms_many(
        self,
        tokens: list[str],
        max_dist: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
    ) -> dict[str, list[str]]:
        """Batched fuzzy expansion: ALL query tokens against the
        vocabulary in ONE job (one terms-table scan, however many tokens),
        instead of a scan per token — at a large-corpus vocabulary the
        scan dominates, so a q-token query must not pay it q times. The
        tiny token list broadcasts against the vocabulary with the pushed
        length-band/prefix disjunction; per-token ranking is a
        row_number window over (distance, term) — the window exchange
        moves only rows already within some token's band."""
        tokens = [t for t in tokens if t]
        if not tokens:
            return {}
        dirs = self._terms_dirs()
        if not dirs:
            return {t: [] for t in tokens}
        prune = None
        for t in tokens:
            c = F.abs(F.length("term") - F.lit(len(t))) <= max_dist
            if prefix_len > 0:
                c = c & F.col("term").startswith(t[: prefix_len])
            prune = c if prune is None else (prune | c)
        tok_df = self.spark.createDataFrame([(t,) for t in tokens], "tok string")
        vocab = self._vocab(self._read_parquet(dirs, "terms")).filter(prune).select("term").distinct()
        join_cond = F.abs(F.length("term") - F.length("tok")) <= max_dist
        if prefix_len > 0:
            join_cond = join_cond & (
                F.substring("term", 1, prefix_len) == F.substring("tok", 1, prefix_len)
            )
        pairs = (
            vocab.join(F.broadcast(tok_df), join_cond)
            .withColumn("dist", F.levenshtein(F.col("term"), F.col("tok")))
            .filter(F.col("dist") <= max_dist)
        )
        w = Window.partitionBy("tok").orderBy(F.asc("dist"), F.asc("term"))
        rows = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_terms)
            .select("tok", "term")
            .collect()
        )
        out: dict[str, list[str]] = {t: [] for t in tokens}
        for r in rows:
            out[r["tok"]].append(r["term"])
        return {t: sorted(v) for t, v in out.items()}

    def suggest_terms(self, prefix: str, size: int = 10) -> DataFrame:
        """ES completion suggester over the index vocabulary (the suggest
        half of the delegated search surface,
        /root/reference/elastic/elastic.go search passthrough): terms
        completing the analyzed prefix, ranked by corpus document
        frequency — (term, df), df desc then term asc.

        Plan: when the prefix fits an indexed edge-ngram, the ngram
        buckets are partition-pruned driver-side and the `ng =` equality
        pushes into the scan (_prefix_terms_df — the same machinery
        prefix search uses); longer prefixes fall back to ONE terms-table
        scan with a pushed startswith range filter. Either way df sums
        across live segments and the cap compiles to TakeOrdered — only
        `size` rows reach the driver. Like every vocabulary read, df
        counts tombstoned docs until compaction (documented drift)."""
        empty = self.spark.createDataFrame([], "term string, df long")
        norm = tokenize_py(prefix)
        if not norm:
            return empty
        p = norm[0]
        if NGRAM_MIN <= len(p) <= NGRAM_MAX:
            ranked = self._prefix_terms_df(p, max_terms=size)
            if ranked is None:
                return empty
            return ranked.select("term", F.col("df").cast("long").alias("df"))
        dirs = self._terms_dirs()
        if not dirs:
            return empty
        return (
            self._vocab(self._read_parquet(dirs, "terms"))
            .filter(F.col("term").startswith(p))
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(size)
        )

    def suggest_corrections(
        self,
        token: str,
        size: int = 10,
        max_dist: int = 2,
        prefix_len: int = 1,
    ) -> DataFrame:
        """ES term suggester (did-you-mean): vocabulary terms within
        Levenshtein `max_dist` of the analyzed token and sharing its
        `prefix_len`-character prefix (the ES prefix_length contract),
        ranked (distance asc, df desc, term asc) — (term, dist, df).

        ONE pruned vocabulary scan: the length band + prefix conjunction
        pushes into the terms read, per-term df aggregates across live
        segments map-side-first, distance evaluates on the AGGREGATED
        vocabulary rows (codegen levenshtein over |vocab| rows, never
        |vocab| x segments), and the cap compiles to TakeOrdered."""
        empty = self.spark.createDataFrame([], "term string, dist int, df long")
        norm = tokenize_py(token)
        if not norm:
            return empty
        t = norm[0]
        dirs = self._terms_dirs()
        if not dirs:
            return empty
        cond = F.abs(F.length("term") - F.lit(len(t))) <= max_dist
        if prefix_len > 0:
            cond = cond & F.col("term").startswith(t[:prefix_len])
        return (
            self._vocab(self._read_parquet(dirs, "terms"))
            .filter(cond)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(t)).cast("int"))
            .filter(F.col("dist") <= max_dist)
            .select("term", "dist", "df")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(size)
        )

    def highlight_topk(
        self,
        docs: DataFrame,
        query: str,
        k: int = 10,
        window: int = 5,
        **kw,
    ) -> DataFrame:
        """Top-k with snippets — the ES highlight surface over the
        delegated search endpoint (the reference's map UI renders the hit
        source directly; ES highlighting is the standard upgrade). Ranking
        comes from the pruned WAND top-k; ONLY the k winners are joined
        back to the corpus (broadcast semi of k ids — the content scan
        never touches non-winners at any corpus size) and re-analyzed
        Catalyst-side to cut a deterministic snippet: the `window` tokens
        on each side of the FIRST occurrence of any query term (earliest
        token index; term-order tie-break is irrelevant since positions
        are distinct), plus that matched term. Returns
        (doc_id, score, first_term, snippet)."""
        terms = sorted(set(tokenize_py(query)))
        top = self._topk_terms(terms, k, **kw).collect()  # O(k) rows
        if not top:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, first_term string, snippet string"
            )
        scores = self.spark.createDataFrame(
            [(r["doc_id"], r["score"]) for r in top], "doc_id long, score double"
        )
        # the winner ids are a LITERAL IN-list, so the corpus scan prunes
        # to k docs at the parquet reader (PushedFilters), instead of a
        # full content read feeding a broadcast join
        hits = docs.filter(
            F.col("doc_id").isin([r["doc_id"] for r in top])
        ).join(F.broadcast(scores), "doc_id")
        toks = tokenize_expr("content")
        pos_arr = F.array(
            *[F.array_position(F.col("t"), F.lit(t)) for t in terms]
        )
        first = F.array_min(F.filter(pos_arr, lambda p: p > 0))
        start = F.greatest(first - window, F.lit(1))
        length = first + window - start + 1
        return (
            hits.withColumn("t", toks)
            .withColumn("first_pos", first)
            .withColumn(
                "first_term", F.element_at(F.col("t"), F.col("first_pos").cast("int"))
            )
            .withColumn(
                "snippet",
                F.concat_ws(
                    " ", F.slice(F.col("t"), start.cast("int"), length.cast("int"))
                ),
            )
            .select("doc_id", "score", "first_term", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def highlight_phrase_topk(
        self,
        docs: DataFrame,
        phrase: str,
        k: int = 10,
        window: int = 5,
        **kw,
    ) -> DataFrame:
        """Phrase-ranked highlighting: ranking comes from phrase_topk
        (positions decode, exact adjacency), and the snippet centers on
        the FIRST occurrence of the WHOLE phrase — `window` tokens each
        side of the consecutive match, plus the matched tokens. Same O(k)
        re-read contract as highlight_topk (winner ids are a pushed
        IN-list; non-winners never touch the content scan). Returns
        (doc_id, score, matched, snippet)."""
        seq = tokenize_py(phrase)
        if not seq:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched string, snippet string"
            )
        top = self.phrase_topk(phrase, k, **kw).collect()  # O(k) rows
        if not top:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched string, snippet string"
            )
        scores = self.spark.createDataFrame(
            [(r["doc_id"], r["score"]) for r in top], "doc_id long, score double"
        )
        hits = docs.filter(
            F.col("doc_id").isin([r["doc_id"] for r in top])
        ).join(F.broadcast(scores), "doc_id")
        n = len(seq)
        pat = F.array(*[F.lit(t) for t in seq])
        starts = F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("t") - n + 1, F.lit(0))),
            lambda i: F.slice(F.col("t"), i, n) == pat,
        )
        first = F.array_min(starts)
        s0 = F.greatest(first - window, F.lit(1))
        length = first + n - 1 + window - s0 + 1
        return (
            hits.withColumn("t", tokenize_expr("content"))
            .withColumn("first_pos", first)
            .withColumn(
                "matched",
                F.concat_ws(" ", F.slice(F.col("t"), F.col("first_pos").cast("int"), n)),
            )
            .withColumn(
                "snippet",
                F.concat_ws(" ", F.slice(F.col("t"), s0.cast("int"), length.cast("int"))),
            )
            .select("doc_id", "score", "matched", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def more_like_this(
        self,
        docs: DataFrame,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 10,
        **kw,
    ) -> DataFrame:
        """ES more_like_this over the delegated search surface: find docs
        similar to a source doc. Deterministic contract: the source doc's
        terms rank by tf_in_doc x BM25-idf (df summed off the TERMS
        tables — index metadata, no corpus pass), the top max_query_terms
        (score desc, term asc) form a disjunctive BM25 query, and the
        source doc itself is excluded from the hits. Driver-side work is
        O(1 doc + |doc terms| metadata rows): the source content fetch is
        a pushed doc_id filter, the df fetch touches only the pruned
        vocabulary rows."""
        from collections import Counter

        empty = self.spark.createDataFrame([], WAND_OUT_SCHEMA)
        row = (
            docs.filter(F.col("doc_id") == doc_id).select("content").collect()
        )
        if not row:
            return empty
        tf = Counter(tokenize_py(row[0]["content"]))
        if not tf:
            return empty
        terms = sorted(tf)
        dfs = self._df_for_terms(terms)
        n = self.stats["N"]
        dfm = {r["term"]: int(r["df"]) for r in dfs.collect()} if dfs is not None else {}
        ranked = sorted(
            ((tf[t] * _idf(dfm[t], n), t) for t in terms if t in dfm),
            key=lambda st_: (-st_[0], st_[1]),
        )
        selected = sorted(t for _, t in ranked[:max_query_terms])
        if not selected:
            return empty
        out = self._topk_terms(selected, k + 1, **kw)
        return (
            out.filter(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def explain_score(self, doc_id: int, query: str) -> DataFrame:
        """ES `_explain` parity: the per-term BM25 breakdown of one
        (query, doc) pair — (term, tf, doc_len, df, idf, tf_norm, score).
        Pruned end-to-end: bucket dirs + pushed `term IN` select the
        query's blocks, the GLOBAL df window rides the pruned rows
        (_blocks_for_terms), then a pushed first/last_doc_id range filter
        keeps only blocks COVERING the doc (parquet min/max stats skip the
        rest); explode_blocks decodes just those few blocks and the doc's
        rows are kept. Tombstoned versions are dropped by the shared
        dead-version rule, so an overwritten doc explains its live
        version only, and idf clamps df to the live N exactly as the
        kernels' _idf does, so the scores sum to the doc's top-k score."""
        from ..sources.segments import drop_dead_versions

        terms = sorted(set(tokenize_py(query)))
        out_schema = (
            "term string, tf long, doc_len long, df long, "
            "idf double, tf_norm double, score double"
        )
        empty = self.spark.createDataFrame([], out_schema)
        if not terms:
            return empty
        blocks = self._blocks_for_terms(terms)
        if blocks is None:
            return empty
        covering = blocks.filter(
            (F.col("first_doc_id") <= doc_id) & (F.col("last_doc_id") >= doc_id)
        ).select("bid", "term", "df", "doc_ids_varint", "tfs_varint", "dls_varint")
        rows = explode_blocks(covering).filter(F.col("doc_id") == doc_id)
        hit = drop_dead_versions(rows, self._tombstones_df()).select(
            "term", F.col("tf").cast("long").alias("tf"), "doc_len", "df"
        )

        from ..functions.bm25 import idf_expr, tf_norm_expr

        n, avgdl = self.stats["N"], self.stats["avgdl"]
        return (
            hit.withColumn("idf", idf_expr(F.least(F.col("df"), F.lit(n)), n))
            .withColumn("tf_norm", tf_norm_expr(F.col("tf"), F.col("doc_len"), avgdl))
            .withColumn("score", F.col("idf") * F.col("tf_norm"))
            .orderBy("term")
        )

    def match_count(self, query: str) -> DataFrame:
        """ES `_count` parity: the exact number of docs matching an OR
        query, without scoring or top-k. Candidate ids off the pruned
        posting blocks (only doc_ids_varint decodes — for an OR match a
        candidate IS a match), masked to live docs by an id-only
        semi-join against the tombstone-filtered docmap, then count(*) —
        a partial-aggregated scalar, no sort anywhere."""
        terms = sorted(set(tokenize_py(query)))
        out_schema = "n_docs long"
        if not terms:
            return self.spark.createDataFrame([(0,)], out_schema)
        return (
            self.docmap()
            .select("doc_id")
            .join(self.candidate_doc_ids(terms), "doc_id", "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )

    def term_vectors(self, docs: DataFrame, doc_id: int) -> DataFrame:
        """ES `_termvectors` parity: one doc's (term, tf, df, positions).
        Like ES for non-stored fields, the source doc is RE-ANALYZED —
        a pushed doc_id point lookup fetches the one content row (parquet
        min/max skip everything else), the driver tokenizes that single
        doc (O(doc_len), the same analyzer the index used, so positions
        match the index's positions stream), and df comes from the
        index's terms tables under a pushed `term IN` over bucket-pruned
        dirs. Terms the index has not (yet) seen report df=0 — exactly
        the stale-df window any per-segment stats API has."""
        out_schema = "term string, tf long, df long, positions array<int>"
        empty = self.spark.createDataFrame([], out_schema)
        rows = docs.filter(F.col("doc_id") == doc_id).select("content").collect()
        if not rows:
            return empty
        toks = tokenize_py(rows[0]["content"])
        if not toks:
            return empty
        by_term: dict[str, list[int]] = {}
        for p, t in enumerate(toks):
            by_term.setdefault(t, []).append(p)
        local = self.spark.createDataFrame(
            [(t, len(ps), ps) for t, ps in sorted(by_term.items())],
            "term string, tf long, positions array<int>",
        )
        dfs = self._df_for_terms(sorted(by_term))
        if dfs is None:
            return local.select(
                "term", "tf", F.lit(0).cast("long").alias("df"), "positions"
            ).orderBy("term")
        return (
            local.join(F.broadcast(dfs), "term", "left")
            .select("term", "tf", F.coalesce("df", F.lit(0)).cast("long").alias("df"), "positions")
            .orderBy("term")
        )

    def candidate_df_estimate(self, terms: list[str]) -> int:
        """Upper bound on the candidate-set size of an OR over `terms`:
        sum of n_docs over the pruned block METADATA rows — one tiny
        aggregation over bucket-pruned, `term IN`-pushed block rows; no
        posting bytes decoded. Over-counts (a doc holding several of the
        terms counts once per term; tombstoned docs count until
        compaction), which is the safe direction for a skip-the-prefilter
        selectivity gate (VERDICT r4 #2): an over-estimate can only make
        the planner fall back to the full scan it would otherwise beat."""
        if not terms:
            return 0
        dirs = self._bucket_dirs(terms)
        if not dirs:
            return 0
        row = (
            self._read_parquet(dirs, "blocks")
            .filter(F.col("term").isin(terms))
            .agg(F.sum("n_docs").alias("nd"))
            .collect()[0]
        )
        return int(row["nd"] or 0)

    def candidate_doc_ids(self, terms: list[str]) -> DataFrame:
        """DISTINCT LIVE doc_ids whose postings hold ANY of `terms`,
        straight off the pruned blocks: bucket-dir pruning + pushed
        `term IN`, and ONLY the doc_ids_varint column decoded (Catalyst
        prunes tf/dl/positions from the parquet scan). This is the index
        side of the accelerated-grep semi-join AND the exact match set
        behind count/facets/aggs/sorted search.

        Tombstone-exact: with overwrites present, each decoded id carries
        its segment (bid from the file path) and dead (bid, doc_id)
        pairs are anti-joined away — a doc whose OLD version matched but
        whose live version does not is NOT a candidate (its own build's
        postings never held the term), matching every scoring path's
        dead-masking. Single-build stores skip all of it (no extra
        column, no join)."""
        empty = self.spark.range(0).select(F.col("id").alias("doc_id"))
        if not terms:
            return empty
        dirs = self._bucket_dirs(terms)
        if not dirs:
            return empty
        from ..sources.segments import bid_col, drop_dead_versions

        blocks = self._read_parquet(dirs, "blocks").filter(F.col("term").isin(terms))
        tomb = self._tombstones_df()
        tag = [] if tomb is None else [bid_col().alias("bid")]
        rows = explode_blocks(blocks.select(*tag, "doc_ids_varint"))
        return drop_dead_versions(rows, tomb).select("doc_id").distinct()

    def sorted_topk(
        self,
        query: str,
        sort_col: str = "path",
        asc: bool = True,
        k: int = 10,
        after: tuple | None = None,
        flt=None,
    ) -> DataFrame:
        """ES sort-by-field search (`sort: [{field: asc}]` +
        `search_after` on the field sort key): the k matching docs
        ordered by a docmap attribute instead of relevance.

        Plan shape: candidate ids off the pruned posting blocks (only
        doc_ids_varint decodes), id-only semi-join to the docmap, then
        orderBy+limit — Catalyst compiles it to TakeOrderedAndProject,
        so only k rows per partition survive the exchange; there is no
        full sort at any scale. The `after=(sort_value, doc_id)` cursor
        becomes a pushed row-filter (strictly after in (sort_col
        asc|desc, doc_id asc) order), so page N reads the same plan as
        page 1. `flt` optionally adds a non-scoring docmap predicate
        (filter context), pushed into the same scan."""
        terms = sorted(set(tokenize_py(query)))
        out_cols = ["doc_id", "repo", "path", "lang", "doc_len"]
        # filter context applies on the FULL docmap (a flt may reference
        # columns like `commit` that the projected result drops), exactly
        # as filtered_topk does; the narrowing select comes after.
        dm = self.docmap()
        if flt is not None:
            dm = dm.filter(flt)
        dm = dm.select(*out_cols)
        if sort_col not in dm.columns:
            raise ValueError(f"unsortable column {sort_col!r}")
        if not terms:
            return self.spark.createDataFrame([], dm.schema)
        dm = dm.join(self.candidate_doc_ids(terms), "doc_id", "left_semi")
        if after is not None:
            a_v, a_d = after
            nxt = F.col(sort_col) > a_v if asc else F.col(sort_col) < a_v
            dm = dm.filter(nxt | ((F.col(sort_col) == a_v) & (F.col("doc_id") > a_d)))
        key = F.asc(sort_col) if asc else F.desc(sort_col)
        return dm.orderBy(key, F.asc("doc_id")).limit(k)

    def match_aggs(
        self,
        query: str,
        ranges: list[tuple[str, int | None, int | None]] | None = None,
        interval: int = 25,
    ) -> DataFrame:
        """ES aggregation suite over an OR-match (range + histogram +
        stats + cardinality, the non-terms half of the aggs surface;
        terms aggs = facets()). Returns (agg, bucket, n_docs, metric)
        rows. Index path: candidate ids straight off the pruned posting
        blocks (only doc_ids_varint decodes), one id-only semi-join to
        the docmap's (lang, doc_len) — content is never read, and each
        agg is a Catalyst partial-aggregation (map-side combine) over the
        SAME cached candidate frame. Cardinality is exact countDistinct
        here; at 100-TB fan-in swap approx_count_distinct (HLL — exactly
        ES's cardinality agg semantics)."""
        ranges = ranges or [("short", None, 40), ("medium", 40, 80), ("long", 80, None)]
        out_schema = "agg string, bucket string, n_docs long, metric double"
        terms = sorted(set(tokenize_py(query)))
        if not terms:
            return self.spark.createDataFrame([], out_schema)
        bucket = None
        for name, lo_b, hi_b in ranges:
            cond = F.lit(True)
            if lo_b is not None:
                cond = cond & (F.col("doc_len") >= lo_b)
            if hi_b is not None:
                cond = cond & (F.col("doc_len") < hi_b)
            bucket = F.when(cond, name) if bucket is None else bucket.when(cond, name)
        dm = (
            self.docmap()
            .select("doc_id", "lang", "doc_len")
            .join(self.candidate_doc_ids(terms), "doc_id", "left_semi")
            .select(
                "lang",
                "doc_len",
                bucket.alias("rb"),
                (F.floor(F.col("doc_len") / interval) * interval)
                .cast("long")
                .cast("string")
                .alias("hb"),
            )
        )
        # ONE shuffle for all four aggs: GROUPING SETS ((rb), (hb), ())
        # over the single candidate pass — the candidate decode + semi-join
        # never re-runs per agg. grouping_id bits (rb,hb): 1 = range
        # buckets, 2 = histogram buckets, 3 = the global stats row.
        a = (
            dm.groupingSets([["rb"], ["hb"], []], "rb", "hb")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("doc_len").cast("double").alias("mn"),
                F.max("doc_len").cast("double").alias("mx"),
                F.sum("doc_len").cast("double").alias("sm"),
                F.round(F.avg("doc_len"), 4).alias("av"),
                F.countDistinct("lang").cast("double").alias("card"),
                F.grouping_id().alias("gid"),
            )
        )
        null_m = F.lit(None).cast("double")
        rng = a.filter(F.col("gid") == 1).select(
            F.lit("range").alias("agg"), F.col("rb").alias("bucket"), "n_docs", null_m.alias("metric")
        )
        hist = a.filter(F.col("gid") == 2).select(
            F.lit("histogram").alias("agg"), F.col("hb").alias("bucket"), "n_docs", null_m.alias("metric")
        )
        g = a.filter(F.col("gid") == 3)
        stats = None
        for b, c in [("min", "mn"), ("max", "mx"), ("sum", "sm"), ("avg", "av")]:
            row = g.select(
                F.lit("stats").alias("agg"), F.lit(b).alias("bucket"), "n_docs", F.col(c).alias("metric")
            )
            stats = row if stats is None else stats.unionByName(row)
        card = g.select(
            F.lit("cardinality").alias("agg"), F.lit("lang").alias("bucket"), "n_docs", F.col("card").alias("metric")
        )
        return (
            rng.unionByName(hist)
            .unionByName(stats)
            .unionByName(card)
            .orderBy("agg", "bucket")
        )

    def significant_terms(
        self,
        docs: DataFrame,
        query: str,
        size: int = 10,
        min_doc_count: int = 3,
    ) -> DataFrame:
        """ES `significant_terms` aggregation with the default JLH
        heuristic (the "what is unusual about the matching docs" half of
        the delegated aggs surface; /root/reference/elastic/elastic.go
        search passthrough): foreground = docs OR-matching the query,
        background = the whole corpus; a term is significant when its
        foreground rate beats its background rate, scored
        (fg% - bg%) * (fg% / bg%) — ES's JLH, rewarding both absolute
        lift and rarity. Query terms themselves are not excluded
        (ES semantics: they usually rank top).

        Index path, cost ∝ |foreground|, never the corpus: candidate ids
        come straight off the pruned posting blocks (only doc_ids_varint
        decodes), ONLY foreground docs' content is re-analyzed (id-only
        left-semi prunes the content scan), the per-term foreground df is
        a map-side partial agg over exploded distinct tokens, and the
        background df is the index's terms METADATA tables — no second
        corpus pass, no postings decode beyond the query's own blocks.
        The (fg vocab x terms-table) equi-join shuffles vocabulary-sized
        data only."""
        terms = sorted(set(tokenize_py(query)))
        out_schema = "term string, fg_df long, bg_df long, score_r double"
        if not terms:
            return self.spark.createDataFrame([], out_schema)
        # checkpointed so the id decode runs once for the scalar count
        # and the semi-join (an O(candidates) id-only frame)
        fg_ids = self.candidate_doc_ids(terms).localCheckpoint(eager=True)
        fg_n = fg_ids.count()
        if fg_n == 0:
            return self.spark.createDataFrame([], out_schema)
        fg_stats = (
            docs.join(fg_ids, "doc_id", "left_semi")
            .select(F.explode(F.array_distinct(tokenize_expr("content"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
        )
        dfreq = (
            self._read_parquet(self._terms_dirs(), "terms")
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("bg_df"))
        )
        fg_pct = F.col("fg_df") / F.lit(float(fg_n))
        bg_pct = F.col("bg_df") / F.lit(float(self.stats["N"]))
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        return (
            fg_stats.join(dfreq, "term")
            .filter((F.col("fg_df") >= min_doc_count) & (fg_pct > bg_pct))
            .select("term", "fg_df", "bg_df", F.round(score, 6).alias("score_r"))
            .orderBy(F.desc("score_r"), F.asc("term"))
            .limit(size)
        )

    def prefix_topk(self, prefix: str, k: int = 10, **kw) -> DataFrame:
        """Top-k BM25 for a prefix query: OR over the expanded terms (each
        expanded term scores with its own df/idf — standard query
        expansion, vs ES's ngram-as-a-term which needs an ngram postings
        index ~7x the size)."""
        return self._topk_terms(self.expand_prefix(prefix), k, **kw)

    def topk(
        self,
        query: str,
        k: int = 10,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        after: tuple[float, int] | None = None,
        flt=None,
    ) -> DataFrame:
        """`after=(score, doc_id)` is the ES search_after cursor: return
        the k docs strictly after the cursor in (score desc, doc_id asc)
        order — deep pagination without a from+size over-fetch. The cursor
        cut runs inside the kernel, so every page is a normal pruned
        top-k job, not a k*page scan. `flt` = ES filter context (same
        contract as filtered_topk)."""
        return self._topk_terms(
            sorted(set(tokenize_py(query))),
            k,
            flt=flt,
            range_size=range_size,
            with_docmap=with_docmap,
            after=after,
        )

    def filtered_topk(
        self,
        query: str,
        flt,
        k: int = 10,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """ES bool-query filter context (match `query` + `filter` over doc
        attributes, the delegated search surface's filtered form): top-k
        BM25 restricted to docs whose docmap row passes `flt` (a Catalyst
        predicate over docmap columns — repo/path/commit/lang/doc_len).

        Scale shape: the predicate pushes down into the docmap parquet
        scan; only the SURVIVING doc ids enter the query, as allow-list
        pseudo-rows riding the SAME rid shuffle as the posting blocks
        (the tombstone pattern — never a driver-held set; see _ranged).
        Inside the kernel the allow set masks candidates before scoring,
        strides holding no allowed doc are never visited, and block-max
        pruning stays sound: the threshold only ever reflects filtered
        survivors, and stride bounds remain valid upper bounds for any
        subset. Dead versions are additionally masked per-build as in
        every decode path."""
        return self.topk(query, k, range_size, with_docmap, after, flt=flt)

    def bool_topk(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        flt=None,
        msm: int = 0,
        k: int = 10,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """The full ES bool query (the delegated search surface's composed
        form; /root/reference/elastic/elastic.go search passthrough):
        docs must contain every `must` token, >= `msm` distinct `should`
        tokens, no `must_not` token, and (optionally) pass the `flt`
        docmap predicate (non-scoring filter context). Score = BM25 over
        must+should occurrences, global corpus stats — ES semantics
        throughout.

        Plan shape: ONE pruned-bucket block read covering all three
        clauses' terms, one rid shuffle (filter ids ride it as pseudo-rows
        when flt is set), one Arrow kernel pass. The kernel adds a
        conjunctive stride rule — strides missing any must term's blocks
        are never visited — so selective conjunctions decode a small
        fraction of blocks (test_bool_kernel_conjunctive_prune)."""
        m_terms = sorted(set(tokenize_py(must)))
        s_terms = sorted(set(tokenize_py(should)))
        n_terms = sorted(set(tokenize_py(must_not)))
        overlap = (set(m_terms) & set(s_terms)) | (set(m_terms) | set(s_terms)) & set(n_terms)
        if overlap:
            raise ValueError(f"bool clauses must be disjoint, got {sorted(overlap)} twice")
        if not (m_terms or s_terms):
            return self.spark.createDataFrame([], WAND_OUT_SCHEMA)
        return self._wand(
            self._one_field(),
            sorted(set(m_terms + s_terms + n_terms)),
            lambda rng: bool_kernel(rng, k, m_terms, s_terms, n_terms, msm, after=after),
            k, range_size, flt=flt, with_docmap=with_docmap,
        )

    def phrase_topk(
        self,
        phrase: str,
        k: int = 10,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        flt=None,
    ) -> DataFrame:
        """Exact-phrase top-k: docs whose analyzed token stream contains
        the query's tokens CONSECUTIVELY, ranked by the summed BM25 of the
        phrase's distinct terms (the match_phrase semantics of the
        delegated ES surface). Requires an index built with positions
        (build_index(..., with_positions=True), the default).

        A one-token phrase degenerates to a plain match query."""
        terms = list(tokenize_py(phrase))
        if len(terms) < 2:
            return self._topk_terms(
                terms, k, range_size=range_size, with_docmap=with_docmap, flt=flt
            )
        self._require_positions("phrase")
        return self._wand(
            self._one_field(), sorted(set(terms)), lambda rng: phrase_kernel(rng, terms, k),
            k, range_size, with_positions=True, flt=flt, with_docmap=with_docmap,
        )

    def phrase_prefix_topk(
        self,
        phrase: str,
        k: int = 10,
        max_expansions: int = 50,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        flt=None,
    ) -> DataFrame:
        """ES match_phrase_prefix (query-as-you-type over the delegated
        search surface): the LAST analyzed token is a prefix; it expands
        to the top-`max_expansions` vocabulary completions ranked by df
        (suggest_terms — ES caps expansions identically, picking
        index-order terms; df-ranked is this engine's documented prefix
        convention, the same as prefix_topk), and a doc matches when the
        fixed tokens are followed by ANY completion. Rank = distinct
        fixed terms' BM25 sum + the best matched completion's BM25.

        Plan: ONE TakeOrdered vocabulary job for the expansions, then the
        standard positional shape — pruned blocks for fixed + expansion
        terms, rid shuffle, two-pass decode (ids first; positions only
        where the fixed intersection AND the expansion union survive)."""
        terms = list(tokenize_py(phrase))
        empty = self.spark.createDataFrame([], WAND_OUT_SCHEMA)
        if not terms:
            return empty
        self._require_positions("phrase_prefix")
        fixed, last = terms[:-1], terms[-1]
        exp = [r["term"] for r in self.suggest_terms(last, size=max_expansions).collect()]
        if not exp:
            return empty
        return self._wand(
            self._one_field(),
            sorted(set(fixed) | set(exp)),
            lambda rng: phrase_prefix_kernel(rng, fixed, exp, k),
            k, range_size, with_positions=True, flt=flt, with_docmap=with_docmap,
        )

    def near_topk(
        self,
        query: str,
        window: int = 8,
        k: int = 10,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        flt=None,
    ) -> DataFrame:
        """Proximity top-k: docs containing ALL query terms within a
        `window` of consecutive analyzed-token positions, in any order,
        ranked by summed distinct-term BM25 (the unordered counterpart of
        phrase_topk; window == len(terms) makes it an unordered phrase).
        Requires positions (the index default)."""
        terms = sorted(set(tokenize_py(query)))
        if len(terms) < 2:
            return self._topk_terms(
                terms, k, range_size=range_size, with_docmap=with_docmap, flt=flt
            )
        self._require_positions("proximity")
        return self._wand(
            self._one_field(), terms, lambda rng: near_kernel(rng, terms, window, k),
            k, range_size, with_positions=True, flt=flt, with_docmap=with_docmap,
        )

    def topk_many(
        self,
        queries: list[tuple[int, str, int]],
        range_size: int = RANGE_SIZE_DEFAULT,
    ) -> DataFrame:
        """Batch scoring: the WHOLE query set in one Spark job.

        -> (query_id, rank, doc_id, score). Blocks for the union of all
        query terms are fetched AND shuffled once — a block shared by many
        queries is not replicated (VERDICT r2 #2); the query->terms map is
        per-batch metadata carried in the kernel closure, and each rid's
        kernel decodes every term once then aggregates per query in memory
        (multiquery_kernel). Per-query global top-k via a rank window.
        Per-query Spark-job overhead (the dominant cost of single-query
        latency at small scale) amortizes across the set — this is the
        shape a production batch scorer uses.
        """
        per_q = {qid: sorted(set(tokenize_py(q))) for qid, q, k in queries}
        k_by_q = {qid: k for qid, _, k in queries}
        local = self._multiquery(per_q, k_by_q, range_size)
        if local is None:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = local.withColumn("rank", F.row_number().over(w))
        cond = None
        for qid, k in k_by_q.items():
            c = (F.col("query_id") == qid) & (F.col("rank") <= k)
            cond = c if cond is None else (cond | c)
        return ranked.filter(cond).select("query_id", "rank", "doc_id", "score")

    def scores(self, terms: list[str], range_size: int = RANGE_SIZE_DEFAULT) -> DataFrame:
        """ALL docs matching >= 1 term, with their full BM25 scores —
        exhaustive disjunctive mode (no top-k pruning), the building block
        for cross-field composition where the global cut can only happen
        AFTER field scores merge. Same kernel as topk with k = range_size:
        a range holds at most range_size docs, so nothing is cut."""
        local = self._wand(
            self._one_field(), terms, lambda rng: wand_topk(rng, range_size), range_size=range_size
        )
        return self.spark.createDataFrame([], WAND_OUT_SCHEMA) if local is None else local

    def _topk_terms(
        self,
        terms: list[str],
        k: int = 10,
        range_size: int = RANGE_SIZE_DEFAULT,
        with_docmap: bool = False,
        after: tuple[float, int] | None = None,
        flt=None,
    ) -> DataFrame:
        return self._wand(
            self._one_field(), terms, lambda rng: wand_topk(rng, k, after=after),
            k, range_size, flt=flt, with_docmap=with_docmap,
        )


def multifield_topk(
    fields: list[tuple["IndexReader", float]],
    query: str,
    k: int = 10,
    range_size: int = RANGE_SIZE_DEFAULT,
    pruned: bool = True,
) -> DataFrame:
    """E8 multi-field search THROUGH the index: one physical index per
    field (the Lucene per-field inverted-index model — each field has its
    own df/dl/avgdl statistics), score = sum over fields of
    boost_f * BM25_f(doc).

    pruned=True (VERDICT r4 #1): ONE combined BM25F-style WAND — the
    planner (IndexReader._wand) fetches every store's blocks, tagged by
    source, into the SHARED doc_id partitioning, and wand_topk prunes
    strides against the summed per-(field,term) block-max bound, decoding
    only survivor blocks. Each store scores its primary field; a store
    with pending deletes serves it with tombstone-corrected statistics.
    pruned=False keeps the former exhaustive shape (per-field scores()
    with k = range_size, boost-weighted union, global cut) — the
    reference both paths must match; the exhaustive cut is still correct
    because a doc's combined rank isn't knowable from any single field's
    top-k, but it decodes every posting of every term in every field."""
    terms = sorted(set(tokenize_py(query)))
    if not fields:
        raise ValueError("no fields")
    if not pruned:
        parts = []
        for reader, boost in fields:
            s = reader.scores(terms, range_size=range_size)
            parts.append(s.withColumn("score", F.col("score") * F.lit(float(boost))))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            out.groupBy("doc_id")
            .agg(F.sum("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    sources = [(reader, reader.primary_field, float(boost)) for reader, boost in fields]
    return fields[0][0]._wand(sources, terms, lambda rng: wand_topk(rng, k), k, range_size)


def multifield_topk_single(
    reader: "IndexReader",
    fields: list[tuple[str, float]],
    query: str,
    k: int = 10,
    range_size: int = RANGE_SIZE_DEFAULT,
) -> DataFrame:
    """BM25F over the fields of ONE store (build_index(fields=...)) —
    rank/score-identical to multifield_topk over one store per field, but
    the build paid ONE corpus pass and ONE shuffle for all fields, and the
    query is ONE pruned block fetch (bucket dirs pruned once for the union
    of all fields' terms) instead of one per field.

    fields: [(field_name, boost)] — names from the build's `fields`; the
    primary field's terms are stored bare, secondary fields' prefixed
    "<field>:<term>". Statistics (N, avgdl, df, block-max bounds) are all
    per-field by construction; the planner tags each block with its
    source from the stored term's prefix.

    Deletion interplay: the primary field is served over pending deletes
    (its statistics are tombstone-corrected, as for multifield_topk);
    per-field statistics of the other fields do not track tombstones, so
    naming one of them on a store with pending deletes raises
    NotImplementedError until compact() recomputes them."""
    unknown = sorted({n for n, _ in fields} - set(reader.field_stats))
    if unknown:
        raise ValueError(f"unknown fields {unknown}; store has {sorted(reader.field_stats)}")
    sources = [(reader, name, float(boost)) for name, boost in fields]
    terms = sorted(set(tokenize_py(query)))
    return reader._wand(sources, terms, lambda rng: wand_topk(rng, k), k, range_size)


register_by_value(__name__)
