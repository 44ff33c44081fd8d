"""Corpus statistics (SURVEY.md C5 analog, M2).

The reference computes per-group aggregates by hand (way centroid =
mean of member node coords, /root/reference/osm/utils.go:18-25). Our
engine's analogous aggregates are the BM25 statistics:

    tf(term, doc)  — C1 analog (the inverted-index multimap build,
                     /root/reference/osm/handler/handler.go:145-148)
    doc_len(doc)   — sum of tf over a doc, per field
    N, avgdl       — corpus-level scalars, per field
    df(term)       — posting-list length per term

tf and doc_len come from one Arrow kernel per input partition, so no raw
token ever shuffles; df and the corpus scalars are DataFrame aggregations
over the tf rows. Every field is its own token stream (the Lucene
per-field model) in one term space: the primary field's terms are bare,
every other field's are "<field>:<term>" (segments.FIELD_SEP), so a
one-field corpus yields the plain (doc_id, term, tf, doc_len) rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pickle import register_by_value
from .analyze import tokenize_arrow


def _tf_arrow_kernel(batches, prefixes: dict, with_dl: bool, with_positions: bool = False):
    """Tokenize AND count per doc inside one pure-Arrow kernel, one pass
    over the batch per field column in `prefixes` (column -> the prefix
    its terms get).

    Two scale decisions live here:

    * tf(doc, term) and doc_len are doc-local quantities: computing them
      via explode + groupBy would shuffle every token occurrence (the
      largest intermediate in the whole build); here they never leave the
      input partition. The only build-wide shuffle left is groupBy(term).

    * Pure pyarrow.compute (RE2 regex over contiguous string buffers, C++
      hash group-by) instead of pandas: python-object string handling is
      memory-bandwidth-bound and measured ~4x slower AND anti-scales when
      32 workers share one node's bandwidth. The Arrow kernel's token
      stream never materializes as python objects at all.

    Each field is its own token stream (the Lucene per-field model): its
    rows carry that field's doc_len and positions, and its terms its
    prefix, so the corpus is read once whatever the field count.

    Tokens come from analyze.tokenize_arrow, the analyzer's one Arrow
    implementation (imported at module top: this module pickles by value).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    pa.set_cpu_count(1)  # one Spark worker per core already; don't oversubscribe

    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        ids_np = tbl["doc_id"].combine_chunks().to_numpy(zero_copy_only=False)
        for field, prefix in prefixes.items():
            flat, parents = tokenize_arrow(tbl[field].combine_chunks())
            if with_positions:
                # token position within its doc's filtered token stream (the
                # tokenize_py index): rank within each parent run. Arrow's
                # hash `list` aggregation accumulates in scan order, so the
                # per-(doc, term) position lists come out ascending — the
                # invariant the positions delta-codec asserts at encode time.
                par_np = parents.to_numpy(zero_copy_only=False)
                npos = par_np.shape[0]
                pos = np.arange(npos, dtype=np.int64)
                if npos:
                    starts = np.flatnonzero(
                        np.concatenate(([True], par_np[1:] != par_np[:-1]))
                    )
                    runlen = np.diff(np.concatenate((starts, [npos])))
                    pos -= np.repeat(pos[starts], runlen)
                grouped = pa.TableGroupBy(
                    pa.table(
                        {"pi": parents, "term": flat, "pos": pa.array(pos, type=pa.int32())}
                    ),
                    ["pi", "term"],
                ).aggregate([("pos", "list"), ([], "count_all")])
            else:
                grouped = pa.TableGroupBy(
                    pa.table({"pi": parents, "term": flat}), ["pi", "term"]
                ).aggregate([([], "count_all")])
            pi = grouped["pi"].to_numpy(zero_copy_only=False)
            term = grouped["term"].combine_chunks()
            if prefix:
                term = pc.binary_join_element_wise(prefix, term, "")
            cols = {
                "doc_id": pa.array(ids_np[pi], type=pa.int64()),
                "term": term,
                "tf": pc.cast(grouped["count_all"], pa.int32()),
            }
            if with_dl:
                dl = np.bincount(
                    parents.to_numpy(zero_copy_only=False), minlength=rb.num_rows
                )
                cols["doc_len"] = pa.array(dl[pi], type=pa.int64())
            if with_positions:  # keep schema order: ..., doc_len, positions
                cols["positions"] = grouped["pos_list"].combine_chunks()
            yield from pa.table(cols).to_batches()


def term_freqs(docs: DataFrame) -> DataFrame:
    """docs -> (doc_id, term, tf). One row per distinct (doc, term), from
    the shuffle-free Arrow kernel via mapInArrow."""
    return docs.select("doc_id", "content").mapInArrow(
        lambda it: _tf_arrow_kernel(it, {"content": ""}, with_dl=False),
        "doc_id long, term string, tf int",
    )


def term_freqs_dl(
    docs: DataFrame, fields=("content",), with_positions: bool = False
) -> DataFrame:
    """docs -> (doc_id, term, tf, doc_len[, positions]) for every field in
    `fields` (primary first), in ONE mapInArrow pass. doc_len is computed
    in-kernel so the posting builder needs no doc_len side-join; positions
    (token offsets in the analyzed stream, for phrase queries) ride along
    when requested. Both are per field. The primary field's terms are
    bare and the others' carry the "<field>:" prefix (segments.FIELD_SEP),
    so a one-field call yields exactly the plain (doc, term) rows."""
    from .sources.segments import FIELD_SEP

    schema = "doc_id long, term string, tf int, doc_len long"
    if with_positions:
        schema += ", positions array<int>"
    prefixes = {f: f"{f}{FIELD_SEP}" if i else "" for i, f in enumerate(fields)}
    return docs.select("doc_id", *prefixes).mapInArrow(
        lambda it: _tf_arrow_kernel(it, prefixes, with_dl=True, with_positions=with_positions),
        schema,
    )


def doc_lengths(tf: DataFrame) -> DataFrame:
    """(doc_id, [term, tf, ...]) -> (doc_id, doc_len). Uses the in-kernel
    doc_len when present (tiny grouped max), else sums tf."""
    if "doc_len" in tf.columns:
        return tf.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
    return tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("doc_len"))


def doc_freqs(tf: DataFrame) -> DataFrame:
    """(doc_id, term, tf) -> (term, df). tf rows are already distinct per
    (doc, term), so df == count(*) — no countDistinct shuffle needed."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))


def corpus_scalars(dl: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — the only two values that ever reach the driver."""
    row = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"])


def corpus_scalars_full(dl: DataFrame) -> dict:
    """(field, doc_id, doc_len) rows -> {field: {N, avgdl, total_tokens}},
    one map-side combinable aggregation for every field. total_tokens is
    kept as the exact integer sum so multi-segment readers can recompute a
    bit-exact global avgdl."""
    rows = (
        dl.groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("tot"),
        )
        .collect()
    )
    return {
        r["field"]: {"N": int(r["n"]), "avgdl": float(r["avgdl"]), "total_tokens": int(r["tot"])}
        for r in rows
    }


register_by_value(__name__)
