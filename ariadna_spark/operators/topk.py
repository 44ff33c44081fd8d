"""Brute-force BM25 top-k over plain DataFrames (SURVEY.md §7.2, M3).

This is the *oracle* scorer: semantically exact BM25 top-k expressed as
pure scan -> filter -> join -> agg -> sort -> limit, with every expression
JVM-side. The compressed-segment + block-max-WAND path (operators/wand.py)
must be rank-identical to this.

Scale notes: the query-term filter is pushed into the tf scan (predicate
pushdown on `term` when tf is stored as parquet sorted/partitioned by
term); df and dl are tiny per-query dimension tables and broadcast; the
final global sort is a TakeOrderedAndProject (k rows per partition merged
on the driver), not a full sort.

Contract (matches the Lucene/ES behavior the reference relies on):
* duplicate query terms count once (unique-term sum),
* ties broken by doc_id ascending (rank-identity requirement, E5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyze import tokenize_py
from ..functions.bm25 import bm25_expr
from ..stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs


def bm25_topk_from_stats(
    tf: DataFrame,
    dfreq: DataFrame,
    dl: DataFrame,
    n_docs: int,
    avgdl: float,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """(doc_id, score) for the top-k docs matching any of `terms`."""
    terms = sorted(set(terms))
    if not terms:
        # empty analyzed query -> empty result with stable schema
        return tf.sparkSession.createDataFrame([], "doc_id long, score double")
    matched = tf.filter(F.col("term").isin(terms))
    scored = (
        matched.join(F.broadcast(dfreq.filter(F.col("term").isin(terms))), "term")
        .join(dl, "doc_id")
        .withColumn(
            "contrib",
            bm25_expr(F.col("tf"), F.col("df"), F.col("doc_len"), n_docs, avgdl),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return scored


def bm25_topk(docs: DataFrame, query: str, k: int = 10) -> DataFrame:
    """End-to-end: docs -> analyzed query -> top-k (doc_id, score).

    Computes stats on the fly — fine for tests/oracles; the indexed path
    reads precomputed segments instead.
    """
    tf = term_freqs(docs)
    tf.persist()
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    n_docs, avgdl = corpus_scalars(dl)
    terms = tokenize_py(query)
    out = bm25_topk_from_stats(tf, dfreq, dl, n_docs, avgdl, terms, k)
    return out
