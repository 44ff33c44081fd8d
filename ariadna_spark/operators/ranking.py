"""Ranking composition verbs over the inverted index: field collapsing,
per-bucket top hits, dis_max scoring, and ranking evaluation.

These are the remaining ES 7.x result-shaping verbs the reference's
delegated `_search` surface exposes (/root/reference/elastic/elastic.go
passes request bodies through to ES; /root/reference/osm/osm.go:179-186
routes the HTTP surface): `collapse`, the `top_hits` aggregation,
`dis_max`, and the `_rank_eval` endpoint.

Plan shapes (all built on IndexReader's pruned block machinery):

- collapse / top_hits need the best hit(s) PER GROUP among ALL matching
  docs, so top-k pruning cannot cut early (any group may still need a
  representative). They run the exhaustive disjunctive kernel
  (reader.scores — one pruned block read + one rid shuffle, scores
  computed map-side in Arrow), join group attributes from the docmap
  (doc_id equi-join, content never read), then ONE window shuffle
  partitioned by the group key. Same cost class as match_aggs.
- dis_max decodes the union of all clauses' blocks ONCE through the
  multiquery kernel (a block shared by clauses is fetched and shuffled
  once), then combines per-doc clause scores with a map-side-partial
  groupBy(doc_id) — max + tie_breaker * (sum - max) — and a TakeOrdered
  global cut. No per-clause re-scan.
- rank_eval runs the whole request set through ONE topk_many job and
  broadcast-joins the (small) ratings table; metrics are a per-query
  aggregation over <= k rows each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..analyze import tokenize_py
from .wand import RANGE_SIZE_DEFAULT


def collapse_topk(
    reader,
    query: str,
    field: str,
    k: int = 10,
    flt=None,
) -> DataFrame:
    """ES `collapse`: the relevance ranking deduplicated by `field`,
    keeping only each group's highest-scoring hit, then cut to k.

    -> (doc_id, score, <field>) in (score desc, doc_id asc) order.
    """
    s = reader.scores(sorted(set(tokenize_py(query))))
    dm = reader.docmap()
    if flt is not None:
        dm = dm.filter(flt)
    j = s.join(dm.select("doc_id", field), "doc_id")
    w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def top_hits(
    reader,
    query: str,
    field: str,
    per_group: int = 3,
) -> DataFrame:
    """ES `terms` aggregation with a `top_hits` sub-aggregation: for every
    bucket of `field`, the bucket's top `per_group` hits by BM25.

    -> (bucket, rank, doc_id, score), one row per kept hit, every bucket
    with >= 1 matching doc present.
    """
    s = reader.scores(sorted(set(tokenize_py(query))))
    dm = reader.docmap().select("doc_id", F.col(field).alias("bucket"))
    j = s.join(dm, "doc_id")
    w = Window.partitionBy("bucket").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_group)
        .select("bucket", "rank", "doc_id", "score")
        .orderBy("bucket", "rank")
    )


def _clause_scores(
    reader,
    clauses: list[str],
    range_size: int = RANGE_SIZE_DEFAULT,
    rid_filter: list[int] | None = None,
) -> DataFrame | None:
    """Per-clause exhaustive BM25 scores in ONE pass (the batch path
    topk_many takes, IndexReader._multiquery): the union of all clauses'
    terms is fetched and rid-shuffled once, and the multiquery Arrow
    kernel emits (query_id=clause index, doc_id, score) with k =
    range_size so nothing is cut before the caller's combine. A block
    shared by clauses is read once. Returns None when no clause has any
    known term. `rid_filter` restricts decoding to the given rid ranges
    (the rescore window shape: only blocks overlapping the window's doc
    ranges are decoded)."""
    per_q = {i: sorted(set(tokenize_py(c))) for i, c in enumerate(clauses)}
    return reader._multiquery(per_q, {i: range_size for i in per_q}, range_size, rid_filter)


def dis_max_topk(
    reader,
    clauses: list[str],
    tie_breaker: float = 0.0,
    k: int = 10,
    range_size: int = RANGE_SIZE_DEFAULT,
) -> DataFrame:
    """ES `dis_max`: score(doc) = best clause score + tie_breaker * (sum
    of the other clauses' scores). Each clause is a match query over the
    primary field; clause score = BM25 over the clause's analyzed terms.

    One block read for the union of all clauses' terms (_clause_scores),
    then a map-side-partial groupBy(doc_id) and a TakeOrdered k.
    """
    local = _clause_scores(reader, clauses, range_size)
    if local is None:
        return reader.spark.createDataFrame([], "doc_id long, score double")
    agg = local.groupBy("doc_id").agg(
        F.max("score").alias("_best"), F.sum("score").alias("_total")
    )
    score = F.col("_best") + F.lit(float(tie_breaker)) * (F.col("_total") - F.col("_best"))
    return (
        agg.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def boosting_topk(
    reader,
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    range_size: int = RANGE_SIZE_DEFAULT,
) -> DataFrame:
    """ES `boosting` query: docs matching `positive` score BM25 as usual,
    but any of them ALSO matching `negative` has its score multiplied by
    `negative_boost` (demotion without exclusion — must_not's softer
    sibling). Docs matching only `negative` never appear.

    Same single-pass shape as dis_max: one block read for both clauses'
    terms, per-clause scores from the multiquery kernel, then a
    groupBy(doc_id) combine keeping positive-scored docs and applying the
    demotion where a negative score exists."""
    local = _clause_scores(reader, [positive, negative], range_size)
    if local is None:
        return reader.spark.createDataFrame([], "doc_id long, score double")
    agg = local.groupBy("doc_id").agg(
        F.max(F.when(F.col("query_id") == 0, F.col("score"))).alias("_pos"),
        F.max(F.when(F.col("query_id") == 1, F.col("score"))).alias("_neg"),
    )
    score = F.col("_pos") * F.when(
        F.col("_neg").isNotNull(), F.lit(float(negative_boost))
    ).otherwise(F.lit(1.0))
    return (
        agg.filter(F.col("_pos").isNotNull())
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# field_value_factor modifiers (ES semantics: modifier applied to
# factor * field_value; log1p is log BASE 10 of (x + 1) in ES)
_FVF_MODIFIERS = {
    "none": lambda x: x,
    "log1p": lambda x: F.log10(x + F.lit(1.0)),
    "sqrt": lambda x: F.sqrt(x),
}


def function_score_topk(
    reader,
    query: str,
    field: str = "doc_len",
    factor: float = 1.0,
    modifier: str = "none",
    boost_mode: str = "multiply",
    k: int = 10,
) -> DataFrame:
    """ES `function_score` with a `field_value_factor` function: rescore
    the match query's BM25 by a docmap attribute — score' = bm25 OP
    modifier(factor * field_value), OP = multiply|sum.

    Rescoring reorders, so WAND's bm25-only bound cannot prune: this is
    an exhaustive-candidate pass (reader.scores) + docmap equi-join for
    the attribute + TakeOrdered — the same declared cost class as
    collapse/top_hits (cost ∝ matching docs, not corpus size)."""
    if modifier not in _FVF_MODIFIERS:
        raise ValueError(f"unsupported modifier {modifier!r} (none, log1p, sqrt)")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"unsupported boost_mode {boost_mode!r} (multiply, sum)")
    s = reader.scores(sorted(set(tokenize_py(query))))
    dm = reader.docmap().select("doc_id", F.col(field).cast("double").alias("_fv"))
    fn = _FVF_MODIFIERS[modifier](F.lit(float(factor)) * F.col("_fv"))
    combined = (F.col("score") * fn) if boost_mode == "multiply" else (F.col("score") + fn)
    return (
        s.join(dm, "doc_id")
        .select("doc_id", combined.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rescore_topk(
    reader,
    query: str,
    rescore_query: str,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    k: int = 10,
    range_size: int = RANGE_SIZE_DEFAULT,
) -> DataFrame:
    """ES `rescore`: re-rank the primary query's top `window_size` hits
    with a secondary match query — combined = query_weight * primary +
    rescore_query_weight * secondary. Unlike function_score, the primary
    pass KEEPS its block-max pruning (only the window is rescored): the
    production shape for expensive secondary signals.

    Plan: one pruned WAND top-window job; O(window) winner collect (the
    documented bounded-collect shape); the secondary pass reads only the
    rescore terms' pruned blocks and decodes only the rid ranges that
    contain window ids; broadcast-joined combine + TakeOrdered k.
    """
    rows = reader.topk(query, window_size, range_size=range_size).collect()
    if not rows:
        return reader.spark.createDataFrame([], "doc_id long, score double")
    ids = [int(r["doc_id"]) for r in rows]
    rids = sorted({i // range_size for i in ids})
    sec = _clause_scores(reader, [rescore_query], range_size, rid_filter=rids)
    prim = reader.spark.createDataFrame(
        [(int(r["doc_id"]), float(r["score"])) for r in rows], "doc_id long, p double"
    )
    if sec is None:
        j = prim.withColumn("s", F.lit(None).cast("double"))
    else:
        j = prim.join(
            sec.filter(F.col("doc_id").isin(ids)).select(
                "doc_id", F.col("score").alias("s")
            ),
            "doc_id",
            "left",
        )
    combined = F.lit(float(query_weight)) * F.col("p") + F.lit(
        float(rescore_query_weight)
    ) * F.coalesce(F.col("s"), F.lit(0.0))
    return (
        j.select("doc_id", combined.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rank_eval(
    reader,
    requests: list[tuple[int, str]],
    ratings: DataFrame,
    k: int = 10,
    rel_threshold: int = 1,
) -> DataFrame:
    """ES `_rank_eval`: run every request's query, compare the top-k
    against graded relevance judgments, emit per-query metrics.

    `ratings` is a (query_id, doc_id, rating) DataFrame — small by
    construction (human judgments), broadcast into the join.

    -> (query_id, p_at_k, mrr, dcg) per request; a request with no
    relevant docs in its top-k gets zeros (never a dropped row).

    Metrics (simplified textbook forms — deliberately NOT ES's exact
    formulas: ES precision divides by the retrieved count min(k, hits)
    where this divides by constant k, and ES DCG gain is
    (2^rating - 1) / log2(rank + 1) where this uses linear gain
    rating / log2(rank + 1); engine and oracle implement the SAME
    simplified forms, frozen by the declared rank_eval oracle):
      p_at_k = |relevant in top-k| / k     (relevant: rating >= threshold)
      mrr    = 1 / rank of the first relevant hit, else 0
      dcg    = sum(rating / log2(rank + 1)) over the top-k
    """
    got = reader.topk_many([(qid, q, k) for qid, q in requests])
    j = got.join(F.broadcast(ratings), ["query_id", "doc_id"], "left")
    rating = F.coalesce(F.col("rating"), F.lit(0.0)).cast("double")
    rel = (rating >= rel_threshold).cast("double")
    per_q = j.groupBy("query_id").agg(
        F.round(F.sum(rel) / k, 4).alias("p_at_k"),
        F.round(
            F.coalesce(F.max(F.when(rel == 1.0, 1.0 / F.col("rank"))), F.lit(0.0)), 4
        ).alias("mrr"),
        F.round(F.sum(rating / F.log2(F.col("rank") + 1)), 4).alias("dcg"),
    )
    # every request appears, even with zero hits (e.g. absent-term query)
    ids = reader.spark.createDataFrame(
        [(int(qid),) for qid, _ in requests], "query_id long"
    )
    return (
        ids.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("p_at_k", F.lit(0.0)).alias("p_at_k"),
            F.coalesce("mrr", F.lit(0.0)).alias("mrr"),
            F.coalesce("dcg", F.lit(0.0)).alias("dcg"),
        )
        .orderBy("query_id")
    )
