"""Plan-shape regression tests: the physical plans the design relies on
(SURVEY.md §4) must actually materialize."""

import os

import pytest
from pyspark.sql import functions as F

from ariadna_spark.operators.wand import IndexReader
from ariadna_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    assert_take_ordered,
    physical_plan,
)
from ariadna_spark.sources.segments import build_index


@pytest.fixture(scope="module")
def index_dir(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans_idx"))
    build_index(spark, docs, out, build_id="p1", n_buckets=4)
    return out


def test_term_filter_pushed_to_parquet(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    blocks = reader._blocks_for_terms(["merge", "join"])
    assert_pushed_filter(blocks, "term")


def test_topk_is_take_ordered(spark, docs):
    from ariadna_spark.operators.topk import bm25_topk

    assert_take_ordered(bm25_topk(docs, "merge join", 10))


def test_docs_scan_prunes_columns(spark):
    """term_freqs must read only (doc_id, content) from the source —
    ReadSchema in the scan should not mention repo/path/commit."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    from ariadna_spark.corpus import load_docs
    from ariadna_spark.stats import term_freqs

    tf = term_freqs(load_docs(spark, sf))
    plan = physical_plan(tf)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert all("n_chars" not in ln for ln in scan_lines), scan_lines


def test_small_dim_join_broadcasts(spark, docs):
    dim = docs.select("doc_id", "repo").limit(100)
    joined = docs.join(F.broadcast(dim), "doc_id")
    assert_broadcast_join(joined)


def test_prefix_expansion_is_take_ordered(spark, index_dir):
    """The max_terms cap must run INSIDE Spark (TakeOrderedAndProject) with
    the ngram predicate pushed to parquet — never a collect-then-cap
    (VERDICT r1 finding 1)."""
    reader = IndexReader(spark, index_dir)
    ranked = reader._prefix_terms_df("sc", max_terms=256)
    assert ranked is not None
    assert_take_ordered(ranked)
    assert_pushed_filter(ranked, "ng")


def test_blocks_carry_fused_global_df(spark, index_dir):
    """Query blocks derive global df from their OWN n_docs via a window
    sum (VERDICT r2 #9): the plan must touch no terms table at all — one
    parquet source, no join, no driver idf round-trip — and the fused df
    must equal the terms-table aggregate exactly."""
    reader = IndexReader(spark, index_dir)
    blocks = reader._blocks_for_terms(["merge", "join"])
    assert "df" in blocks.columns and "scale" in blocks.columns
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "/terms/" not in plan, "query path still reads the terms table"
    assert plan.count("Scan parquet") == 1, plan
    got = {
        (r["term"], r["df"]) for r in blocks.select("term", "df").distinct().collect()
    }
    want = {
        (r["term"], r["df"]) for r in reader._df_for_terms(["merge", "join"]).collect()
    }
    assert got == want


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tombstone_join_prunes_docmap_buckets(spark, docs, tmp_path):
    """The streaming-overwrite tombstone join must read ONLY the docmap
    kb=<b> buckets of the batch's keys (VERDICT r2 finding 1): per-batch
    overwrite cost proportional to batch size, not corpus size."""
    from ariadna_spark.sources.segments import (
        DOCMAP_BUCKETS,
        SegmentStore,
        append_segment,
        build_index,
        docmap_dirs,
        key_bucket_py,
        tombstone_dirs,
    )

    out = str(tmp_path / "prune")
    build_index(spark, docs, out, build_id="base", n_buckets=4)
    batch = docs.filter(F.col("doc_id") % 11 == 0).withColumn(
        "content", F.concat(F.col("content"), F.lit(" updated"))
    )
    batch_keys = [(r["repo"], r["path"]) for r in batch.select("repo", "path").collect()]
    batch_buckets = sorted({key_bucket_py(r, p) for r, p in batch_keys})
    # the corpus must span more buckets than the batch or the test is vacuous
    store = SegmentStore(out)
    all_kb_dirs = docmap_dirs(store, ["base"])
    assert len(all_kb_dirs) > len(batch_buckets) or len(all_kb_dirs) == DOCMAP_BUCKETS

    pruned = docmap_dirs(store, ["base"], batch_buckets)
    assert pruned and set(pruned) <= set(all_kb_dirs)
    assert all(any(f"/kb={b}" in d for b in batch_buckets) for d in pruned)
    if len(batch_buckets) < DOCMAP_BUCKETS:
        assert len(pruned) < len(all_kb_dirs), "pruning read the whole docmap"

    append_segment(spark, batch, out, build_id="upd", n_buckets=4)
    # tombstones land only in batch-key buckets and cover every batch key
    tdirs = tombstone_dirs(store, ["upd"])
    got_buckets = sorted(int(d.rsplit("kb=", 1)[1]) for d in tdirs)
    assert set(got_buckets) <= set(batch_buckets)
    n_dead = spark.read.parquet(*tdirs).count()
    assert n_dead == len(batch_keys)


def test_query_job_count_constant_in_segments(spark, docs, tmp_path):
    """A top-k query must cost the SAME number of Spark jobs against a
    3-segment live set as against 1 segment (VERDICT r1 finding 3): reads
    are unioned into one file index, df is aggregated in the same plan."""
    from ariadna_spark.sources.segments import SegmentStore, build_index

    one = str(tmp_path / "one")
    build_index(spark, docs, one, build_id="s0", n_buckets=4)
    many = str(tmp_path / "many")
    n = docs.count()
    cut1, cut2 = n // 3, 2 * n // 3
    build_index(spark, docs.filter(F.col("doc_id") < cut1), many, build_id="s0", n_buckets=4)
    build_index(
        spark,
        docs.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2)),
        many,
        build_id="s1",
        n_buckets=4,
        publish=False,
    )
    build_index(spark, docs.filter(F.col("doc_id") >= cut2), many, build_id="s2", n_buckets=4, publish=False)
    SegmentStore(many).publish_many(["s0", "s1", "s2"])

    r1 = IndexReader(spark, one)
    r3 = IndexReader(spark, many)
    assert len(r3.build_ids) == 3
    # warm both paths once (file-index caches), then measure
    r1.topk("merge join", 5).collect()
    r3.topk("merge join", 5).collect()
    j1 = _count_jobs(spark, "jc1", lambda: r1.topk("merge join", 5).collect())
    j3 = _count_jobs(spark, "jc3", lambda: r3.topk("merge join", 5).collect())
    assert j3 == j1, f"job count grew with segment count: 1-seg={j1}, 3-seg={j3}"
    # absolute budget (VERDICT r2 #9): fusing df into the blocks read makes
    # a warm top-k ONE action over ONE parquet source — 3 AQE stage
    # materializations (term-window exchange, rid exchange, final limit),
    # down from 4 with the separate terms-table read + broadcast build
    assert j1 <= 3, f"warm top-k now costs {j1} jobs"


@pytest.fixture(scope="module")
def tomb_index_dir(spark, docs, tmp_path_factory):
    """A two-segment store whose second segment overwrites every 7th doc,
    so the live set records tombstones."""
    from ariadna_spark.sources.segments import append_segment

    out = str(tmp_path_factory.mktemp("plans_tomb"))
    build_index(spark, docs, out, build_id="base", n_buckets=4)
    upd = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "content", F.concat(F.col("content"), F.lit(" revised"))
    )
    append_segment(spark, upd, out, build_id="upd", n_buckets=4)
    return out


RANGE_VERBS = {
    "topk": lambda r, f: r.topk("merge join", 10, flt=f),
    "bool_topk": lambda r, f: r.bool_topk(must="merge", should="join", must_not="window", flt=f),
    "phrase_topk": lambda r, f: r.phrase_topk("merge join", 10, flt=f),
    "phrase_prefix_topk": lambda r, f: r.phrase_prefix_topk("merge jo", 10, flt=f),
    "near_topk": lambda r, f: r.near_topk("merge join", window=4, k=10, flt=f),
}


@pytest.mark.parametrize("verb", sorted(RANGE_VERBS))
def test_range_verbs_share_one_plan_shape(spark, tomb_index_dir, verb):
    """Every range verb compiles to the same shape: the posting blocks,
    the tombstone rows and the filter allow-list rows cross ONE rid
    exchange into ONE per-range kernel, and the global cut is a
    TakeOrdered merge at the root — never a second shuffle or a sort."""
    reader = IndexReader(spark, tomb_index_dir)
    assert reader.has_tombstones
    plan = physical_plan(RANGE_VERBS[verb](reader, F.col("lang") == "en"))
    lines = plan.splitlines()
    assert "TakeOrderedAndProject" in lines[1], plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning(rid") == 1, plan
    kernel = next(i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln)
    exchange = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning(rid" in ln)
    assert kernel < exchange, plan
    assert all("Sort [rid" in ln for ln in lines[kernel + 1 : exchange]), plan
    assert "is_tomb" in lines[kernel] and "is_filt" in lines[kernel], plan


def test_topk_many_100_query_batch(spark, index_dir):
    """VERDICT r2 #3 done-criterion at batch scale: 100 queries sharing
    Zipf-head terms through topk_many in ONE pass — job count must stay
    CONSTANT in the query count (blocks are shuffled once, per-query
    aggregation is in-kernel; the old shape replicated every shared block
    per query), and every query's answer must equal its per-query topk."""
    reader = IndexReader(spark, index_dir)
    base = ["merge join", "the scan", "window group", "the table", "table filter"]
    queries = [(i, base[i % len(base)], 5) for i in range(100)]
    reader.topk_many(queries[:4]).collect()  # warm file-index caches

    j_small = _count_jobs(spark, "b4", lambda: reader.topk_many(queries[:4]).collect())
    j_big = _count_jobs(spark, "b100", lambda: reader.topk_many(queries).collect())
    assert j_big == j_small, f"batch jobs grew with query count: {j_small} -> {j_big}"

    rows = reader.topk_many(queries).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    assert set(by_q) == set(range(100))
    for qid in (0, 7, 42, 99):
        want = reader.topk(base[qid % len(base)], 5).collect()
        mine = sorted(by_q[qid])
        assert [d for _, d, _ in mine] == [w["doc_id"] for w in want], qid
        for (_, _, sc), w in zip(mine, want):
            assert abs(sc - w["score"]) < 1e-9


def test_regex_search_indexed_is_semi_join_pruned(spark, docs, index_dir):
    """VERDICT r3 #1 done-criterion: the accelerated grep's content scan
    must sit BEHIND a left-semi join against index candidates — never a
    bare full-corpus regexp. The fallback (no usable literal) is the only
    full-scan shape. Since r5 (VERDICT r4 #2) a SELECTIVITY GATE also
    routes Zipf-head literals to the full scan: a candidate set near the
    corpus size can't repay the semi-join."""
    from ariadna_spark.operators.text import regex_search, regex_search_indexed
    from ariadna_spark.operators.wand import IndexReader

    reader = IndexReader(spark, index_dir)
    # selective literal ('dup' hits ~5% of the corpus): semi-join path
    fast = regex_search_indexed(docs, r"dup[a-z]*", reader)
    plan = physical_plan(fast)
    assert "LeftSemi" in plan, plan
    # literal-free pattern: plain scan (no join node at all)
    fallback = regex_search_indexed(docs, r"[a-z]{12}", reader)
    assert "LeftSemi" not in physical_plan(fallback)
    # Zipf-head literal ('scan' matches most docs): the selectivity gate
    # must skip the prefilter — flat plan, identical rows
    gated = regex_search_indexed(docs, r"scan[a-z]*", reader)
    assert "LeftSemi" not in physical_plan(gated)
    full = sorted(r["doc_id"] for r in regex_search(docs, r"scan[a-z]*").collect())
    assert sorted(r["doc_id"] for r in gated.collect()) == full
    # forcing the gate off restores the semi-join shape (estimate wiring)
    forced = regex_search_indexed(docs, r"scan[a-z]*", reader, max_candidate_frac=1.0)
    assert "LeftSemi" in physical_plan(forced)


def test_suggesters_prune_and_take_ordered(spark, index_dir):
    """Suggest surface plan shapes: completion's edge-ngram path pushes
    the ng= equality into the scan and caps with TakeOrdered; the
    correction suggester pushes the prefix (StartsWith) + length band
    and caps with TakeOrdered — neither ever global-sorts the
    vocabulary."""
    from ariadna_spark.operators.wand import IndexReader
    from ariadna_spark.plans import assert_pushed_filter, assert_take_ordered

    reader = IndexReader(spark, index_dir)
    comp = reader.suggest_terms("sc", size=10)
    assert_take_ordered(comp)
    assert_pushed_filter(comp, "ng")
    comp_scan = reader.suggest_terms("s", size=10)  # 1-char: terms-scan path
    assert_take_ordered(comp_scan)
    assert_pushed_filter(comp_scan, "StringStartsWith")
    corr = reader.suggest_corrections("smal", size=5)
    assert_take_ordered(corr)
    assert_pushed_filter(corr, "StringStartsWith")


def test_mget_broadcasts_and_pushes_ids(spark, index_dir):
    """_mget: the pruned docmap side must join via broadcast (the hit set
    is bounded by the asked ids) and the id IN-list must reach the
    parquet scan as a pushed filter."""
    reader = IndexReader(spark, index_dir)
    out = reader.mget([1, 2, 3])
    plan = physical_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert_pushed_filter(out, "doc_id")


def test_duplicate_spans_shape(spark, docs):
    """duplicate_spans: the per-doc tally must reach the dup-ngram set
    through a LeftSemi join, and the ngram count must partial-aggregate
    map-side (HashAggregate before the exchange) — the corpus-sized
    window table itself is never cached or collected."""
    from ariadna_spark.operators.text import duplicate_spans

    plan = physical_plan(duplicate_spans(docs, n=6))
    assert "LeftSemi" in plan, plan
    assert "HashAggregate" in plan and "Exchange" in plan, plan


def test_perplexity_sample_lm_broadcasts(spark, docs):
    """The CCNet production shape: a sample-trained LM must reach the
    corpus-side scoring join as broadcasts — the corpus bigram stream
    never shuffles for the join."""
    from ariadna_spark.operators.text import perplexity_scores
    from ariadna_spark.plans import physical_plan

    lm = docs.limit(50)
    plan = physical_plan(perplexity_scores(docs, lm_docs=lm))
    assert "BroadcastHashJoin" in plan, plan
    # no sort-merge join anywhere in the scoring graph
    assert "SortMergeJoin" not in plan, plan


def test_collapse_single_group_shuffle_and_take_ordered(spark, index_dir):
    """collapse: ONE window exchange partitioned by the collapse key and a
    TakeOrdered global cut — never a global sort of the full candidate
    set before the per-group dedup."""
    from ariadna_spark.operators.ranking import collapse_topk

    reader = IndexReader(spark, index_dir)
    plan = physical_plan(collapse_topk(reader, "table scan filter group", "repo", 10))
    assert "Window" in plan, plan
    assert "TakeOrdered" in plan, plan
    assert plan.count("hashpartitioning(repo") == 1, plan


def test_dis_max_partial_agg_and_take_ordered(spark, index_dir):
    """dis_max: the per-doc clause combine must partial-aggregate map-side
    (HashAggregate on both sides of the exchange) and the global cut must
    be a TakeOrdered, not a full sort."""
    from ariadna_spark.operators.ranking import dis_max_topk

    reader = IndexReader(spark, index_dir)
    plan = physical_plan(dis_max_topk(reader, ["merge join", "window scan"], 0.3, 10))
    assert "TakeOrdered" in plan, plan
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan, plan


def test_rank_eval_ratings_broadcast(spark, index_dir):
    """rank_eval: the judgments table is tiny by construction and must
    reach the hit join as a broadcast — the ranked hits never shuffle for
    it."""
    from ariadna_spark.operators.ranking import rank_eval

    reader = IndexReader(spark, index_dir)
    ratings = spark.createDataFrame(
        [(1, 3, 1.0), (2, 5, 2.0)], "query_id long, doc_id long, rating double"
    )
    plan = physical_plan(rank_eval(reader, [(1, "merge join"), (2, "window scan")], ratings, k=5))
    assert "BroadcastHashJoin" in plan, plan


def test_capped_tf_filter_reaches_docs_scan(spark):
    """r7: the capped dedup queries (minhash/jaccard/lsh/simhash) filter
    the DOCS side before the opaque tokenize kernel — the doc_id predicate
    must sit BELOW the MapInArrow node (pushed to the parquet scan on a
    fresh read, or a Filter under the kernel when the session has docs
    cached), because Catalyst cannot push through mapInArrow."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    from ariadna_spark import queries as Q

    plan = physical_plan(Q.QUERIES["minhash_signatures"](spark, sf))
    lines = plan.splitlines()
    kernel_at = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    below = "\n".join(lines[kernel_at + 1 :])
    # formatted plans print parents before children: the cap must appear
    # below the kernel, not as a post-kernel Filter above it
    assert "LessThan(doc_id,300)" in below or "doc_id" in below and "< 300" in below, plan
    above = "\n".join(lines[:kernel_at])
    assert "< 300" not in above, plan


def test_multifield_same_store_single_scan(spark, index_dir):
    """r7: multifield_topk over N boosts of ONE physical store must scan
    the posting blocks once (field tags exploded), not once per field."""
    from ariadna_spark.operators.wand import multifield_topk

    reader = IndexReader(spark, index_dir)
    plan = physical_plan(
        multifield_topk([(reader, 1.0), (reader, 2.0)], "merge join", 5)
    )
    n_block_scans = sum(
        1
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "bucket=" in ln
    )
    assert n_block_scans <= 1, plan


def test_bucket_files_term_sorted(spark, index_dir):
    """r7: each posting bucket file is written term-sorted (row-group /
    page statistics stay tight for the pushed `term IN` filter) and at
    test scale a bucket holds a SINGLE file, not one per encode task."""
    import glob

    import pyarrow.parquet as pq

    bdirs = glob.glob(os.path.join(index_dir, "builds/p1/bucket=*"))
    assert bdirs
    for bd in bdirs:
        files = glob.glob(os.path.join(bd, "*.parquet"))
        assert len(files) == 1, (bd, files)
        terms = pq.read_table(files[0], columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), bd
