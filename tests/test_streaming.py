"""Incremental (streaming) indexing: per-batch segments + merge-on-read
must be rank- and score-identical to one monolithic build."""

import os

import pytest
from pyspark.sql import functions as F

from ariadna_spark.operators.topk import bm25_topk
from ariadna_spark.operators.wand import IndexReader
from ariadna_spark.sources.segments import SegmentStore, build_index
from ariadna_spark.streaming.incremental import ingest_available

QUERIES = ["merge join", "the", "spark stream batch", "mergeJoin sortTable"]


@pytest.fixture(scope="module")
def incremental_index(spark, docs, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    out = str(root / "idx")
    ckpt = str(root / "ckpt")
    # three arriving chunks, written as separate files
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)
    builds = ingest_available(spark, src, out, ckpt, n_buckets=4, max_files_per_trigger=1)
    return out, builds, src, ckpt


def test_batches_became_segments(incremental_index):
    out, builds, _, _ = incremental_index
    assert len(builds) == 3, builds
    assert builds == sorted(builds)
    store = SegmentStore(out)
    assert store.live_builds() == builds


@pytest.mark.parametrize("query", QUERIES)
def test_merge_on_read_rank_identical_to_monolithic(spark, docs, incremental_index, query):
    out, _, _, _ = incremental_index
    expected = bm25_topk(docs, query, 10).collect()
    got = IndexReader(spark, out).topk(query, 10, range_size=128).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in expected], query
    for g, e in zip(got, expected):
        assert g["score"] == pytest.approx(e["score"], abs=1e-9)


def test_late_batch_updates_results(spark, docs, incremental_index):
    out, builds, src, ckpt = incremental_index
    # nothing new -> no new segment
    builds2 = ingest_available(spark, src, out, ckpt, n_buckets=4)
    assert builds2 == builds
    # global stats reflect ALL segments
    reader = IndexReader(spark, out)
    assert reader.stats["N"] == docs.count()


def test_gc_respects_live_list(spark, incremental_index, docs, tmp_path):
    out, builds, _, _ = incremental_index
    store = SegmentStore(out)
    # an unpublished orphan build is GC'd; live segments survive
    build_index(spark, docs.limit(20), out, build_id="orphan", n_buckets=2, publish=False)
    removed = store.gc()
    assert removed == ["orphan"]
    assert store.live_builds() == builds


@pytest.fixture(scope="module")
def overwrite_corpus(spark):
    rows = [
        (0, "org/a", "src/a.py", "c0", "python", "alpha merge join oldtoken shared"),
        (1, "org/a", "src/b.py", "c1", "python", "beta window scan shared"),
        (2, "org/b", "src/c.py", "c2", "go", "gamma filter group shared"),
    ]
    new_content = "alpha merge join newtoken shared refreshed"
    ddl = (
        "doc_id long, repo string, path string, commit string, lang string, "
        "content string, content_sha string"
    )
    base = spark.createDataFrame(
        [(i, r, p, c, l, t, None) for i, r, p, c, l, t in rows], ddl
    ).withColumn("content_sha", F.sha2(F.col("content"), 256))
    upd = spark.createDataFrame(
        [(0, "org/a", "src/a.py", "c9", "python", new_content, None)], ddl
    ).withColumn("content_sha", F.sha2(F.col("content"), 256))
    return base, upd, new_content


def test_overwrite_masks_old_version(spark, overwrite_corpus, tmp_path):
    """Re-ingesting a (repo, path) key REPLACES the old version in query
    results (ES _id overwrite): the dead version's unique token no longer
    matches, the new token does, the doc count stays constant, and the
    docmap exposes exactly one row for the key."""
    from ariadna_spark.sources.segments import append_segment, compact

    base, upd, _ = overwrite_corpus
    out = str(tmp_path / "ovr")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    append_segment(spark, upd, out, build_id="upd", n_buckets=2)

    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 3  # 4 versions live-1 dead
    assert reader.has_tombstones
    # the dead version is never scored
    assert reader.topk("oldtoken", 5).count() == 0
    hits = reader.topk("newtoken", 5).collect()
    assert [r["doc_id"] for r in hits] == [0]
    # doc 0 scores exactly once for a term both versions contain
    both = reader.topk("merge", 5).collect()
    assert [r["doc_id"] for r in both].count(0) == 1
    # docmap: one row per live key
    dm = reader.docmap().filter((F.col("repo") == "org/a") & (F.col("path") == "src/a.py"))
    assert dm.count() == 1
    assert dm.first()["commit"] == "c9"
    # the batch scorer and the exhaustive scorer mask the dead version too
    rows = reader.topk_many([(0, "oldtoken", 5), (1, "newtoken", 5)]).collect()
    assert not [r for r in rows if r["query_id"] == 0]
    assert [r["doc_id"] for r in rows if r["query_id"] == 1] == [0]
    assert reader.scores(["oldtoken"]).count() == 0
    assert [r["doc_id"] for r in reader.scores(["newtoken"]).collect()] == [0]
    # _explain breaks down the live version only: one merge row, no
    # oldtoken row, and its score is the one topk reports for doc 0
    ex = reader.explain_score(0, "merge oldtoken").collect()
    assert [r["term"] for r in ex] == ["merge"]
    top0 = next(r for r in both if r["doc_id"] == 0)
    assert ex[0]["score"] == pytest.approx(top0["score"], abs=1e-9)

    # every other range verb masks the dead version too: a query only the
    # dead version of doc 0 satisfies finds nothing, the live one finds it
    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    assert ids(reader.bool_topk(must="oldtoken")) == []
    assert ids(reader.bool_topk(must="newtoken alpha")) == [0]
    # must_not: the dead version's token excludes nothing, the live one's does
    assert ids(reader.bool_topk(should="shared", must_not="oldtoken")) == [0, 1, 2]
    assert ids(reader.bool_topk(should="shared", must_not="newtoken")) == [1, 2]
    assert ids(reader.near_topk("oldtoken alpha", window=4)) == []
    assert ids(reader.near_topk("newtoken alpha", window=4)) == [0]
    assert ids(reader.phrase_prefix_topk("join old")) == []
    assert ids(reader.phrase_prefix_topk("join new")) == [0]
    py = F.col("lang") == "python"
    assert ids(reader.topk("oldtoken", 5, flt=py)) == []
    assert ids(reader.topk("newtoken", 5, flt=py)) == [0]


def test_mget_masks_dead_versions(spark, overwrite_corpus, tmp_path):
    """ES _mget over a store with an overwritten doc: the asked id comes
    back found=true with the NEW version's commit/sha (the dead version
    never surfaces), and an absent id comes back found=false."""
    from ariadna_spark.sources.segments import append_segment

    base, upd, new_content = overwrite_corpus
    out = str(tmp_path / "mget")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    append_segment(spark, upd, out, build_id="upd", n_buckets=2)

    reader = IndexReader(spark, out)
    rows = {r["doc_id"]: r for r in reader.mget([0, 1, 10**9]).collect()}
    assert rows[0]["found"] and rows[0]["commit"] == "c9"
    import hashlib

    assert rows[0]["content_sha"] == hashlib.sha256(new_content.encode()).hexdigest()
    assert rows[1]["found"]
    assert not rows[10**9]["found"] and rows[10**9]["repo"] is None
    with pytest.raises(ValueError):
        reader.mget([])


def test_overwrite_compaction_equals_fresh_build(spark, overwrite_corpus, tmp_path):
    """After compaction the shadowed postings are physically gone: results
    equal a monolithic build over (unchanged docs + newest versions),
    score-exact, and no tombstones remain."""
    from ariadna_spark.sources.segments import append_segment, compact

    base, upd, new_content = overwrite_corpus
    out = str(tmp_path / "ovr2")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    append_segment(spark, upd, out, build_id="upd", n_buckets=2)
    compact(spark, out, build_id="merged", n_buckets=2)

    fresh_docs = base.filter(F.col("doc_id") != 0).unionByName(upd)
    fresh = str(tmp_path / "fresh")
    build_index(spark, fresh_docs, fresh, build_id="mono", n_buckets=2)

    ra, rb = IndexReader(spark, out), IndexReader(spark, fresh)
    assert not ra.has_tombstones
    assert ra.stats["N"] == rb.stats["N"] == 3
    assert ra.stats["avgdl"] == pytest.approx(rb.stats["avgdl"], abs=1e-12)
    for q in ("merge join", "shared", "newtoken", "scan"):
        a = ra.topk(q, 5).collect()
        b = rb.topk(q, 5).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b], q
        for x, y in zip(a, b):
            assert x["score"] == pytest.approx(y["score"], abs=1e-9)


def test_chained_overwrite_single_accounting(spark, overwrite_corpus, tmp_path):
    """A doc overwritten twice: each dead VERSION is tombstoned exactly
    once (no double stats subtraction), and only the newest scores."""
    from ariadna_spark.sources.segments import append_segment

    base, upd, _ = overwrite_corpus
    out = str(tmp_path / "ovr3")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    append_segment(spark, upd, out, build_id="upd1", n_buckets=2)
    upd2 = upd.withColumn("content", F.lit("alpha merge finaltoken")).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    )
    append_segment(spark, upd2, out, build_id="upd2", n_buckets=2)

    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 3
    assert reader.topk("newtoken", 5).count() == 0  # middle version dead too
    assert [r["doc_id"] for r in reader.topk("finaltoken", 5).collect()] == [0]
    assert reader.topk("merge", 5).collect()  # still queryable


def test_streaming_redelivery_overwrites(spark, overwrite_corpus, tmp_path):
    """The streaming path applies the overwrite contract: a later batch
    re-delivering a changed doc under the same key shadows the old one."""
    base, upd, _ = overwrite_corpus
    src, out, ckpt = str(tmp_path / "s"), str(tmp_path / "i"), str(tmp_path / "c")
    base.coalesce(1).write.mode("append").parquet(src)
    builds = ingest_available(spark, src, out, ckpt, n_buckets=2)
    assert len(builds) == 1
    upd.coalesce(1).write.mode("append").parquet(src)
    builds = ingest_available(spark, src, out, ckpt, n_buckets=2)
    assert len(builds) == 2
    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 3
    assert reader.topk("oldtoken", 5).count() == 0
    assert [r["doc_id"] for r in reader.topk("newtoken", 5).collect()] == [0]


def test_watermark_window_agg_drops_late_rows(spark, tmp_path):
    """Append-mode watermarked windows: a window is emitted exactly once
    when the watermark passes its end; rows later than the watermark are
    dropped (bounded state — the at-scale contract)."""
    import datetime as dt

    from ariadna_spark.streaming.windowed import run_to_parquet, windowed_counts_stream

    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ck"), str(tmp_path / "out")
    T = dt.datetime(2024, 1, 1)

    def batch(rows):
        df = spark.createDataFrame(
            [(i, T + dt.timedelta(minutes=m), 1, et, 1.0) for i, (m, et) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    def drain():
        run_to_parquet(windowed_counts_stream(spark, src, watermark="2 hours"), out, ckpt)
        return (
            spark.read.schema("w_start timestamp, event_type string, n long")
            .parquet(out)
            .collect()
        )

    # batch 1: events in [10:00, 12:00); max ts 11:50 -> watermark 09:50,
    # no window closed yet -> append emits nothing
    batch([(600, "click"), (610, "click"), (700, "view"), (710, "click")])
    assert len(drain()) == 0

    # batch 2: an event at 14:30 -> watermark 12:30 -> the 10:00 and 11:00
    # windows finalize with the batch-1 counts
    batch([(870, "view")])
    got = {(r["w_start"].hour, r["event_type"]): r["n"] for r in drain()}
    assert got == {(10, "click"): 2, (11, "view"): 1, (11, "click"): 1}

    # batch 3: a LATE click at 10:30 (behind the 12:30 watermark) is
    # dropped — its (already emitted) window must not re-emit or grow
    batch([(630, "click")])
    assert len(drain()) == 3  # unchanged: late row contributed nothing


def test_compaction_preserves_results(spark, docs, tmp_path):
    """Compacting many small segments into one leaves query results
    rank+score identical and shrinks the live set to one build."""
    from ariadna_spark.sources.segments import compact

    src, out, ckpt = str(tmp_path / "s"), str(tmp_path / "i"), str(tmp_path / "c")
    for m in range(4):
        docs.filter(F.col("doc_id") % 4 == m).coalesce(1).write.mode("append").parquet(src)
    builds = ingest_available(spark, src, out, ckpt, n_buckets=4, max_files_per_trigger=1)
    assert len(builds) == 4
    before = IndexReader(spark, out).topk("merge join sort", 10).collect()
    manifest = compact(spark, out, build_id="merged", n_buckets=4)
    store = SegmentStore(out)
    assert store.live_builds() == ["merged"]
    # inputs GC'd
    import os as _os

    assert sorted(_os.listdir(_os.path.join(out, "builds"))) == ["merged"]
    after = IndexReader(spark, out).topk("merge join sort", 10).collect()
    # ranks exact; scores to 1e-9 (physical block layout changes the float
    # summation order inside the kernel -> last-ulp drift, the documented
    # tolerance contract from SURVEY.md hard-part 2)
    assert [r["doc_id"] for r in after] == [r["doc_id"] for r in before]
    for a, b in zip(after, before):
        assert a["score"] == pytest.approx(b["score"], abs=1e-9)
    assert manifest["total_postings"] > 0


def test_auto_compaction_soak(spark, docs, tmp_path):
    """Long-running-stream policy (VERDICT r2 #7): many small batches with
    auto_compact keep the live segment count bounded by max_segments, the
    trigger actually fires (a compact_* build goes live), and the final
    answers are rank-identical to one monolithic build."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    for m in range(6):  # 6 micro-batches, one file each
        docs.filter(F.col("doc_id") % 6 == m).coalesce(1).write.mode("append").parquet(src)
    builds = ingest_available(
        spark, src, out, ckpt, n_buckets=4, max_files_per_trigger=1,
        auto_compact=True, max_segments=3,
    )
    # bound held at every step: with the policy firing at 3, the live list
    # can never exceed 3 segments, and at least one merge happened
    assert len(builds) <= 3, builds
    assert any(b.startswith("compact_") for b in builds), builds
    for query in QUERIES[:2]:
        expected = bm25_topk(docs, query, 10).collect()
        got = IndexReader(spark, out).topk(query, 10, range_size=128).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in expected], query


def test_tomb_ratio_trigger(spark, tmp_path):
    """The second policy axis: heavy per-doc overwrite (same keys
    re-ingested) drives the dead-doc ratio over max_tomb_ratio and forces
    a merge even while the segment count stays small — bounding the
    documented merge-on-read df drift."""
    from ariadna_spark.sources.segments import append_segment, compaction_due, maybe_compact

    ddl = (
        "doc_id long, repo string, path string, commit string, lang string, "
        "content string, content_sha string"
    )

    def mk(start, tag):
        rows = [
            (start + i, "org/r", f"src/f{i}.py", "c", "py", f"{tag} token{i} shared words")
            for i in range(4)
        ]
        df = spark.createDataFrame(
            [(d, r, p, c, lg, ct, None) for d, r, p, c, lg, ct in rows], ddl
        )
        return df.withColumn("content_sha", F.sha2(F.col("content"), 256))

    out = str(tmp_path / "idx")
    build_index(spark, mk(0, "v0"), out, build_id="base", n_buckets=2)
    append_segment(spark, mk(10, "v1"), out, build_id="upd", n_buckets=2)  # overwrites all 4
    due = compaction_due(out, max_segments=10, max_tomb_ratio=0.25)
    assert due is not None and due["reason"] == "tomb_ratio", due
    assert due["n_dead"] == 4 and due["n_total"] == 8
    manifest = maybe_compact(spark, out, max_segments=10, max_tomb_ratio=0.25, n_buckets=2)
    assert manifest is not None and manifest["compaction_trigger"]["reason"] == "tomb_ratio"
    store = SegmentStore(out)
    assert len(store.live_builds()) == 1
    # post-merge: no dead docs left, policy quiescent
    assert compaction_due(out, max_segments=10, max_tomb_ratio=0.25) is None
    got = IndexReader(spark, out).topk("v1 shared", 10).collect()
    assert sorted(r["doc_id"] for r in got) == [10, 11, 12, 13]


def test_fsck_incremental_store(spark, overwrite_corpus, tmp_path):
    """verify_index is green across a base+append store with tombstones,
    and flags a dangling tombstone if the target build is dropped from
    the live list."""
    import json

    from ariadna_spark.sources.segments import (
        SegmentStore,
        append_segment,
        verify_index,
    )

    base, upd, _ = overwrite_corpus
    out = str(tmp_path / "ovr")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    append_segment(spark, upd, out, build_id="upd", n_buckets=2)

    rep = verify_index(spark, out)
    assert rep["ok"], rep["errors"]
    assert set(rep["builds"]) == {"base", "upd"}

    # drop 'base' from the live list without GC'ing its files: the upd
    # build's tombstone now references a non-live build
    SegmentStore(out).publish_many(["upd"])
    rep2 = verify_index(spark, out)
    assert not rep2["ok"]
    assert any("non-live" in e for e in rep2["errors"]), rep2["errors"]


def test_delete_by_query(spark, overwrite_corpus, tmp_path):
    """ES _delete_by_query: filter-context and match-query deletes become
    tombstone-only builds — visible at the next query with zero segment
    rewrites, exact N/avgdl accounting, idempotent replay, fsck-green,
    and physically dropped (build retired) at compaction."""
    from ariadna_spark.sources.segments import compact, delete_by_query, verify_index

    base, _, _ = overwrite_corpus
    out = str(tmp_path / "del")
    build_index(spark, base, out, build_id="base", n_buckets=2)

    res = delete_by_query(spark, out, flt=(F.col("lang") == "go"), build_id="del1")
    assert res["deleted"] == 1
    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 2
    assert reader.topk("gamma", 5).count() == 0  # deleted doc never scores
    assert {r["doc_id"] for r in reader.topk("shared", 5).collect()} == {0, 1}
    assert reader.docmap().count() == 2

    # idempotent: replaying the same deletion build is a no-op
    res2 = delete_by_query(spark, out, flt=(F.col("lang") == "go"), build_id="del1")
    assert res2["deleted"] == 1
    assert IndexReader(spark, out).stats["N"] == 2

    # match-query delete (OR semantics; already-dead docs never recounted)
    res3 = delete_by_query(spark, out, query="beta window", build_id="del2")
    assert res3["deleted"] == 1
    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 1
    assert reader.topk("beta", 5).count() == 0
    top = reader.topk("shared", 5).collect()
    assert [r["doc_id"] for r in top] == [0]
    # "shared" still has df 3 against N = 1: explain clamps df to N as the
    # kernels do, so idf stays positive and the terms sum to the top-k score
    ex = reader.explain_score(0, "shared").collect()
    assert ex and all(r["idf"] > 0 for r in ex)
    assert abs(sum(r["score"] for r in ex) - top[0]["score"]) < 1e-12

    rep = verify_index(spark, out)
    assert rep["ok"], rep["errors"]

    # ADVICE r5: a stray FILE named bucket=* in a tombstone-only build dir
    # must not misroute fsck to the manifest-missing error path (the
    # has_buckets guard checks the entry, not the parent dir)
    import os as _o

    stray = _o.path.join(out, "builds", "del1", "bucket=stray")
    open(stray, "w").close()
    try:
        rep_stray = verify_index(spark, out)
        assert rep_stray["ok"], rep_stray["errors"]
        assert rep_stray["builds"]["del1"].get("tombstone_only")
    finally:
        _o.remove(stray)

    compact(spark, out, build_id="final", n_buckets=2)
    reader2 = IndexReader(spark, out)
    assert reader2.stats["N"] == 1
    assert not reader2.has_tombstones
    assert [r["doc_id"] for r in reader2.topk("shared", 5).collect()] == [0]


def test_delete_by_query_replay_republishes(spark, overwrite_corpus, tmp_path):
    """ADVICE r5: a crash between the idempotency-marker write and
    append_live leaves a fully-built but unpublished deletion; the replay
    short-circuit must re-publish (append_live is idempotent), not report
    success while the deletion stays invisible."""
    from ariadna_spark.sources.segments import SegmentStore, delete_by_query

    base, _, _ = overwrite_corpus
    out = str(tmp_path / "del")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    delete_by_query(spark, out, flt=(F.col("lang") == "go"), build_id="del1")

    # simulate the crash window: marker exists, but the build never made
    # the live list
    store = SegmentStore(out)
    store.publish_many([b for b in store.live_builds() if b != "del1"])
    assert "del1" not in store.live_builds()
    assert IndexReader(spark, out).topk("gamma", 5).count() == 1  # delete invisible

    res = delete_by_query(spark, out, flt=(F.col("lang") == "go"), build_id="del1")
    assert res["deleted"] == 1
    assert "del1" in store.live_builds()
    assert IndexReader(spark, out).topk("gamma", 5).count() == 0


def test_snapshot_restore(spark, overwrite_corpus, tmp_path):
    """ES _snapshot/_restore: a snapshot of a live incremental store
    (tombstones included) restores to identical query results; repeat
    snapshots are incremental (immutable builds skipped); restore into a
    populated store copies only missing builds; fsck green after."""
    from ariadna_spark.sources.segments import (
        append_segment,
        restore_index,
        snapshot_index,
        verify_index,
    )

    base, upd, _ = overwrite_corpus
    out = str(tmp_path / "src")
    build_index(spark, base, out, build_id="base", n_buckets=2)
    append_segment(spark, upd, out, build_id="upd", n_buckets=2)

    snap = str(tmp_path / "snap")
    r1 = snapshot_index(out, snap)
    assert r1["copied"] == ["base", "upd"] and r1["skipped"] == []
    # incremental: second snapshot copies nothing
    r2 = snapshot_index(out, snap)
    assert r2["copied"] == [] and set(r2["skipped"]) == {"base", "upd"}

    # a later append is the ONLY build the next snapshot copies
    upd2 = upd.withColumn("doc_id", F.col("doc_id") + 100).withColumn(
        "path", F.concat(F.col("path"), F.lit(".2"))
    )
    append_segment(spark, upd2, out, build_id="upd2", n_buckets=2)
    r3 = snapshot_index(out, snap)
    assert r3["copied"] == ["upd2"]
    want = [tuple(r) for r in IndexReader(spark, out).topk("shared", 5).collect()]

    # disaster: the store is lost; restore from the snapshot
    import shutil

    shutil.rmtree(out)
    rr = restore_index(snap, out)
    assert set(rr["copied"]) == {"base", "upd", "upd2"}
    reader = IndexReader(spark, out)
    got = [tuple(r) for r in reader.topk("shared", 5).collect()]
    assert got == want
    rep = verify_index(spark, out)
    assert rep["ok"], rep["errors"]

    # restore into a store that already holds some builds: only the
    # missing ones copy, and the live list swaps to the snapshot state
    partial = str(tmp_path / "partial")
    build_index(spark, base, partial, build_id="base", n_buckets=2)
    rp = restore_index(snap, partial)
    assert "base" in rp["skipped"] and set(rp["copied"]) == {"upd", "upd2"}
    assert [
        tuple(r) for r in IndexReader(spark, partial).topk("shared", 5).collect()
    ] == want


def test_append_live_concurrent_appenders(tmp_path):
    """append_live is a locked read-modify-write: concurrent appenders
    (streaming batch + delete_by_query) never lose each other's build."""
    import threading

    out = str(tmp_path / "lock")
    store = SegmentStore(out)
    store.publish_many(["base"])
    ids = [f"b{i:02d}" for i in range(16)]
    errs = []

    def add(bid):
        try:
            SegmentStore(out).append_live(bid)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=add, args=(b,)) for b in ids]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    live = store.live_builds()
    assert set(live) == {"base", *ids}, live


def test_attach_index_federated_search(spark, overwrite_corpus, tmp_path):
    """attach_index: two independently built indexes over disjoint
    doc_id ranges serve through ONE reader rank/score-identical to a
    single index built over the union corpus; overlapping id ranges and
    build-id collisions are rejected loudly."""
    import pytest as pt

    from ariadna_spark.sources.segments import attach_index, verify_index

    base, _, _ = overwrite_corpus
    other = (
        base.withColumn("doc_id", F.col("doc_id") + 100)
        .withColumn("path", F.concat(F.col("path"), F.lit(".b")))
        .withColumn("content", F.concat(F.col("content"), F.lit(" extra window")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
    )
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    u = str(tmp_path / "union")
    build_index(spark, base, a, build_id="idx_a", n_buckets=2)
    build_index(spark, other, b, build_id="idx_b", n_buckets=2)
    build_index(spark, base.unionByName(other), u, build_id="mono", n_buckets=2)

    res = attach_index(spark, b, a)
    assert res["attached"] == ["idx_b"] and res["live"] == ["idx_a", "idx_b"]

    ra, ru = IndexReader(spark, a), IndexReader(spark, u)
    assert ra.stats["N"] == ru.stats["N"] == 6
    assert ra.stats["avgdl"] == pytest.approx(ru.stats["avgdl"], abs=1e-12)
    for q in ("shared", "merge join", "window", "gamma filter"):
        ga = ra.topk(q, 10).collect()
        gu = ru.topk(q, 10).collect()
        assert [r["doc_id"] for r in ga] == [r["doc_id"] for r in gu], q
        for x, y in zip(ga, gu):
            assert x["score"] == pytest.approx(y["score"], abs=1e-9)
    rep = verify_index(spark, a)
    assert rep["ok"], rep["errors"]

    # overlapping doc_id ranges rejected
    c = str(tmp_path / "c")
    build_index(spark, base, c, build_id="idx_c", n_buckets=2)
    with pt.raises(ValueError, match="doc_id ranges overlap"):
        attach_index(spark, c, a)
    # build id collision rejected
    d = str(tmp_path / "d")
    build_index(
        spark, other.withColumn("doc_id", F.col("doc_id") + 1000), d,
        build_id="idx_b", n_buckets=2,
    )
    with pt.raises(ValueError, match="build id collision"):
        attach_index(spark, d, a)


def test_update_by_query(spark, overwrite_corpus, tmp_path):
    """ES _update_by_query: matching docs re-read from the source table
    with transforms applied; old versions tombstoned (overwrite
    contract), stats exact, compaction equals a fresh build of the
    transformed corpus."""
    from ariadna_spark.sources.segments import compact, update_by_query

    base, _, _ = overwrite_corpus
    out = str(tmp_path / "ubq")
    build_index(spark, base, out, build_id="base", n_buckets=2)

    res = update_by_query(
        spark,
        out,
        base,
        flt=(F.col("lang") == "go"),
        set_cols={"content": F.concat(F.col("content"), F.lit(" patched"))},
        build_id="u1",
        n_buckets=2,
    )
    assert res["updated"] == 1
    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 3  # constant doc count
    # the updated doc matches its new token, exactly once for old tokens
    assert [r["doc_id"] for r in reader.topk("patched", 5).collect()] == [2]
    assert [r["doc_id"] for r in reader.topk("gamma", 5).collect()].count(2) == 1

    compact(spark, out, build_id="final", n_buckets=2)
    fresh_docs = base.withColumn(
        "content",
        F.when(
            F.col("lang") == "go", F.concat(F.col("content"), F.lit(" patched"))
        ).otherwise(F.col("content")),
    ).withColumn("content_sha", F.sha2(F.col("content"), 256))
    fresh = str(tmp_path / "fresh")
    build_index(spark, fresh_docs, fresh, build_id="mono", n_buckets=2)
    ra, rb = IndexReader(spark, out), IndexReader(spark, fresh)
    for q in ("patched", "shared", "gamma filter"):
        a, b = ra.topk(q, 5).collect(), rb.topk(q, 5).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b], q
        for x, y in zip(a, b):
            assert x["score"] == pytest.approx(y["score"], abs=1e-9)


def test_delete_by_query_everything(spark, overwrite_corpus, tmp_path):
    """Deleting the whole corpus leaves a consistent empty-serving store:
    zero stats, empty top-k/count/docmap, no arithmetic blowups."""
    from ariadna_spark.sources.segments import delete_by_query

    base, _, _ = overwrite_corpus
    out = str(tmp_path / "nuke")
    build_index(spark, base, out, build_id="b", n_buckets=2)
    res = delete_by_query(spark, out, flt=F.lit(True), build_id="nuke")
    assert res["deleted"] == 3
    reader = IndexReader(spark, out)
    assert reader.stats["N"] == 0 and reader.stats["avgdl"] == 1.0
    assert reader.topk("shared", 5).collect() == []
    assert reader.match_count("shared").collect()[0]["n_docs"] == 0
    assert reader.docmap().count() == 0


@pytest.mark.parametrize("entry", ["build_index", "build_multifield_index", "compact"])
@pytest.mark.parametrize("fail_at", ["build", "write"])
def test_compact_failure_removes_its_checkpoint(
    spark, overwrite_corpus, tmp_path, monkeypatch, entry, fail_at
):
    """A build or compaction that fails, either in the job that writes its
    tf checkpoint (fail_at='write') or after the checkpoint was written
    (fail_at='build'), raises, leaves no tf_ckpt_* / compact_tf_* dir
    behind in the scratch dir and publishes nothing."""
    import glob

    from pyspark.errors import PySparkException
    from pyspark.sql.readwriter import DataFrameWriter

    from ariadna_spark.sources import segments

    base, _, _ = overwrite_corpus
    out = str(tmp_path / "cfail")
    if entry == "compact":
        build_index(spark, base, out, build_id="base", n_buckets=2)
    store = SegmentStore(out)
    live = store.live_builds()
    prefix = "compact_tf" if entry == "compact" else "tf_ckpt"
    pattern = os.path.join(spark.conf.get("spark.local.dir", "/tmp"), f"{prefix}_*")
    before = set(glob.glob(pattern))

    if fail_at == "build":

        def boom(*a, **kw):
            raise RuntimeError("injected build failure")

        monkeypatch.setattr(segments, "_build_from_tf", boom)
        expected = RuntimeError
    else:
        orig_parquet = DataFrameWriter.parquet

        def failing_parquet(self, path, *a, **kw):
            # the write job fails on its first row, after Spark made the dir
            bad = self._df.filter(
                F.assert_true(F.col("doc_id") < 0, "injected build failure").isNull()
            )
            return orig_parquet(bad.write.mode("overwrite"), path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
        expected = PySparkException

    run = {
        "build_index": lambda: build_index(spark, base, out, build_id="x", n_buckets=2),
        # the multi-field build (the id predates build_index(fields=))
        "build_multifield_index": lambda: build_index(
            spark, base, out, build_id="x", n_buckets=2, fields=("content", "path")
        ),
        "compact": lambda: segments.compact(spark, out, build_id="merged", n_buckets=2),
    }[entry]
    with pytest.raises(expected, match="injected build failure"):
        run()
    assert set(glob.glob(pattern)) <= before
    assert store.live_builds() == live
