"""Dedup (exact / minhash-LSH / simhash) and embedding similarity
(brute-force + multi-probe LSH) operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ariadna_spark.operators.dedup import (
    exact_dup_groups,
    jaccard_verify,
    keep_first_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
)
from ariadna_spark.operators.similarity import cosine_topk, lsh_index, lsh_topk
from ariadna_spark.stats import term_freqs

SF_DIR = None  # uses fixtures


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus with planted exact and near duplicates."""
    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "sphinx of black quartz judge my vow"),
    ]
    rows = []
    for i, (d, t) in enumerate(base):
        rows.append((d, t))
    rows.append((3, base[0][1]))  # exact dup of 0
    rows.append((4, base[0][1] + " again"))  # near dup of 0
    rows.append((5, "completely different content about spark dataflow engines"))
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_exact_dedup(spark, dup_docs):
    groups = exact_dup_groups(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 3]
    kept = keep_first_dedup(dup_docs).select("doc_id").orderBy("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [0, 1, 2, 4, 5]


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    tf = term_freqs(dup_docs)
    sigs = minhash_signatures(tf)
    cand = lsh_candidate_pairs(sigs)
    pairs = {(r["da"], r["db"]) for r in cand.collect()}
    assert (0, 3) in pairs  # exact dups always collide
    assert (0, 4) in pairs  # near dup shares most bands
    verified = jaccard_verify(tf, cand, threshold=0.8).collect()
    vp = {(r["da"], r["db"]): r["jacc"] for r in verified}
    assert vp[(0, 3)] == 1.0
    assert 0.8 <= vp[(0, 4)] < 1.0
    assert (1, 2) not in vp


def test_simhash(spark, dup_docs):
    tf = term_freqs(dup_docs)
    sigs = simhash_signatures(tf)
    s = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert s[0] == s[3]  # identical content -> identical simhash
    ham04 = bin(s[0] ^ s[4]).count("1")
    ham05 = bin(s[0] ^ s[5]).count("1")
    assert ham04 < ham05  # near dup closer than unrelated
    pairs = {(r["da"], r["db"]): r["hamming"] for r in simhash_near_pairs(sigs, max_hamming=8).collect()}
    assert pairs.get((0, 3)) == 0


@pytest.fixture(scope="module")
def emb(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def test_cosine_topk_matches_numpy(spark, emb):
    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 0].embedding.iloc[0])
    vecs = np.array([list(v) for v in pdf.embedding])
    ids = pdf.vec_id.to_numpy()
    qn = np.asarray(q)
    cos = vecs @ qn / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qn))
    order = sorted(zip(ids, cos), key=lambda t: (-t[1], t[0]))[:10]
    got = cosine_topk(emb, q, k=10).collect()
    assert [r["vec_id"] for r in got] == [int(i) for i, _ in order]
    for r, (_, c) in zip(got, order):
        # Spark's aggregate() is a left fold, numpy sums pairwise — the
        # rounding differs at ~1e-8 on 64-dim dot products
        assert r["cos"] == pytest.approx(float(c), abs=1e-6)


def test_lsh_topk_recall(spark, emb):
    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 7].embedding.iloc[0])
    indexed, tables = lsh_index(emb, n_planes=8, n_tables=4)
    indexed.persist()
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(indexed, tables, q, k=10, probe_hamming=1).collect()]
    # multi-table multi-probe LSH: top-1 must be found, recall@10 reasonable
    assert exact[0] in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (recall, exact, approx)
    # determinism: same planes regardless of call order
    _, tables2 = lsh_index(emb, n_planes=8, n_tables=4)
    for a, b in zip(tables, tables2):
        assert np.allclose(a, b)


def test_lsh_store_partition_pruned(spark, emb, tmp_path):
    """The written LSH store is physically partitioned by (table, bucket);
    a probe query's predicate must prune at the directory level AND return
    exactly the in-memory index's results. The store publishes through the
    segment MANIFEST, and a directory without one is not a store."""
    import os as _os

    from ariadna_spark.operators.similarity import lsh_store_read, lsh_store_write
    from ariadna_spark.plans import assert_partition_pruned

    path = str(tmp_path / "lsh_store")
    lsh_store_write(emb, path, n_planes=8, n_tables=4)
    assert _os.path.isfile(_os.path.join(path, "MANIFEST"))
    assert not _os.path.exists(_os.path.join(path, "MANIFEST.json"))
    with pytest.raises(FileNotFoundError):
        lsh_store_read(spark, str(tmp_path))
    stored, tables = lsh_store_read(spark, path)
    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 7].embedding.iloc[0])

    probe = stored.filter((F.col("table") == 0) & F.col("bucket").isin([1, 2, 3]))
    assert_partition_pruned(probe, "bucket")
    assert_partition_pruned(probe, "table")

    mem_indexed, mem_tables = lsh_index(emb, n_planes=8, n_tables=4)
    for a, b in zip(tables, mem_tables):
        assert np.allclose(a, b)
    got = [(r["vec_id"], round(r["cos"], 6)) for r in lsh_topk(stored, tables, q, k=10).collect()]
    want = [(r["vec_id"], round(r["cos"], 6)) for r in lsh_topk(mem_indexed, mem_tables, q, k=10).collect()]
    assert got == want


def test_ivf_store_partition_pruned(spark, emb, tmp_path):
    from ariadna_spark.operators.similarity import (
        ivf_index,
        ivf_store_read,
        ivf_store_write,
        ivf_topk,
    )
    from ariadna_spark.plans import assert_partition_pruned

    path = str(tmp_path / "ivf_store")
    ivf_store_write(emb, path, n_centroids=8)
    stored, centroids = ivf_store_read(spark, path)
    assert centroids.shape[0] == 8
    probe = stored.filter(F.col("centroid").isin([0, 1]))
    assert_partition_pruned(probe, "centroid")

    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 11].embedding.iloc[0])
    mem_indexed, mem_centroids = ivf_index(emb, n_centroids=8)
    assert np.allclose(centroids, mem_centroids)
    got = [r["vec_id"] for r in ivf_topk(stored, centroids, q, k=10, n_probe=4).collect()]
    want = [r["vec_id"] for r in ivf_topk(mem_indexed, mem_centroids, q, k=10, n_probe=4).collect()]
    assert got == want


def test_ivf_topk(spark, emb):
    from ariadna_spark.operators.similarity import ivf_index, ivf_topk

    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 11].embedding.iloc[0])
    indexed, centroids = ivf_index(emb, n_centroids=8)
    indexed.persist()
    assert centroids.shape[0] == 8
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    # probing half the lists must find the top-1 and decent recall
    approx = [r["vec_id"] for r in ivf_topk(indexed, centroids, q, k=10, n_probe=4).collect()]
    assert exact[0] in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4, (recall, exact, approx)
    # probing ALL lists is exact
    full = [r["vec_id"] for r in ivf_topk(indexed, centroids, q, k=10, n_probe=8).collect()]
    assert full == exact


def test_ivf_sample_fit(spark, emb):
    """Sample-fit quantizer (VERDICT r2 #3): fitting k-means on a small
    seeded sample must still partition ALL vectors (every vector assigned
    exactly one centroid) and keep probe-all == brute-force exact."""
    from ariadna_spark.operators.similarity import ivf_index, ivf_topk

    n = emb.count()
    indexed, centroids = ivf_index(emb, n_centroids=4, fit_sample=max(8, n // 4))
    indexed.persist()
    assert indexed.count() == n  # assignment covers the full corpus
    assert indexed.select("vec_id").distinct().count() == n
    assert centroids.shape[0] == 4
    pdf = emb.toPandas()
    q = list(pdf[pdf.vec_id == 11].embedding.iloc[0])
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    full = [r["vec_id"] for r in ivf_topk(indexed, centroids, q, k=10, n_probe=4).collect()]
    assert full == exact
    indexed.unpersist()


def test_lsh_plane_dot_margin_at_gated_sfs():
    """ADVICE r2: the DuckDB LSH oracles replay bucket assignment with
    list_dot_product (left-fold summation) while the engine uses numpy dot
    (pairwise/SIMD). A (vector, plane) dot near zero could round to
    opposite signs and flip a bucket. Guard: at every oracle-gated sf, the
    minimum |dot| across ALL (vector, plane) pairs of BOTH driver LSH
    configurations exceeds a safety margin far above fp summation noise."""
    import os

    import duckdb

    from ariadna_spark.operators.similarity import _planes

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.isdir(sf_dir):
            continue
        vecs = (
            duckdb.sql(f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet')")
            .fetchnumpy()["embedding"]
        )
        x = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        dim = x.shape[1]
        # embedding_lsh: n_planes=8, n_tables=4; embedding_near_dup_lsh: 6/6
        for n_planes, n_tables in ((8, 4), (6, 6)):
            planes = np.vstack(
                [_planes(dim, n_planes, 1234 + 7919 * t) for t in range(n_tables)]
            )
            m = float(np.abs(x @ planes.T).min())
            assert m > 1e-9, (sf_dir, n_planes, n_tables, m)


def test_ivf_topk_many_matches_per_query(spark, emb):
    """Batch IVF (one job for the query set) == the per-query ivf_topk for
    every query, at PRUNED n_probe — candidates, ranks and scores."""
    from ariadna_spark.operators.similarity import ivf_index, ivf_topk, ivf_topk_many

    indexed, centroids = ivf_index(emb, n_centroids=8)
    indexed.persist()
    pdf = emb.toPandas()
    qids = [3, 11, 27]
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in pdf[pdf.vec_id == q].embedding.iloc[0]]) for q in qids],
        "qid long, qv array<double>",
    )
    got = ivf_topk_many(indexed, centroids, qdf, k=8, n_probe=3).collect()
    for q in qids:
        qv = [float(x) for x in pdf[pdf.vec_id == q].embedding.iloc[0]]
        want = ivf_topk(indexed, centroids, qv, k=8, n_probe=3).collect()
        mine = sorted((r for r in got if r["qid"] == q), key=lambda r: r["rank"])
        assert [m["vec_id"] for m in mine] == [w["vec_id"] for w in want], q
        for m, w in zip(mine, want):
            assert abs(m["cos"] - w["cos"]) < 1e-12
    indexed.unpersist()


def test_lsh_topk_many_matches_per_query(spark, emb):
    """Batch LSH probes (bucket + Hamming ring computed as Catalyst
    expressions over the query-vector column) == per-query lsh_topk."""
    from ariadna_spark.operators.similarity import lsh_index, lsh_topk, lsh_topk_many

    indexed, tables = lsh_index(emb, n_planes=8, n_tables=4)
    indexed.persist()
    pdf = emb.toPandas()
    qids = [7, 19]
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in pdf[pdf.vec_id == q].embedding.iloc[0]]) for q in qids],
        "qid long, qv array<double>",
    )
    got = lsh_topk_many(indexed, tables, qdf, k=10, probe_hamming=1).collect()
    for q in qids:
        qv = [float(x) for x in pdf[pdf.vec_id == q].embedding.iloc[0]]
        want = lsh_topk(indexed, tables, qv, k=10, probe_hamming=1).collect()
        mine = sorted((r for r in got if r["qid"] == q), key=lambda r: r["rank"])
        assert [m["vec_id"] for m in mine] == [w["vec_id"] for w in want], q
        for m, w in zip(mine, want):
            assert abs(m["cos"] - w["cos"]) < 1e-12
    indexed.unpersist()


def test_ivf_topk_many_stored_pruned(spark, emb, tmp_path):
    """Batch IVF against the written store with prune=True: the scan must
    partition-prune to the probed centroid dirs, and answers must equal
    the unpruned batch exactly."""
    from ariadna_spark.operators.similarity import (
        ivf_store_read,
        ivf_store_write,
        ivf_topk_many,
    )
    from ariadna_spark.plans import assert_partition_pruned

    path = str(tmp_path / "ivf_b")
    ivf_store_write(emb, path, n_centroids=8)
    stored, centroids = ivf_store_read(spark, path)
    pdf = emb.toPandas()
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in pdf[pdf.vec_id == q].embedding.iloc[0]]) for q in (3, 27)],
        "qid long, qv array<double>",
    )
    pruned = ivf_topk_many(stored, centroids, qdf, k=6, n_probe=2, prune=True)
    assert_partition_pruned(pruned, "centroid")
    got = sorted((r["qid"], r["rank"], r["vec_id"]) for r in pruned.collect())
    want = sorted(
        (r["qid"], r["rank"], r["vec_id"])
        for r in ivf_topk_many(stored, centroids, qdf, k=6, n_probe=2).collect()
    )
    assert got == want


def test_lsh_topk_many_stored_pruned(spark, emb, tmp_path):
    """Batch LSH with prune=True against the written store: partition
    pruning on the probed (table, bucket) dirs, answers identical."""
    from ariadna_spark.operators.similarity import (
        lsh_store_read,
        lsh_store_write,
        lsh_topk_many,
    )
    from ariadna_spark.plans import assert_partition_pruned

    path = str(tmp_path / "lsh_b")
    lsh_store_write(emb, path, n_planes=8, n_tables=4)
    stored, tables = lsh_store_read(spark, path)
    pdf = emb.toPandas()
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in pdf[pdf.vec_id == q].embedding.iloc[0]]) for q in (7, 19)],
        "qid long, qv array<double>",
    )
    pruned = lsh_topk_many(stored, tables, qdf, k=10, probe_hamming=1, prune=True)
    assert_partition_pruned(pruned, "bucket")
    got = sorted((r["qid"], r["rank"], r["vec_id"]) for r in pruned.collect())
    want = sorted(
        (r["qid"], r["rank"], r["vec_id"])
        for r in lsh_topk_many(stored, tables, qdf, k=10, probe_hamming=1).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Incremental vector-store lifecycle (VERDICT r3 #3)
# ---------------------------------------------------------------------------
def _brute_topk(emb_pdf, qv, k):
    vecs = np.array([list(v) for v in emb_pdf.embedding])
    ids = emb_pdf.vec_id.to_numpy()
    qn = np.asarray(qv)
    cos = vecs @ qn / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qn))
    order = np.lexsort((ids, -cos))[:k]
    return [int(ids[i]) for i in order]


def test_lsh_store_append_overwrite_compact(spark, emb, tmp_path):
    """2-build LSH store with overwrites: merged probe-all results equal
    brute force over the LOGICAL current vector set, before and after
    compaction; stale (negated) versions never surface."""
    from ariadna_spark.operators.similarity import (
        lsh_store_read,
        lsh_store_write,
        lsh_topk,
        vector_store_append,
        vector_store_compact,
    )

    store = str(tmp_path / "lshstore")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).filter(F.col("vec_id") < 120)
    stale = F.when(
        F.col("vec_id") % 4 == 0, F.transform("embedding", lambda x: -x)
    ).otherwise(F.col("embedding"))
    b0 = base.select("vec_id", stale.alias("embedding"))
    lsh_store_write(b0, store, n_tables=2)
    # append: re-embed the corrupted ids with true vectors + 30 NEW ids
    newbies = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 150))
    fixes = base.filter(F.col("vec_id") % 4 == 0)
    # auto_compact=False: this test verifies the PRE-compaction merge-on-read
    # state explicitly, then compacts by hand below
    vector_store_append(fixes.unionByName(newbies), store, build_id="b000001", auto_compact=False)

    logical = base.unionByName(newbies).toPandas()
    merged, tables = lsh_store_read(spark, store)
    assert merged.count() == 150 * len(tables)  # one live row per (vec, table)

    q = list(logical[logical.vec_id == 8].embedding.iloc[0])
    want = _brute_topk(logical, q, 10)
    # probe-all: hamming cap >= n_planes covers every bucket via 2 flips?
    # no — use probe_hamming=2 with the full check below on exactness of
    # the LIVE SET instead: collect ALL live rows and verify no stale ones
    got_rows = merged.select("vec_id", "v").dropDuplicates(["vec_id"]).collect()
    got = {r["vec_id"]: list(r["v"]) for r in got_rows}
    assert set(got) == set(logical.vec_id)
    for vid, v in got.items():
        assert v == list(logical[logical.vec_id == vid].embedding.iloc[0]), vid

    top = [r["vec_id"] for r in lsh_topk(merged, tables, q, k=10, probe_hamming=2).collect()]
    assert 8 in top[:1] or top[0] == 8  # self-match survives merge-on-read

    # compact: single build, tombstones gone, identical live set
    vector_store_compact(spark, store, build_id="c000000")
    merged2, _ = lsh_store_read(spark, store)
    got2 = {
        r["vec_id"]: list(r["v"])
        for r in merged2.select("vec_id", "v").dropDuplicates(["vec_id"]).collect()
    }
    assert got2 == got
    import os as _os

    assert _os.listdir(_os.path.join(store, "builds")) == ["c000000"]
    assert not _os.path.exists(_os.path.join(store, "tombstones", "b000001.parquet"))


def test_ivf_store_incremental_probe_all_exact(spark, emb, tmp_path):
    """IVF store: append with frozen centroids; probe-all batch equals
    brute force over the logical set (double overwrite of one id too)."""
    from ariadna_spark.operators.similarity import (
        ivf_store_read,
        ivf_store_write,
        ivf_topk_many,
        vector_store_append,
    )

    store = str(tmp_path / "ivfstore")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).filter(F.col("vec_id") < 100)
    stale = F.when(
        F.col("vec_id") % 5 == 0, F.transform("embedding", lambda x: -x)
    ).otherwise(F.col("embedding"))
    ivf_store_write(base.select("vec_id", stale.alias("embedding")), store, n_centroids=4)
    vector_store_append(base.filter(F.col("vec_id") % 5 == 0), store, build_id="b000001")
    # double overwrite: id 0 re-embedded AGAIN in a third build
    vector_store_append(base.filter(F.col("vec_id") == 0), store, build_id="b000002")

    merged, centroids = ivf_store_read(spark, store)
    logical = base.toPandas()
    queries = spark.createDataFrame(
        [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for _, r in logical.iterrows()
            if r.vec_id in (0, 5, 7)
        ],
        "qid long, qv array<double>",
    )
    out = ivf_topk_many(merged, centroids, queries, k=8, n_probe=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    for qid in (0, 5, 7):
        qv = list(logical[logical.vec_id == qid].embedding.iloc[0])
        want = _brute_topk(logical, qv, 8)
        assert [v for _, v in sorted(got[qid])] == want, qid


def test_vector_store_pruning_plan(spark, emb, tmp_path):
    """Partition pruning must survive merge-on-read: a centroid filter on
    the merged store shows PartitionFilters on every build's scan."""
    from ariadna_spark.operators.similarity import (
        ivf_store_read,
        ivf_store_write,
        vector_store_append,
    )
    from ariadna_spark.plans import physical_plan

    store = str(tmp_path / "ivfplan")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).filter(F.col("vec_id") < 80)
    ivf_store_write(base.filter(F.col("vec_id") < 60), store, n_centroids=4)
    # auto_compact=False: the 25% overwrite ratio would trigger the policy,
    # and this test needs the multi-build merge-on-read plan shape
    vector_store_append(base.filter(F.col("vec_id") >= 60), store, build_id="b000001", auto_compact=False)
    merged, _ = ivf_store_read(spark, store)
    plan = physical_plan(merged.filter(F.col("centroid") == 2))
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    # both BUILD scans carry the centroid filter (the tombstone scan is
    # unpartitioned and legitimately shows an empty filter list)
    assert sum("centroid" in x for x in pf) >= 2, pf


def test_keep_first_dedup_duplicate_ids_fallback(spark, dup_docs):
    """r4 ADVICE: the fast semi-join shape assumes unique doc_id; the
    unique_ids=False window fallback keeps exactly one row per content
    hash even under a double-ingest."""
    doubled = dup_docs.unionAll(dup_docs)  # violate the id invariant
    strict = keep_first_dedup(doubled, unique_ids=False)
    # one row per distinct content: 5 distinct texts in the fixture
    assert strict.count() == 5
    assert sorted(r["doc_id"] for r in strict.select("doc_id").collect()) == [
        0, 1, 2, 4, 5,
    ]
    # fast path on clean input matches the strict path
    a = sorted(r["doc_id"] for r in keep_first_dedup(dup_docs).collect())
    b = sorted(
        r["doc_id"] for r in keep_first_dedup(dup_docs, unique_ids=False).collect()
    )
    assert a == b == [0, 1, 2, 4, 5]


def test_cluster_ids_long_chain_converges_past_budget(spark):
    """r4 ADVICE: a dup chain longer than max_iter must complete (with a
    logged warning), not crash the pipeline."""
    from ariadna_spark.operators.dedup import cluster_ids

    n = 9  # chain 0-1-2-...-9: diameter 9 > max_iter=3
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "da long, db long"
    )
    lab = {r["doc_id"]: r["cluster_id"] for r in cluster_ids(pairs, max_iter=3).collect()}
    assert lab == {i: 0 for i in range(n + 1)}


def test_ivf_assignment_is_map_side(spark, emb):
    """VERDICT r4 #4: centroid assignment must be a pure map-side
    expression — no join, no window, no exchange before the candidate
    fetch — and must agree exactly with the former broadcast-join + rank
    window shape (same d2 arithmetic, same (d2, centroid) tie-break)."""
    from pyspark.sql import Window

    from ariadna_spark.operators.similarity import (
        _ivf_assign,
        ivf_index,
        ivf_probes_expr,
    )
    from ariadna_spark.plans import physical_plan

    _, centroids = ivf_index(emb, n_centroids=8)
    assigned = _ivf_assign(emb, centroids, "vec_id", "embedding")
    plan = physical_plan(assigned)
    for bad in ["Exchange", "Window", "Join"]:
        assert bad not in plan, f"{bad} in map-side assignment plan:\n{plan}"

    # reference: the old broadcast-join + row_number shape, inline
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid int, cv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("centroid"))
    ref = (
        emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
        .join(F.broadcast(cdf))
        .withColumn("d2", d2)
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") == 1)
        .select("vec_id", "centroid")
    )
    got = {r["vec_id"]: r["centroid"] for r in assigned.collect()}
    want = {r["vec_id"]: r["centroid"] for r in ref.collect()}
    assert got == want

    # batch probe assignment: nearest-first probe list, no exchange
    probes = emb.select(
        F.col("vec_id").alias("qid"),
        F.explode(
            ivf_probes_expr(F.col("embedding").cast("array<double>"), centroids, 3)
        ).alias("centroid"),
    )
    pplan = physical_plan(probes)
    for bad in ["Exchange", "Window", "Join"]:
        assert bad not in pplan, f"{bad} in probe-assignment plan:\n{pplan}"
    first = {}
    for r in probes.collect():
        first.setdefault(r["qid"], r["centroid"])
    assert first == want  # probe[0] == argmin centroid


def test_vector_store_auto_compaction_bounds_builds(spark, emb, tmp_path):
    """VERDICT r4 #3: sustained appends with the default auto_compact
    policy keep the live-build count and dead-row ratio bounded — no
    external scheduler — and partition pruning survives the folds."""
    import os as _os

    from ariadna_spark.operators.similarity import (
        ivf_store_read,
        ivf_store_write,
        ivf_topk_many,
        vector_store_append,
        vector_store_compaction_due,
    )
    from ariadna_spark.plans import physical_plan
    from ariadna_spark.sources.segments import SegmentStore

    store = str(tmp_path / "ivfsoak")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).filter(F.col("vec_id") < 60)
    ivf_store_write(base, store, n_centroids=4)
    max_live = 1
    for i in range(1, 11):  # 10 overwrite appends of the same 12 ids
        vector_store_append(
            base.filter(F.col("vec_id") % 5 == 0), store, build_id=f"b{i:06d}"
        )
        max_live = max(max_live, len(SegmentStore(store).live_builds()))
    live = SegmentStore(store).live_builds()
    assert max_live <= 8, max_live  # policy fired before the cap
    assert len(live) < 8
    assert vector_store_compaction_due(store, max_builds=8) is None
    # compacted builds actually replaced the folded ones on disk
    assert len(_os.listdir(_os.path.join(store, "builds"))) == len(live)

    # correctness + pruning survive: merged == brute force, centroid
    # filter still partition-prunes every live build scan
    merged, centroids = ivf_store_read(spark, store)
    logical = base.toPandas()
    queries = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding])
         for _, r in logical.iterrows() if r.vec_id in (0, 7)],
        "qid long, qv array<double>",
    )
    out = ivf_topk_many(merged, centroids, queries, k=5, n_probe=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    for qid in (0, 7):
        qv = list(logical[logical.vec_id == qid].embedding.iloc[0])
        assert [v for _, v in sorted(got[qid])] == _brute_topk(logical, qv, 5)
    import re

    plan = physical_plan(merged.filter(F.col("centroid") == 1))
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert sum("centroid" in x for x in pf) >= 1, pf
