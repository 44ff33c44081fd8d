"""M4-M6: compressed postings, segment lifecycle, block-max WAND — built
index must be rank-identical to the brute-force DataFrame scorer."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ariadna_spark.functions.varint import delta_decode_ids, varint_decode
from ariadna_spark.operators.postings import build_postings
from ariadna_spark.operators.topk import bm25_topk
from ariadna_spark.operators.wand import IndexReader, wand_kernel
from ariadna_spark.sources.segments import SegmentStore, build_index, load_manifest, term_bucket_py
from ariadna_spark.stats import corpus_scalars, doc_lengths, term_freqs

QUERIES = ["merge join", "window", "the", "spark stream batch", "mergeJoin sortTable", "zzznot"]


@pytest.fixture(scope="module")
def index_dir(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("segments"))
    build_index(spark, docs, out, build_id="t1", n_buckets=8, n_salts=4)
    return out


def test_manifest_lineage(index_dir):
    m = load_manifest(index_dir)
    assert m["complete"] and m["build_id"] == "t1"
    assert len(m["partitions"]) == 8
    assert m["total_postings"] > 0 and m["total_bytes_compressed"] > 0
    for p in m["partitions"]:
        assert set(p) >= {"bucket", "blocks", "postings", "bytes_compressed", "wall_ms"}


def test_postings_invariants(spark, docs, index_dir):
    """doc_ids strictly increasing per block; terms-table df == posting
    counts; totals match distinct (term, doc) pairs."""
    store = SegmentStore(index_dir)
    bdir = store.build_dir("t1")
    blocks = spark.read.parquet(*[f"{bdir}/bucket={b}" for b in range(8)])
    pdf = blocks.toPandas()
    # strictly increasing ids within blocks + metadata consistent
    for _, r in pdf.sample(min(200, len(pdf)), random_state=0).iterrows():
        ids = delta_decode_ids(r["doc_ids_varint"])
        tfs = varint_decode(r["tfs_varint"])
        assert (np.diff(ids) > 0).all() or len(ids) == 1
        assert ids[0] == r["first_doc_id"] and ids[-1] == r["last_doc_id"]
        assert len(ids) == r["n_docs"] == len(tfs)
        assert tfs.max() == r["block_max_tf"]
    # df in the terms table == total postings per term in the blocks
    terms_pdf = spark.read.parquet(f"{bdir}/terms").toPandas()
    per_term = pdf.groupby("term").agg(postings=("n_docs", "sum"))
    merged = per_term.join(terms_pdf.set_index("term")["df"], how="left")
    assert (merged["postings"] == merged["df"]).all()
    # total postings == distinct (term, doc) pairs
    tf = term_freqs(docs)
    assert int(pdf["n_docs"].sum()) == tf.count()
    # bucket routing matches python-side crc32
    for t in per_term.index[:20]:
        b = term_bucket_py(t, 8)
        assert os.path.exists(f"{bdir}/bucket={b}")


@pytest.mark.parametrize("query", QUERIES)
def test_wand_rank_identical_to_bruteforce(spark, docs, index_dir, query):
    k = 10
    expected = bm25_topk(docs, query, k).collect()
    reader = IndexReader(spark, index_dir)
    got = reader.topk(query, k, range_size=128).collect()  # small ranges: many partitions
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in expected], query
    for g, e in zip(got, expected):
        assert g["score"] == pytest.approx(e["score"], abs=1e-9)


def test_wand_with_docmap_join(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    rows = reader.topk("merge join", 5, with_docmap=True).collect()
    assert len(rows) == 5
    assert all(r["repo"] and r["path"] for r in rows)


def test_wand_kernel_prunes_blocks():
    """With k=1 and a dominant stride, most blocks must never be decoded."""
    import math

    n_docs, avgdl = 100_000, 100.0
    idf = math.log(1.0 + (n_docs - 6400 + 0.5) / (6400 + 0.5))
    rows = []
    # one term, 50 blocks of low tf, one block with a huge tf
    for bi in range(50):
        ids = np.arange(bi * 1000, bi * 1000 + 128, dtype=np.int64)
        tfs = np.full(128, 1, dtype=np.uint64)
        dls = np.full(128, 100, dtype=np.uint64)
        from ariadna_spark.functions.varint import delta_encode_ids, varint_encode

        tf_for_max = 50 if bi == 7 else 1
        t = tfs.copy()
        t[0] = tf_for_max
        tfn_max = (tf_for_max * 2.2) / (tf_for_max + 1.2 * (0.25 + 0.75))
        rows.append(
            {
                "rid": 0,
                "term": "x",
                "df": 6400,
                "block_id": bi,
                "n_docs": 128,
                "first_doc_id": int(ids[0]),
                "last_doc_id": int(ids[-1]),
                "block_max_tf": tf_for_max,
                "block_max_tfnorm": tfn_max,
                "doc_ids_varint": delta_encode_ids(ids),
                "tfs_varint": varint_encode(t),
                "dls_varint": varint_encode(dls),
            }
        )
    pdf = pd.DataFrame(rows)
    stats = {}
    out = wand_kernel(
        pdf, n_docs, avgdl, k=1, range_size=64000, stride=1024, prune_stats=stats
    )
    assert idf > 0  # sanity on the hand-computed reference idf
    assert len(out) == 1
    assert out["doc_id"].iloc[0] == 7000  # the high-tf doc
    assert stats["n_blocks_decoded"] < stats["n_blocks_total"] / 2, stats


@pytest.mark.parametrize("kernel", ["wand", "phrase"])
def test_corrupt_block_fails_loudly(kernel):
    """A block whose tfs stream is shorter than its doc id stream (128 ids,
    one tf) is refused by every kernel, never scored by broadcasting the
    one tf over all postings."""
    from ariadna_spark.functions.varint import delta_encode_ids, varint_encode
    from ariadna_spark.operators.wand import _RangeBlocks, phrase_kernel

    ids = np.arange(100, 228, dtype=np.int64)
    pdf = pd.DataFrame(
        [
            {
                "rid": 0,
                "term": "x",
                "df": 128,
                "block_id": 0,
                "n_docs": 128,
                "first_doc_id": 100,
                "last_doc_id": 227,
                "block_max_tf": 3,
                "block_max_tfnorm": 3 * 2.2 / (3 + 1.2),
                "doc_ids_varint": delta_encode_ids(ids),
                "tfs_varint": varint_encode(np.asarray([3], dtype=np.uint64)),
                "dls_varint": varint_encode(np.full(128, 50, dtype=np.uint64)),
                "pos_varint": varint_encode(np.asarray([0, 1, 1], dtype=np.uint64)),
            }
        ]
    )
    with pytest.raises(ValueError, match="varint streams disagree"):
        if kernel == "wand":
            wand_kernel(pdf, 1000, 50.0, 3, 8192)
        else:
            phrase_kernel(_RangeBlocks(pdf, {0: (1000, 50.0, 1.0)}, 8192), ["x"], 3)


def test_resume_after_injected_failure(spark, docs, tmp_path):
    """Kill mid-build, re-run, manifest + query results identical to a
    clean build (SURVEY.md §5.4)."""
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, docs, out1, build_id="r1", n_buckets=4, fail_after_buckets=2)
    # partial state: some buckets committed, no manifest, nothing published
    assert SegmentStore(out1).live_build() is None
    assert not os.path.exists(os.path.join(out1, "builds/r1/manifest.json"))
    m1 = build_index(spark, docs, out1, build_id="r1", n_buckets=4)  # resume
    m2 = build_index(spark, docs, out2, build_id="r1", n_buckets=4)  # clean
    for key in ("total_postings", "total_blocks", "total_bytes_compressed"):
        assert m1[key] == m2[key]
    r1 = IndexReader(spark, out1).topk("merge join", 10).collect()
    r2 = IndexReader(spark, out2).topk("merge join", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in r1] == [(r["doc_id"], r["score"]) for r in r2]


@pytest.mark.parametrize(
    "broken",
    [("edge_ngrams_expr", "key_bucket_expr"), ("corpus_scalars_full", "edge_ngrams_expr")],
)
def test_build_reports_every_failed_phase(spark, docs, tmp_path, monkeypatch, broken):
    """Two build phases fail at once: both errors surface together in one
    ExceptionGroup, not just the first. A failed scalars phase counts
    once, although the phases waiting on its result re-raise it."""
    from ariadna_spark.sources import segments

    def breaker(name):
        def boom(*a, **kw):
            raise RuntimeError(f"{name} broke")

        return boom

    for name in broken:
        monkeypatch.setattr(segments, name, breaker(name))
    with pytest.raises(ExceptionGroup) as ei:
        build_index(spark, docs.limit(40), str(tmp_path / "x"), build_id="f1", n_buckets=2)
    assert sorted(str(e) for e in ei.value.exceptions) == sorted(f"{n} broke" for n in broken)
    assert SegmentStore(str(tmp_path / "x")).live_build() is None


def test_publish_swap_and_gc(spark, docs, tmp_path):
    out = str(tmp_path / "seg")
    build_index(spark, docs.limit(50), out, build_id="old", n_buckets=2)
    build_index(spark, docs, out, build_id="new", n_buckets=2)
    store = SegmentStore(out)
    assert store.live_build() == "new"
    removed = store.gc()
    assert removed == ["old"]
    assert os.path.exists(store.build_dir("new"))
    # reader still works after GC
    assert IndexReader(spark, out).topk("merge", 3).count() >= 0


def test_salting_splits_hot_terms(spark, synth_docs):
    """Zipf-head terms must produce multiple (term, salt) groups."""
    from ariadna_spark.stats import doc_freqs

    tf = term_freqs(synth_docs)
    dl = doc_lengths(tf)
    n, avgdl = corpus_scalars(dl)
    posts = build_postings(tf, n, {"": avgdl}, block_size=16, hot_df_threshold=30, n_salts=4)
    pdf = posts.toPandas()
    hot_list = [
        r["term"] for r in doc_freqs(tf).filter("df > 30").collect()
    ]
    hot = pdf[pdf["term"].isin(hot_list)]
    assert not hot.empty
    # salt is encoded in high bits of block_id
    salts = (hot["block_id"].to_numpy() >> 32)
    assert len(np.unique(salts)) > 1, "hot terms were not range-salted"
    # global order preserved: blocks of a term, sorted by block_id, have
    # non-overlapping increasing doc ranges
    for t in hot["term"].unique()[:5]:
        tb = hot[hot["term"] == t].sort_values("block_id")
        fd, ld = tb["first_doc_id"].to_numpy(), tb["last_doc_id"].to_numpy()
        assert (fd[1:] > ld[:-1]).all(), f"blocks of {t} overlap across salts"


def test_scores_exhaustive_matches_bruteforce(spark, docs, index_dir):
    """scores() (disjunctive exhaustive mode) returns EVERY matching doc
    with its exact BM25 score — the cross-field composition contract."""
    from ariadna_spark.operators.topk import bm25_topk

    reader = IndexReader(spark, index_dir)
    terms = ["merge", "join"]
    got = {r["doc_id"]: r["score"] for r in reader.scores(terms).collect()}
    want = {r["doc_id"]: r["score"] for r in bm25_topk(docs, "merge join", 10**6).collect()}
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(s, abs=1e-9)


def test_multifield_through_index_matches_bruteforce(spark, docs, tmp_path):
    """Per-field indexes + boost-weighted merge == the brute-force
    multifield scorer (same per-field stats model)."""
    import os as _os

    from pyspark.sql import functions as F

    from ariadna_spark import queries as Q
    from ariadna_spark.operators.wand import multifield_topk

    sf = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    expected = Q.q_multifield_bm25(spark, sf).collect()
    got = Q.q_multifield_indexed(spark, sf).collect()
    assert [(r["doc_id"], r["score_r"]) for r in got] == [
        (r["doc_id"], r["score_r"]) for r in expected
    ]


def test_prefix_topk_expansion(spark, docs, index_dir):
    """Prefix query through the ngram table == brute-force OR over the
    LIKE-matched vocabulary."""
    from ariadna_spark.operators.topk import bm25_topk_from_stats
    from ariadna_spark.stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs

    reader = IndexReader(spark, index_dir)
    terms = reader.expand_prefix("sc")
    assert terms, "expected 'sc*' terms in the corpus"
    assert all(t.startswith("sc") for t in terms)
    tf = term_freqs(docs)
    tf.persist()
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    n, avgdl = corpus_scalars(dl)
    expected = bm25_topk_from_stats(tf, dfreq, dl, n, avgdl, terms, 10).collect()
    got = reader.prefix_topk("sc", 10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in expected]
    # too-short and unanalyzable prefixes return empty cleanly
    assert reader.prefix_topk("s", 5).count() == 0
    assert reader.prefix_topk("###", 5).count() == 0


def test_multifield_pruned_equals_exhaustive(spark, docs, tmp_path):
    """VERDICT r4 #1: the combined-bound BM25F WAND must rank exactly like
    the exhaustive per-field scores() union — including queries whose
    terms are missing from one field entirely."""
    import os as _os

    from pyspark.sql import functions as F

    from ariadna_spark.operators.wand import IndexReader, multifield_topk
    from ariadna_spark.sources.segments import build_index

    dir_c = str(tmp_path / "mf_c")
    dir_p = str(tmp_path / "mf_p")
    build_index(spark, docs, dir_c, build_id="c", n_buckets=4)
    build_index(
        spark, docs.withColumn("content", F.col("path")), dir_p, build_id="p", n_buckets=4
    )
    rc, rp = IndexReader(spark, dir_c), IndexReader(spark, dir_p)
    for q in ("doc en merge join", "merge join", "txt doc", "zz9qqq absent"):
        fields = [(rc, 1.0), (rp, 2.0)]
        want = multifield_topk(fields, q, 10, pruned=False).collect()
        got = multifield_topk(fields, q, 10, pruned=True).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9, q


def test_multifield_kernel_prunes_blocks():
    """VERDICT r4 #1 done-criterion: on a skewed two-field fixture the
    combined-bound kernel decodes far fewer blocks than the exhaustive
    path (which decodes every block of every term in every field)."""
    import numpy as np
    import pandas as pd

    from ariadna_spark.functions.varint import (
        delta_encode_ids,
        varint_encode,
    )
    from ariadna_spark.operators.wand import _RangeBlocks, wand_topk

    rng = np.random.default_rng(3)
    rows = []
    n_blocks = 50
    for field in (0, 1):
        for bi in range(n_blocks):
            ids = np.arange(bi * 128, (bi + 1) * 128, dtype=np.int64)
            tfs = np.ones(128, dtype=np.int64)
            dls = np.full(128, 100, dtype=np.int64)
            tf_for_max = 1
            if field == 0 and bi == 54 % n_blocks:  # one dominant block
                tfs[0] = 200
                tf_for_max = 200
            tfn_max = (tf_for_max * 2.2) / (tf_for_max + 1.2 * (0.25 + 0.75))
            rows.append(
                {
                    "rid": 0,
                    "field": field,
                    "term": "x",
                    "df": 6400,
                    "block_id": bi,
                    "n_docs": 128,
                    "first_doc_id": int(ids[0]),
                    "last_doc_id": int(ids[-1]),
                    "block_max_tf": tf_for_max,
                    "block_max_tfnorm": tfn_max,
                    "doc_ids_varint": delta_encode_ids(ids),
                    "tfs_varint": varint_encode(tfs),
                    "dls_varint": varint_encode(dls),
                }
            )
    pdf = pd.DataFrame(rows)
    metas = {0: (64000, 100.0, 1.0), 1: (64000, 100.0, 2.0)}
    stats = {}
    out = wand_topk(
        _RangeBlocks(pdf, metas, range_size=64000), k=1, stride=1024, prune_stats=stats
    )
    assert len(out) == 1
    assert out["doc_id"].iloc[0] == (54 % 50) * 128  # the high-tf doc
    # exhaustive would decode all 100 blocks; the combined bound must not
    assert stats["n_blocks_decoded"] < stats["n_blocks_total"] / 2, stats


def test_fuzzy_topk_expansion(spark, docs, index_dir):
    """Fuzzy query (Levenshtein <= d, shared prefix) through the terms
    table == brute-force OR over the python-expanded vocabulary."""
    from ariadna_spark.analyze import tokenize_py
    from ariadna_spark.operators.topk import bm25_topk_from_stats
    from ariadna_spark.stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    reader = IndexReader(spark, index_dir)
    # expansion: every returned term shares the prefix and is within d
    got_terms = reader.fuzzy_terms("mrege", max_dist=2, prefix_len=1)
    assert "merge" in got_terms
    assert all(t.startswith("m") and lev(t, "mrege") <= 2 for t in got_terms)
    # python reference expansion over the true corpus vocabulary
    vocab = set()
    for r in docs.select("content").collect():
        vocab.update(tokenize_py(r["content"]))
    for tok in ["mrege", "vectr", "sream"]:
        expect = sorted(t for t in vocab if t.startswith(tok[0]) and lev(t, tok) <= 2)
        assert reader.fuzzy_terms(tok, max_dist=2, prefix_len=1) == expect

    # end-to-end: fuzzy_topk == brute-force BM25 over the expanded union
    union = sorted(
        {t for tok in set(tokenize_py("mrege vectr"))
         for t in reader.fuzzy_terms(tok, max_dist=2, prefix_len=1)}
    )
    tf = term_freqs(docs)
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    n, avgdl = corpus_scalars(dl)
    expected = bm25_topk_from_stats(tf, dfreq, dl, n, avgdl, union, 10).collect()
    got = reader.fuzzy_topk("mrege vectr", 10, max_dist=2, prefix_len=1).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == [
        (r["doc_id"], round(r["score"], 6)) for r in expected
    ]
    # no-variant token contributes nothing; all-miss query returns empty
    assert reader.fuzzy_topk("zzznotaterm", 5, max_dist=1).count() == 0


def test_fuzzy_terms_many_batched(spark, index_dir):
    """One-job batched expansion == the per-token scans, token by token
    (same (distance, term) cap order), including a no-variant token."""
    reader = IndexReader(spark, index_dir)
    toks = ["mrege", "vectr", "sream", "zzznotaterm"]
    many = reader.fuzzy_terms_many(toks, max_dist=2, prefix_len=1)
    assert set(many) == set(toks)
    for t in toks:
        assert many[t] == reader.fuzzy_terms(t, max_dist=2, prefix_len=1), t
    # the cap binds identically in both paths
    capped = reader.fuzzy_terms_many(["mrege"], max_dist=2, prefix_len=1, max_terms=2)
    assert capped["mrege"] == reader.fuzzy_terms("mrege", max_dist=2, prefix_len=1, max_terms=2)
    assert len(capped["mrege"]) <= 2
    assert reader.fuzzy_terms_many([]) == {}


def test_explain_score_breakdown(spark, docs, index_dir):
    """ES _explain parity: per-term (tf, doc_len, df, idf, tf_norm)
    breakdown of one (query, doc) pair; the term scores sum to exactly
    the WAND top-k score of that doc, and tf/df/doc_len match the
    brute-force corpus statistics."""
    from ariadna_spark.stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs

    reader = IndexReader(spark, index_dir)
    top = reader.topk("merge join", 1).collect()[0]
    rows = reader.explain_score(top["doc_id"], "merge join").collect()
    assert [r["term"] for r in rows] == sorted(r["term"] for r in rows)
    assert sum(r["score"] for r in rows) == pytest.approx(top["score"], abs=1e-12)
    for r in rows:
        assert r["score"] == pytest.approx(r["idf"] * r["tf_norm"], abs=1e-12)

    tf = term_freqs(docs)
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    n, avgdl = corpus_scalars(dl)
    want_tf = {
        r["term"]: r["tf"]
        for r in tf.filter(F.col("doc_id") == top["doc_id"]).collect()
    }
    want_df = {r["term"]: r["df"] for r in dfreq.collect()}
    want_dl = dl.filter(F.col("doc_id") == top["doc_id"]).collect()[0]["doc_len"]
    for r in rows:
        assert r["tf"] == want_tf[r["term"]]
        assert r["df"] == want_df[r["term"]]
        assert r["doc_len"] == want_dl
    # a term absent from the doc contributes no row (but present terms stay)
    part = reader.explain_score(top["doc_id"], "merge zzznotaterm").collect()
    assert [r["term"] for r in part] == ["merge"]
    # absent doc / empty query -> empty frame with the stable schema
    assert reader.explain_score(10**9, "merge join").count() == 0
    empty = reader.explain_score(top["doc_id"], "")
    assert empty.count() == 0 and "tf_norm" in empty.columns


def test_highlight_topk_snippets(spark, docs, index_dir):
    """Snippets: ranking == plain topk; snippet is the +-window token cut
    around the first query-term occurrence; the winner fetch is a pushed
    IN-list on the corpus scan, not a full content read."""
    from ariadna_spark.analyze import tokenize_py
    from ariadna_spark.plans import physical_plan

    reader = IndexReader(spark, index_dir)
    q, w = "merge join", 3
    plain = reader.topk(q, 5).collect()
    # materialize docs as parquet so the pushdown is observable on a scan
    hl_df = reader.highlight_topk(docs, q, 5, window=w)
    hl = hl_df.collect()
    assert [(r["doc_id"], r["score"]) for r in hl] == [
        (r["doc_id"], r["score"]) for r in plain
    ]
    content = {r["doc_id"]: r["content"] for r in docs.collect()}
    terms = set(tokenize_py(q))
    for r in hl:
        toks = tokenize_py(content[r["doc_id"]])
        fp = min(i for i, t in enumerate(toks) if t in terms)
        assert r["first_term"] == toks[fp]
        assert r["snippet"] == " ".join(toks[max(0, fp - w) : fp + w + 1])
        assert r["first_term"] in r["snippet"].split()
    # the winner ids appear as a literal IN-list filter (pushable to a
    # parquet scan's PushedFilters when docs is file-backed)
    assert " IN (" in physical_plan(hl_df), physical_plan(hl_df)
    # empty query -> empty frame with the right schema
    assert reader.highlight_topk(docs, "zzznotaterm", 5).count() == 0


def test_more_like_this(spark, docs, index_dir):
    """MLT: deterministic term selection (tf x idf off the terms table),
    disjunctive WAND over the selection, source doc excluded."""
    import math
    from collections import Counter

    from ariadna_spark.analyze import tokenize_py
    from ariadna_spark.operators.topk import bm25_topk_from_stats
    from ariadna_spark.stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs

    reader = IndexReader(spark, index_dir)
    src = 7
    rows = {r["doc_id"]: r["content"] for r in docs.collect()}
    tfc = Counter(tokenize_py(rows[src]))
    n = docs.count()
    dfm = Counter()
    for c in rows.values():
        dfm.update(set(tokenize_py(c)))
    ranked = sorted(
        ((t, tfc[t] * math.log(1.0 + (n - dfm[t] + 0.5) / (dfm[t] + 0.5))) for t in tfc),
        key=lambda kv: (-kv[1], kv[0]),
    )
    selected = sorted(t for t, _ in ranked[:10])

    tf = term_freqs(docs)
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    nn, avgdl = corpus_scalars(dl)
    expected = [
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_topk_from_stats(tf, dfreq, dl, nn, avgdl, selected, 6).collect()
        if r["doc_id"] != src
    ][:5]
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in reader.more_like_this(docs, src, 5, max_query_terms=10).collect()
    ]
    assert got == expected
    assert src not in [d for d, _ in got]
    # missing source doc -> empty
    assert reader.more_like_this(docs, 10**9, 5).count() == 0


def test_facet_counts_match_bruteforce(spark, docs, index_dir):
    """Terms-agg facet: per-lang counts off candidate_doc_ids == per-lang
    counts of a brute-force OR match."""
    from ariadna_spark.analyze import tokenize_py

    reader = IndexReader(spark, index_dir)
    terms = sorted(set(tokenize_py("merge join")))
    got = {
        r["lang"]: r["n"]
        for r in docs.select("doc_id", "lang")
        .join(reader.candidate_doc_ids(terms), "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {}
    for r in docs.collect():
        if set(tokenize_py(r["content"])) & set(terms):
            want[r["lang"]] = want.get(r["lang"], 0) + 1
    assert got == want and got


def test_search_after_paginates(spark, index_dir):
    """Page 1 + cursor-paged page 2 == one top-2k run, exactly (ES
    search_after semantics: strictly after (score desc, doc_id asc))."""
    reader = IndexReader(spark, index_dir)
    full = [(r["doc_id"], r["score"]) for r in reader.topk("merge join", 20).collect()]
    p1 = reader.topk("merge join", 10).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = reader.topk("merge join", 10, after=cur).collect()
    got = [(r["doc_id"], r["score"]) for r in list(p1) + list(p2)]
    assert got == full
    assert len(p2) == 10


def test_search_after_exhausted(spark, index_dir):
    """A cursor at the very last match yields an empty page, not junk."""
    reader = IndexReader(spark, index_dir)
    allr = reader.topk("merge join", 10**6).collect()
    cur = (allr[-1]["score"], allr[-1]["doc_id"])
    assert reader.topk("merge join", 5, after=cur).count() == 0


def test_filtered_topk_matches_bruteforce(spark, docs, index_dir):
    """Filter context == post-filter of the exhaustive ranking; corpus
    stats stay global (the ES non-scoring filter clause)."""
    reader = IndexReader(spark, index_dir)
    q = "merge join"
    allowed = {r["doc_id"] for r in docs.filter(F.col("lang") == "fr").collect()}
    full = reader.topk(q, 10**6).collect()
    exp = [(r["doc_id"], r["score"]) for r in full if r["doc_id"] in allowed][:5]
    got = [
        (r["doc_id"], r["score"])
        for r in reader.filtered_topk(q, F.col("lang") == "fr", 5).collect()
    ]
    assert got == exp and got


def test_filtered_topk_empty_filter(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    assert reader.filtered_topk("merge join", F.col("lang") == "zz", 5).count() == 0


def test_filtered_kernel_skips_strides():
    """Strides holding no allowed doc are never visited: with one allowed
    doc, exactly one block decodes out of 50."""
    from ariadna_spark.functions.varint import delta_encode_ids, varint_encode

    n_docs, avgdl = 100_000, 100.0
    rows = []
    for bi in range(50):
        ids = np.arange(bi * 1000, bi * 1000 + 128, dtype=np.int64)
        tfs = np.full(128, 1, dtype=np.uint64)
        dls = np.full(128, 100, dtype=np.uint64)
        rows.append(
            {
                "rid": 0,
                "term": "x",
                "df": 6400,
                "block_id": bi,
                "n_docs": 128,
                "first_doc_id": int(ids[0]),
                "last_doc_id": int(ids[-1]),
                "block_max_tf": 1,
                "block_max_tfnorm": 2.2 / (1 + 1.2),
                "doc_ids_varint": delta_encode_ids(ids),
                "tfs_varint": varint_encode(tfs),
                "dls_varint": varint_encode(dls),
                "is_filt": False,
            }
        )
    rows.append({"rid": 0, "first_doc_id": 7005, "is_filt": True})
    pdf = pd.DataFrame(rows)
    stats = {}
    out = wand_kernel(
        pdf, n_docs, avgdl, k=3, range_size=64000, stride=1024, prune_stats=stats
    )
    assert list(out["doc_id"]) == [7005]
    assert stats["n_blocks_decoded"] == 1, stats


def _bool_bruteforce(docs, must, should, must_not, msm, flt_lang=None):
    """Driver-side reference for the ES bool query over the tiny fixture."""
    from ariadna_spark.analyze import tokenize_py
    from ariadna_spark.operators.topk import bm25_topk

    m = set(tokenize_py(must))
    s = set(tokenize_py(should))
    n = set(tokenize_py(must_not))
    scored = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, " ".join(sorted(m | s)), 10**6).collect()
    }
    out = []
    for r in docs.collect():
        toks = set(tokenize_py(r["content"]))
        if m - toks or (toks & n) or len(toks & s) < msm:
            continue
        if flt_lang is not None and r["lang"] != flt_lang:
            continue
        if r["doc_id"] in scored:
            out.append((r["doc_id"], scored[r["doc_id"]]))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


@pytest.mark.parametrize(
    "must,should,must_not,msm",
    [
        ("merge join", "", "", 0),
        ("merge", "sort window", "", 1),
        ("", "merge join sort", "", 2),
        ("merge", "", "window", 0),
        ("merge join", "stream", "sort", 0),
    ],
)
def test_bool_topk_matches_bruteforce(spark, docs, index_dir, must, should, must_not, msm):
    reader = IndexReader(spark, index_dir)
    exp = _bool_bruteforce(docs, must, should, must_not, msm)[:7]
    got = [
        (r["doc_id"], r["score"])
        for r in reader.bool_topk(must, should, must_not, msm=msm, k=7).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp], (must, should, must_not, msm)
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=1e-9)


def test_bool_topk_with_filter(spark, docs, index_dir):
    reader = IndexReader(spark, index_dir)
    exp = _bool_bruteforce(docs, "merge", "join", "", 0, flt_lang="fr")[:5]
    got = [
        (r["doc_id"], r["score"])
        for r in reader.bool_topk(
            "merge", "join", flt=F.col("lang") == "fr", k=5
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp] and got


def test_bool_topk_rejects_overlapping_clauses(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    with pytest.raises(ValueError):
        reader.bool_topk("merge", "merge join", "")
    with pytest.raises(ValueError):
        reader.bool_topk("merge", "", "merge")


def test_bool_topk_missing_must_term_is_empty(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    assert reader.bool_topk("merge zzznotaterm", "", "").count() == 0


def test_bool_kernel_conjunctive_prune():
    """A rare must term confines visits to its strides: blocks of the
    common term outside those strides never decode."""
    from ariadna_spark.functions.varint import delta_encode_ids, varint_encode
    from ariadna_spark.operators.wand import _RangeBlocks, bool_kernel

    n_docs, avgdl = 100_000, 100.0
    rows = []
    # common term: 50 blocks across the whole range
    for bi in range(50):
        ids = np.arange(bi * 1000, bi * 1000 + 128, dtype=np.int64)
        rows.append(
            {
                "rid": 0,
                "term": "common",
                "df": 6400,
                "block_id": bi,
                "n_docs": 128,
                "first_doc_id": int(ids[0]),
                "last_doc_id": int(ids[-1]),
                "block_max_tf": 1,
                "block_max_tfnorm": 2.2 / (1 + 1.2),
                "doc_ids_varint": delta_encode_ids(ids),
                "tfs_varint": varint_encode(np.full(128, 1, dtype=np.uint64)),
                "dls_varint": varint_encode(np.full(128, 100, dtype=np.uint64)),
            }
        )
    # rare must term: one block, 3 docs inside block 7's doc range
    rare_ids = np.array([7001, 7050, 7100], dtype=np.int64)
    rows.append(
        {
            "rid": 0,
            "term": "rare",
            "df": 3,
            "block_id": 999,
            "n_docs": 3,
            "first_doc_id": 7001,
            "last_doc_id": 7100,
            "block_max_tf": 1,
            "block_max_tfnorm": 2.2 / (1 + 1.2),
            "doc_ids_varint": delta_encode_ids(rare_ids),
            "tfs_varint": varint_encode(np.full(3, 1, dtype=np.uint64)),
            "dls_varint": varint_encode(np.full(3, 100, dtype=np.uint64)),
        }
    )
    stats = {}
    out = bool_kernel(
        _RangeBlocks(pd.DataFrame(rows), {0: (n_docs, avgdl, 1.0)}, range_size=64000),
        k=10,
        must_terms=["rare", "common"],
        should_terms=[],
        not_terms=[],
        stride=1024,
        prune_stats=stats,
    )
    assert sorted(out["doc_id"]) == [7001, 7050, 7100]
    # only the strides the rare block covers are visited: the rare block
    # plus the overlapping common block(s), not all 51
    assert stats["n_blocks_decoded"] <= 3, stats


def test_match_aggs_values_and_single_pass(spark, docs, index_dir):
    """Range/histogram/stats/cardinality aggs match a brute-force pass
    over the corpus, and the grouping-sets exchange is REUSED across the
    union branches — the candidate decode runs once, not per agg."""
    from ariadna_spark.analyze import tokenize_py

    reader = IndexReader(spark, index_dir)
    df = reader.match_aggs("merge join")
    rows = df.collect()
    got = {(r["agg"], r["bucket"]): (r["n_docs"], r["metric"]) for r in rows}

    terms = set(tokenize_py("merge join"))
    lens, langs = [], set()
    for r in docs.collect():
        toks = tokenize_py(r["content"])
        if set(toks) & terms:
            lens.append(len(toks))
            langs.add(r["lang"])
    n = len(lens)
    assert got[("cardinality", "lang")] == (n, float(len(langs)))
    assert got[("stats", "min")] == (n, float(min(lens)))
    assert got[("stats", "max")] == (n, float(max(lens)))
    assert got[("stats", "sum")] == (n, float(sum(lens)))
    assert got[("stats", "avg")][1] == pytest.approx(sum(lens) / n, abs=1e-4)
    want_rng = {}
    for L in lens:
        b = "short" if L < 40 else ("medium" if L < 80 else "long")
        want_rng[b] = want_rng.get(b, 0) + 1
    for b, c in want_rng.items():
        assert got[("range", b)][0] == c
    want_hist = {}
    for L in lens:
        want_hist[str(L // 25 * 25)] = want_hist.get(str(L // 25 * 25), 0) + 1
    for b, c in want_hist.items():
        assert got[("histogram", b)][0] == c
    # every agg appears; no spurious buckets
    assert {a for a, _ in got} == {"range", "histogram", "stats", "cardinality"}
    assert len([1 for a, _ in got if a == "range"]) == len(want_rng)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, "grouping-sets exchange not reused"


def test_sorted_topk_pages_and_plan(spark, docs, index_dir):
    """Field-sorted search: page1+page2 == one 2k run; matches a brute
    force; the plan is TakeOrdered (no full sort)."""
    from ariadna_spark.analyze import tokenize_py

    reader = IndexReader(spark, index_dir)
    terms = set(tokenize_py("merge join"))
    want = sorted(
        (
            (len(tokenize_py(r["content"])), r["doc_id"])
            for r in docs.collect()
            if set(tokenize_py(r["content"])) & terms
        ),
        key=lambda x: (-x[0], x[1]),
    )
    full = reader.sorted_topk("merge join", "doc_len", asc=False, k=12)
    got = [(r["doc_len"], r["doc_id"]) for r in full.collect()]
    assert got == want[:12]
    p1 = reader.sorted_topk("merge join", "doc_len", asc=False, k=6).collect()
    cur = (p1[-1]["doc_len"], p1[-1]["doc_id"])
    p2 = reader.sorted_topk("merge join", "doc_len", asc=False, k=6, after=cur).collect()
    assert [(r["doc_len"], r["doc_id"]) for r in list(p1) + list(p2)] == want[:12]
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    # ascending + filter context compose
    fr = reader.sorted_topk(
        "merge join", "doc_len", asc=True, k=5, flt=F.col("lang") == "fr"
    ).collect()
    fr_ids = {r["doc_id"] for r in docs.filter("lang = 'fr'").collect()}
    assert {r["doc_id"] for r in fr} <= fr_ids
    lens = [r["doc_len"] for r in fr]
    assert lens == sorted(lens)
    # ADVICE r5: a filter over a docmap column OUTSIDE the projected
    # result set (commit is FILTERABLE in serve.py) must work — the flt
    # applies before the narrowing select
    one = docs.limit(1).collect()[0]
    q1 = " ".join(tokenize_py(one["content"])[:2])
    byc = reader.sorted_topk(
        q1, "path", k=5, flt=F.col("commit") == one["commit"]
    ).collect()
    assert {r["doc_id"] for r in byc} == {one["doc_id"]}
    with pytest.raises(ValueError):
        reader.sorted_topk("merge join", "content_sha")


def test_term_vectors(spark, docs, index_dir):
    """_termvectors: tf/positions match a re-analysis, df matches the
    terms table; missing doc -> empty."""
    from ariadna_spark.analyze import tokenize_py

    reader = IndexReader(spark, index_dir)
    src = docs.filter(F.col("doc_id") == 3).collect()[0]["content"]
    toks = tokenize_py(src)
    got = {r["term"]: r for r in reader.term_vectors(docs, 3).collect()}
    assert set(got) == set(toks)
    for t in set(toks):
        assert got[t]["tf"] == toks.count(t)
        assert got[t]["positions"] == [i for i, x in enumerate(toks) if x == t]
    # df agrees with the driver-side diagnostic lookup
    dfs = reader._df_for_terms(sorted(set(toks))).collect()
    want_df = {r["term"]: r["df"] for r in dfs}
    for t in set(toks):
        assert got[t]["df"] == want_df[t] > 0
    assert reader.term_vectors(docs, 10**9).count() == 0


def test_match_count(spark, docs, index_dir):
    from ariadna_spark.analyze import tokenize_py

    reader = IndexReader(spark, index_dir)
    terms = set(tokenize_py("merge join"))
    want = sum(
        1 for r in docs.collect() if set(tokenize_py(r["content"])) & terms
    )
    assert reader.match_count("merge join").collect()[0]["n_docs"] == want
    assert reader.match_count("zzznotaterm").collect()[0]["n_docs"] == 0


def test_fsck_clean_and_corrupted(spark, docs, index_dir, tmp_path):
    """verify_index is green on a fresh build, and catches a tampered
    block (first_doc_id shifted) plus a deleted bucket marker."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from ariadna_spark.sources.segments import verify_index

    rep = verify_index(spark, index_dir)
    assert rep["ok"], rep["errors"]
    b = rep["builds"]["t1"]
    assert b["blocks"]["blocks"] > 0 and b["blocks"]["postings"] > 0
    assert b["df_mismatch_terms"] == 0 and b["docmap_docs"] == docs.count()

    # corrupt a copy: shift one block's first_doc_id and drop a marker
    out = str(tmp_path / "corrupt")
    shutil.copytree(index_dir, out)
    f = sorted(glob.glob(f"{out}/builds/t1/bucket=0/*.parquet"))[0]
    t = pq.read_table(f)
    import pyarrow as pa

    fdi = t.column("first_doc_id").to_pylist()
    fdi[0] = fdi[0] + 1
    cols = {n: t.column(n) for n in t.schema.names}
    cols["first_doc_id"] = pa.array(fdi, type=pa.int64())
    pq.write_table(pa.table(cols), f)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):  # stale Hadoop checksum sidecar from copytree
        os.remove(crc)
    os.remove(f"{out}/builds/t1/_bucket_1.json")

    rep2 = verify_index(spark, out)
    assert not rep2["ok"]
    msgs = "\n".join(rep2["errors"])
    assert "bad_bounds" in msgs and "_bucket_1.json" in msgs


def test_suggesters(spark, docs, index_dir):
    """ES suggest surface: completion (both the edge-ngram and terms-scan
    plans) and did-you-mean corrections match a brute-force vocabulary
    derivation from the raw corpus."""
    from collections import Counter

    from ariadna_spark.analyze import tokenize_py

    reader = IndexReader(spark, index_dir)
    dfc: Counter = Counter()
    for r in docs.select("content").collect():
        for t in set(tokenize_py(r["content"])):
            dfc[t] += 1

    for pre in ("s", "sm"):  # 1-char = terms scan; 2-char = edge-ngram read
        got = [(r["term"], r["df"]) for r in reader.suggest_terms(pre, size=10).collect()]
        want = sorted(
            ((t, n) for t, n in dfc.items() if t.startswith(pre)),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert got == want, (pre, got, want)

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(cur[j - 1] + 1, prev[j] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    got = [
        (r["term"], r["dist"], r["df"])
        for r in reader.suggest_corrections("smal", size=10).collect()
    ]
    cands = [
        (t, lev(t, "smal"), n)
        for t, n in dfc.items()
        if t.startswith("s") and abs(len(t) - 4) <= 2
    ]
    want = sorted(
        (c for c in cands if c[1] <= 2), key=lambda x: (x[1], -x[2], x[0])
    )[:10]
    assert got == want and len(got) >= 2, (got, want)
    # analyzer-empty inputs -> empty frames with stable schemas
    assert reader.suggest_terms("!!!").count() == 0
    assert reader.suggest_corrections("???").count() == 0


def test_bool_topk_search_after(spark, index_dir):
    """search_after pages a bool query exactly: page1 + page2 (cursor =
    page1's last (score, doc_id)) == the top-2k run in one shot."""
    reader = IndexReader(spark, index_dir)
    both = reader.bool_topk("scan", should="merge join", msm=1, k=10).collect()
    assert len(both) == 10
    p1 = reader.bool_topk("scan", should="merge join", msm=1, k=5).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = reader.bool_topk("scan", should="merge join", msm=1, k=5, after=cur).collect()
    got = [(r["doc_id"], r["score"]) for r in p1 + p2]
    want = [(r["doc_id"], r["score"]) for r in both]
    assert got == want


@pytest.fixture(scope="module")
def mf_store(spark, docs, tmp_path_factory):
    """One multifield store over (content, path, repo) — r6's single-pass
    per-field-term layout."""
    out = str(tmp_path_factory.mktemp("mf_single"))
    build_index(
        spark, docs, out, fields=("content", "path", "repo"), build_id="mf", n_buckets=8
    )
    return out


def test_multifield_store_is_dropin_superset(spark, docs, index_dir, mf_store):
    """The multifield store's PRIMARY field serves the ENTIRE existing
    verb surface unchanged: match / phrase / prefix / fuzzy / suggest
    results are row-identical (ids AND scores) to a plain content-only
    build over the same corpus."""
    plain = IndexReader(spark, index_dir)
    mf = IndexReader(spark, mf_store)
    assert mf.field_stats is not None and mf.primary_field == "content"
    # primary stats == plain stats (bit-exact: same F.avg over same rows)
    assert mf.stats["N"] == plain.stats["N"]
    assert mf.stats["avgdl"] == plain.stats["avgdl"]
    for a, b in [
        (mf.topk("merge join", 10), plain.topk("merge join", 10)),
        (mf.phrase_topk("merge join", 10), plain.phrase_topk("merge join", 10)),
        (mf.prefix_topk("mer", 10), plain.prefix_topk("mer", 10)),
        (mf.fuzzy_topk("mrege", 10), plain.fuzzy_topk("mrege", 10)),
        (mf.suggest_terms("mer", 5), plain.suggest_terms("mer", 5)),
    ]:
        assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_multifield_single_store_matches_per_field_stores(
    spark, docs, tmp_path_factory, mf_store
):
    """BM25F through ONE store (field-prefixed terms, per-field stats)
    is rank- AND score-identical to the one-store-per-field layout."""
    from ariadna_spark.operators.wand import multifield_topk, multifield_topk_single
    from pyspark.sql import functions as F2

    stores = {}
    for f in ("content", "path", "repo"):
        out = str(tmp_path_factory.mktemp(f"mf_{f}"))
        d = docs if f == "content" else docs.withColumn("content", F2.col(f))
        build_index(spark, d, out, build_id=f[0], n_buckets=8)
        stores[f] = IndexReader(spark, out)

    weights = [("content", 1.0), ("path", 2.0), ("repo", 1.5)]
    mf = IndexReader(spark, mf_store)
    for q in ("merge join", "doc en merge", "txt corpus scan", "zzznotaterm"):
        single = [tuple(r) for r in multifield_topk_single(mf, weights, q, 10).collect()]
        multi = [
            tuple(r)
            for r in multifield_topk(
                [(stores[n], w) for n, w in weights], q, 10
            ).collect()
        ]
        assert single == multi, q
    # subset of fields works too (primary not required)
    sub = multifield_topk_single(mf, [("path", 1.0)], "doc en", 5).collect()
    assert sub and all(r["score"] > 0 for r in sub)
    with pytest.raises(ValueError, match="unknown fields"):
        multifield_topk_single(mf, [("nope", 1.0)], "doc", 5)
    with pytest.raises(ValueError, match=r"unknown fields \['path', 'repo'\]"):
        multifield_topk_single(stores["content"], weights, "doc", 5)


def test_multifield_store_compaction(spark, docs, tmp_path_factory, mf_store):
    """compact() on a multifield store re-derives exact per-field stats
    from the decoded blocks: BM25F and primary-field results are
    row-identical before and after; deletions then work end to end
    (tombstoned BM25F raises until compacted, the documented contract)."""
    import shutil as _sh

    from ariadna_spark.operators.wand import multifield_topk_single
    from ariadna_spark.sources.segments import compact, delete_by_query, verify_index

    out = str(tmp_path_factory.mktemp("mf_compact")) + "/store"
    _sh.copytree(mf_store, out)
    weights = [("content", 1.0), ("path", 2.0), ("repo", 1.5)]
    r0 = IndexReader(spark, out)
    before_mf = [tuple(r) for r in multifield_topk_single(r0, weights, "doc en merge", 10).collect()]
    before_match = [tuple(r) for r in r0.topk("merge join", 10).collect()]
    compact(spark, out, build_id="c1", n_buckets=8)
    r1 = IndexReader(spark, out)
    assert r1.field_stats == r0.field_stats
    assert [tuple(r) for r in multifield_topk_single(r1, weights, "doc en merge", 10).collect()] == before_mf
    assert [tuple(r) for r in r1.topk("merge join", 10).collect()] == before_match
    assert verify_index(spark, out)["ok"]

    # delete a few docs: primary-field queries mask immediately; BM25F
    # refuses until compaction recomputes per-field stats
    from pyspark.sql import functions as F2

    victims = {r["doc_id"] for r in r1.topk("merge join", 3).collect()}
    delete_by_query(spark, out, flt=F2.col("doc_id").isin(list(victims)), build_id="d1")
    r2 = IndexReader(spark, out)
    assert not ({r["doc_id"] for r in r2.topk("merge join", 10).collect()} & victims)
    with pytest.raises(NotImplementedError):
        multifield_topk_single(r2, weights, "doc en merge", 10)
    compact(spark, out, build_id="c2", n_buckets=8)
    r3 = IndexReader(spark, out)
    got = multifield_topk_single(r3, weights, "doc en merge", 10).collect()
    assert got and not ({r["doc_id"] for r in got} & victims)
    assert r3.field_stats["content"]["N"] == r1.field_stats["content"]["N"] - len(victims)


@pytest.mark.parametrize("how", ["append_segment", "update_by_query"])
def test_multifield_store_append_then_compact(spark, docs, tmp_path, how):
    """A segment appended to a (content, path) store indexes the store's
    fields: BM25F returns the appended docs, compact() merges the builds,
    and BM25F rows and scores are the same before and after compaction.
    The appended docs carry fresh doc ids and (repo, path) keys, so no
    tombstones stand in BM25F's way."""
    from ariadna_spark.operators.wand import multifield_topk_single
    from ariadna_spark.sources.segments import append_segment, compact, update_by_query

    out = str(tmp_path / "mf_append")
    build_index(spark, docs, out, fields=("content", "path"), build_id="b0", n_buckets=4)
    pick = F.col("doc_id") % 7 == 3
    fresh = {
        "doc_id": F.col("doc_id") + 1_000_000,
        "path": F.concat(F.lit("appended/"), F.col("path")),
    }
    if how == "append_segment":
        batch = docs.filter(pick).withColumns(fresh)
        append_segment(spark, batch, out, build_id="a1", n_buckets=4)
    else:
        update_by_query(spark, out, docs, pick, set_cols=fresh, build_id="a1", n_buckets=4)
    new_ids = {r["doc_id"] + 1_000_000 for r in docs.filter(pick).select("doc_id").collect()}

    weights = [("content", 1.0), ("path", 2.0)]
    r0 = IndexReader(spark, out)
    assert r0.build_ids == ["b0", "a1"] and not r0.has_tombstones
    hits = multifield_topk_single(r0, [("path", 1.0)], "appended", 10).collect()
    assert len(hits) == min(10, len(new_ids)) and {r["doc_id"] for r in hits} <= new_ids
    before = [tuple(r) for r in multifield_topk_single(r0, weights, "appended merge join", 10).collect()]
    assert {r[0] for r in before} & new_ids

    compact(spark, out, build_id="c1", n_buckets=4)
    r1 = IndexReader(spark, out)
    assert r1.build_ids == ["c1"] and r1.field_stats == r0.field_stats
    after = [tuple(r) for r in multifield_topk_single(r1, weights, "appended merge join", 10).collect()]
    assert after == before


def test_read_paths_create_nothing(spark, tmp_path):
    """Opening a path that is not a store fails or reads empty, and
    leaves nothing behind on disk."""
    typo = tmp_path / "typo"
    with pytest.raises(FileNotFoundError):
        IndexReader(spark, str(typo))
    store = SegmentStore(str(typo))
    assert store.live_builds() == []
    assert store.gc() == []
    assert not typo.exists()


def _keyed_docs(spark, rows):
    """(doc_id, path, content) triples -> a docs frame whose (repo, path)
    keys are unique per doc (repo = r<doc_id>), so appends overwrite
    nothing."""
    return spark.createDataFrame(
        [(i, f"r{i}", path, "c", "en", content) for i, path, content in rows],
        "doc_id long, repo string, path string, commit string, lang string, content string",
    ).withColumn("content_sha", F.sha2("content", 256))


def test_bm25f_bounds_scale_per_field(spark, tmp_path):
    """Across builds, a secondary field's block-max bounds scale by that
    field's own avgdl growth. Here path avgdl goes from 1.01 (b0) to 51.0
    merged while content's stays 4, so a bound scaled by the primary's
    ratio would be ~50x too low and WAND would prune doc 1500, the one
    doc whose path repeats the query term: BM25F top-1 before compaction
    must equal top-1 after it (one build, exact bounds)."""
    from ariadna_spark.operators.wand import multifield_topk_single
    from ariadna_spark.sources.segments import append_segment, compact

    out = str(tmp_path / "scale")
    content = "alpha beta gamma delta"
    filler = " ".join(f"w{j}" for j in range(20))
    base = [(i, ("zeta " * 10 + filler) if i == 1500 else "zeta", content) for i in range(2048)]
    long_path = " ".join(f"p{j}" for j in range(101))
    more = [(i, long_path, content) for i in range(4096, 6144)]
    build_index(spark, _keyed_docs(spark, base), out, fields=("content", "path"),
                build_id="b0", n_buckets=4)
    append_segment(spark, _keyed_docs(spark, more), out, build_id="a1", n_buckets=4)
    r0 = IndexReader(spark, out)
    assert [st["fields"]["path"]["avgdl"] for st in r0.build_stats] == [1.01416015625, 101.0]
    before = [tuple(r) for r in multifield_topk_single(r0, [("path", 1.0)], "zeta", 1).collect()]
    compact(spark, out, build_id="c1", n_buckets=4)
    r1 = IndexReader(spark, out)
    assert r1.field_stats == r0.field_stats
    after = [tuple(r) for r in multifield_topk_single(r1, [("path", 1.0)], "zeta", 1).collect()]
    assert after[0][0] == 1500
    assert before == after


def test_bm25f_primary_field_over_pending_deletes(spark, docs, tmp_path):
    """BM25F refuses only a SECONDARY field of a store with pending
    deletes: the primary field's statistics are tombstone-corrected, so
    BM25F over it equals the match query (one field, boost 1), for both
    wrappers."""
    from ariadna_spark.operators.wand import multifield_topk, multifield_topk_single
    from ariadna_spark.sources.segments import delete_by_query

    out = str(tmp_path / "mf_del")
    build_index(spark, docs, out, fields=("content", "path"), build_id="b0", n_buckets=4)
    r0 = IndexReader(spark, out)
    victims = [r["doc_id"] for r in r0.topk("merge join", 3).collect()]
    delete_by_query(spark, out, flt=F.col("doc_id").isin(victims), build_id="d1")
    r = IndexReader(spark, out)
    assert r.has_tombstones and r.field_stats["content"]["N"] == r.stats["N"]
    want = [tuple(x) for x in r.topk("merge join", 10).collect()]
    assert want and not ({x[0] for x in want} & set(victims))
    single = multifield_topk_single(r, [("content", 1.0)], "merge join", 10).collect()
    assert [tuple(x) for x in single] == want
    assert [tuple(x) for x in multifield_topk([(r, 1.0)], "merge join", 10).collect()] == want
    with pytest.raises(NotImplementedError, match="secondary field 'path'"):
        multifield_topk_single(r, [("content", 1.0), ("path", 2.0)], "merge join", 10)


def test_build_is_byte_deterministic(spark, docs, tmp_path):
    """Two builds of the same docs in one session write byte-identical
    parquet files (named alike once the per-job uuid is dropped from the
    part names) and JSON markers that are equal once their wall-clock
    `wall_ms` fields are dropped: the build leaves no file-order or
    row-order nondeterminism of its own."""
    import re

    uuid = re.compile(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")

    def files(out):
        got = {}
        for dp, _, fns in os.walk(out):
            for fn in fns:
                p = os.path.join(dp, fn)
                with open(p, "rb") as f:
                    got[uuid.sub("", os.path.relpath(p, out))] = f.read()
        return got

    def timeless(x):
        if isinstance(x, dict):
            return {k: timeless(v) for k, v in x.items() if k != "wall_ms"}
        if isinstance(x, list):
            return [timeless(v) for v in x]
        return x

    runs = []
    for name in ("a", "b"):
        out = str(tmp_path / name)
        build_index(spark, docs, out, build_id="d", n_buckets=4)
        runs.append(files(out))
    a, b = runs
    assert a.keys() == b.keys()
    parquet = [p for p in a if p.endswith(".parquet")]
    markers = [p for p in a if p.endswith(".json")]
    assert parquet and markers
    assert [p for p in parquet if a[p] != b[p]] == []
    assert [p for p in markers if timeless(json.loads(a[p])) != timeless(json.loads(b[p]))] == []
