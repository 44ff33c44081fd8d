"""Source connectors (A2 widened): the SAME corpus through parquet, a
catalog table, NDJSON, and CSV must produce byte-identical canonical docs
(content_sha invariant) and identical index results."""

import pytest
from pyspark.sql import functions as F

from ariadna_spark.corpus import (
    DOCS_COLUMNS,
    load_docs_csv,
    load_docs_json,
    load_docs_table,
    synth_code_corpus,
)


@pytest.fixture(scope="module")
def src_docs(spark):
    d = synth_code_corpus(spark, n=80, seed=11)
    d.persist()
    d.count()
    return d


def _fingerprint(df):
    return sorted(
        (r["doc_id"], r["content_sha"])
        for r in df.select("doc_id", "content_sha").collect()
    )


def test_table_source_roundtrip(spark, src_docs):
    src_docs.createOrReplaceTempView("docs_tbl")
    got = load_docs_table(spark, "docs_tbl")
    assert got.columns == DOCS_COLUMNS
    assert _fingerprint(got) == _fingerprint(src_docs)


def test_json_source_roundtrip(spark, src_docs, tmp_path):
    p = str(tmp_path / "docs_json")
    src_docs.select(*[c for c in DOCS_COLUMNS if c != "content_sha"]).write.json(p)
    got = load_docs_json(spark, p)
    assert _fingerprint(got) == _fingerprint(src_docs)


def test_csv_source_roundtrip(spark, src_docs, tmp_path):
    """CSV round-trips exactly for newline-trimmed content; the one-
    trailing-newline loss is the documented connector limitation."""
    p = str(tmp_path / "docs_csv")
    trimmed = src_docs.withColumn("content", F.regexp_replace("content", "\\n+$", ""))
    (
        trimmed.select(*[c for c in DOCS_COLUMNS if c != "content_sha"])
        .write.options(header=True, escape='"')
        .csv(p)
    )
    with pytest.raises(ValueError, match="trailing newline"):
        load_docs_csv(spark, p)  # fail-fast default (ADVICE r2)
    got = load_docs_csv(spark, p, trailing_newline_unsafe=True)
    want = trimmed.withColumn("content_sha", F.sha2(F.col("content"), 256))
    assert _fingerprint(got) == _fingerprint(want)
    # the documented boundary: a value ending in '\n' loses exactly that
    one = spark.createDataFrame(
        [(1, "r", "p", "c", "py", "line1\nline2\n")],
        "doc_id long, repo string, path string, commit string, lang string, content string",
    )
    p2 = str(tmp_path / "docs_csv2")
    one.write.options(header=True, escape='"').csv(p2)
    back = load_docs_csv(spark, p2, trailing_newline_unsafe=True).first()["content"]
    assert back == "line1\nline2"  # interior newline survives, trailing one does not


def test_sources_build_identical_index(spark, src_docs, tmp_path):
    """An index built from the JSON copy answers identically to one built
    from the original frame — the source connector is invisible."""
    from ariadna_spark.operators.wand import IndexReader
    from ariadna_spark.sources.segments import build_index

    p = str(tmp_path / "dj")
    src_docs.select(*[c for c in DOCS_COLUMNS if c != "content_sha"]).write.json(p)
    out_a, out_b = str(tmp_path / "ia"), str(tmp_path / "ib")
    build_index(spark, src_docs, out_a, build_id="a", n_buckets=2)
    build_index(spark, load_docs_json(spark, p), out_b, build_id="b", n_buckets=2)
    ra = IndexReader(spark, out_a).topk("binary_search hashMap", 5).collect()
    rb = IndexReader(spark, out_b).topk("binary_search hashMap", 5).collect()
    assert [(r["doc_id"], r["score"]) for r in ra] == [(r["doc_id"], r["score"]) for r in rb]


def test_worker_warmup_once_per_session(spark, monkeypatch):
    """ensure_workers_warm fires its background job exactly once per
    session: the second call must see the marker and spawn nothing (the
    warm-up moved to session creation in r7 — a per-build re-fire would
    waste a job per micro-batch under streaming ingestion)."""
    from ariadna_spark import session as S

    # count runs of the warm-up job itself rather than intercepting every
    # thread the process creates
    ran = []
    monkeypatch.setattr(S, "_warm_python_workers", ran.append)
    monkeypatch.setattr(spark, "_ariadna_workers_warmed", False, raising=False)
    t = S.ensure_workers_warm(spark)
    assert S.ensure_workers_warm(spark) is None
    t.join(timeout=10)
    assert ran == [spark]
    assert spark._ariadna_workers_warmed is True
