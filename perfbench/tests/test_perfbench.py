"""Tests of the benchmark's own code: seeded inputs, the percentile helper
and the BM25 reference. Run with ``python -m pytest perfbench/tests -q``."""

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.inputs import make_queries, stage_corpus  # noqa: E402
from perfbench.measure import tail_percentile  # noqa: E402
from perfbench.reference import Bm25Reference, same_topk  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from ariadna_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    yield s
    s.stop()


def _stage(spark, seed, out):
    return stage_corpus(spark, seed, n_base=150, n_batches=2, batch_docs=20,
                        overwrite_share=0.3, out_dir=str(out))


def _queries(seed, base):
    from ariadna_spark.analyze import tokenize_py

    terms: dict[str, int] = {}
    contents = base.column("content").to_pylist()
    for c in contents:
        for t in set(tokenize_py(c)):
            terms[t] = terms.get(t, 0) + 1
    return make_queries(seed, terms, base.num_rows, 8, contents, 3)


def test_inputs_identical_for_a_seed(spark, tmp_path):
    a = _stage(spark, 5, tmp_path / "a")
    b = _stage(spark, 5, tmp_path / "b")
    c = _stage(spark, 6, tmp_path / "c")
    for pa_, pb in zip([a["base"]] + a["batches"], [b["base"]] + b["batches"]):
        assert pq.read_table(pa_).equals(pq.read_table(pb))
    base_a = pq.read_table(a["base"])
    assert _queries(5, base_a) == _queries(5, pq.read_table(b["base"]))
    assert not base_a.equals(pq.read_table(c["base"]))
    assert _queries(5, base_a) != _queries(6, base_a)
    # each batch overwrites 30% of its docs' keys with distinct base keys
    base_keys = set(zip(base_a.column("repo").to_pylist(), base_a.column("path").to_pylist()))
    over = []
    for p in a["batches"]:
        t = pq.read_table(p)
        over += [k for k in zip(t.column("repo").to_pylist(), t.column("path").to_pylist())
                 if k in base_keys]
    assert len(over) == len(set(over)) == 12


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(200)), 95) == 189
    with pytest.raises(ValueError):
        tail_percentile(list(range(199)), 95)
    assert tail_percentile(list(range(40)), 75) == 29
    with pytest.raises(ValueError):
        tail_percentile(list(range(39)), 75)



def test_tracer_wrap_spans_calls_and_restores():
    class Store:
        def publish(self, x):
            return x * 2

    mod = type("Mod", (), {})()
    mod.build = lambda x, y=1: x + y
    build, publish = mod.build, Store.__dict__["publish"]
    tr, calls = Tracer(True), []
    with tr.wrap(mod, "build", span="build", calls=calls), tr.wrap(Store, "publish", span="pub"):
        assert mod.build(2, y=3) == 5
        assert Store().publish(4) == 8
    assert mod.build is build and Store.__dict__["publish"] is publish
    assert calls == [((2,), {"y": 3})]
    assert [len(tr.named(n)) for n in ("build", "pub")] == [1, 1]
    off = Tracer(False)
    with off.wrap(mod, "build", span="build"):
        assert mod.build is build
    assert off.spans == []

def test_same_topk_boundary_ties():
    ranked = [(1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0), (5, 0.5)]
    assert same_topk([(1, 3.0), (2, 2.0), (4, 1.0)], ranked, 3)
    assert same_topk([(1, 3.0), (2, 2.0), (3, 1.0)], ranked, 3)
    assert not same_topk([(1, 3.0), (2, 2.0), (5, 1.0)], ranked, 3)
    assert not same_topk([(2, 3.0), (1, 2.0), (3, 1.0)], ranked, 3)
    assert not same_topk([(1, 3.0), (2, 2.0)], ranked, 3)


def test_reference_agrees_with_index_reader(spark, tmp_path):
    from ariadna_spark.analyze import tokenize_py
    from ariadna_spark.operators.wand import IndexReader
    from ariadna_spark.sources.segments import build_index

    staged = _stage(spark, 3, tmp_path / "corpus")
    base = pq.read_table(staged["base"])
    build_index(spark, spark.read.parquet(staged["base"]), str(tmp_path / "idx"), build_id="b0")
    reader = IndexReader(spark, str(tmp_path / "idx"))
    ref = Bm25Reference(base)
    qs = _queries(3, base)
    for _, text, k, _ in qs["singles"]:
        got = [(r["doc_id"], r["score"]) for r in reader.topk(text, k).collect()]
        assert got and same_topk(got, ref.topk(tokenize_py(text)), k), text
    for _, text in qs["phrases"]:
        got = [(r["doc_id"], r["score"]) for r in reader.phrase_topk(text, 10).collect()]
        assert got and same_topk(got, ref.phrase(tokenize_py(text)), 10), text
