"""ES `_search` request-body compiler: every supported body must be
row-identical to the direct engine call it compiles to, and every
out-of-scope body must fail loudly (DslError -> HTTP 400)."""

import json
import os
import sys
import threading
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from ariadna_spark.operators.wand import IndexReader, multifield_topk_single
from ariadna_spark.query_dsl import DslError, compile_filter, compile_search
from ariadna_spark.sources.segments import build_index


@pytest.fixture(scope="module")
def reader(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dsl_idx"))
    build_index(spark, docs, out, build_id="d1", n_buckets=4)
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def mf_reader(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dsl_mf"))
    build_index(
        spark, docs, out, fields=("content", "path"), build_id="m1", n_buckets=4
    )
    return IndexReader(spark, out)


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_dsl_matches_direct_calls(spark, reader):
    cases = [
        ({"query": {"match": {"content": "merge join"}}, "size": 5},
         reader.topk("merge join", 5)),
        ({"query": {"match": {"content": {"query": "merge join"}}}},
         reader.topk("merge join", 10)),
        ({"query": {"match_phrase": {"content": "merge join"}}, "size": 5},
         reader.phrase_topk("merge join", 5)),
        ({"query": {"match_phrase_prefix": {"content": "merge jo"}}, "size": 5},
         reader.phrase_prefix_topk("merge jo", 5)),
        ({"query": {"prefix": {"content": "mer"}}, "size": 5},
         reader.prefix_topk("mer", 5)),
        ({"query": {"fuzzy": {"content": {"value": "mrege", "fuzziness": 2}}}},
         reader.fuzzy_topk("mrege", 10, max_dist=2)),
        ({"query": {"bool": {
            "must": [{"match": {"content": "scan"}}],
            "should": [{"match": {"content": "merge join"}}],
            "minimum_should_match": 1}}, "size": 5},
         reader.bool_topk("scan", should="merge join", msm=1, k=5)),
        ({"query": {"bool": {
            "must": [{"match": {"content": "merge join"}}],
            "filter": [{"term": {"lang": "fr"}}]}}, "size": 5},
         reader.filtered_topk("merge join", F.col("lang") == "fr", 5)),
        ({"query": {"bool": {
            "must": [{"match": {"content": "merge join"}}],
            "filter": [{"range": {"doc_len": {"gte": 40, "lt": 80}}}]}}},
         reader.filtered_topk(
             "merge join", (F.col("doc_len") >= 40) & (F.col("doc_len") < 80), 10)),
        ({"query": {"match": {"content": "merge join"}},
          "sort": [{"doc_len": {"order": "desc"}}], "size": 6},
         reader.sorted_topk("merge join", "doc_len", asc=False, k=6)),
        ({"query": {"bool": {
            "must": [{"match": {"content": "merge join"}}],
            "filter": [{"term": {"lang": "fr"}}]}},
          "sort": [{"path": "asc"}], "size": 4},
         reader.sorted_topk("merge join", "path", k=4, flt=F.col("lang") == "fr")),
    ]
    for body, want in cases:
        assert rows(compile_search(reader, body)) == rows(want), body


def test_dsl_search_after(spark, reader):
    p1 = compile_search(reader, {"query": {"match": {"content": "merge join"}}, "size": 5}).collect()
    cur = [p1[-1]["score"], p1[-1]["doc_id"]]
    p2 = compile_search(
        reader,
        {"query": {"match": {"content": "merge join"}}, "size": 5, "search_after": cur},
    ).collect()
    full = reader.topk("merge join", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in list(p1) + list(p2)] == [
        (r["doc_id"], r["score"]) for r in full
    ]


def test_dsl_multi_match(spark, reader, mf_reader):
    body = {"query": {"multi_match": {"query": "doc en merge",
                                      "fields": ["content", "path^2"]}}, "size": 5}
    got = rows(compile_search(mf_reader, body))
    want = rows(multifield_topk_single(
        mf_reader, [("content", 1.0), ("path", 2.0)], "doc en merge", 5))
    assert got == want
    # a content-only store does not index path: loud error
    with pytest.raises(DslError, match=r"unknown fields \['path'\]"):
        compile_search(reader, body)


def test_dsl_aggs(spark, reader):
    """An aggs body compiles onto the engine's one-pass aggregation
    suite with the CALLER's agg names, plus one semi-join groupBy per
    terms agg — row-identical to the direct verbs."""
    body = {
        "query": {"match": {"content": "merge join"}},
        "size": 0,
        "aggs": {
            "len_ranges": {"range": {"field": "doc_len", "ranges": [
                {"key": "short", "to": 40}, {"key": "long", "from": 40}]}},
            "len_hist": {"histogram": {"field": "doc_len", "interval": 50}},
            "len_stats": {"stats": {"field": "doc_len"}},
            "n_langs": {"cardinality": {"field": "lang"}},
            "by_lang": {"terms": {"field": "lang"}},
        },
    }
    got = rows(compile_search(reader, body))
    suite = reader.match_aggs(
        "merge join", ranges=[("short", None, 40), ("long", 40, None)], interval=50
    ).collect()
    names = {"range": "len_ranges", "histogram": "len_hist",
             "stats": "len_stats", "cardinality": "n_langs"}
    want = [(names[r["agg"]], r["bucket"], r["n_docs"], r["metric"]) for r in suite]
    from ariadna_spark.analyze import tokenize_py
    cands = reader.candidate_doc_ids(sorted(set(tokenize_py("merge join"))))
    terms = (
        reader.docmap().select("doc_id", "lang")
        .join(cands, "doc_id", "left_semi")
        .groupBy("lang").count().collect()
    )
    want += [("by_lang", r["lang"], r["count"], None) for r in terms]
    assert got == sorted(want, key=lambda t: (t[0], t[1]))
    for bad in [
        dict(body, size=5),                                   # hits+aggs
        dict(body, aggs={"x": {"terms": {"field": "content_sha"}}}),
        dict(body, aggs={"x": {"range": {"field": "lang", "ranges": [{}]}}}),
        dict(body, aggs={"x": {"percentiles": {"field": "doc_len"}}}),
        dict(body, sort=[{"doc_len": "asc"}]),
    ]:
        with pytest.raises(DslError):
            compile_search(reader, bad)


def test_dsl_highlight(spark, docs, reader):
    body = {"query": {"match": {"content": "merge join"}}, "size": 5,
            "highlight": {"fields": {"content": {}}}}
    got = rows(compile_search(reader, body, docs=docs))
    want = rows(reader.highlight_topk(docs, "merge join", 5))
    assert got == want and len(got) == 5
    with pytest.raises(DslError, match="source corpus"):
        compile_search(reader, body)  # no docs=
    with pytest.raises(DslError, match="primary field"):
        compile_search(reader, dict(body, highlight={"fields": {"path": {}}}), docs=docs)


def test_dsl_msearch(spark, reader):
    """N bodies -> N ordered result lists; plain match bodies ride ONE
    topk_many job and are row-identical to per-query topk; mixed bodies
    (bool, phrase) compile individually; any bad body fails the whole
    request before work runs."""
    from ariadna_spark.query_dsl import msearch

    bodies = [
        {"query": {"match": {"content": "merge join"}}, "size": 5},
        {"query": {"match_phrase": {"content": "merge join"}}, "size": 4},
        {"query": {"match": {"content": "scan"}}, "size": 3},
        {"query": {"bool": {"must": [{"match": {"content": "merge"}}],
                            "filter": [{"term": {"lang": "fr"}}]}}, "size": 3},
        {"query": {"match": {"content": "zzznotaterm"}}, "size": 3},
    ]
    got = msearch(reader, bodies)
    assert len(got) == 5
    want = [
        reader.topk("merge join", 5),
        reader.phrase_topk("merge join", 4),
        reader.topk("scan", 3),
        reader.filtered_topk("merge", F.col("lang") == "fr", 3),
        None,
    ]
    for rs, w in zip(got[:4], want[:4]):
        assert [(r["doc_id"], round(r["score"], 6)) for r in rs] == [
            (r["doc_id"], round(r["score"], 6)) for r in w.collect()
        ]
    assert got[4] == []  # absent term -> empty, not an error
    with pytest.raises(DslError):
        msearch(reader, bodies + [{"query": {"knn": {"f": 1}}}])
    with pytest.raises(DslError):
        msearch(reader, [])


def test_dsl_rejects_out_of_scope(spark, reader):
    bad = [
        {"query": {"match": {"content": "x"}}, "from": 10},
        {"query": {"knn": {"field": "embedding"}}},
        {"query": {"match_all": {}}},  # no relevance order
        {"query": {"bool": {"filter": [{"term": {"lang": "fr"}}]}}},  # pure filter, no sort
        {"query": {"bool": {"must": [{"match": {"content": "x"}}],
                            "boost": 2}}},
        {"query": {"match": {"content": "x"}}, "aggs": {}},
        {"query": {"bool": {"must": [{"match": {"content": "x"}}],
                            "filter": [{"term": {"content_sha": "z"}}]}}},
        {"query": {"match": {"content": "x"}},
         "sort": [{"doc_len": "asc"}, {"path": "asc"}]},
        {"query": {"match": {"path": "docs"}}},  # secondary field w/o multi_match
    ]
    for body in bad:
        with pytest.raises(DslError):
            compile_search(reader, body)
    with pytest.raises(DslError):
        compile_filter([{"regexp": {"path": ".*"}}])


def test_dsl_http_endpoint(spark, docs, tmp_path_factory):
    from serve import SearchService, serve as mk_server

    out = str(tmp_path_factory.mktemp("dsl_srv"))
    build_index(spark, docs, out, build_id="s1", n_buckets=4)
    svc = SearchService(spark, out)
    httpd = mk_server(svc, port=0)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()

    def post(body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/_search",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    try:
        got = post({"query": {"bool": {
            "must": [{"match": {"content": "merge join"}}],
            "filter": [{"term": {"lang": "fr"}}]}}, "size": 3})
        want = IndexReader(spark, out).filtered_topk(
            "merge join", F.col("lang") == "fr", 3).collect()
        assert [(h["_id"], h["_score"]) for h in got["hits"]["hits"]] == [
            (r["doc_id"], r["score"]) for r in want
        ]
        assert got["hits"]["total"]["value"] == len(want)
        with pytest.raises(urllib.error.HTTPError) as ei:
            post({"query": {"knn": {"field": "embedding"}}})
        assert ei.value.code == 400

        # _msearch: JSON-array form and ES NDJSON form answer identically
        def post_raw(data):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/_msearch",
                data=data, headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        bodies = [
            {"query": {"match": {"content": "merge join"}}, "size": 3},
            {"query": {"match": {"content": "scan"}}, "size": 2},
        ]
        m1 = post_raw(json.dumps(bodies).encode())
        nd = "".join("{}\n" + json.dumps(b) + "\n" for b in bodies)
        m2 = post_raw(nd.encode())
        assert m1 == m2 and len(m1["responses"]) == 2
        top = IndexReader(spark, out).topk("merge join", 3).collect()
        assert [h["_id"] for h in m1["responses"][0]["hits"]["hits"]] == [
            r["doc_id"] for r in top
        ]
        with pytest.raises(urllib.error.HTTPError) as ei:
            post_raw(b'[{"query": {"knn": {"f": 1}}}]')
        assert ei.value.code == 400

        # _mget: live ids found with docmap attributes, absent id
        # found=false; non-integer ids rejected
        def post_mget(body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/_mget",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        dm = {r["doc_id"]: r for r in IndexReader(spark, out).docmap().collect()}
        some = sorted(dm)[:2]
        got = post_mget({"ids": some + [10**9]})
        assert [d["_id"] for d in got["docs"]] == some + [10**9]
        for d in got["docs"][:2]:
            want_row = dm[d["_id"]]
            assert d["found"] and d["fields"]["content_sha"] == want_row["content_sha"]
            assert d["fields"]["repo"] == want_row["repo"]
        assert got["docs"][2] == {"_id": 10**9, "found": False}
        with pytest.raises(urllib.error.HTTPError) as ei:
            post_mget({"ids": ["x"]})
        assert ei.value.code == 400

        # scroll: pages tile the full ranked result set exactly once,
        # exhaust to empty, and the cursor survives across requests
        def req(path, body, method="POST"):
            r = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
                method=method,
            )
            with urllib.request.urlopen(r) as resp:
                return json.loads(resp.read())

        full = req("/api/_search", {"query": {"match": {"content": "merge join"}},
                                    "size": 1000})
        all_ids = [h["_id"] for h in full["hits"]["hits"]]
        assert len(all_ids) > 4
        page = req("/api/_search?scroll=1m",
                   {"query": {"match": {"content": "merge join"}}, "size": 3})
        sid = page["_scroll_id"]
        seen = [h["_id"] for h in page["hits"]["hits"]]
        for _ in range(200):
            page = req("/api/_search/scroll", {"scroll_id": sid})
            ids = [h["_id"] for h in page["hits"]["hits"]]
            if not ids:
                break
            seen += ids
        assert seen == all_ids  # exact tiling, ES scroll contract
        assert req("/api/_search/scroll", {"scroll_id": sid})["hits"]["hits"] == []
        cleared = req("/api/_search/scroll", {"scroll_id": sid}, method="DELETE")
        assert cleared == {"succeeded": True, "num_freed": 1}
        with pytest.raises(urllib.error.HTTPError) as ei:
            req("/api/_search/scroll", {"scroll_id": sid})
        assert ei.value.code == 400  # freed context is gone
        with pytest.raises(urllib.error.HTTPError) as ei:
            req("/api/_search?scroll=1m",
                {"query": {"match_phrase": {"content": "merge join"}}})
        assert ei.value.code == 400  # non-cursorable body rejected at open
    finally:
        httpd.shutdown()


def test_multifield_vocab_expansions_exclude_namespaced_terms(spark, mf_reader):
    """Vocabulary-expansion verbs on a multifield store must expand over
    the PRIMARY field's bare terms only — secondary fields' namespaced
    "<field>:<term>" entries would otherwise match substring/fuzzy
    patterns with the wrong field's postings and stats."""
    # the path field's terms are namespaced path:doc / path:txt / ...
    raw = mf_reader._read_parquet(mf_reader._terms_dirs(), "terms")
    assert raw.filter(F.col("term").contains(":")).count() > 0  # fixture sanity
    # infix expansion: 'oc' would hit 'path:doc*' without the vocab guard
    for needle in ("oc", "doc", "tx"):
        ts = mf_reader.terms_containing(needle)
        assert ts is not None and all(":" not in t for t in ts), (needle, ts)
    # fuzzy expansion: no namespaced variant may enter the vocabulary
    variants = mf_reader.fuzzy_terms_many(["docs", "merge"], max_dist=2)
    for tok, vs in variants.items():
        assert all(":" not in v for v in vs), (tok, vs)
    # suggesters
    for r in mf_reader.suggest_terms("do", size=50).collect():
        assert ":" not in r["term"]
    for r in mf_reader.suggest_corrections("doc", size=50, max_dist=2).collect():
        assert ":" not in r["term"]
    # wildcard rides terms_containing; route it end-to-end
    out = mf_reader.wildcard_topk("*oc*", 5)
    out.collect()  # must not throw; expansion excludes path:doc etc.
