"""Warm search-serving loop: one reader, many queries, HTTP contract
(the /root/reference/osm/osm.go:179-186 serving analog)."""

import json
import os
import sys
import threading
import urllib.error
import urllib.request

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from ariadna_spark.sources.segments import build_index


@pytest.fixture(scope="module")
def service(spark, docs, tmp_path_factory):
    from serve import SearchService

    from ariadna_spark.operators.geo import geo_index_write, with_synth_coords

    out = str(tmp_path_factory.mktemp("serve_idx"))
    build_index(spark, docs, out, build_id="srv", n_buckets=4)
    geo = str(tmp_path_factory.mktemp("serve_geo"))
    pts = with_synth_coords(
        spark.range(1, 401).selectExpr("id AS c_custkey")
    )
    geo_index_write(pts, geo)
    # incremental IVF store for POST /api/ann:batch (exercises the
    # MANIFEST store-read path in serve)
    from pyspark.sql import functions as F

    from ariadna_spark.operators.similarity import ivf_store_write

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    ann = str(tmp_path_factory.mktemp("serve_ann")) + "/store"
    ivf_store_write(emb, ann, n_centroids=4)
    return SearchService(spark, out, geo_dir=geo, ann_dir=ann, docs_dir=sf)


def test_warm_service_answers_repeatedly(spark, docs, service):
    from ariadna_spark.operators.topk import bm25_topk

    for q in ("merge join", "window scan"):
        hits = service.search(q, k=5)
        want = bm25_topk(docs, q, 5).collect()
        assert [h["doc_id"] for h in hits] == [r["doc_id"] for r in want]
    pref = service.search("sc", k=5, mode="prefix")
    assert len(pref) == 5
    nr = service.search("merge join", k=5, mode="near", window=6)
    assert {h["doc_id"] for h in service.search("merge join", k=5, mode="phrase")} <= {
        h["doc_id"] for h in service.search("merge join", k=500, mode="near", window=6)
    }  # phrase hits are near hits (adjacent => within any window >= 2)
    ph = service.search("merge join", k=5, mode="phrase")
    assert 1 <= len(ph) <= 5  # phrase results are a subset of the match query
    assert {h["doc_id"] for h in ph} <= {h["doc_id"] for h in service.search("merge join", k=500)}
    st = service.stats()
    assert st["N"] == docs.count() and st["builds"] == ["srv"]


def test_http_roundtrip(service):
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)  # ephemeral port
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?q=merge+join&k=3&docmap=1"
        ) as r:
            body = json.loads(r.read())
        assert body["k"] == 3 and len(body["hits"]) == 3
        assert all("repo" in h and "path" in h and "score" in h for h in body["hits"])
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/phrase?q=merge+join&k=3"
        ) as r:
            ph = json.loads(r.read())
        assert len(ph["hits"]) >= 1
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/stats") as r:
            assert json.loads(r.read())["builds"] == ["srv"]
        # /api/reverse/:lat/:lon (reference route osm.go:182; its handler
        # is a stub upstream — here it really answers): top-2 nearest with
        # exact haversine distances, verified against a driver-side
        # brute-force over the same synth point set
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/reverse/17.25/42.5"
        ) as r:
            rv = json.loads(r.read())
        assert len(rv["hits"]) == 2
        import math

        def hav(lat, lon):
            h = (
                math.sin(math.radians(lat - 17.25) / 2) ** 2
                + math.cos(math.radians(17.25))
                * math.cos(math.radians(lat))
                * math.sin(math.radians(lon - 42.5) / 2) ** 2
            )
            return 2 * 6371.0088 * math.asin(math.sqrt(min(1.0, h)))

        want = sorted(
            (hav((k * 7919) % 18000 / 100.0 - 90.0, (k * 104729) % 18000 / 100.0 - 90.0), k)
            for k in range(1, 401)
        )[:2]
        got = [(h["dist_km"], h["id"]) for h in rv["hits"]]
        for (wd, wi), (gd, gi) in zip(want, got):
            assert wi == gi and abs(wd - gd) < 1e-9
        # error contract: missing q MUST 400 (its own raises block — a 200
        # here must fail the test, ADVICE r2)
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/search")
        assert exc.value.code == 400
    finally:
        httpd.shutdown()


def test_static_demo_ui(service):
    """The public/ fallback (reference: http.FileServer(public/),
    osm.go:183): / serves the self-contained demo page; path traversal is
    rejected; /api/* never falls through to static."""
    from serve import serve as mk_server

    public = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "public"
    )
    httpd = mk_server(service, port=0, public_dir=public)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as r:
            body = r.read().decode()
        assert "ariadna-spark" in body and "/api/reverse" in body
        assert r.headers["Content-Type"].startswith("text/html")
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/index.html") as r:
            assert "ariadna-spark" in r.read().decode()
        for bad in ("/../scripts/serve.py", "/%2e%2e/scripts/serve.py", "/nope.html"):
            with pytest.raises(urllib.error.HTTPError) as exc:
                urllib.request.urlopen(f"http://127.0.0.1:{port}{bad}")
            assert exc.value.code == 404, bad
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/unknown")
        assert exc.value.code == 404
    finally:
        httpd.shutdown()


def test_http_batch_endpoints(service):
    """VERDICT r3 #8: POST /api/search:batch answers a 3-query set in one
    topk_many pass with per-query ranks identical to the single-query
    route; POST /api/ann:batch answers a vector set over the IVF store;
    malformed bodies 400."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()

    def post(path, obj):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(obj).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    try:
        qs = ["merge join", "window scan", "table group"]
        body = post(
            "/api/search:batch",
            {"queries": [{"id": i, "q": q, "k": 5} for i, q in enumerate(qs)]},
        )
        results = {r["id"]: r["hits"] for r in body["results"]}
        assert set(results) == {0, 1, 2}
        for i, q in enumerate(qs):
            single = service.search(q, k=5)
            assert [h["doc_id"] for h in results[i]] == [h["doc_id"] for h in single], q
            for bh, sh in zip(results[i], single):
                assert abs(bh["score"] - sh["score"]) < 1e-9

        # ANN batch over the incremental IVF store
        indexed, _ = service._ann
        v0 = list(indexed.filter("vec_id = 0").select("v").first()[0])
        ann = post("/api/ann:batch", {"queries": [{"id": 7, "v": v0}], "k": 3})
        hits = ann["results"][0]["hits"]
        assert ann["results"][0]["id"] == 7 and len(hits) == 3
        assert hits[0]["vec_id"] == 0 and abs(hits[0]["cos"] - 1.0) < 1e-9

        # contract: missing/malformed bodies are client errors
        for path, bad in [
            ("/api/search:batch", {}),
            ("/api/search:batch", {"queries": [{"id": 0}]}),
            ("/api/ann:batch", {"queries": [{"id": 0}]}),
        ]:
            with pytest.raises(urllib.error.HTTPError) as exc:
                post(path, bad)
            assert exc.value.code == 400, (path, bad)
    finally:
        httpd.shutdown()


def test_grep_endpoint_matches_batch(service, spark, docs):
    """VERDICT r4 #8: GET /api/grep runs regex_search_indexed behind the
    warm reader — rows identical to the batch operator, and the response
    reports whether the selectivity gate kept the prefilter."""
    from serve import serve as mk_server

    from ariadna_spark.operators.text import regex_search

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        # selective pattern: prefilter expected
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/grep?q=dup%5Ba-z%5D*&limit=500"
        ) as r:
            body = json.loads(r.read())
        assert body["prefilter_used"] is True
        want = sorted(
            (r2["doc_id"], r2["n_matches"], r2["first_match"])
            for r2 in regex_search(docs, r"dup[a-z]*").collect()
        )
        got = sorted(
            (m["doc_id"], m["n_matches"], m["first_match"]) for m in body["matches"]
        )
        assert got == want and len(got) >= 1
        # Zipf-head pattern: the gate must fall back (full scan), same rows
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/grep?q=scan%5Ba-z%5D*&limit=500"
        ) as r:
            body2 = json.loads(r.read())
        assert body2["prefilter_used"] is False
        assert len(body2["matches"]) == regex_search(docs, r"scan[a-z]*").count()
        # missing q -> 400
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/grep")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        httpd.shutdown()


def test_fuzzy_and_highlight_endpoints(service, spark, docs):
    """GET /api/fuzzy (w = max edit distance) and /api/highlight match
    the batch operators behind the same warm reader."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/fuzzy?q=mrege+jion&k=3&w=2"
        ) as r:
            fz = json.loads(r.read())
        want = service.reader.fuzzy_topk("mrege jion", 3, max_dist=2).collect()
        assert [(h["doc_id"], h["score"]) for h in fz["hits"]] == [
            (r2["doc_id"], r2["score"]) for r2 in want
        ]
        assert len(fz["hits"]) == 3

        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/highlight?q=merge+join&k=3&w=4"
        ) as r:
            hl = json.loads(r.read())
        want_hl = service.reader.highlight_topk(
            service._docs, "merge join", 3, window=4
        ).collect()
        assert [
            (h["doc_id"], h["score"], h["first_term"], h["snippet"])
            for h in hl["hits"]
        ] == [
            (r2["doc_id"], r2["score"], r2["first_term"], r2["snippet"])
            for r2 in want_hl
        ]
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/highlight")
        assert exc.value.code == 400

        # /api/explain: per-term breakdown sums to the doc's search score
        top = service.reader.topk("merge join", 1).collect()[0]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/explain?doc={top['doc_id']}&q=merge+join"
        ) as r:
            ex = json.loads(r.read())
        assert ex["doc"] == top["doc_id"]
        assert ex["score"] == pytest.approx(top["score"], abs=1e-12)
        want_ex = service.reader.explain_score(top["doc_id"], "merge join").collect()
        assert [(h["term"], h["tf"], h["df"]) for h in ex["terms"]] == [
            (r2["term"], r2["tf"], r2["df"]) for r2 in want_ex
        ]
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/explain?doc=3")
        assert exc.value.code == 400
    finally:
        httpd.shutdown()


def test_mlt_and_facets_endpoints(service, spark, docs):
    """GET /api/mlt and /api/facets match the batch operators; facet 'by'
    whitelist rejects unknown columns."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/mlt?doc=7&k=3"
        ) as r:
            mlt = json.loads(r.read())
        want = service.reader.more_like_this(service._docs, 7, 3).collect()
        assert [(h["doc_id"], h["score"]) for h in mlt["hits"]] == [
            (r2["doc_id"], r2["score"]) for r2 in want
        ]
        assert all(h["doc_id"] != 7 for h in mlt["hits"])

        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/facets?q=merge+join&by=lang"
        ) as r:
            fc = json.loads(r.read())
        got = {b["lang"]: b["n_docs"] for b in fc["buckets"]}
        assert sum(got.values()) > 0
        want_fc = {
            b["lang"]: b["n_docs"] for b in service.facets("merge join", by="lang")
        }
        assert got == want_fc
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/facets?q=x&by=content_sha"
            )
        assert exc.value.code == 400
    finally:
        httpd.shutdown()


def test_pagination_and_filter_endpoints(service, spark, docs):
    """GET /api/search with ?after= pages through results identically to
    one big-k run; ?lang= restricts hits to the filtered docs; unknown
    filter columns are rejected in the service layer."""
    from urllib.parse import quote

    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        full = [
            (h["doc_id"], h["score"]) for h in service.search("merge join", k=6)
        ]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?q=merge+join&k=3"
        ) as r:
            p1 = json.loads(r.read())
        assert "next_after" in p1
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?q=merge+join&k=3"
            f"&after={quote(p1['next_after'])}"
        ) as r:
            p2 = json.loads(r.read())
        got = [(h["doc_id"], h["score"]) for h in p1["hits"] + p2["hits"]]
        assert got == full

        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?q=merge+join&k=4&lang=fr&docmap=1"
        ) as r:
            flt = json.loads(r.read())
        fr_ids = {r2["doc_id"] for r2 in docs.filter("lang = 'fr'").collect()}
        assert flt["hits"] and {h["doc_id"] for h in flt["hits"]} <= fr_ids

        with pytest.raises(ValueError):
            service.search("merge join", k=3, filters={"content_sha": "x"})

        # ADVICE r5 (upgraded r6): every search mode honors filter context
        # — hits are restricted to the filtered docs, never silently
        # unfiltered
        fr_ids = {r2["doc_id"] for r2 in docs.filter("lang = 'fr'").collect()}
        for mode, q in (
            ("phrase", "merge join"),
            ("prefix", "mer"),
            ("near", "merge join"),
            ("fuzzy", "mrege"),
            ("phrase_prefix", "merge jo"),
        ):
            hits = service.search(q, k=500, mode=mode, filters={"lang": "fr"})
            unfiltered = service.search(q, k=500, mode=mode)
            assert {h["doc_id"] for h in hits} <= fr_ids, mode
            # the filter is an allow-list over the SAME match set
            assert {h["doc_id"] for h in hits} == {
                h["doc_id"] for h in unfiltered if h["doc_id"] in fr_ids
            }, mode
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/phrase?q=merge+join&lang=fr&k=50"
        ) as r:
            ph = json.loads(r.read())
        assert {h["doc_id"] for h in ph["hits"]} <= fr_ids
    finally:
        httpd.shutdown()


def test_bool_endpoint(service, spark, docs):
    """GET /api/bool matches the batch bool_topk operator, including a
    filter term; missing clauses are rejected."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/bool?must=merge&should=join+sort"
            f"&not=window&msm=1&k=5"
        ) as r:
            body = json.loads(r.read())
        want = service.reader.bool_topk(
            "merge", "join sort", "window", msm=1, k=5
        ).collect()
        assert [(h["doc_id"], h["score"]) for h in body["hits"]] == [
            (r2["doc_id"], r2["score"]) for r2 in want
        ]
        assert body["hits"]

        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/bool?must=merge&lang=fr&docmap=1"
        ) as r:
            fb = json.loads(r.read())
        fr_ids = {r2["doc_id"] for r2 in docs.filter("lang = 'fr'").collect()}
        assert fb["hits"] and {h["doc_id"] for h in fb["hits"]} <= fr_ids

        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/bool?not=window")
        assert exc.value.code == 400
    finally:
        httpd.shutdown()


def test_aggs_endpoint(service):
    """GET /api/aggs matches the batch match_aggs operator."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/aggs?q=merge+join"
        ) as r:
            body = json.loads(r.read())
        want = service.reader.match_aggs("merge join").collect()
        assert [(a["agg"], a["bucket"], a["n_docs"]) for a in body["aggs"]] == [
            (r2["agg"], r2["bucket"], r2["n_docs"]) for r2 in want
        ]
        assert {a["agg"] for a in body["aggs"]} == {
            "range", "histogram", "stats", "cardinality"
        }
    finally:
        httpd.shutdown()


def test_sorted_endpoint(service):
    """GET /api/sorted pages with the echoed next_after cursor."""
    from urllib.parse import quote

    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        full = service.sorted_search("merge join", by="doc_len", order="desc", k=8)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/sorted?q=merge+join&by=doc_len&order=desc&k=4"
        ) as r:
            p1 = json.loads(r.read())
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/sorted?q=merge+join&by=doc_len&order=desc"
            f"&k=4&after={quote(p1['next_after'])}"
        ) as r:
            p2 = json.loads(r.read())
        got = [(h["doc_len"], h["doc_id"]) for h in p1["hits"] + p2["hits"]]
        assert got == [(h["doc_len"], h["doc_id"]) for h in full]
    finally:
        httpd.shutdown()


def test_termvectors_endpoint(service, spark, docs):
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/termvectors?doc=3"
        ) as r:
            body = json.loads(r.read())
        want = service.reader.term_vectors(service._docs, 3).collect()
        assert [(h["term"], h["tf"], h["df"], h["positions"]) for h in body["terms"]] == [
            (r2["term"], r2["tf"], r2["df"], list(r2["positions"])) for r2 in want
        ]
        assert body["terms"]
    finally:
        httpd.shutdown()


def test_count_endpoint(service):
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/count?q=merge+join"
        ) as r:
            body = json.loads(r.read())
        assert body["count"] == service.count("merge join") > 0
    finally:
        httpd.shutdown()


def test_http_suggest_endpoints(service):
    """GET /api/suggest (completion) and /api/didyoumean (term suggester)
    behind the warm reader."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/suggest?prefix=s&k=10"
        ) as r:
            body = json.loads(r.read())
        terms = [s["term"] for s in body["suggestions"]]
        assert terms and all(t_.startswith("s") for t_ in terms)
        dfs = [s["df"] for s in body["suggestions"]]
        assert dfs == sorted(dfs, reverse=True)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/didyoumean?q=smal&k=5"
        ) as r:
            dym = json.loads(r.read())
        assert dym["suggestions"][0]["term"] == "small"
        assert dym["suggestions"][0]["dist"] == 1
        # missing params -> 400
        for bad in ("/api/suggest", "/api/didyoumean"):
            try:
                urllib.request.urlopen(f"http://127.0.0.1:{port}{bad}")
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        httpd.shutdown()


def test_http_phrase_prefix(service):
    """GET /api/phrase_prefix: query-as-you-type behind the warm reader."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/phrase_prefix?q=merge+s&k=5"
        ) as r:
            body = json.loads(r.read())
        assert body["hits"], body
        # every hit completes 'merge s*' => it is also a plain-match hit
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?q=merge&k=500"
        ) as r:
            match = json.loads(r.read())
        assert {h["doc_id"] for h in body["hits"]} <= {
            h["doc_id"] for h in match["hits"]
        }
    finally:
        httpd.shutdown()


def test_http_analyze(service):
    """GET /api/analyze mirrors the canonical analyzer exactly."""
    from serve import serve as mk_server

    from ariadna_spark.analyze import tokenize_py

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/analyze?text=mergeJoin_sortTable"
        ) as r:
            body = json.loads(r.read())
        assert [tk["token"] for tk in body["tokens"]] == tokenize_py(
            "mergeJoin_sortTable"
        )
        assert [tk["position"] for tk in body["tokens"]] == list(
            range(len(body["tokens"]))
        )
    finally:
        httpd.shutdown()


def test_multifield_endpoint(spark, docs, tmp_path_factory):
    """GET /api/multifield serves BM25F off a single multifield store and
    matches the operator; a malformed fields list answers 400 while the
    primary-field verbs keep working on the same store."""
    from serve import SearchService, serve as mk_server

    from ariadna_spark.operators.wand import IndexReader, multifield_topk_single
    from ariadna_spark.sources.segments import build_index

    out = str(tmp_path_factory.mktemp("serve_mf"))
    build_index(
        spark, docs, out, fields=("content", "path"), build_id="mf", n_buckets=4
    )
    svc = SearchService(spark, out)
    httpd = mk_server(svc, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/multifield?q=doc+en+merge&fields=content:1.0,path:2.0&k=5"
        ) as r:
            got = json.loads(r.read())
        want = multifield_topk_single(
            IndexReader(spark, out), [("content", 1.0), ("path", 2.0)], "doc en merge", 5
        ).collect()
        assert [(h["doc_id"], h["score"]) for h in got["hits"]] == [
            (r2["doc_id"], r2["score"]) for r2 in want
        ]
        assert got["hits"]
        # primary-field verbs work on the same store through the service
        assert svc.search("merge join", k=3)
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/multifield?q=doc&fields=content:x"
            )
        assert ei.value.code == 400
    finally:
        httpd.shutdown()


def test_hybrid_and_reverse_search_endpoints(service, spark):
    """Round-6 verbs over HTTP: GET /api/significant (JLH aggs), POST
    /api/percolate (stateless reverse search, exact handcrafted pairs),
    POST /api/hybrid (RRF fusion whose lexical half must agree with
    /api/search ranks); missing-arg requests 400."""
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()

    def post(path, obj):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(obj).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/significant?q=merge+join&size=5&min_doc_count=2"
        ) as r:
            sig = json.loads(r.read())
        assert sig["terms"], sig
        scores = [row["score_r"] for row in sig["terms"]]
        assert scores == sorted(scores, reverse=True) and len(scores) <= 5
        assert all(row["fg_df"] >= 2 and row["bg_df"] >= row["fg_df"] for row in sig["terms"])

        perc = post(
            "/api/percolate",
            {
                "docs": [
                    {"id": 0, "text": "alpha beta gamma"},
                    {"id": 1, "text": "alpha only"},
                ],
                "queries": [
                    {"id": 0, "q": "alpha beta"},           # AND -> doc 0
                    {"id": 1, "q": "alpha beta", "msm": 1}, # OR  -> docs 0,1
                ],
            },
        )
        assert perc["matches"] == [
            {"doc_id": 0, "query_id": 0},
            {"doc_id": 0, "query_id": 1},
            {"doc_id": 1, "query_id": 1},
        ]

        indexed, _ = service._ann
        v0 = [float(x) for x in indexed.filter("vec_id = 0").select("v").first()[0]]
        hyb = post("/api/hybrid", {"q": "merge join", "v": v0, "k": 5, "window": 10})
        hits = hyb["hits"]
        assert 1 <= len(hits) <= 5
        ss = [h["rrf_score"] for h in hits]
        assert ss == sorted(ss, reverse=True) and all(0 < s <= 2 / 61 for s in ss)
        # the lexical half must be exactly the /api/search ranking
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/search?q=merge+join&k=10"
        ) as r:
            lex_ids = [h["doc_id"] for h in json.loads(r.read())["hits"]]
        lex_contrib = {h["doc_id"]: h["rrf_score"] for h in hits if h["doc_id"] in lex_ids}
        assert lex_contrib, (hits, lex_ids)

        for path, obj in [
            ("/api/percolate", {"docs": []}),
            ("/api/hybrid", {"q": "x"}),
        ]:
            with pytest.raises(urllib.error.HTTPError) as ei:
                post(path, obj)
            assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/api/significant")
        assert ei.value.code == 400
    finally:
        httpd.shutdown()


def test_result_shaping_endpoints(service, spark):
    """POST /api/_search bodies for the r6 result-shaping verbs
    (simple_query_string / dis_max / collapse / top_hits) and the
    /api/_rank_eval endpoint — each HTTP answer must equal the direct
    engine call it compiles onto."""
    from serve import serve as mk_server

    from ariadna_spark.operators.ranking import (
        collapse_topk,
        dis_max_topk,
        rank_eval,
        top_hits,
    )
    from ariadna_spark.query_dsl import compile_query_string

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()

    def post(path, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    reader = service.reader
    try:
        got = post("/api/_search", {
            "query": {"simple_query_string": {"query": "+merge -window"}}, "size": 5,
        })
        want = compile_query_string(reader, "+merge -window", k=5).collect()
        assert [h["_id"] for h in got["hits"]["hits"]] == [r["doc_id"] for r in want]

        got = post("/api/_search", {
            "query": {"dis_max": {"queries": [
                {"match": {"content": "merge join"}},
                {"match": {"content": "window scan"}},
            ], "tie_breaker": 0.5}},
            "size": 4,
        })
        want = dis_max_topk(reader, ["merge join", "window scan"], 0.5, 4).collect()
        assert [h["_id"] for h in got["hits"]["hits"]] == [r["doc_id"] for r in want]

        got = post("/api/_search", {
            "query": {"match": {"content": "merge join"}},
            "collapse": {"field": "repo"}, "size": 5,
        })
        want = collapse_topk(reader, "merge join", "repo", 5).collect()
        assert [h["_id"] for h in got["hits"]["hits"]] == [r["doc_id"] for r in want]
        assert [h["fields"]["repo"] for h in got["hits"]["hits"]] == [r["repo"] for r in want]

        got = post("/api/_search", {
            "size": 0,
            "query": {"match": {"content": "merge join"}},
            "aggs": {"by_lang": {"terms": {"field": "lang"},
                                 "aggs": {"top": {"top_hits": {"size": 2}}}}},
        })
        buckets = got["aggregations"]["by_lang"]["buckets"]
        want = top_hits(reader, "merge join", "lang", 2).collect()
        flat = [(b["key"], h["rank"], h["_id"]) for b in buckets for h in b["hits"]]
        assert flat == [(r["bucket"], r["rank"], r["doc_id"]) for r in want]

        body = {
            "requests": [
                {"id": 1, "query": "merge join",
                 "ratings": [[want[0]["doc_id"], 2.0]]},
                {"id": 2, "query": "zzznotaterm", "ratings": []},
            ],
            "k": 5,
        }
        got = post("/api/_rank_eval", body)
        ratings = spark.createDataFrame(
            [(1, int(want[0]["doc_id"]), 2.0)], "query_id long, doc_id long, rating double"
        )
        direct = rank_eval(
            reader, [(1, "merge join"), (2, "zzznotaterm")], ratings, k=5
        ).collect()
        assert got["details"] == [r.asDict() for r in direct]
        assert got["details"][1]["p_at_k"] == 0.0

        # out-of-scope bodies 400 loudly
        for bad in (
            {"query": {"dis_max": {"queries": []}}},
            {"query": {"match": {"content": "x"}}, "collapse": {"field": "nope"}},
        ):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/_search",
                data=json.dumps(bad).encode(),
                headers={"Content-Type": "application/json"},
            )
            with pytest.raises(urllib.error.HTTPError) as exc:
                urllib.request.urlopen(req)
            assert exc.value.code == 400
    finally:
        httpd.shutdown()


def test_validate_and_suggest_body_endpoints(service):
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()

    def post(path, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    try:
        ok = post("/api/_validate", {"query": {"match": {"content": "merge join"}}})
        assert ok == {"valid": True}
        bad = post("/api/_validate", {"query": {"span_term": {"content": "m"}}})
        assert bad["valid"] is False and "span_term" in bad["error"]
        sg = post("/api/_search", {
            "suggest": {"complete_me": {"prefix": "me", "completion": {"size": 3}}}
        })
        hits = sg["suggest"]["complete_me"]
        assert hits and all("term" in h and "df" in h for h in hits)
    finally:
        httpd.shutdown()


@pytest.fixture(scope="module")
def http_port(service):
    from serve import serve as mk_server

    httpd = mk_server(service, port=0)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield httpd.server_address[1]
    httpd.shutdown()


def _post(port, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


# every GET endpoint that takes a required parameter, requested without it
_REQUIRED_PARAM_PATHS = [
    "/api/search", "/api/prefix", "/api/phrase", "/api/phrase_prefix",
    "/api/near", "/api/fuzzy", "/api/reverse", "/api/bool", "/api/highlight",
    "/api/explain", "/api/mlt", "/api/count", "/api/multifield",
    "/api/termvectors", "/api/sorted", "/api/aggs", "/api/significant",
    "/api/facets", "/api/grep", "/api/suggest", "/api/didyoumean",
    "/api/analyze",
]


def test_required_param_table_covers_get_routes():
    from serve import GET_ROUTES

    assert set(GET_ROUTES) == set(_REQUIRED_PARAM_PATHS) | {"/api/stats"}


@pytest.mark.parametrize("path", _REQUIRED_PARAM_PATHS)
def test_get_route_missing_required_param_is_400(http_port, path):
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(f"http://127.0.0.1:{http_port}{path}?k=3")
    assert exc.value.code == 400
    assert json.loads(exc.value.read())["error"].startswith("missing")


def test_doc_len_get_filter(service, http_port):
    """?doc_len= is a filter term like the other allow-listed columns:
    hits are exactly the unfiltered matches of that length."""
    base = f"http://127.0.0.1:{http_port}/api/search?q=merge+join&k=500"
    with urllib.request.urlopen(base) as r:
        unfiltered = json.loads(r.read())["hits"]
    lens = {r["doc_id"]: r["doc_len"] for r in service.reader.docmap().collect()}
    n = lens[unfiltered[0]["doc_id"]]
    with urllib.request.urlopen(f"{base}&doc_len={n}&docmap=1") as r:
        hits = json.loads(r.read())["hits"]
    assert hits and all(lens[h["doc_id"]] == n for h in hits)
    assert {h["doc_id"] for h in hits} == {
        h["doc_id"] for h in unfiltered if lens[h["doc_id"]] == n
    }


def test_scroll_open_cap_holds_under_concurrent_opens(service, http_port, monkeypatch):
    """Three scroll opens released together against a cap of 2: the slot
    is reserved before the first page's Spark job, so exactly one is
    refused and exactly two contexts stay open."""
    monkeypatch.setattr(service, "_SCROLL_MAX", 2)
    monkeypatch.setattr(service, "_scrolls", {})
    body = {"query": {"match": {"content": "merge join"}}, "size": 3}
    gate, codes = threading.Barrier(3, timeout=60), []

    def open_one():
        gate.wait()
        try:
            codes.append(_post(http_port, "/api/_search?scroll=1m", body)[0])
        except urllib.error.HTTPError as e:
            codes.append(e.code)

    threads = [threading.Thread(target=open_one) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert sorted(codes) == [200, 200, 400]
    assert len(service._scrolls) == 2


@pytest.mark.parametrize("ratings", [[5], [[3]], [[1, 2, 3]], [None]])
def test_rank_eval_malformed_ratings_are_400(http_port, ratings):
    body = {"requests": [{"id": 1, "query": "merge join", "ratings": ratings}]}
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(http_port, "/api/_rank_eval", body)
    assert exc.value.code == 400
    assert "[doc_id, rating]" in json.loads(exc.value.read())["error"]
