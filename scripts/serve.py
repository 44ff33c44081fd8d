#!/usr/bin/env python
"""Search-serving entry point: a long-lived process holding ONE warm
SparkSession + IndexReader, answering queries over HTTP (stdlib
http.server — no external web framework).

The reference runs a web server on :8080 with /api/search
(/root/reference/osm/osm.go:179-186); this is the native analog. Unlike
scripts/query.py (one-shot: pays SparkSession + reader startup per
invocation), the serving loop pays them once; per-query latency is then
just the Spark job time measured in bench.py.

    spark-submit --py-files dist/ariadna_spark.zip scripts/serve.py \
        --index /tmp/idx --port 8080
    curl 'localhost:8080/api/search?q=binary+search&k=10'
    curl 'localhost:8080/api/prefix?q=bin&k=10'

Config (A8): --config YAML + ARIADNA_* env overrides, flags win.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _filter_expr(filters: dict[str, str] | None):
    """{col: value} -> conjunctive `term` filter clauses compiled by
    query_dsl over its one allowlist (None passes through)."""
    if not filters:
        return None
    from ariadna_spark.query_dsl import compile_filter

    return compile_filter(
        [{"term": {c: int(v) if c == "doc_len" else v}} for c, v in filters.items()]
    )


def _hits(rows: list[dict]) -> dict:
    """Row dicts -> the ES hits envelope: doc_id/score become _id/_score,
    every other column rides under `fields`."""
    hits = []
    for r in rows:
        src = {c: v for c, v in r.items() if c not in ("doc_id", "score")}
        h = {"_id": r.get("doc_id"), "_score": r.get("score")}
        if src:
            h["fields"] = src
        hits.append(h)
    return {"hits": {"total": {"value": len(hits), "relation": "eq"}, "hits": hits}}


def _per_query(ids: list[int], rows: list[dict], qid: str, cols: tuple) -> list[dict]:
    """Batch rows -> one {"id", "hits"} entry per query id, in request
    order, each hit list in rank order."""
    by_q: dict[int, list] = {i: [] for i in ids}
    for r in rows:
        by_q[r[qid]].append({"rank": r["rank"], **{c: r[c] for c in cols}})
    return [
        {"id": i, "hits": sorted(h, key=lambda x: x["rank"])} for i, h in by_q.items()
    ]


class SearchService:
    """Warm reader + serialized query execution (one SparkSession is not
    safely concurrent for independent actions with shared conf mutation;
    a lock keeps the serving loop simple — throughput scaling comes from
    batching via topk_many, not from racing jobs)."""

    def __init__(
        self,
        spark,
        index_dir: str,
        build_id: str | None = None,
        geo_dir: str | None = None,
        geo_cell_deg: float = 20.0,
        ann_dir: str | None = None,
        docs_dir: str | None = None,
    ):
        from ariadna_spark.operators.wand import IndexReader

        self.spark = spark
        self.reader = IndexReader(spark, index_dir, build_id=build_id)
        self._lock = threading.Lock()
        # open scroll contexts: scroll_id -> cursor state (body, last
        # search_after, done flag, ttl). Purged lazily on every scroll
        # call; hard-capped so a client can't grow driver memory. Handler
        # threads share it, so every access holds _scroll_lock.
        self._scrolls: dict[str, dict] = {}
        self._scroll_lock = threading.Lock()
        self._docs = None
        if docs_dir:
            from ariadna_spark.corpus import load_docs

            self._docs = load_docs(spark, docs_dir)
        self._geo = spark.read.parquet(geo_dir) if geo_dir else None
        self._geo_cell = geo_cell_deg
        self._ann = None
        if ann_dir:
            from ariadna_spark.operators.similarity import ivf_store_read

            self._ann = ivf_store_read(spark, ann_dir)

    def run(self, plan) -> list[dict]:
        """Build and collect one plan under the serving lock -> row dicts.
        `plan` is a zero-argument callable returning a DataFrame; it runs
        under the lock too, because some verbs run driver-side jobs (df
        windows, vocabulary expansion) while planning."""
        with self._lock:
            return [r.asDict() for r in plan().collect()]

    def _need_docs(self):
        """The source corpus (--docs), for endpoints that re-read content."""
        if self._docs is None:
            raise ValueError("no docs configured (--docs)")
        return self._docs

    def search(
        self, q: str, k: int = 10, mode: str = "match", docmap: bool = False,
        window: int = 8, after: tuple[float, int] | None = None,
        filters: dict[str, str] | None = None,
    ) -> list[dict]:
        """`after=(score, doc_id)` = ES search_after cursor (match mode).
        `filters={col: value}` = ES bool-filter terms over docmap
        attributes (every mode); conjunctive equality only. Cursor and
        filters compose — a filtered page 2 stays a pruned top-k job."""
        flt = _filter_expr(filters)
        r = self.reader
        kw = {"with_docmap": docmap, "flt": flt}
        verbs = {
            "match": lambda: r.topk(q, k, after=after, **kw),
            "near": lambda: r.near_topk(q, window=window, k=k, **kw),
            "fuzzy": lambda: r.fuzzy_topk(q, k, max_dist=window, **kw),
            "prefix": lambda: r.prefix_topk(q, k, **kw),
            "phrase": lambda: r.phrase_topk(q, k, **kw),
            "phrase_prefix": lambda: r.phrase_prefix_topk(q, k, **kw),
        }
        return self.run(verbs[mode])

    def grep(self, pattern: str, limit: int = 100) -> dict:
        """Index-accelerated grep (GET /api/grep?q=<pattern>, VERDICT r4
        #8): required-literal extraction -> vocabulary expansion ->
        posting semi-join, with the r5 selectivity gate deciding per
        literal whether the prefilter pays — the interactive consumer of
        that gate. Literal-free / Zipf-head patterns fall back to the
        full scan; rows are identical either way. Response reports
        `prefilter_used` so a caller can see which shape ran."""
        docs = self._need_docs()
        from ariadna_spark.operators.text import regex_search_indexed
        from ariadna_spark.plans import physical_plan

        with self._lock:
            df = regex_search_indexed(docs, pattern, self.reader)
            prefilter_used = "LeftSemi" in physical_plan(df)
            rows = df.orderBy("doc_id").limit(limit).collect()
        return {
            "pattern": pattern,
            "prefilter_used": prefilter_used,
            "matches": [r.asDict() for r in rows],
        }

    def facets(self, q: str, by: str = "lang") -> list[dict]:
        """GET /api/facets?q=&by=: per-bucket match counts for an OR
        query, straight off the pruned posting blocks (content never
        read). Needs --docs for the bucket column."""
        docs = self._need_docs()
        from pyspark.sql import functions as F

        from ariadna_spark.analyze import tokenize_py

        terms = sorted(set(tokenize_py(q)))
        return self.run(
            lambda: docs.select("doc_id", by)
            .join(self.reader.candidate_doc_ids(terms), "doc_id", "left_semi")
            .groupBy(by)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(by)
        )

    def sorted_search(
        self, q: str, by: str = "path", order: str = "asc", k: int = 10,
        after: tuple | None = None, filters: dict[str, str] | None = None,
    ) -> list[dict]:
        """GET /api/sorted: ES sort-by-field + search_after on the field
        sort key (TakeOrdered plan — no full sort, no over-fetch)."""
        flt = _filter_expr(filters)
        return self.run(
            lambda: self.reader.sorted_topk(
                q, by, asc=(order != "desc"), k=k, after=after, flt=flt
            )
        )

    def count(self, q: str) -> int:
        """GET /api/count?q=: exact OR-match doc count (ES `_count`)."""
        return int(self.run(lambda: self.reader.match_count(q))[0]["n_docs"])

    def es_search(self, body: dict) -> dict:
        """POST /api/_search: the ES request-body dialect the reference
        delegates today (match / match_phrase[_prefix] / prefix / fuzzy /
        multi_match / bool + filter + search_after + sort + size),
        compiled onto the engine's own verbs (ariadna_spark.query_dsl)
        and answered in the ES hits envelope; `aggs` bodies (size: 0)
        answer in the aggregations envelope, `highlight` bodies carry
        snippets (needs --docs for the content re-read). Out-of-scope
        bodies 400 with the reason — never a silently different
        semantics."""
        from ariadna_spark.query_dsl import compile_search

        rows = self.run(lambda: compile_search(self.reader, body, docs=self._docs))
        if "suggest" in body:
            (sname,) = body["suggest"].keys()
            return {"suggest": {sname: rows}}
        if "aggs" in body:
            if rows and "agg" not in rows[0]:
                # lone terms+top_hits agg: (bucket, rank, doc_id, score)
                # rows -> per-bucket hit arrays under the caller's name
                (aname,) = body["aggs"].keys()
                per: dict = {}
                for r in rows:
                    per.setdefault(r["bucket"], []).append(
                        {"_id": r["doc_id"], "_score": r["score"], "rank": r["rank"]}
                    )
                hit_buckets = [{"key": b, "hits": hs} for b, hs in sorted(per.items())]
                return {"aggregations": {aname: {"buckets": hit_buckets}}}
            buckets: dict = {}
            for r in rows:
                buckets.setdefault(r["agg"], []).append(
                    {"key": r["bucket"], "doc_count": r["n_docs"], "metric": r["metric"]}
                )
            return {"aggregations": {a: {"buckets": bs} for a, bs in buckets.items()}}
        return _hits(rows)

    _SCROLL_MAX = 64  # open contexts cap (driver-memory guard)

    @staticmethod
    def _parse_keep(s: str) -> int:
        import re

        m = re.fullmatch(r"(\d+)([sm])", s or "1m")
        if not m:
            raise ValueError("scroll must look like '30s' or '1m'")
        return int(m.group(1)) * (60 if m.group(2) == "m" else 1)

    def _purge_scrolls(self) -> None:
        """Drop expired contexts (the caller holds _scroll_lock)."""
        import time

        now = time.monotonic()
        for sid in [s for s, c in self._scrolls.items() if c["exp"] < now]:
            del self._scrolls[sid]

    def _scroll_page(self, body: dict, after) -> tuple[dict, list | None, bool]:
        """One scroll page: inject the stored search_after cursor and run
        the body through the normal compiler — a pruned top-k job per
        page, never a from+size over-fetch. Returns (hits envelope,
        next cursor, exhausted)."""
        from ariadna_spark.query_dsl import compile_search

        b = dict(body)
        if after is not None:
            b["search_after"] = after
        rows = self.run(lambda: compile_search(self.reader, b))
        if body.get("sort"):
            sort = body["sort"] if isinstance(body["sort"], list) else [body["sort"]]
            col = next(iter(sort[0]))
        else:
            col = "score"
        new_after = [rows[-1][col], rows[-1]["doc_id"]] if rows else after
        return _hits(rows), new_after, len(rows) < int(body.get("size", 10))

    def es_scroll_open(self, body: dict, keep: str = "1m") -> dict:
        """POST /api/_search?scroll=<keep>: first page + a scroll_id
        cursor. ES's scroll contract served over the engine's
        search_after machinery — the server keeps only (body, cursor),
        never result state, so each page is an independent pruned top-k
        job and the context costs O(1) driver memory."""
        import time
        import uuid

        from ariadna_spark.query_dsl import DslError

        if not isinstance(body, dict):
            raise DslError("request body must be an object")
        bad = set(body) - {"query", "size", "sort"}
        if bad:
            raise DslError(f"scroll bodies support query+size+sort, got {sorted(bad)}")
        kind = next(iter(body.get("query") or {"match_all": None}))
        if not body.get("sort") and kind not in ("match", "bool"):
            raise DslError(
                f"scroll needs a cursorable body: match/bool relevance or a "
                f"sorted query, got {kind!r}"
            )
        ttl = self._parse_keep(keep)
        sid = uuid.uuid4().hex
        # reserve the slot before the first page's Spark job, so concurrent
        # opens cannot all pass the cap check; it never expires while the
        # page runs
        with self._scroll_lock:
            self._purge_scrolls()
            if len(self._scrolls) >= self._SCROLL_MAX:
                raise ValueError("too many open scroll contexts")
            ctx = self._scrolls[sid] = {
                "body": body, "after": None, "done": False, "ttl": ttl,
                "exp": float("inf"),
            }
        try:
            env, after, done = self._scroll_page(body, None)
        except BaseException:
            with self._scroll_lock:
                self._scrolls.pop(sid, None)
            raise
        with self._scroll_lock:
            ctx.update(after=after, done=done, exp=time.monotonic() + ttl)
        env["_scroll_id"] = sid
        return env

    def es_scroll_next(self, body: dict) -> dict:
        """POST /api/_search/scroll: {"scroll_id"} -> next page (empty
        hits once exhausted, like ES). Each call renews the keep-alive."""
        import time

        sid = body.get("scroll_id")
        with self._scroll_lock:
            self._purge_scrolls()
            ctx = self._scrolls.get(sid)
        if ctx is None:
            raise ValueError("unknown or expired scroll_id")
        if ctx["done"]:
            env, after, done = _hits([]), ctx["after"], True
        else:
            env, after, done = self._scroll_page(ctx["body"], ctx["after"])
        with self._scroll_lock:
            ctx.update(after=after, done=done, exp=time.monotonic() + ctx["ttl"])
        env["_scroll_id"] = sid
        return env

    def es_scroll_clear(self, body: dict) -> dict:
        """DELETE /api/_search/scroll: free contexts explicitly."""
        ids = body.get("scroll_id")
        if isinstance(ids, str):
            ids = [ids]
        with self._scroll_lock:
            n = sum(1 for s in ids or [] if self._scrolls.pop(s, None) is not None)
        return {"succeeded": True, "num_freed": n}

    def es_mget(self, body: dict) -> dict:
        """POST /api/_mget: {"ids": [...]} -> ES-shaped docs array. One
        tombstone-masked pruned docmap read; absent/dead ids come back
        found=false (never a stale version)."""
        ids = body.get("ids")
        if not isinstance(ids, list) or not ids or not all(
            isinstance(i, int) for i in ids
        ):
            raise ValueError("_mget needs a non-empty integer ids array")
        rows = self.run(lambda: self.reader.mget(ids))
        cols = ("repo", "path", "commit", "lang", "doc_len", "content_sha")
        return {
            "docs": [
                {"_id": r["doc_id"], "found": True, "fields": {c: r[c] for c in cols}}
                if r["found"]
                else {"_id": r["doc_id"], "found": False}
                for r in rows
            ]
        }

    def es_msearch(self, raw: bytes) -> dict:
        """POST /api/_msearch: N `_search` bodies in one request, answered
        in order. Accepts a JSON array of bodies (or {"searches": [...]})
        or ES's NDJSON convention (header line, body line, repeated;
        header lines are ignored). Plain match bodies execute as ONE
        batched Spark job (query_dsl.msearch -> topk_many); the rest
        compile individually. Malformed input 400s the whole request."""
        from ariadna_spark.query_dsl import DslError, msearch

        try:
            parsed = json.loads(raw)
            if isinstance(parsed, dict) and isinstance(parsed.get("searches"), list):
                bodies = parsed["searches"]
            elif isinstance(parsed, list):
                bodies = parsed
            else:
                raise DslError("_msearch needs a JSON array of bodies or NDJSON")
        except json.JSONDecodeError:
            lines = [ln for ln in raw.decode("utf-8").splitlines() if ln.strip()]
            if len(lines) % 2:
                raise DslError("_msearch NDJSON must alternate header/body lines")
            try:
                bodies = [json.loads(ln) for ln in lines[1::2]]
            except json.JSONDecodeError as e:
                raise DslError(f"invalid NDJSON body line: {e}")
        with self._lock:
            results = msearch(self.reader, bodies, docs=self._docs)
        return {"responses": [_hits(rs) for rs in results]}

    def es_validate(self, body: dict) -> dict:
        """POST /api/_validate: ES `_validate/query` — compile the request
        body without collecting results. Compilation builds the lazy plan
        only (rescore bodies additionally run their primary window pass —
        the one compile-time action in the dialect), so an out-of-scope
        or malformed body reports {valid: false, error} instead of 400ing
        at search time."""
        from ariadna_spark.query_dsl import DslError, compile_search

        try:
            with self._lock:
                compile_search(self.reader, body, docs=self._docs)
            return {"valid": True}
        except DslError as e:
            return {"valid": False, "error": str(e)}

    def es_rank_eval(self, body: dict) -> dict:
        """POST /api/_rank_eval: {"requests": [{"id": int, "query": str,
        "ratings": [[doc_id, rating], ...]}], "k": int} -> per-request
        precision@k / MRR / DCG@k. Simplified textbook metric forms, not
        ES's exact formulas (see operators.ranking.rank_eval: constant-k
        precision denominator, linear DCG gain). One batched topk_many job
        for the whole request set; ratings broadcast into the join."""
        reqs = body.get("requests")
        if not isinstance(reqs, list) or not reqs:
            raise ValueError("_rank_eval needs a non-empty requests array")
        k = int(body.get("k", 10))
        pairs, rating_rows = [], []
        for r in reqs:
            if not isinstance(r, dict) or "id" not in r or not r.get("query"):
                raise ValueError("each request needs id + query")
            qid = int(r["id"])
            pairs.append((qid, str(r["query"])))
            for it in r.get("ratings") or []:
                try:
                    doc_id, rating = it
                    rating_rows.append((qid, int(doc_id), float(rating)))
                except (TypeError, ValueError):
                    raise ValueError(
                        f"each rating must be a [doc_id, rating] pair, got {it!r}"
                    )
        from ariadna_spark.operators.ranking import rank_eval

        rows = self.run(
            lambda: rank_eval(
                self.reader,
                pairs,
                self.spark.createDataFrame(
                    rating_rows or [(int(-1), int(-1), 0.0)],
                    "query_id long, doc_id long, rating double",
                ),
                k=k,
            )
        )
        return {"details": rows, "k": k}

    def percolate_body(self, body: dict) -> dict:
        """POST /api/percolate: the ES percolator, stateless form — both
        sides ride the request. {"docs": [{"id", "text"}], "queries":
        [{"id", "q", "msm"?}]} -> {"matches": [{"doc_id", "query_id"}]}.
        msm absent = all terms (AND); the query text goes through the
        index analyzer (symmetric-analyzer discipline)."""
        from ariadna_spark.analyze import tokenize_py
        from ariadna_spark.operators.percolate import percolate

        docs_in, qs_in = body.get("docs"), body.get("queries")
        if not isinstance(docs_in, list) or not docs_in:
            raise ValueError("missing docs")
        if not isinstance(qs_in, list) or not qs_in:
            raise ValueError("missing queries")
        drows = [
            (int(d.get("id", i)), str(d.get("text") or ""))
            for i, d in enumerate(docs_in)
        ]
        qrows = []
        for i, q in enumerate(qs_in):
            if not isinstance(q, dict) or not q.get("q"):
                raise ValueError(f"queries[{i}]: missing q")
            terms = sorted(set(tokenize_py(str(q["q"]))))
            msm = q.get("msm")
            # `if msm` would coerce an explicit msm=0/'0' to None and
            # silently flip to all-terms AND semantics — reject instead
            msm = int(msm) if msm is not None else None
            if msm is not None and msm < 1:
                raise ValueError(f"queries[{i}]: msm must be >= 1")
            qrows.append((int(q.get("id", i)), terms, msm))
        ddf = self.spark.createDataFrame(drows, "doc_id long, content string")
        qdf = self.spark.createDataFrame(
            qrows, "query_id long, terms array<string>, msm int"
        )
        # percolate yields exactly (doc_id, query_id) rows
        return {
            "matches": self.run(lambda: percolate(ddf, qdf).orderBy("doc_id", "query_id"))
        }

    def hybrid(
        self,
        q: str,
        v: list[float],
        k: int = 10,
        window: int = 20,
        n_probe: int = 4,
    ) -> list[dict]:
        """POST /api/hybrid: the ES 8.x `rrf` retriever — BM25 top-window
        (block-max WAND) fused with the ANN top-window over the
        configured IVF store via reciprocal-rank fusion. Body: {"q":
        "text", "v": [floats], "k"?, "window"?, "n_probe"?}."""
        if self._ann is None:
            raise ValueError("no ANN index configured (--ann-index)")
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from ariadna_spark.operators.similarity import ivf_topk_many, rrf_fuse

        qdf = self.spark.createDataFrame(
            [(0, [float(x) for x in v])], "qid long, qv array<double>"
        )
        indexed, centroids = self._ann

        def plan():
            lex = (
                self.reader.topk(q, window)
                .withColumn(
                    "rank",
                    F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id"))),
                )
                .select("doc_id", "rank")
            )
            den = ivf_topk_many(
                indexed, centroids, qdf, k=window, n_probe=n_probe, prune=True
            ).select(F.col("vec_id").alias("doc_id"), "rank")
            return rrf_fuse([lex, den], k=k)

        return self.run(plan)  # rrf_fuse yields exactly (doc_id, rrf_score)

    def search_batch(self, queries: list[dict]) -> list[dict]:
        """The production enrichment entry point (VERDICT r3 #8): the
        WHOLE query set through IndexReader.topk_many in ONE Spark job —
        blocks fetched and shuffled once for the set, per-query WAND in
        the shared kernel. Body entries: {"id": int, "q": str, "k": int}
        (id defaults to the position, k to 10)."""
        trip = []
        for i, q in enumerate(queries):
            if not isinstance(q, dict) or not q.get("q"):
                raise ValueError(f"queries[{i}]: missing q")
            trip.append((int(q.get("id", i)), str(q["q"]), int(q.get("k", 10))))
        rows = self.run(lambda: self.reader.topk_many(trip))
        return _per_query(
            [int(qid) for qid, _, _ in trip], rows, "query_id", ("doc_id", "score")
        )

    def ann_batch(self, queries: list[dict], k: int = 10, n_probe: int = 4) -> list[dict]:
        """Batch ANN over the configured IVF store: one equi-join per
        query SET (ivf_topk_many, static partition pruning on the probed
        lists). Body entries: {"id": int, "v": [float, ...]}."""
        if self._ann is None:
            raise ValueError("no ANN index configured (--ann-index)")
        from ariadna_spark.operators.similarity import ivf_topk_many

        rows_in = []
        for i, q in enumerate(queries):
            if not isinstance(q, dict) or not q.get("v"):
                raise ValueError(f"queries[{i}]: missing v")
            rows_in.append((int(q.get("id", i)), [float(x) for x in q["v"]]))
        qdf = self.spark.createDataFrame(rows_in, "qid long, qv array<double>")
        indexed, centroids = self._ann
        rows = self.run(
            lambda: ivf_topk_many(indexed, centroids, qdf, k=k, n_probe=n_probe, prune=True)
        )
        return _per_query([qid for qid, _ in rows_in], rows, "qid", ("vec_id", "cos"))

    def stats(self) -> dict:
        return {
            "builds": self.reader.build_ids,
            "N": self.reader.stats["N"],
            "avgdl": self.reader.stats["avgdl"],
        }


class _Request:
    """One request's inputs: the URL path, the query string behind typed
    accessors, and the raw body (parsed as JSON on first use)."""

    def __init__(self, url, raw: bytes | None = None):
        self.path = url.path
        self.qs = parse_qs(url.query)
        self.raw = raw

    def get(self, name: str, default=None, cast=str):
        """Optional param: its first value through `cast`, else `default`."""
        v = self.qs.get(name)
        return cast(v[0]) if v else default

    def need(self, *names: str) -> str:
        """Required param: the first of `names` present; missing -> 400."""
        for n in names:
            if self.qs.get(n):
                return self.qs[n][0]
        raise ValueError(f"missing {names[0]}")

    def flag(self, name: str) -> bool:
        return self.get(name, "0") in ("1", "true")

    def after(self, cast=float) -> tuple | None:
        """?after=<value>,<doc_id> — the search_after cursor: deep
        pagination where page N is a normal pruned top-k job, never a
        from+size over-fetch."""
        raw = self.get("after")
        if raw is None:
            return None
        v, _, d = raw.rpartition(",")
        return (cast(v), int(d))

    def filters(self) -> dict[str, str] | None:
        """?lang=fr&repo=... -> {col: value}: ES bool-filter terms over
        the docmap columns query_dsl allowlists for `_search` bodies."""
        from ariadna_spark.query_dsl import FILTERABLE

        return {c: self.qs[c][0] for c in FILTERABLE if self.qs.get(c)} or None

    @functools.cached_property
    def body(self):
        try:
            return json.loads(self.raw)
        except json.JSONDecodeError:
            raise ValueError("invalid JSON body")


def _score_cursor(rows: list[dict]) -> str:
    """The last hit as the `?after=` cursor of the next page."""
    return f"{rows[-1]['score']!r},{rows[-1]['doc_id']}"


def _search_route(mode: str):
    """GET /api/<mode>: one search mode; `w` is the proximity window for
    near and the max edit distance for fuzzy."""

    def route(svc, a):
        q, k = a.need("q"), a.get("k", 10, int)
        rows = svc.search(
            q, k, mode=mode, docmap=a.flag("docmap"),
            window=a.get("w", 8 if mode == "near" else 1, int),
            after=a.after(), filters=a.filters(),
        )
        resp = {"query": q, "k": k, "hits": rows}
        if rows and mode == "match":
            resp["next_after"] = _score_cursor(rows)
        return resp

    return route


def _reverse(svc, a):
    """GET /api/reverse/:lat/:lon (or ?lat=&lon=): reverse geocode —
    exact haversine k-NN over the cell-partitioned geo store, each ring
    probe partition-pruned to the probed cell directories."""
    parts = [p for p in a.path.split("/") if p][2:]
    if len(parts) == 2:
        lat, lon = float(parts[0]), float(parts[1])
    elif "lat" in a.qs and "lon" in a.qs:
        lat, lon = float(a.qs["lat"][0]), float(a.qs["lon"][0])
    else:
        raise ValueError("missing lat/lon")
    k = a.get("k", 2, int)
    if svc._geo is None:
        raise ValueError("no geo index configured (--geo-index)")
    from ariadna_spark.operators.geo import geo_knn

    rows = svc.run(lambda: geo_knn(svc._geo, lat, lon, k=k, cell_deg=svc._geo_cell))
    return {"lat": lat, "lon": lon, "hits": rows}


def _bool(svc, a):
    """GET /api/bool: the composed ES bool query (must/should/not + msm +
    filter terms) with a search_after cursor — the cut runs in-kernel, so
    page N of a bool query stays one pruned job."""
    must, should, must_not = a.get("must", ""), a.get("should", ""), a.get("not", "")
    if not (must or should):
        raise ValueError("missing must/should")
    k, msm, docmap = a.get("k", 10, int), a.get("msm", 0, int), a.flag("docmap")
    flt, after = _filter_expr(a.filters()), a.after()
    rows = svc.run(
        lambda: svc.reader.bool_topk(
            must, should, must_not, flt=flt, msm=msm, k=k,
            with_docmap=docmap, after=after,
        )
    )
    resp = {"must": must, "should": should, "must_not": must_not,
            "msm": msm, "k": k, "hits": rows}
    if rows:
        resp["next_after"] = _score_cursor(rows)
    return resp


def _highlight(svc, a):
    """GET /api/highlight: pruned top-k, then an O(k) IN-list re-read of
    the winners cuts the +-w snippet (needs --docs)."""
    q, k, w = a.need("q"), a.get("k", 10, int), a.get("w", 5, int)
    docs = svc._need_docs()
    rows = svc.run(lambda: svc.reader.highlight_topk(docs, q, k, window=w))
    return {"query": q, "k": k, "hits": rows}


def _explain(svc, a):
    """GET /api/explain?doc=&q=: the ES `_explain` per-term BM25
    breakdown of one (query, doc) pair, decoding only the blocks that
    cover the doc id."""
    doc, q = int(a.need("doc")), a.need("q")
    rows = svc.run(lambda: svc.reader.explain_score(doc, q))
    return {"doc": doc, "query": q, "terms": rows, "score": sum(r["score"] for r in rows)}


def _mlt(svc, a):
    """GET /api/mlt?doc=: ES more-like-this — tf x idf term selection off
    the terms table, disjunctive WAND, source excluded (needs --docs)."""
    doc, k = int(a.need("doc")), a.get("k", 10, int)
    docs = svc._need_docs()
    rows = svc.run(lambda: svc.reader.more_like_this(docs, doc, k))
    return {"doc": doc, "k": k, "hits": rows}


def _count(svc, a):
    q = a.need("q")
    return {"query": q, "count": svc.count(q)}


def _multifield(svc, a):
    """GET /api/multifield?q=&fields=content:1,path:2: BM25F over the
    per-field terms of a build_index(fields=...) store."""
    q, k = a.need("q"), a.get("k", 10, int)
    try:
        fields = [
            (name, float(boost))
            for name, boost in (
                p.split(":", 1) for p in a.get("fields", "content:1.0").split(",") if p
            )
        ]
    except ValueError:
        raise ValueError("fields must be name:boost[,name:boost...]")
    from ariadna_spark.operators.wand import multifield_topk_single

    rows = svc.run(lambda: multifield_topk_single(svc.reader, fields, q, k))
    return {"query": q, "fields": fields, "k": k, "hits": rows}


def _termvectors(svc, a):
    """GET /api/termvectors?doc=: one doc's (term, tf, df, positions) —
    the ES `_termvectors` surface (needs --docs for the re-analysis)."""
    doc = int(a.need("doc"))
    docs = svc._need_docs()
    return {"doc_id": doc, "terms": svc.run(lambda: svc.reader.term_vectors(docs, doc))}


def _sorted(svc, a):
    """GET /api/sorted: field-sorted hits paged by a cursor on the sort key."""
    q, by, order = a.need("q"), a.get("by", "path"), a.get("order", "asc")
    rows = svc.sorted_search(
        q, by=by, order=order, k=a.get("k", 10, int),
        after=a.after(int if by == "doc_len" else str), filters=a.filters(),
    )
    resp = {"query": q, "by": by, "order": order, "hits": rows}
    if rows:
        resp["next_after"] = f"{rows[-1][by]},{rows[-1]['doc_id']}"
    return resp


def _aggs(svc, a):
    """GET /api/aggs?q=&interval=: range / histogram / stats /
    cardinality over an OR match — one pruned candidate pass, one
    GROUPING SETS shuffle, content never read."""
    q, interval = a.need("q"), a.get("interval", 25, int)
    return {"query": q, "aggs": svc.run(lambda: svc.reader.match_aggs(q, interval=interval))}


def _significant(svc, a):
    """GET /api/significant?q=: ES significant_terms (JLH) over the
    OR-match foreground (needs --docs for the foreground re-analysis)."""
    q, size, mdc = a.need("q"), a.get("size", 10, int), a.get("min_doc_count", 3, int)
    docs = svc._need_docs()
    rows = svc.run(
        lambda: svc.reader.significant_terms(docs, q, size=size, min_doc_count=mdc)
    )
    return {"query": q, "terms": rows}


def _facets(svc, a):
    q, by = a.need("q"), a.get("by", "lang")
    if by not in ("lang", "repo"):
        raise ValueError("by must be lang|repo")
    return {"query": q, "by": by, "buckets": svc.facets(q, by=by)}


def _suggest(svc, a):
    """GET /api/suggest?prefix=: ES completion suggester — vocabulary
    terms completing the analyzed prefix, ranked by df."""
    p, k = a.need("prefix", "q"), a.get("k", 10, int)
    return {"prefix": p, "suggestions": svc.run(lambda: svc.reader.suggest_terms(p, size=k))}


def _didyoumean(svc, a):
    """GET /api/didyoumean?q=: ES term suggester — vocabulary terms
    within Levenshtein `dist`, ranked (distance, df desc, term)."""
    q, k, dist = a.need("q"), a.get("k", 5, int), a.get("dist", 2, int)
    rows = svc.run(lambda: svc.reader.suggest_corrections(q, size=k, max_dist=dist))
    return {"q": q, "suggestions": rows}


def _analyze(svc, a):
    """GET /api/analyze?text=: the ES `_analyze` dev surface — the exact
    token stream the index and every query path use (driver-local)."""
    from ariadna_spark.analyze import tokenize_py

    toks = tokenize_py(a.need("text", "q"))
    return {"tokens": [{"token": t, "position": i} for i, t in enumerate(toks)]}


GET_ROUTES = {
    "/api/search": _search_route("match"),
    **{
        f"/api/{mode}": _search_route(mode)
        for mode in ("prefix", "phrase", "phrase_prefix", "near", "fuzzy")
    },
    "/api/reverse": _reverse,
    "/api/bool": _bool,
    "/api/highlight": _highlight,
    "/api/explain": _explain,
    "/api/mlt": _mlt,
    "/api/count": _count,
    "/api/multifield": _multifield,
    "/api/termvectors": _termvectors,
    "/api/sorted": _sorted,
    "/api/aggs": _aggs,
    "/api/significant": _significant,
    "/api/facets": _facets,
    "/api/grep": lambda svc, a: svc.grep(a.need("q"), limit=a.get("limit", 100, int)),
    "/api/suggest": _suggest,
    "/api/didyoumean": _didyoumean,
    "/api/analyze": _analyze,
    "/api/stats": lambda svc, a: svc.stats(),
}


def _search_post(svc, a):
    """POST /api/_search; `?scroll=<keep>` opens a scroll context."""
    keep = a.get("scroll")
    return svc.es_scroll_open(a.body, keep) if keep else svc.es_search(a.body)


def _hybrid(svc, a):
    q, v = a.body.get("q"), a.body.get("v")
    if not q or not isinstance(v, list) or not v:
        raise ValueError("missing q or v")
    hits = svc.hybrid(
        str(q), v, k=int(a.body.get("k", 10)),
        window=int(a.body.get("window", 20)), n_probe=int(a.body.get("n_probe", 4)),
    )
    return {"query": q, "hits": hits}


def _queries(a) -> list:
    queries = a.body.get("queries")
    if not isinstance(queries, list) or not queries:
        raise ValueError("missing queries")
    return queries


POST_ROUTES = {
    "/api/_search": _search_post,
    "/api/_search/scroll": lambda svc, a: svc.es_scroll_next(a.body),
    "/api/_msearch": lambda svc, a: svc.es_msearch(a.raw),
    "/api/_mget": lambda svc, a: svc.es_mget(a.body),
    "/api/_rank_eval": lambda svc, a: svc.es_rank_eval(a.body),
    "/api/_validate": lambda svc, a: svc.es_validate(a.body),
    "/api/percolate": lambda svc, a: svc.percolate_body(a.body),
    "/api/hybrid": _hybrid,
    "/api/search:batch": lambda svc, a: {"results": svc.search_batch(_queries(a))},
    "/api/ann:batch": lambda svc, a: {
        "results": svc.ann_batch(
            _queries(a), k=int(a.body.get("k", 10)), n_probe=int(a.body.get("n_probe", 4))
        )
    },
}

DELETE_ROUTES = {"/api/_search/scroll": lambda svc, a: svc.es_scroll_clear(a.body)}


def make_handler(service: SearchService, public_dir: str | None = None):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _static(self, path: str) -> None:
            """Static demo UI (the reference serves public/ via
            http.FileServer as the router fallback, osm.go:183).
            Resolution is confined to public_dir (no traversal)."""
            rel = path.lstrip("/") or "index.html"
            root = os.path.realpath(public_dir)
            full = os.path.realpath(os.path.join(root, rel))
            if not full.startswith(root + os.sep) and full != root:
                return self._json(404, {"error": "not found"})
            if os.path.isdir(full):
                full = os.path.join(full, "index.html")
            if not os.path.isfile(full):
                return self._json(404, {"error": "not found"})
            ctype = {
                ".html": "text/html; charset=utf-8",
                ".js": "text/javascript",
                ".css": "text/css",
                ".json": "application/json",
            }.get(os.path.splitext(full)[1], "application/octet-stream")
            with open(full, "rb") as f:
                body = f.read()
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _json(self, code: int, obj) -> None:
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _route(self, routes: dict, with_body: bool = False) -> None:
            """Look the path up in `routes` and answer its JSON; malformed
            params or bodies (ValueError) are 400, any other failure a 500
            — the server keeps serving either way."""
            u = urlparse(self.path)
            # /api/reverse/:lat/:lon carries its params in the path
            path = "/api/reverse" if u.path.startswith("/api/reverse") else u.path
            try:
                raw = None
                if with_body:
                    ln = int(self.headers.get("Content-Length") or 0)
                    raw = self.rfile.read(ln) or b"{}"
                route = routes.get(path)
                if route is None:
                    if public_dir and not with_body and not path.startswith("/api/"):
                        return self._static(path)
                    return self._json(404, {"error": "unknown endpoint"})
                return self._json(200, route(service, _Request(u, raw)))
            except ValueError as e:  # malformed params/body -> client error
                return self._json(400, {"error": str(e)})
            except Exception as e:  # surface errors as JSON, keep serving
                return self._json(500, {"error": str(e)})

        def do_GET(self):
            self._route(GET_ROUTES)

        def do_POST(self):
            self._route(POST_ROUTES, with_body=True)

        def do_DELETE(self):
            self._route(DELETE_ROUTES, with_body=True)

    return Handler


def serve(
    service: SearchService, port: int = 8080, public_dir: str | None = None
) -> ThreadingHTTPServer:
    httpd = ThreadingHTTPServer(
        ("127.0.0.1", port), make_handler(service, public_dir=public_dir)
    )
    return httpd


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", default=None)
    ap.add_argument("--index", default=None)
    ap.add_argument("--build-id", default=None)
    ap.add_argument("--geo-index", default=None, help="geo_index_write store for /api/reverse")
    ap.add_argument("--geo-cell-deg", type=float, default=20.0)
    ap.add_argument(
        "--ann-index", default=None,
        help="ivf_store_write store for POST /api/ann:batch",
    )
    ap.add_argument(
        "--docs", default=None,
        help="sf dir holding documents.parquet, enables GET /api/grep",
    )
    ap.add_argument(
        "--public",
        default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "public"),
        help="static demo UI dir (empty string disables)",
    )
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args()

    from ariadna_spark.config import load_config, resolve

    cfg = load_config(args.config)
    index_dir = resolve(args.index, cfg, "out_dir")
    if not index_dir:
        ap.error("--index required (flag, config file, or ARIADNA_OUT_DIR)")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ariadna-serve").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    service = SearchService(
        spark,
        index_dir,
        build_id=args.build_id,
        geo_dir=args.geo_index,
        geo_cell_deg=args.geo_cell_deg,
        ann_dir=args.ann_index,
        docs_dir=args.docs,
    )
    httpd = serve(service, args.port, public_dir=args.public or None)
    print(json.dumps({"serving": True, "port": args.port, **service.stats()}), flush=True)
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        httpd.shutdown()
        spark.stop()


if __name__ == "__main__":
    main()
