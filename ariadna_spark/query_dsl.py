"""ES `_search` request-body compiler (the delegated query surface as an
actual API).

The reference never builds queries itself — every search is an
ElasticSearch `_search` JSON body delegated to ES 7.x
(/root/reference/elastic/elastic.go: the client passes the request
through; /root/reference/osm/osm.go:179-186 routes the HTTP surface).
This module is the native counterpart: it compiles the same request-body
dialect onto this engine's own verbs, so a caller of the reference can
POST the body they use today.

Scope (loud errors outside it — never a silent wrong answer):

  query:
    match            {field: text}            -> topk (primary field only;
                                                other fields score through
                                                multi_match)
    match_all        {}                       -> needs sort (see below)
    match_phrase     {field: text}            -> phrase_topk
    match_phrase_prefix {field: text}         -> phrase_prefix_topk
    prefix           {field: value}           -> prefix_topk
    fuzzy            {field: {value, fuzziness}} -> fuzzy_topk
    multi_match      {query, fields: [f^boost]} -> multifield_topk_single
                                                  (the store's own fields)
    bool             {must, should, must_not, filter,
                      minimum_should_match}   -> bool_topk / filtered paths
  filter clauses (bool.filter, non-scoring):
    term             {col: value}             -> docmap equality
    range            {col: {gt|gte|lt|lte}}   -> docmap range predicate
  size               -> k
  search_after       -> cursor (relevance sort: [score, doc_id];
                        field sort: [value, doc_id])
  sort: [{field: {order}}] -> sorted_topk (one sort key + doc_id tiebreak,
                        exactly the engine's field-sort contract)
  aggs (with size: 0) -> compile_aggs: terms on lang/repo, range /
                        histogram / stats on doc_len, cardinality on
                        lang — the doc_len family shares ONE
                        grouping-sets pass (match_aggs)
  highlight          -> highlight_topk over the primary field (needs
                        the source corpus via `docs=`)

All text analysis happens in the engine's own verbs — the body never
bypasses the analyzer, exactly like ES.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# docmap attributes a filter/sort may reference (also the allowlist of
# serve.py's GET filter params; never arbitrary expressions from the wire)
FILTERABLE = ("repo", "path", "commit", "lang", "doc_len")


class DslError(ValueError):
    """Malformed or out-of-scope request body (HTTP 400 shape)."""


def _one_entry(d: dict, what: str) -> tuple:
    if not isinstance(d, dict) or len(d) != 1:
        raise DslError(f"{what} must be a single-key object, got {d!r}")
    return next(iter(d.items()))


def _as_text(spec, what: str) -> str:
    """ES allows both shorthand ({field: "text"}) and object form
    ({field: {"query": "text"}})."""
    if isinstance(spec, str):
        return spec
    if isinstance(spec, dict) and isinstance(spec.get("query"), str):
        return spec["query"]
    if isinstance(spec, dict) and isinstance(spec.get("value"), str):
        return spec["value"]
    raise DslError(f"{what}: expected text or {{query|value: text}}, got {spec!r}")


def _filterable(col) -> str:
    if col not in FILTERABLE:
        raise DslError(f"unfilterable column {col!r} (allowed: {FILTERABLE})")
    return col


def compile_filter(clauses) -> Column | None:
    """bool.filter (non-scoring context) -> one conjunctive Catalyst
    predicate over allowlisted docmap columns."""
    if clauses is None:
        return None
    if isinstance(clauses, dict):
        clauses = [clauses]
    flt = None
    for c in clauses:
        kind, spec = _one_entry(c, "filter clause")
        if kind == "term":
            col, val = _one_entry(spec, "term filter")
            cond = F.col(_filterable(col)) == val
        elif kind == "range":
            col, bounds = _one_entry(spec, "range filter")
            _filterable(col)
            cond = F.lit(True)
            ops = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}
            if not isinstance(bounds, dict) or not set(bounds) & set(ops):
                raise DslError(f"range filter needs gt/gte/lt/lte, got {bounds!r}")
            for op, v in bounds.items():
                if op not in ops:
                    raise DslError(f"unsupported range op {op!r}")
                cond = cond & getattr(F.col(col), ops[op])(v)
        elif kind == "terms":
            col, vals = _one_entry(spec, "terms filter")
            if col != "doc_id":
                _filterable(col)
            if not isinstance(vals, list) or not vals:
                raise DslError("terms filter needs a non-empty value array")
            cond = F.col(col).isin(vals)
        elif kind == "ids":
            vals = (spec or {}).get("values")
            if not isinstance(vals, list) or not all(isinstance(v, int) for v in vals):
                raise DslError("ids filter needs {values: [int, ...]}")
            cond = F.col("doc_id").isin(vals)
        elif kind == "exists":
            cond = F.col(_filterable((spec or {}).get("field"))).isNotNull()
        else:
            raise DslError(
                f"unsupported filter clause {kind!r} (term, terms, range, ids, exists)"
            )
        flt = cond if flt is None else (flt & cond)
    return flt


def _field_or_primary(reader, field: str, what: str) -> None:
    """Positional/expansion verbs run against the store's primary field;
    a multifield store's secondary fields are BM25F-only for now."""
    prim = reader.primary_field
    if field != prim:
        raise DslError(
            f"{what} on field {field!r}: only the primary field "
            f"({prim!r}) supports this verb; use multi_match for "
            f"secondary-field scoring"
        )


def _leaf_text(reader, spec, what: str) -> str:
    """A leaf clause body on the primary field -> its text. `spec` is
    {field: text} or {field: {query|value: text}}."""
    field, mspec = _one_entry(spec, what)
    _field_or_primary(reader, field, what)
    return _as_text(mspec, what)


def _match_clause(reader, clause, what: str) -> str:
    """A clause that must be a primary-field match -> its text."""
    kind, spec = _one_entry(clause, what)
    if kind != "match":
        raise DslError(f"{what} supports match clauses, got {kind!r}")
    return _leaf_text(reader, spec, f"{what} match")


def _one_must_match(reader, query, what: str) -> tuple[str, Column | None]:
    """match, or bool with filter + exactly ONE must match -> (text, flt).
    The sort and collapse verbs take their candidates as an OR over one
    match's analyzed terms, so N must clauses (an AND of matches) are
    rejected rather than silently widened."""
    kind, spec = _one_entry(query or {}, "query")
    if kind == "match":
        return _leaf_text(reader, spec, f"{what} match"), None
    if kind != "bool":
        raise DslError(f"{what} composes with match/bool queries, not {kind!r}")
    spec = dict(spec)
    flt = compile_filter(spec.pop("filter", None))
    musts = spec.pop("must", [])
    if isinstance(musts, dict):
        musts = [musts]
    if spec or len(musts) != 1:
        raise DslError(
            f"{what} bool supports exactly one must match + filter, "
            f"got must={len(musts)} extra={sorted(spec)}"
        )
    return _match_clause(reader, musts[0], f"{what} bool.must"), flt


# relevance-ranked leaf verbs over the primary field: query kind ->
# (reader, text, k, search_after cursor) -> DataFrame
_LEAF_VERBS = {
    "match": lambda r, text, k, after: r.topk(text, k, after=after),
    "match_phrase": lambda r, text, k, _: r.phrase_topk(text, k),
    "match_phrase_prefix": lambda r, text, k, _: r.phrase_prefix_topk(text, k),
    "prefix": lambda r, text, k, _: r.prefix_topk(text, k),
    "wildcard": lambda r, text, k, _: r.wildcard_topk(text, k),
    "regexp": lambda r, text, k, _: r.regexp_topk(text, k),
}


def _parse_boosted(fields: list) -> list[tuple[str, float]]:
    out = []
    for f in fields:
        if not isinstance(f, str):
            raise DslError(f"multi_match field must be a string, got {f!r}")
        name, _, boost = f.partition("^")
        out.append((name, float(boost) if boost else 1.0))
    return out


def msearch(
    reader,
    bodies: list[dict],
    docs: DataFrame | None = None,
) -> list[list[dict]]:
    """ES `_msearch`: N request bodies -> N result row-lists, in order.

    Plain match bodies (keys ⊆ {query, size}, match on the primary
    field) are gathered into ONE topk_many call — blocks shared across
    queries fetch and shuffle ONCE, and the per-query Spark-job overhead
    that dominates single-query latency amortizes over the whole batch
    (the production batch-scoring shape). Every other body compiles
    individually through compile_search. Any malformed body fails the
    whole request loudly (DslError -> 400) before ANY work runs — ES's
    per-item error envelope is deliberately out of scope for v1."""
    if not isinstance(bodies, list) or not bodies:
        raise DslError("_msearch needs a non-empty list of request bodies")
    prim = reader.primary_field
    batch: list[tuple[int, str, int]] = []
    singles: list[int] = []
    for i, b in enumerate(bodies):
        is_plain = isinstance(b, dict) and set(b) <= {"query", "size"} and b.get("query")
        if is_plain:
            kind, spec = _one_entry(b["query"], "query")
            if kind == "match":
                field, mspec = _one_entry(spec, "match")
                if field == prim:
                    batch.append((i, _as_text(mspec, "match"), int(b.get("size", 10))))
                    continue
        singles.append(i)
    # validate every single body BEFORE running anything (loud, no partial work)
    compiled = {i: compile_search(reader, bodies[i], docs) for i in singles}
    results: list[list[dict]] = [[] for _ in bodies]
    if batch:
        got = reader.topk_many(batch)
        for r in sorted(got.collect(), key=lambda r: (r["query_id"], r["rank"])):
            results[r["query_id"]].append(
                {"doc_id": r["doc_id"], "score": r["score"]}
            )
    for i, df in compiled.items():
        results[i] = [r.asDict() for r in df.collect()]
    return results


import re as _re

# one query-string token: quoted phrase | bare token (with optional
# leading +/-, field: prefix, trailing * or ~N)
_QS_TOKEN = _re.compile(r'"[^"]*"|\S+')


def compile_query_string(
    reader,
    qs: str,
    default_operator: str = "or",
    k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """ES `simple_query_string`: the one-line query dialect, compiled onto
    the engine's verbs. Supported syntax (loud errors outside it):

      term            scoring term (default_operator: or -> should,
                                    and -> must)
      +term           must           -term          must_not
      "a b c"         exact phrase   (must be the only scoring clause)
      term*           prefix         (only scoring clause)
      term~N          fuzzy, edit distance N (default 1; only scoring
                      clause)
      field:value     non-scoring filter over an allowlisted docmap
                      column (term semantics)

    Analysis happens in the engine's verbs — the string never bypasses
    the analyzer. Scoring follows the compiled verb's BM25 contract with
    GLOBAL stats; filters never change scores (ES filter context).
    """
    if not isinstance(qs, str) or not qs.strip():
        raise DslError("query_string must be a non-empty string")
    if default_operator not in ("or", "and"):
        raise DslError(f"default_operator must be or/and, got {default_operator!r}")
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    filters: list[dict] = []
    phrase = prefix = fuzzy = None
    fuzzy_dist = 1
    for tok in _QS_TOKEN.findall(qs):
        if tok.startswith('"'):
            if not tok.endswith('"') or len(tok) < 3:
                raise DslError(f"unterminated phrase {tok!r}")
            if phrase is not None:
                raise DslError("at most one phrase clause supported")
            phrase = tok[1:-1]
            continue
        neg = tok.startswith("-")
        req = tok.startswith("+")
        if neg or req:
            tok = tok[1:]
            if not tok:
                raise DslError("dangling +/- operator")
            if tok.startswith('"'):
                # _QS_TOKEN only recognizes phrases at token start, so
                # -"a b" would otherwise mis-tokenize into bare garbage
                raise DslError("+/- before a quoted phrase is unsupported")
        if ":" in tok:
            col, _, val = tok.partition(":")
            _filterable(col)
            if neg or req:
                raise DslError("field filters take no +/- (non-scoring context)")
            filters.append({"term": {col: int(val) if col == "doc_len" else val}})
            continue
        m = _re.fullmatch(r"(.+?)~(\d*)", tok)
        if m:
            if neg or req:
                # silently dropping the operator would return exactly the
                # docs a -fuzzy caller asked to exclude
                raise DslError("fuzzy clauses take no +/-")
            if fuzzy is not None:
                raise DslError("at most one fuzzy clause supported")
            fuzzy, fuzzy_dist = m.group(1), int(m.group(2) or 1)
            continue
        if tok.endswith("*"):
            if neg or req:
                raise DslError("prefix clauses take no +/-")
            if prefix is not None:
                raise DslError("at most one prefix clause supported")
            prefix = tok[:-1]
            if not prefix:
                raise DslError("bare * is not a query")
            continue
        (must_not if neg else must if req else (must if default_operator == "and" else should)).append(tok)

    flt = compile_filter(filters) if filters else None
    expansion = [c for c in (phrase, prefix, fuzzy) if c is not None]
    if expansion:
        if len(expansion) > 1 or must or should or must_not:
            raise DslError(
                "phrase/prefix/fuzzy must be the only scoring clause "
                "(compose via the bool body for more)"
            )
        if after is not None:
            raise DslError("search_after composes with term queries only")
        if phrase is not None:
            return reader.phrase_topk(phrase, k, flt=flt)
        if prefix is not None:
            return reader.prefix_topk(prefix, k, flt=flt)
        return reader.fuzzy_topk(fuzzy, k, max_dist=fuzzy_dist, flt=flt)
    m_text, s_text, n_text = " ".join(must), " ".join(should), " ".join(must_not)
    if not (m_text or s_text):
        raise DslError("query_string needs >= 1 scoring clause")
    if s_text or n_text:
        return reader.bool_topk(
            m_text, s_text, n_text, flt=flt, msm=1 if s_text else 0, k=k, after=after
        )
    if len(must) > 1:
        # must-only with several terms is a CONJUNCTION; topk/filtered_topk
        # are disjunctive OR BM25 and would silently drop the requirement
        return reader.bool_topk(m_text, flt=flt, k=k, after=after)
    if flt is not None:
        return reader.filtered_topk(m_text, flt, k, after=after)
    return reader.topk(m_text, k, after=after)


def _agg_field(aspec, ak: str, allowed: tuple) -> str:
    f = aspec.get("field") if isinstance(aspec, dict) else None
    if f not in allowed:
        raise DslError(f"{ak} agg supports field {'|'.join(allowed)}, got {aspec!r}")
    return f


def compile_aggs(reader, body: dict) -> DataFrame:
    """ES `aggs` body (the aggregation half of `_search`) -> one engine
    DataFrame of (agg, bucket, n_docs, metric) rows, `agg` = the caller's
    agg NAME. Scope (loud errors outside it): terms on lang/repo, range /
    histogram / stats on doc_len, cardinality on lang — over a match
    query's candidate set. The doc_len family compiles onto ONE
    match_aggs pass (candidate decode + semi-join + grouping-sets shuffle
    happen once no matter how many aggs the body asks for); each terms
    agg is one id-only semi-join groupBy over docmap (content never
    read). ES callers send size:0 with aggs-only bodies; a non-zero size
    errors rather than silently dropping hits."""
    from .analyze import tokenize_py

    if int(body.get("size", 0)) != 0:
        raise DslError("aggs bodies must set size: 0 (hits+aggs unsupported)")
    text = _match_clause(reader, body.get("query") or {"match_all": {}}, "aggs query")
    aggs = body["aggs"]
    if not isinstance(aggs, dict) or not aggs:
        raise DslError("aggs must be a non-empty object")
    # terms agg with a top_hits sub-agg: per-bucket hit lists, a different
    # result shape (bucket, rank, doc_id, score) — supported only as the
    # body's single agg so the shape is unambiguous
    if len(aggs) == 1:
        (aname, aspec_outer), = aggs.items()
        if isinstance(aspec_outer, dict) and set(aspec_outer) == {"terms", "aggs"}:
            tfield = _agg_field(aspec_outer["terms"], "terms", ("lang", "repo"))
            hname, hspec_outer = _one_entry(aspec_outer["aggs"], "sub-agg")
            hk, hspec = _one_entry(hspec_outer, f"sub-agg {hname!r}")
            if hk != "top_hits":
                raise DslError(f"only top_hits sub-aggs supported, got {hk!r}")
            from .operators.ranking import top_hits

            return top_hits(reader, text, tfield, int((hspec or {}).get("size", 3)))
    if any(isinstance(v, dict) and "aggs" in v for v in aggs.values()):
        raise DslError("sub-aggs supported only as a lone terms+top_hits agg")
    ranges, interval = None, None
    suite_names: dict[str, str] = {}  # engine agg kind -> caller's name
    terms_aggs: list[tuple[str, str]] = []

    for name, aspec_outer in aggs.items():
        ak, aspec = _one_entry(aspec_outer, f"agg {name!r}")
        if ak in suite_names:
            raise DslError(f"duplicate {ak!r} agg")
        if ak == "terms":
            terms_aggs.append((name, _agg_field(aspec, ak, ("lang", "repo"))))
        elif ak == "range":
            _agg_field(aspec, ak, ("doc_len",))
            rs = []
            for r in aspec.get("ranges", []):
                key = r.get("key") or f"{r.get('from', '*')}-{r.get('to', '*')}"
                rs.append((str(key), r.get("from"), r.get("to")))
            if not rs:
                raise DslError("range agg needs non-empty ranges")
            ranges, suite_names["range"] = rs, name
        elif ak == "histogram":
            _agg_field(aspec, ak, ("doc_len",))
            interval, suite_names["histogram"] = int(aspec.get("interval", 25)), name
        elif ak == "stats":
            _agg_field(aspec, ak, ("doc_len",))
            suite_names["stats"] = name
        elif ak == "cardinality":
            _agg_field(aspec, ak, ("lang",))
            suite_names["cardinality"] = name
        else:
            raise DslError(
                f"unsupported agg kind {ak!r} (terms, range, histogram, stats, cardinality)"
            )

    out = None
    if suite_names:
        suite = reader.match_aggs(text, ranges=ranges, interval=interval or 25)
        rename = F.col("agg")
        for ek, caller in suite_names.items():
            rename = F.when(F.col("agg") == ek, F.lit(caller)).otherwise(rename)
        out = suite.filter(F.col("agg").isin(list(suite_names))).withColumn("agg", rename)
    if terms_aggs:
        cands = reader.candidate_doc_ids(sorted(set(tokenize_py(text))))
        for name, f in terms_aggs:
            t = (
                reader.docmap()
                .select("doc_id", f)
                .join(cands, "doc_id", "left_semi")
                .groupBy(F.col(f).alias("bucket"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
                .select(
                    F.lit(name).alias("agg"),
                    "bucket",
                    "n_docs",
                    F.lit(None).cast("double").alias("metric"),
                )
            )
            out = t if out is None else out.unionByName(t)
    return out.orderBy("agg", "bucket")


def compile_search(
    reader,
    body: dict,
    docs: DataFrame | None = None,
) -> DataFrame:
    """One ES `_search` request body -> one engine DataFrame.

    multi_match scores the fields the store indexes itself: BM25F over
    the per-field terms of build_index(fields=...), through the same
    planner as every other query; a field the store does not index is a
    DslError ("unknown fields"). `docs` is the source corpus, required
    only for `highlight` bodies (snippets re-read the k winners'
    content)."""
    if not isinstance(body, dict):
        raise DslError("request body must be an object")
    unknown = set(body) - {
        "query", "size", "search_after", "sort", "from", "aggs", "highlight",
        "collapse", "rescore", "min_score", "suggest",
    }
    if unknown:
        raise DslError(f"unsupported body keys {sorted(unknown)}")
    if "suggest" in body:
        # suggest-only bodies (ES allows hits+suggest; scoped to the
        # suggester alone so the result shape is unambiguous)
        if set(body) - {"suggest"}:
            raise DslError("suggest bodies carry only the suggest key")
        sg = body["suggest"]
        if not isinstance(sg, dict) or len(sg) != 1:
            raise DslError("exactly one named suggester supported")
        (_, sspec), = sg.items()
        if not isinstance(sspec, dict):
            raise DslError("suggester must be an object")
        if "completion" in sspec:
            if not isinstance(sspec.get("prefix"), str) or not sspec["prefix"]:
                raise DslError("completion suggester needs {prefix, completion}")
            size = int((sspec["completion"] or {}).get("size", 10))
            return reader.suggest_terms(sspec["prefix"], size=size)
        if "term" in sspec:
            if not isinstance(sspec.get("text"), str) or not sspec["text"]:
                raise DslError("term suggester needs {text, term}")
            t = sspec["term"] or {}
            return reader.suggest_corrections(
                sspec["text"],
                size=int(t.get("size", 10)),
                max_dist=int(t.get("max_edits", 2)),
                prefix_len=int(t.get("prefix_length", 1)),
            )
        raise DslError("suggester must be completion or term")
    if "min_score" in body:
        if "aggs" in body or "collapse" in body or body.get("sort"):
            raise DslError("min_score composes with relevance-ranked queries only")
        sub = {kk: vv for kk, vv in body.items() if kk != "min_score"}
        out = compile_search(reader, sub, docs)
        # scores sort desc, so filter-after-topk == ES semantics: docs
        # below min_score are a suffix of the ranking (no backfill exists)
        return out.filter(F.col("score") >= float(body["min_score"]))
    if "rescore" in body:
        if set(body) - {"query", "size", "rescore"}:
            raise DslError("rescore composes only with query+size")
        rc = body["rescore"]
        if not isinstance(rc, dict) or "query" not in rc:
            raise DslError("rescore needs {query: {rescore_query, ...}, window_size}")
        rq = rc["query"]
        from .operators.ranking import rescore_topk

        return rescore_topk(
            reader,
            _match_clause(reader, body.get("query") or {}, "rescore primary"),
            _match_clause(reader, (rq or {}).get("rescore_query") or {}, "rescore_query"),
            window_size=int(rc.get("window_size", 50)),
            query_weight=float(rq.get("query_weight", 1.0)),
            rescore_query_weight=float(rq.get("rescore_query_weight", 1.0)),
            k=int(body.get("size", 10)),
        )
    if "collapse" in body:
        if set(body) - {"query", "size", "collapse"}:
            raise DslError("collapse composes only with query+size")
        cf = (body["collapse"] or {}).get("field")
        if cf not in FILTERABLE:
            raise DslError(f"collapse.field must be a docmap column, got {cf!r}")
        text, flt = _one_must_match(reader, body.get("query"), "collapse")
        from .operators.ranking import collapse_topk

        return collapse_topk(reader, text, cf, int(body.get("size", 10)), flt=flt)
    if "from" in body:
        raise DslError("from+size deep paging is unsupported; use search_after")
    if "aggs" in body:
        if body.get("sort") or body.get("search_after") or "highlight" in body:
            raise DslError("aggs bodies compose only with query+size")
        return compile_aggs(reader, body)
    if "highlight" in body:
        if body.get("sort") or body.get("search_after"):
            raise DslError("highlight composes with relevance-ranked queries only")
        hl, prim = body["highlight"], reader.primary_field
        if not isinstance(hl, dict) or list(hl.get("fields", {})) != [prim]:
            raise DslError(
                f"highlight.fields must name exactly the primary field ({prim!r})"
            )
        if docs is None:
            raise DslError("highlight needs the source corpus (docs=)")
        kind, spec = _one_entry(body.get("query") or {}, "query")
        if kind not in ("match", "match_phrase"):
            raise DslError(
                f"highlight composes with match/match_phrase queries, not {kind!r}"
            )
        text = _leaf_text(reader, spec, f"highlight {kind}")
        if kind == "match_phrase":
            return reader.highlight_phrase_topk(docs, text, int(body.get("size", 10)))
        return reader.highlight_topk(docs, text, int(body.get("size", 10)))
    k = int(body.get("size", 10))
    q = body.get("query") or {"match_all": {}}
    kind, spec = _one_entry(q, "query")

    after = None
    if body.get("search_after") is not None:
        sa = body["search_after"]
        if not isinstance(sa, list) or len(sa) != 2:
            raise DslError("search_after must be [sort_value, doc_id]")
        after = (sa[0], int(sa[1]))

    # field sort (ES sort: [{field: {order}}]): delegate to sorted_topk —
    # any query kind that yields candidate ids could sort, but the
    # engine's field-sort contract is match-query candidates; keep scope.
    if body.get("sort"):
        sort = body["sort"]
        if isinstance(sort, dict):
            sort = [sort]
        if len(sort) != 1:
            raise DslError("exactly one sort key supported (doc_id tiebreak implied)")
        col, order = _one_entry(sort[0], "sort")
        asc = (order.get("order", "asc") if isinstance(order, dict) else order) != "desc"
        text, flt = _one_must_match(reader, q, "sort")
        return reader.sorted_topk(text, sort_col=col, asc=asc, k=k, after=after, flt=flt)

    # past the sort block: only match/bool relevance cursors remain —
    # a silently dropped cursor would make pagination (and the scroll
    # API built on it) loop on page 1 forever
    if after is not None and kind not in ("match", "bool", "simple_query_string"):
        raise DslError(f"search_after unsupported for {kind!r} queries")
    if kind in _LEAF_VERBS:
        text = _leaf_text(reader, spec, kind)
        try:
            return _LEAF_VERBS[kind](reader, text, k, after)
        except ValueError as e:  # anchor/selectivity scope -> 400 shape
            raise DslError(str(e))
    if kind == "fuzzy":
        text = _leaf_text(reader, spec, "fuzzy")
        (mspec,) = spec.values()
        dist = int(mspec.get("fuzziness", 1)) if isinstance(mspec, dict) else 1
        return reader.fuzzy_topk(text, k, max_dist=dist)
    if kind == "multi_match":
        if not isinstance(spec, dict) or "query" not in spec or "fields" not in spec:
            raise DslError("multi_match needs {query, fields}")
        fields = _parse_boosted(spec["fields"])
        from .operators.wand import multifield_topk_single

        unknown = sorted({n for n, _ in fields} - set(reader.field_stats))
        if unknown:
            raise DslError(
                f"multi_match: unknown fields {unknown}; the store indexes "
                f"{sorted(reader.field_stats)} (build with fields=)"
            )
        return multifield_topk_single(reader, fields, spec["query"], k)
    if kind == "bool":
        spec = dict(spec)
        flt = compile_filter(spec.pop("filter", None))
        msm = int(spec.pop("minimum_should_match", 0))

        def texts(key):
            cs = spec.pop(key, [])
            if isinstance(cs, dict):
                cs = [cs]
            return " ".join(_match_clause(reader, c, f"bool.{key}") for c in cs)

        must, should, must_not = texts("must"), texts("should"), texts("must_not")
        if spec:
            raise DslError(f"unsupported bool keys {sorted(spec)}")
        if not (must or should or must_not) and flt is not None:
            raise DslError("pure-filter bool needs a sort (non-scoring query)")
        if should or must_not or msm:
            return reader.bool_topk(
                must, should, must_not, flt=flt, msm=msm, k=k, after=after
            )
        # must-only (+ optional filter) degenerates to the match path
        if flt is not None:
            return reader.filtered_topk(must, flt, k, after=after)
        return reader.topk(must, k, after=after)
    if kind == "simple_query_string":
        if not isinstance(spec, dict) or not isinstance(spec.get("query"), str):
            raise DslError("simple_query_string needs {query: string}")
        return compile_query_string(
            reader,
            spec["query"],
            default_operator=str(spec.get("default_operator", "or")).lower(),
            k=k,
            after=after,
        )
    if kind == "dis_max":
        if not isinstance(spec, dict) or not isinstance(spec.get("queries"), list):
            raise DslError("dis_max needs {queries: [...]}")
        texts = [_match_clause(reader, c, "dis_max clause") for c in spec["queries"]]
        if not texts:
            raise DslError("dis_max needs >= 1 clause")
        from .operators.ranking import dis_max_topk

        return dis_max_topk(reader, texts, float(spec.get("tie_breaker", 0.0)), k)
    if kind == "boosting":
        if not isinstance(spec, dict) or not {"positive", "negative"} <= set(spec):
            raise DslError("boosting needs {positive, negative[, negative_boost]}")
        from .operators.ranking import boosting_topk

        return boosting_topk(
            reader,
            _match_clause(reader, spec["positive"], "boosting.positive"),
            _match_clause(reader, spec["negative"], "boosting.negative"),
            float(spec.get("negative_boost", 0.5)),
            k,
        )
    if kind == "function_score":
        if not isinstance(spec, dict) or "query" not in spec:
            raise DslError("function_score needs {query, field_value_factor}")
        fvf = spec.get("field_value_factor")
        if not isinstance(fvf, dict) or fvf.get("field") not in FILTERABLE:
            raise DslError(
                "function_score supports field_value_factor over a docmap "
                f"column (allowed: {FILTERABLE})"
            )
        text = _match_clause(reader, spec["query"], "function_score.query")
        from .operators.ranking import function_score_topk

        try:
            return function_score_topk(
                reader,
                text,
                field=fvf["field"],
                factor=float(fvf.get("factor", 1.0)),
                modifier=str(fvf.get("modifier", "none")),
                boost_mode=str(spec.get("boost_mode", "multiply")),
                k=k,
            )
        except ValueError as e:  # modifier/boost_mode scope -> 400 shape
            raise DslError(str(e))
    if kind == "match_all":
        raise DslError("match_all needs a sort (no relevance order exists)")
    raise DslError(f"unsupported query kind {kind!r}")
