"""Tokenizer golden cases + three-way parity (Spark expr / Arrow core /
DuckDB SQL) — the property the driver's oracle comparison depends on."""

import duckdb
import pyarrow as pa
import pytest

from ariadna_spark.analyze import (
    duckdb_edge_ngrams_sql,
    duckdb_tokenize_sql,
    edge_ngrams_expr,
    edge_ngrams_py,
    tokenize_arrow,
    tokenize_expr,
    tokenize_py,
)

GOLDEN = [
    ("parseJsonData", ["parse", "json", "data"]),
    ("parseHTTPResponse", ["parse", "http", "response"]),
    ("get_user_name", ["get", "user", "name"]),
    ("MAX_BUFFER_SIZE", ["max", "buffer", "size"]),
    ("foo.bar(baz, 42)", ["foo", "bar", "baz", "42"]),
    ("x=1;y=2", ["x", "1", "y", "2"]),
    ("HTTPServer", ["http", "server"]),
    ("linkedList2Node", ["linked", "list2", "node"]),
    ("# комментарий 注释 ok", ["ok"]),
    ("", []),
    ("   ", []),
    ("___", []),
    ("camelCase snake_case UPPER lower 0xFF", ["camel", "case", "snake", "case", "upper", "lower", "0x", "ff"]),
]


def _arrow_rows(texts):
    """tokenize_arrow over the whole array, split back into rows by parents."""
    toks, parents = tokenize_arrow(pa.array(texts, type=pa.string()))
    rows = [[] for _ in texts]
    for t, p in zip(toks.to_pylist(), parents.to_pylist()):
        rows[p].append(t)
    return rows


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_tokenize_py_golden(text, expected):
    assert tokenize_py(text) == expected


def test_three_way_parity(spark):
    texts = [t for t, _ in GOLDEN] + [
        "def binarySearch(arr, lo, hi):\n  if lo >= hi: return -1",
        "SELECT * FROM tbl WHERE x = 'ünïcödé'",
        None,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, content string")
    expr_rows = df.select("id", tokenize_expr("content").alias("toks")).orderBy("id").collect()
    arrow_rows = _arrow_rows(texts)
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT {duckdb_tokenize_sql('t')} FROM (SELECT unnest(?) AS t)",
        [[t or "" for t in texts]],
    ).fetchall()
    assert len(arrow_rows) == len(expr_rows) == len(duck)
    for i, (e, a, d) in enumerate(zip(expr_rows, arrow_rows, duck)):
        assert list(e["toks"]) == a, f"expr vs arrow mismatch row {i}"
        assert list(e["toks"]) == list(d[0]), f"spark vs duckdb mismatch row {i}"


def test_edge_ngrams(spark):
    assert edge_ngrams_py("a") == []
    assert edge_ngrams_py("ab") == ["ab"]
    assert edge_ngrams_py("binarysearch") == [
        "bi", "bin", "bina", "binar", "binary", "binarys", "binaryse"
    ]
    toks = ["a", "ab", "binarysearch", "xyz"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {r["tok"]: list(r["ng"]) for r in df.select("tok", edge_ngrams_expr("tok").alias("ng")).collect()}
    con = duckdb.connect()
    duck = dict(
        con.execute(
            f"SELECT t, {duckdb_edge_ngrams_sql('t')} FROM (SELECT unnest(?) AS t)", [toks]
        ).fetchall()
    )
    for t in toks:
        assert got[t] == edge_ngrams_py(t)
        assert list(duck[t]) == edge_ngrams_py(t)


from hypothesis import given, settings, strategies as st


@given(st.lists(st.text(max_size=40), min_size=1, max_size=8))
@settings(max_examples=30, deadline=None)
def test_three_way_parity_property(spark_global, texts):
    """Random unicode strings: Catalyst expr == Arrow core == DuckDB SQL
    == tokenize_py. (spark fixture injected via module global set in
    test_three_way_parity run; falls back to building rows directly.)"""
    import duckdb

    spark = spark_global
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, content string")
    expr_rows = df.select("id", tokenize_expr("content").alias("t")).orderBy("id").collect()
    arrow_rows = _arrow_rows(texts)
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT {duckdb_tokenize_sql('t')} FROM (SELECT unnest(?) AS t)", [texts]
    ).fetchall()
    for i, t in enumerate(texts):
        py = tokenize_py(t)
        assert list(expr_rows[i]["t"]) == py
        assert arrow_rows[i] == py
        assert list(duck[i][0]) == py


import pytest as _pytest


@_pytest.fixture(scope="module")
def spark_global(spark):
    return spark
