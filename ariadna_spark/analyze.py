"""Code-aware analyzer (SURVEY.md E1).

The reference delegates analysis to the Elasticsearch standard analyzer
(no text mapping declared — /root/reference/elastic/elastic.go:37-44), with
an edge-ngram autocomplete analyzer in its published design
(config key index_settings, /root/reference/config/config.go:9,
/root/reference/ariadna.yml:7). ariadna's only native text normalization is
the street-prefix dictionary rewrite (/root/reference/osm/utils.go:42-59).

Our analyzer generalizes that to source code. **One canonical spec**, four
steps, chosen so the exact same token stream is expressible in each engine
the system runs on — the symmetric-analyzer discipline ES uses (same
analyzer at index and query time), and the property the driver's DuckDB
oracle comparison depends on:

    1. replace every non-ASCII char with a space        [^\\x00-\\x7F]
    2. camelCase boundary split:  ([a-z0-9])([A-Z])   -> "$1 $2"
    3. acronym boundary split:    ([A-Z]+)([A-Z][a-z]) -> "$1 $2"
       (so ``parseHTTPResponse`` -> parse HTTP Response)
    4. lowercase, then extract maximal [a-z0-9]+ runs (snake_case and all
       punctuation split for free)

Each engine has exactly one implementation, and only this module spells
out the regex sequence:

* Arrow (``tokenize_arrow``, RE2 over contiguous buffers): the mapInArrow
  kernels — the index build's tf kernel (stats.py) and the chunk, pair and
  repetition kernels (operators/text.py) — and, through ``tokenize_py``,
  driver-side query analysis.
* Catalyst (``tokenize_expr``, Java regex): every DataFrame operator and
  declared query that needs a token-array column.
* DuckDB (``duckdb_tokenize_sql``, RE2): the oracle SQL texts and the
  benchmark's reference scorer.

Edge n-grams (min 2, max 8) provide the prefix-search fallback mirroring
ariadna's intended edge-ngram analyzer.

The three implementations are golden-tested against each other in
tests/test_analyze.py.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

# Canonical regex pieces (ASCII-only by construction; identical semantics in
# Java regex and RE2, the engine behind both pyarrow.compute and DuckDB).
NON_ASCII = "[^\\x00-\\x7F]"
CAMEL_1 = "([a-z0-9])([A-Z])"
CAMEL_2 = "([A-Z]+)([A-Z][a-z])"
TOKEN_SPLIT = "[^a-z0-9]+"

NGRAM_MIN = 2
NGRAM_MAX = 8


# ---------------------------------------------------------------------------
# 1) Spark-native column expression: stays inside whole-stage codegen, the
#    fast path for plain (non-UDF) pipelines and for oracle-parity queries.
# ---------------------------------------------------------------------------
def tokenize_expr(col: Column | str) -> Column:
    """tokens(content) as a pure Catalyst expression -> array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))  # null content -> [] (parity with Arrow/SQL)
    c = F.regexp_replace(c, NON_ASCII, " ")
    c = F.regexp_replace(c, CAMEL_1, "$1 $2")
    c = F.regexp_replace(c, CAMEL_2, "$1 $2")
    c = F.lower(c)
    arr = F.split(c, TOKEN_SPLIT)
    return F.filter(arr, lambda x: x != F.lit(""))


# ---------------------------------------------------------------------------
# 2) Arrow kernel core (RE2 via pyarrow.compute): the one Python-side
#    implementation, shared by every mapInArrow kernel and by tokenize_py.
# ---------------------------------------------------------------------------
def tokenize_arrow(content: pa.Array) -> tuple[pa.Array, pa.Array]:
    """(tokens, parents) for a string array: ``tokens`` is every row's
    token stream concatenated in row order, ``parents[i]`` the row index
    of ``tokens[i]``. Null rows yield no tokens."""
    c = pc.replace_substring_regex(content, NON_ASCII, " ")
    c = pc.replace_substring_regex(c, CAMEL_1, r"\1 \2")
    c = pc.replace_substring_regex(c, CAMEL_2, r"\1 \2")
    c = pc.utf8_lower(c)
    toks = pc.split_pattern_regex(c, TOKEN_SPLIT)
    flat = pc.list_flatten(toks)
    parents = pc.list_parent_indices(toks)
    keep = pc.not_equal(flat, "")
    return flat.filter(keep), parents.filter(keep)


def tokenize_py(text: str) -> list[str]:
    """Single-string form of tokenize_arrow (query-time driver, tests)."""
    return tokenize_arrow(pa.array([text], type=pa.string()))[0].to_pylist()


# ---------------------------------------------------------------------------
# 3) DuckDB SQL fragment generator — used by __spark_entry__.oracle_sql so
#    the driver's DuckDB oracle tokenizes identically.
# ---------------------------------------------------------------------------
def duckdb_tokenize_sql(col_sql: str) -> str:
    """Returns a DuckDB expression producing the same array<string>."""
    c = f"regexp_replace(coalesce({col_sql}, ''), '{NON_ASCII}', ' ', 'g')"
    c = f"regexp_replace({c}, '{CAMEL_1}', '\\1 \\2', 'g')"
    c = f"regexp_replace({c}, '{CAMEL_2}', '\\1 \\2', 'g')"
    c = f"lower({c})"
    return f"list_filter(regexp_split_to_array({c}, '{TOKEN_SPLIT}'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Edge n-grams (prefix fallback, E1). Expressible natively via sequence +
# transform so it also has a clean DuckDB analog.
# ---------------------------------------------------------------------------
def edge_ngrams_expr(token_col: Column | str, lo: int = NGRAM_MIN, hi: int = NGRAM_MAX) -> Column:
    """array of prefixes of a single token: lengths lo..min(hi, len)."""
    c = F.col(token_col) if isinstance(token_col, str) else token_col
    lens = F.sequence(F.lit(lo), F.least(F.length(c), F.lit(hi)))
    lens = F.when(F.length(c) >= lo, lens).otherwise(F.array().cast("array<int>"))
    return F.transform(lens, lambda n: F.substring(c, 1, n))


def duckdb_edge_ngrams_sql(tok_sql: str, lo: int = NGRAM_MIN, hi: int = NGRAM_MAX) -> str:
    return (
        f"CASE WHEN length({tok_sql}) >= {lo} THEN "
        f"list_transform(range({lo}, least(length({tok_sql}), {hi}) + 1), "
        f"n -> substr({tok_sql}, 1, CAST(n AS INT))) "
        f"ELSE [] END"
    )


def edge_ngrams_py(token: str, lo: int = NGRAM_MIN, hi: int = NGRAM_MAX) -> list[str]:
    return [token[:n] for n in range(lo, min(hi, len(token)) + 1)]


# Functions in this module must survive pickling to workers that don't have the
# repo on sys.path (see _pickle.py).
from ._pickle import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
