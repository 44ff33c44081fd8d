"""The analyzer's regex sequence is spelled out in analyze.py only: every
other module calls tokenize_arrow (Arrow kernels), tokenize_expr (Spark)
or duckdb_tokenize_sql (oracle). Fast source scan, no Spark."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "ariadna_spark"

FORBIDDEN = {
    "inline Arrow regex step": re.compile(
        r"replace_substring_regex\([^)]*\b(NON_ASCII|CAMEL_1|CAMEL_2)\b", re.S
    ),
    "inline Arrow token split": re.compile(r"split_pattern_regex\([^)]*\bTOKEN_SPLIT\b", re.S),
    "pandas tokenize UDF": re.compile(r"\btokenize_udf\b"),
    "pandas tokenize series": re.compile(r"\b_tokenize_series\b"),
}


def test_analyzer_spec_only_in_analyze():
    sources = {
        p.relative_to(PKG).as_posix(): p.read_text()
        for p in PKG.rglob("*.py")
        if p != PKG / "analyze.py"
    }
    # the scan is not vacuous: the modules that used to hold copies are in it
    assert {"stats.py", "operators/text.py", "queries.py", "operators/wand.py"} <= set(sources)
    hits = [
        f"{what}: {name}:{src[: m.start()].count(chr(10)) + 1}"
        for name, src in sorted(sources.items())
        for what, pat in FORBIDDEN.items()
        for m in pat.finditer(src)
    ]
    assert not hits, f"analyzer spec outside analyze.py: {hits}"
