"""Every WAND-family query has one planner and one Spark executor: the
pruned block read happens in IndexReader._wand (explain_score, which
reads the blocks covering one doc, is the other caller), the per-range
pandas UDF runs in IndexReader._execute, and a range's _RangeBlocks is
built there (or by wand_kernel, the raw-group probe). Fast source scan
over ariadna_spark/ and scripts/, no Spark."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

# call name -> (module, enclosing def/class chain prefix) pairs allowed to hold it
OWNERS = {
    "_blocks_for_terms": {
        ("ariadna_spark/operators/wand.py", ("IndexReader", "_wand")),
        ("ariadna_spark/operators/wand.py", ("IndexReader", "explain_score")),
    },
    "applyInPandas": {
        ("ariadna_spark/operators/wand.py", ("IndexReader", "_execute")),
    },
    "_RangeBlocks": {
        ("ariadna_spark/operators/wand.py", ("IndexReader", "_execute")),
        ("ariadna_spark/operators/wand.py", ("wand_kernel",)),
    },
}


def _calls(tree: ast.AST) -> list[tuple[str, tuple[str, ...], int]]:
    """(called name, enclosing def/class chain, line) of every call."""
    out = []

    def walk(node, chain):
        for child in ast.iter_child_nodes(node):
            sub = chain
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                sub = chain + (child.name,)
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in OWNERS:
                    out.append((name, sub, child.lineno))
            walk(child, sub)

    walk(tree, ())
    return out


def _strays() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {name: [] for name in OWNERS}
    for sub in ("ariadna_spark", "scripts"):
        for p in sorted((ROOT / sub).rglob("*.py")):
            rel = p.relative_to(ROOT).as_posix()
            for name, chain, line in _calls(ast.parse(p.read_text())):
                owned = any(
                    rel == mod and chain[: len(prefix)] == prefix
                    for mod, prefix in OWNERS[name]
                )
                if not owned:
                    found[name].append(f"{rel}:{line} in {'.'.join(chain) or '<module>'}")
    return found


def test_block_read_only_in_the_planner():
    stray = _strays()["_blocks_for_terms"]
    assert not stray, f"posting blocks read outside IndexReader._wand: {stray}"


def test_pandas_udf_only_in_the_executor():
    stray = _strays()["applyInPandas"]
    assert not stray, f"applyInPandas outside IndexReader._execute: {stray}"


def test_range_setup_only_in_the_executor():
    stray = _strays()["_RangeBlocks"]
    assert not stray, f"_RangeBlocks built outside IndexReader._execute: {stray}"
