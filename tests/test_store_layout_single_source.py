"""A store has one layout: every build records its fields, a single-field
index is a multifield index with one field, and one build path writes
both. So no module names the deleted second builder or its tokenize
kernel, the field separator is spelled only as segments.FIELD_SEP, and
no module tests a stats dict for a "fields" key. Fast source scan over
ariadna_spark/ and scripts/, no Spark."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
DELETED = ("build_multifield_index", "term_freqs_dl_fields", "_tf_arrow_kernel_fields")
# ":" constants that separate something other than a field and its term,
# as (module, enclosing function): a regex's "(?:" group, the query-string
# "field:value" filter, the "name:boost" parameter list and a DuckDB list
# slice; plus FIELD_SEP's own definition at module level
SEP_OWNER = ("ariadna_spark/sources/segments.py", None)
OTHER_COLONS = {
    ("ariadna_spark/operators/text.py", "regex_required_literals"),
    ("ariadna_spark/query_dsl.py", "compile_query_string"),
    ("ariadna_spark/queries.py", "_sql_decontaminate"),
    ("scripts/serve.py", "_multifield"),
}


# a stats.json dict as the modules name it: st, stats, build_stats, ...
STATS_NAME = re.compile(r"\bst\b|stats")


def _modules():
    for sub in ("ariadna_spark", "scripts"):
        for p in sorted((ROOT / sub).rglob("*.py")):
            yield p.relative_to(ROOT).as_posix(), p.read_text()


def _nodes(tree: ast.AST):
    """(enclosing top-level function name or None, node) for every node
    outside a docstring; docstrings are prose, not code."""
    out = []

    def walk(node, fn):
        body = getattr(node, "body", None)
        doc = None
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            if isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
                doc = body[0]
        for child in ast.iter_child_nodes(node):
            if child is doc:
                continue
            sub = fn
            if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                sub = child.name
            out.append((sub, child))
            walk(child, sub)

    walk(tree, None)
    return out


def _spells_sep(node) -> bool:
    """The bare ":" constant, or a SQL text quoting it (instr(term, ':'))."""
    return isinstance(node, ast.Constant) and isinstance(node.value, str) and (
        node.value == ":" or "':'" in node.value
    )


def test_deleted_builder_is_not_named():
    pat = re.compile(r"\b(" + "|".join(DELETED) + r")\b")
    named = [
        f"{rel}:{i} {m.group(1)}"
        for rel, src in _modules()
        for i, line in enumerate(src.splitlines(), 1)
        for m in [pat.search(line)]
        if m
    ]
    assert not named, f"the deleted second build path is still named: {named}"


def test_field_separator_has_one_spelling():
    owners, stray = set(), []
    for rel, src in _modules():
        for fn, node in _nodes(ast.parse(src)):
            if not _spells_sep(node):
                continue
            if (rel, fn) in OTHER_COLONS or (rel, fn) == SEP_OWNER:
                owners.add((rel, fn))
            else:
                stray.append(f"{rel}:{node.lineno} in {fn or '<module>'}")
    assert not stray, f"field separator spelled outside segments.FIELD_SEP: {stray}"
    assert SEP_OWNER in owners  # the scan is not vacuous


def test_no_module_branches_on_the_stats_layout():
    hits = [
        f"{rel}:{node.lineno}"
        for rel, src in _modules()
        for _, node in _nodes(ast.parse(src))
        if isinstance(node, ast.Compare)
        and isinstance(node.left, ast.Constant)
        and node.left.value == "fields"
        and any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops)
        and STATS_NAME.search(ast.unparse(node.comparators[0]))
    ]
    assert not hits, f"'fields' membership tests on a stats dict: {hits}"
