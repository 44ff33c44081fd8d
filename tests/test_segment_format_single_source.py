"""The merge-on-read layer has one owner per decision: the build id of a
row comes from segments.bid_col only, and posting blocks decode in
postings.decode_blocks only — explode_blocks maps it over Spark batches
and the WAND kernels call it per visited stride or per term. Besides the
codec module itself (functions/varint.py), verify_index's
failure-counting decode is the one other allowed caller of the codec's
decode functions (delta_decode_ids, varint_decode, positions_decode).
Fast source scan, no Spark."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "ariadna_spark"

# (module, enclosing def/class chain prefix) pairs allowed to hold the site
BID_OWNERS = {("sources/segments.py", ("bid_col",))}
DECODE_OWNERS = {
    ("functions/varint.py", ()),
    ("operators/postings.py", ("decode_blocks",)),
    ("sources/segments.py", ("verify_index",)),
}


def _sites(tree: ast.AST, hit) -> list[tuple[tuple[str, ...], int]]:
    """(enclosing def/class chain, line) of every node `hit` accepts;
    docstrings are prose, not code, and are skipped."""
    out = []

    def walk(node, chain):
        body = getattr(node, "body", None)
        doc = None
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            if isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
                doc = body[0].value
        for child in ast.iter_child_nodes(node):
            if child is doc or (isinstance(child, ast.Expr) and child.value is doc):
                continue
            sub = chain
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                sub = chain + (child.name,)
            if hit(child):
                out.append((sub, child.lineno))
            walk(child, sub)

    walk(tree, ())
    return out


def _is_file_path(node) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "_metadata.file_path" in node.value
    )


def _is_decode_call(node) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return name in ("delta_decode_ids", "varint_decode", "positions_decode")


def _scan(hit, owners):
    """-> (owners holding at least one site, sites outside every owner)"""
    used, stray = set(), []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        for chain, line in _sites(ast.parse(p.read_text()), hit):
            mine = {(m, c) for m, c in owners if rel == m and chain[: len(c)] == c}
            used |= mine
            if not mine:
                stray.append(f"{rel}:{line} in {'.'.join(chain) or '<module>'}")
    return used, stray


def test_build_id_column_has_one_owner():
    used, stray = _scan(_is_file_path, BID_OWNERS)
    assert not stray, f"build id read from the file path outside segments.bid_col: {stray}"
    assert used == BID_OWNERS  # the scan is not vacuous


def test_block_decode_has_one_owner_per_access_pattern():
    used, stray = _scan(_is_decode_call, DECODE_OWNERS)
    assert not stray, f"posting codec decode called outside the block decoders: {stray}"
    assert used == DECODE_OWNERS  # the scan is not vacuous
