"""Store pointers have one owner: every atomic file swap under
ariadna_spark/ goes through segments._atomic_write_json, and the vector
stores publish through the segment MANIFEST (SegmentStore), so no module
names a MANIFEST.json of its own. Fast source scan, no Spark."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "ariadna_spark"
SWAP_OWNER = ("sources/segments.py", "_atomic_write_json")


def _nodes(tree: ast.AST):
    """(enclosing function name or None, node) for every node."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            sub = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            out.append((sub, child))
            walk(child, sub)

    walk(tree, None)
    return out


def _is_os_replace(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "replace"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "os"
    )


def _modules():
    for p in sorted(PKG.rglob("*.py")):
        yield p.relative_to(PKG).as_posix(), ast.parse(p.read_text())


def test_pointer_swap_has_one_owner():
    owners, stray = set(), []
    for rel, tree in _modules():
        for fn, node in _nodes(tree):
            if _is_os_replace(node):
                if (rel, fn) == SWAP_OWNER:
                    owners.add((rel, fn))
                else:
                    stray.append(f"{rel}:{node.lineno} in {fn or '<module>'}")
    assert not stray, f"os.replace outside segments._atomic_write_json: {stray}"
    assert owners == {SWAP_OWNER}  # the scan is not vacuous


def test_no_second_manifest_file():
    named = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for _, node in _nodes(tree)
        if isinstance(node, ast.Constant) and node.value == "MANIFEST.json"
    ]
    assert not named, f"modules naming a MANIFEST.json pointer: {named}"
