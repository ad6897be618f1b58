"""The tools run against the checkout they sit in: each one finds the
package from its own file, never from an absolute path literal."""

import ast
from pathlib import Path, PurePosixPath

ROOT = Path(__file__).resolve().parents[1]


def _checkout_path_literals(tree: ast.AST, entries: set[str]) -> list[str]:
    """String literals that pin an absolute checkout path: any argument
    to ``sys.path.insert``, and any absolute path naming a top-level
    entry of the checkout (``/.../PLANS.md``, ``/.../plans/``)."""
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "sys.path.insert"
            and any(isinstance(a, ast.Constant) for a in node.args[1:])
        ):
            found.append(ast.unparse(node))
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith("/")
            and entries & set(PurePosixPath(node.value).parts)
        ):
            found.append(node.value)
    return found


def test_tools_name_no_absolute_checkout_path():
    entries = {p.name for p in ROOT.iterdir()}
    for tool in sorted((ROOT / "tools").glob("*.py")):
        tree = ast.parse(tool.read_text())
        assert _checkout_path_literals(tree, entries) == [], tool.name
