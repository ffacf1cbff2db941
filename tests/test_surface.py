"""Dead-definition guard: every top-level function and class under
``proteus_spark/`` must be named somewhere other than its own definition.

"Named" means an identifier in code: a ``Name``, an attribute, an import,
or a string constant spelling the name (``getattr``, ``__all__``,
``monkeypatch.setattr`` targets). Comments and prose do not count. A
definition decorated with ``register`` is reached through the query
registry, so the decorator counts as its use. The places searched are
the package itself, ``bench.py``, ``__spark_entry__.py``, ``perfbench/``
and ``tests/``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "proteus_spark"
_DOTTED = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def _sources() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "perfbench").rglob("*.py"))
    files += sorted((ROOT / "tests").rglob("*.py"))
    return [f for f in files if f.is_file()]


def _named(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Identifiers ``tree`` names, outside the subtree ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _DOTTED.fullmatch(node.value):
                out.update(node.value.split("."))
        stack.extend(ast.iter_child_nodes(node))
    return out


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def test_every_top_level_definition_is_named_somewhere():
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _sources()}
    named_everywhere: dict[Path, set[str]] = {f: _named(t) for f, t in trees.items()}
    dead = []
    for f, tree in trees.items():
        if PACKAGE not in f.parents:
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _registered(node):
                continue
            elsewhere = any(
                node.name in names for g, names in named_everywhere.items() if g != f
            )
            if elsewhere or node.name in _named(tree, skip=node):
                continue
            dead.append(f"{f.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "defined but named nowhere else:\n" + "\n".join(dead)
