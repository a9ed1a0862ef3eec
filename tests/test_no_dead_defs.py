"""Guard against dead definitions in the package.

Every top-level function and class in ``defimap_data_pipelines_spark``
must be named, as a whole word, somewhere outside its own definition:
in the package, ``tests/``, ``tools/``, ``perfbench/`` or
``__spark_entry__.py``. A package ``__init__`` re-export is not a use:
the import lines of the package's ``__init__.py`` files are not
searched.
``@register``ed queries are exempt: the registry reaches them by name
string. Pure AST + regex; no Spark session.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "defimap_data_pipelines_spark"
SEARCHED = [
    PACKAGE,
    ROOT / "tests",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "__spark_entry__.py",
]
_WORD = re.compile(r"\w+")


def _py_files(root: Path) -> list[Path]:
    if root.is_file():
        return [root]
    return sorted(p for p in root.rglob("*.py") if "__pycache__" not in p.parts)


def _searched_text(path: Path) -> str:
    """``path``'s text, minus the import lines of a package __init__."""
    text = path.read_text()
    if path.name != "__init__.py" or PACKAGE not in path.parents:
        return text
    lines = text.splitlines()
    for node in ast.parse(text).body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for i in range(node.lineno - 1, node.end_lineno):
                lines[i] = ""
    return "\n".join(lines)


def _is_registered(node: ast.AST) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _unreferenced() -> list[str]:
    texts = {p: _searched_text(p) for root in SEARCHED for p in _py_files(root)}
    words = Counter()
    for text in texts.values():
        words.update(_WORD.findall(text))
    dead = []
    for path in _py_files(PACKAGE):
        lines = texts[path].splitlines()
        for node in ast.parse(texts[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _is_registered(node):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[start - 1 : node.end_lineno])
            inside = sum(1 for w in _WORD.findall(own) if w == node.name)
            if words[node.name] == inside:
                dead.append(f"{path.relative_to(ROOT)}::{node.name}")
    return dead


def test_every_package_definition_is_referenced():
    dead = _unreferenced()
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
