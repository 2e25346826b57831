"""Dead-definition guard: every module-level ``def``/``class`` in the
package must be named somewhere in the repo's Python files besides its
own definition line — in code, a test, an example, a tool or a comment.

Pure ``ast`` plus a word-boundary text scan; no Spark.  Exempt: dunder
names, and catalog queries registered with ``@_register(...)`` (they are
reached by key through ``catalog.QUERIES``).
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "waddleml_spark"
_SKIP_DIRS = {".perfbench_work", "spark-warehouse"}
_WORD = re.compile(r"\w+")


def _py_files() -> list[Path]:
    return [
        p for p in REPO.rglob("*.py")
        if not _SKIP_DIRS.intersection(p.relative_to(REPO).parts)
    ]


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "_register"
        for d in getattr(node, "decorator_list", ())
    )


def test_no_dead_module_level_definitions():
    # word-boundary matches of an identifier are exactly its \w+ tokens
    uses: Counter[str] = Counter()
    texts: dict[Path, str] = {}
    for path in _py_files():
        texts[path] = path.read_text(encoding="utf-8")
        uses.update(_WORD.findall(texts[path]))

    dead = []
    for path in sorted(p for p in texts if PKG in p.parents):
        tree = ast.parse(texts[path], filename=str(path))
        # split on "\n" only: ast's line numbers ignore the other
        # separators str.splitlines() honours (\x0b, \x0c, ...)
        lines = texts[path].split("\n")
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            name = node.name
            if name.startswith("__") and name.endswith("__"):
                continue
            if _registered(node):
                continue
            own = _WORD.findall(lines[node.lineno - 1]).count(name)
            if uses[name] <= own:
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {name}")
    assert dead == [], "module-level definitions nothing names:\n" + "\n".join(dead)
