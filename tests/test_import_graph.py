"""No engine module is reachable only from tests.

Walks the ``engine`` imports statically with ``ast`` — module-level and
function-local imports alike — from the entry points ``engine.runner``,
``engine.checkpoint``, ``engine.streaming`` and ``engine.queries``, and
requires every ``engine/*.py`` module to be reached. ``engine/__init__.py``
runs on every ``engine.*`` import, so its imports count as reached too.
"""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "engine"
ROOTS = ("runner", "checkpoint", "streaming", "queries", "__init__")


def _engine_imports(module: str) -> set[str]:
    """The ``engine`` modules ``engine/<module>.py`` imports anywhere in it."""
    found: set[str] = set()
    for node in ast.walk(ast.parse((ENGINE / f"{module}.py").read_text())):
        if isinstance(node, ast.Import):
            found |= {a.name.split(".")[1] for a in node.names
                      if a.name.startswith("engine.")}
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module == "engine":
                found |= {a.name for a in node.names}
            elif node.module.startswith("engine."):
                found.add(node.module.split(".")[1])
    return {m for m in found if (ENGINE / f"{m}.py").exists()}


def test_every_engine_module_reachable_from_an_entry_point():
    reached: set[str] = set()
    todo = list(ROOTS)
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo += _engine_imports(m) - reached
    modules = {p.stem for p in ENGINE.glob("*.py")}
    assert modules - reached == set()
