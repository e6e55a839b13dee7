"""List the top-level ``memfuse_spark`` defs that no name path reaches
from the programs that run the engine: ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` and ``tools/``.

A def (function or class at module level) is reached when its name
appears in one of those files, in the module-level code of any
``memfuse_spark`` module (it runs on import), or in the body of a def
that is reached. A name counts as an identifier, an attribute, an
imported name, or a string that spells exactly the name (perfbench
wraps functions by ``getattr`` on a string). Names are matched without
their module, so a reference reaches every def of that name: the scan
errs towards "reached", and whatever it lists has no caller outside
the tests.

Usage:
    python tools/unreached.py     # one line per def, then the count
"""
from __future__ import annotations

import ast
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "memfuse_spark"
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _roots() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for folder in ("perfbench", "tools"):
        files += sorted((REPO / folder).rglob("*.py"))
    return [f for f in files if f.exists() and f.resolve() != Path(__file__).resolve()]


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def unreached() -> dict[str, int]:
    """``{"<module path>::<def name>": line}`` for every unreached def."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(REPO))
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEF):
                defs.setdefault(node.name, []).append((rel, node))
            else:
                seeds |= _names(node)
    for path in _roots():
        seeds |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_names(node) - reached)
    return {
        f"{rel}::{name}": node.lineno
        for name, found in defs.items()
        if name not in reached
        for rel, node in found
    }


def main() -> int:
    found = unreached()
    for key in sorted(found):
        rel, name = key.split("::")
        print(f"{rel}:{found[key]}  {name}")
    print(f"{len(found)} unreached defs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
