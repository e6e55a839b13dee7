"""Count the code lines of every module under ``memfuse_spark/``: lines
that hold a Python token other than a comment, and are not part of a
docstring (the first string statement of a module, class or function).
Blank lines, comment-only lines and docstring lines do not count.

Usage:
    python tools/code_lines.py              # every module, then the total
    python tools/code_lines.py keyword.py   # only modules whose path ends so
"""
from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "memfuse_spark"
_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """The number of code lines in ``source``."""
    docstrings = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def main(argv: list[str]) -> int:
    counts = {
        str(p.relative_to(REPO)): code_lines(p.read_text())
        for p in sorted(PACKAGE.rglob("*.py"))
    }
    shown = {m: n for m, n in counts.items() if not argv or any(m.endswith(a) for a in argv)}
    width = max(map(len, shown), default=0)
    for module, n in shown.items():
        print(f"{module:<{width}}  {n:>6,}")
    print(f"{'memfuse_spark/ total':<{width}}  {sum(counts.values()):>6,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
