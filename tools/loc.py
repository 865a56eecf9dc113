"""Count code lines in Python files.

A code line is a non-blank line that is not comment-only and lies
outside every docstring (module, class and function) and every
assignment to a name ending in ``_ORACLE`` (the DuckDB oracle SQL that
travels with a query). Prints one ``<lines>  <path>`` row per file and
a total; a directory counts every ``*.py`` file under it.

Usage::

    python tools/loc.py cloudtrail_streamer_spark/streaming/sinks.py ...
    python tools/loc.py cloudtrail_streamer_spark
"""

from __future__ import annotations

import ast
import glob
import os
import sys


def _excluded(tree: ast.AST) -> set[int]:
    """Line numbers covered by docstrings and ``*_ORACLE`` assignments."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.update(range(body[0].lineno, body[0].end_lineno + 1))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(isinstance(t, ast.Name) and t.id.endswith("_ORACLE") for t in targets):
                out.update(range(node.lineno, node.end_lineno + 1))
    return out


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    skip = _excluded(ast.parse(src, path))
    return sum(
        1
        for n, line in enumerate(src.splitlines(), 1)
        if n not in skip and line.strip() and not line.strip().startswith("#")
    )


def _files(paths: list[str]) -> list[str]:
    """``paths`` with each directory expanded to its ``*.py`` files,
    recursively, in sorted order."""
    out = []
    for p in paths:
        if os.path.isdir(p):
            out += sorted(glob.glob(os.path.join(p, "**", "*.py"), recursive=True))
        else:
            out.append(p)
    return out


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in _files(paths):
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
