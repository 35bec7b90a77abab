#!/usr/bin/env python3
"""Count code-only lines of the package and the declared-query module.

A line counts when a code token covers it; comments, blank lines and
docstrings (the leading string statement of a module, class or
function) do not. Tokens come from `tokenize`, docstring spans from
`ast`, so a string that spans lines counts every line it covers unless
it is a docstring.

usage: python scripts/code_lines.py [PATH ...]
       (default: log_project_spark/ and __spark_entry__.py; prints one
       line per path and the total)
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_PATHS = ("log_project_spark", "__spark_entry__.py")
NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
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
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - skip)


def py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def main(argv: list[str]) -> None:
    total = 0
    for path in argv or [os.path.join(ROOT, p) for p in DEFAULT_PATHS]:
        n = 0
        for name in py_files(path):
            with open(name, encoding="utf-8") as f:
                n += code_lines(f.read())
        print(f"{n:6d}  {os.path.relpath(path, ROOT)}")
        total += n
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
