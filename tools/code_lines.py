#!/usr/bin/env python
"""Count code lines per module and per top-level function.

Usage: python tools/code_lines.py FILE [FILE ...]

A code line is a physical line that carries at least one token other than
a comment, an indent, a dedent or a newline, and that is not part of a
docstring (the leading string of a module, class or function, found with
``ast``).  Blank lines, comment-only lines and docstrings therefore do
not count, while a statement spread over several lines counts each line.

For each file: one line with the module total, then one indented line
per top-level function or class (decorators included), in source order.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
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


def code_lines(source: str) -> tuple[set[int], ast.Module]:
    """(line numbers of code lines, parsed module) of ``source``."""
    tree = ast.parse(source)
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(tree), tree


def main() -> None:
    paths = sys.argv[1:]
    if not paths:
        sys.exit(__doc__)
    for path in paths:
        with open(path, encoding="utf-8") as f:
            lines, tree = code_lines(f.read())
        print(f"{len(lines):6d}  {path}")
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            n = sum(1 for i in range(first, node.end_lineno + 1) if i in lines)
            print(f"{n:6d}    {node.name}")


if __name__ == "__main__":
    main()
