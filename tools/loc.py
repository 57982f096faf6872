"""Count code lines in a Python package: non-blank lines that hold a token
other than a comment or a docstring.

A docstring is the leading string-literal statement of a module, class or
function body. A line counts once however many tokens it holds, and every
line a multi-line (non-docstring) token spans counts.

Usage: python tools/loc.py [PATH ...]  (default: tfl_realtime_lakehouse_spark)
Prints one ``<lines>  <path>`` row per path; with several paths, a total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
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
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
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


def file_code_lines(source: str) -> int:
    """Number of code lines in one Python source text."""
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        start, end = tok.start[0], tok.end[0]
        if start in doc:
            continue
        code.update(range(start, end + 1))
    text = source.splitlines()
    return sum(1 for n in code if n <= len(text) and text[n - 1].strip())


def code_lines(path: str) -> int:
    """Code lines of one ``.py`` file or of every ``.py`` file under a
    directory."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".py")
        ]
    total = 0
    for f in sorted(files):
        with open(f, encoding="utf-8") as fh:
            total += file_code_lines(fh.read())
    return total


def main(argv: list[str]) -> None:
    paths = argv or ["tfl_realtime_lakehouse_spark"]
    counts = [(code_lines(p), p) for p in paths]
    for n, p in counts:
        print(f"{n:>8,}  {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts):>8,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
