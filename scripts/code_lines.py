"""Count code lines in the package: lines that carry a token other than a
comment, blank or docstring (found with ``ast`` + ``tokenize``).

Usage: python scripts/code_lines.py [--per-file] [PATH ...]

PATH defaults to the package directory; each PATH may be a file or a
directory (searched recursively for ``*.py``). Prints the total, and with
``--per-file`` one ``<count> <path>`` line per file first.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "training_flink_sql_cc_src_spark")
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        lines.update(
            ln
            for ln in range(tok.start[0], tok.end[0] + 1)
            if ln not in doc
        )
    return len(lines)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for dirpath, _dirs, files in os.walk(p):
            out.extend(
                os.path.join(dirpath, f) for f in files if f.endswith(".py")
            )
    return sorted(out)


def main(argv: list[str]) -> None:
    per_file = "--per-file" in argv
    paths = [a for a in argv if a != "--per-file"] or [PACKAGE]
    total = 0
    for path in _files(paths):
        n = count_file(path)
        total += n
        if per_file:
            print(n, os.path.relpath(path, ROOT))
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
