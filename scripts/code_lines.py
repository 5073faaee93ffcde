#!/usr/bin/env python
"""Count code lines of Python files at a git revision: lines holding a
token other than a comment, a newline or indentation, minus docstrings.

Usage: python scripts/code_lines.py REV PATH [PATH ...]
"""

import ast
import io
import subprocess
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER}
DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, DOC_OWNERS) and ast.get_docstring(node, False) is not None:
            lines.difference_update(range(node.body[0].lineno, node.body[0].end_lineno + 1))
    return len(lines)


if __name__ == "__main__":
    rev, paths = sys.argv[1], sys.argv[2:]
    total = 0
    for path in paths:
        src = subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                             capture_output=True, text=True).stdout
        n = code_lines(src)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
