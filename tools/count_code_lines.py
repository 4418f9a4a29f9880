"""Count the package's code lines: non-blank lines that are not comments
and not docstrings (module, class and function docstrings). Run from the
repo root:

    python tools/count_code_lines.py [package_dir]
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_LAYOUT = (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENDMARKER)
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    docstrings: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = node.body if isinstance(node, _SCOPES) else None
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            docstrings.update(range(body[0].lineno, body[0].end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docstrings)


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "bacalhau_spark")
    print(sum(code_lines(p.read_text()) for p in root.rglob("*.py")))


if __name__ == "__main__":
    main()
