"""Count the code lines of Python files: lines that hold a token other
than a comment, a blank or a docstring. A line that a multi-line token
(a string or a bracketed expression's continuation) spans counts once per
physical line. Docstrings are the string expressions that open a module,
class or function body (``ast.get_docstring``'s definition).

Usage:
    python tools/code_lines.py PATH [PATH ...]

A directory PATH stands for every ``*.py`` file under it. Prints one
``<count> <file>`` line per file and, for several files, a
``<count> total`` line, e.g. the package figure:
``python tools/code_lines.py binance_data_framework_spark``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

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
    """Line numbers of every docstring in ``tree``."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """Code lines of one Python module's source."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(argv: list[str]) -> int:
    paths = [
        q
        for arg in argv
        for q in (sorted(Path(arg).rglob("*.py")) if Path(arg).is_dir() else [arg])
    ]
    total = 0
    for path in paths:
        n = code_lines(Path(path).read_text(encoding="utf-8"))
        total += n
        print(f"{n} {path}")
    if len(paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
