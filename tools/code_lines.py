"""Count code lines of Python files: no blank lines, comments or docstrings.

    python tools/code_lines.py docetl_spark/cdc docetl_spark/lake/table.py

Prints one ``<lines>  <path>`` row per file (directories are walked for
``*.py``) and a total. A line counts when it holds at least one token
that is not a comment, a line break or indentation, and that token is not
part of a docstring (the string-literal first statement of a module,
class or function body, found with ``ast``). This is the rule behind the
code-line figures quoted in ROADMAP.md and CHANGES.md.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that carry code."""
    skip = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if n not in skip)
    return len(lines)


def _py_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
        )
    return [path]


def main(paths: list[str]) -> int:
    total = 0
    for path in paths:
        for f in _py_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["."]))
