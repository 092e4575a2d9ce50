"""Count code lines per module: lines that carry a Python token other
than a comment, a docstring or layout (blank lines, indentation).

    python tools/code_lines.py [package_dir]     # default: onehouse_demos_spark

Prints one `<lines>  <module>` row per file, largest first, then the
total. A string literal spanning several lines counts every line it
spans unless it is a module, class or function docstring. Reads the
source with `ast` and `tokenize` only: it imports nothing from the
package and starts no Spark.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """Number of code lines in one module's source."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(root: str) -> int:
    counts = []
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    counts.append((code_lines(fh.read()), os.path.relpath(path, root)))
    for n, rel in sorted(counts, key=lambda c: (-c[0], c[1])):
        print(f"{n:7d}  {rel}")
    total = sum(n for n, _ in counts)
    print(f"{total:7d}  total ({len(counts)} modules)")
    return total


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "onehouse_demos_spark")
