"""Count the package's code lines, per file and in total: lines that hold
code, without blank lines, comments or docstrings.

    python tools/count_lines.py [PACKAGE_DIR]

A docstring is the string-literal first statement of a module, class or
function (found with `ast`); every line it spans is dropped. Every other
line counts when it holds at least one token other than a comment or a
line break (found with `tokenize`), so a multi-line expression counts
each of its lines, and a multi-line string that is not a docstring
counts every line it spans. Prints one `lines path` row per file,
sorted by path, then `lines total`. `function_lines` applies the same
count to each function of one source.
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
    out: set[int] = set()
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def _code_line_set(source: str, tree: ast.AST) -> set[int]:
    docs = _docstring_lines(tree)
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - docs


def code_lines(source: str) -> int:
    """The number of code lines in `source` (see the module docstring)."""
    return len(_code_line_set(source, ast.parse(source)))


def function_lines(source: str) -> dict[str, int]:
    """{qualified name: code lines} of every function and method in
    `source` (nested ones too, as `outer.inner`): the code lines from
    its `def` line to its last line, counted as `code_lines` counts
    them, so a function's own docstring does not count."""
    tree = ast.parse(source)
    lines = _code_line_set(source, tree)
    out: dict[str, int] = {}

    def walk(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                span = range(child.lineno, child.end_lineno + 1)
                out[prefix + child.name] = len(lines.intersection(span))
                walk(child, f"{prefix}{child.name}.")
            elif isinstance(child, ast.ClassDef):
                walk(child, f"{prefix}{child.name}.")
            else:
                walk(child, prefix)

    walk(tree, "")
    return out


def count(package: str) -> dict[str, int]:
    """{path relative to `package`'s parent: code lines} of every `.py`
    file under `package`."""
    out = {}
    top = os.path.dirname(os.path.abspath(package))
    for dirpath, dirnames, filenames in os.walk(package):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as fh:
                    out[os.path.relpath(path, top)] = code_lines(fh.read())
    return out


def main() -> int:
    default = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "hybrid_data_lakehouse_lab_spark",
    )
    counts = count(sys.argv[1] if len(sys.argv) > 1 else default)
    for path in sorted(counts):
        print(f"{counts[path]:7d} {path}")
    print(f"{sum(counts.values()):7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
