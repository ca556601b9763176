"""Report the package's surface: its line count, its settable options
and its public defs that only tests name.

    python tools/surface.py [REPO_ROOT]

- lines: all lines of the package's ``.py`` files;
- settable options: parameters with a default on public (no leading
  ``_``) functions and methods, at any depth; ``__init__`` and other
  underscore names are not counted;
- test-only defs: public functions, classes and methods whose name
  occurs as an identifier in no ``.py`` file outside a ``tests``
  directory, other than at the package's own ``def``/``class`` lines of
  that name. Strings, comments and docstrings do not name it.

Standard library only.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize
from collections import Counter

PACKAGE = "alaska_etl_spark"
SKIP_DIRS = {"tests", ".git", ".claude", "spark-warehouse", "__pycache__"}


def py_files(root: pathlib.Path):
    for p in sorted(root.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(root).parts):
            yield p


def public_defs(tree: ast.AST):
    """Every public function, method and class, nested ones included."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_"):
                yield node


def identifiers(source: str) -> Counter:
    toks = tokenize.generate_tokens(io.StringIO(source).readline)
    return Counter(t.string for t in toks if t.type == tokenize.NAME)


def main(root: pathlib.Path) -> None:
    pkg = root / PACKAGE
    names = Counter()
    for p in py_files(root):
        names += identifiers(p.read_text(encoding="utf-8"))
    lines = options = 0
    defs = []
    for p in sorted(pkg.rglob("*.py")):
        text = p.read_text(encoding="utf-8")
        lines += len(text.splitlines())
        for node in public_defs(ast.parse(text)):
            defs.append((p, node))
            if not isinstance(node, ast.ClassDef):
                a = node.args
                options += len(a.defaults) + sum(d is not None for d in a.kw_defaults)
    own = Counter(node.name for _, node in defs)
    unused = [
        f"{p.relative_to(root)}:{node.lineno} {node.name}"
        for p, node in defs
        if names[node.name] <= own[node.name]
    ]
    print(f"package lines: {lines}")
    print(f"settable options: {options}")
    print(f"public defs named only by tests: {len(unused)}")
    for u in unused:
        print(f"  {u}")


if __name__ == "__main__":
    main(pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve())
