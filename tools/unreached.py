"""Top-level definitions of the package that no entry point reaches.

The roots are ``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py``
and ``tools/*.py``. Every name a root uses (a variable, an attribute or
an imported name) is reached. A top-level ``def`` or ``class`` of
``hiispider_spark/`` whose name is reached reaches, in turn, every name
its decorators, signature and body use, and so on to a fixed point.
Names match by spelling, not by module, so a name defined twice counts
as reached for both. Module-level statements outside a ``def`` or
``class`` run on import and count as reached. Re-exports in package
``__init__.py`` files do not count, and neither do docstrings, comments
or ``tests/``.

Prints ``path:line name`` for each unreached top-level definition.
Stdlib only, no flags:

    python tools/unreached.py
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py"] + sorted(
    [*REPO.glob("perfbench/*.py"), *REPO.glob("tools/*.py")]
)
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def names_used(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def main() -> None:
    reached: set[str] = set()
    for path in ROOTS:
        reached |= names_used(ast.parse(path.read_text()))
    defs: list[tuple[Path, ast.AST]] = []
    for path in sorted((REPO / "hiispider_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, DEFS):
                defs.append((path, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                reached |= names_used(node)
    pending = defs
    while hit := [d for _, d in pending if d.name in reached]:
        pending = [(p, d) for p, d in pending if d.name not in reached]
        for d in hit:
            reached |= names_used(d)
    for path, d in pending:
        print(f"{path.relative_to(REPO)}:{d.lineno} {d.name}")


if __name__ == "__main__":
    main()
