"""Top-level definitions of the package that no entry point reaches.

The roots are ``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py``
and ``tools/*.py``. Every name a root uses (a variable, an attribute or
an imported name) is reached. A top-level ``def`` or ``class`` of
``hiispider_spark/`` whose name is reached reaches, in turn, every name
its decorators, signature and body use, and so on to a fixed point.
A top-level assignment to one plain name (``X = ...``, ``X: T = ...``)
is a definition of that name too: it reaches what its value uses only
once ``X`` is reached. Names match by spelling, not by module, so a
name defined twice counts as reached for both. Other module-level
statements run on import and count as reached. Re-exports in package
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


def defined_name(node: ast.stmt) -> str | None:
    """The name a top-level statement defines, or None."""
    if isinstance(node, DEFS):
        return node.name
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return None
    if len(targets) == 1 and isinstance(targets[0], ast.Name):
        return targets[0].id
    return None


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
    defs: list[tuple[Path, str, ast.stmt]] = []
    for path in sorted((REPO / "hiispider_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if name := defined_name(node):
                defs.append((path, name, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                reached |= names_used(node)
    pending = defs
    while hit := [d for _, n, d in pending if n in reached]:
        pending = [(p, n, d) for p, n, d in pending if n not in reached]
        for d in hit:
            reached |= names_used(d)
    for path, name, d in pending:
        print(f"{path.relative_to(REPO)}:{d.lineno} {name}")


if __name__ == "__main__":
    main()
