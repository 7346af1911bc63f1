"""Every top-level function and constant in ``opl_spark/`` has a use
outside ``tests/``.

A use is a name load, an attribute access or a ``from ... import`` of
the name in live code: ``opl_spark/`` itself, ``examples/``,
``perfbench/``, ``tools/``, ``bench.py`` and ``__spark_entry__.py``.
Not a use:
- a mention in a docstring or comment (only the AST is read; f-string
  expressions are part of it);
- a re-export in an ``opl_spark`` package ``__init__.py``;
- a use inside a top-level definition that is itself unused, including
  the definition's own body (so recursion alone keeps nothing alive).

Uses are matched by name, so a name defined in two modules is live if
either is used. Functions decorated with ``@register(...)`` (the query
registry) are live by definition; classes and their bodies count as
live code.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PRODUCT = REPO / "opl_spark"
LIVE_ROOTS = ("examples", "perfbench", "tools", "bench.py", "__spark_entry__.py")

#: Kept although only tests call them: each is the reference a test
#: compares another product path against.
REFERENCE_IMPLEMENTATIONS = {
    "_encode_len": "per-word greedy BPE encoder; the reference bpe_segment is checked against",
    "pca_components": "exact covariance eigen-decomposition; the reference for pca_power_project",
    "pca_project": "projection onto pca_components; the reference for pca_power_project",
    "kmeans_centroids": "float Lloyd k-means; the reference for the quantized k-means/IVF cells",
}


def _files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _is_registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "register":
            return True
    return False


def _names_used(node: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            used.update(a.name for a in n.names)
    return used


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def dead_definitions(allowed=REFERENCE_IMPLEMENTATIONS) -> list[str]:
    """``module.py::name`` for every top-level function or constant in
    ``opl_spark/`` that no live code uses, except the ``allowed`` names."""
    defs: dict[str, list[str]] = {}  # name -> where it is defined
    owned: dict[str, set[str]] = {}  # name -> names its definitions use
    live: set[str] = set()
    for path in _files(PRODUCT):
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            if path.name == "__init__.py" and isinstance(stmt, ast.ImportFrom):
                continue  # a re-export is not a use
            names = _defined(stmt)
            if not names or _is_registered(stmt):
                live |= _names_used(stmt)
                continue
            for name in names:
                defs.setdefault(name, []).append(f"{path.relative_to(REPO)}::{name}")
                owned.setdefault(name, set()).update(_names_used(stmt))
    for root in LIVE_ROOTS:
        for path in _files(REPO / root):
            live |= _names_used(ast.parse(path.read_text(), str(path)))
    frontier = live & owned.keys()
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        seen.add(name)
        frontier |= (owned[name] & owned.keys()) - seen
    live |= seen
    return sorted(
        where
        for name, wheres in defs.items()
        if name not in live and name not in allowed
        for where in wheres
    )


def test_every_product_definition_has_a_live_use():
    dead = dead_definitions()
    assert not dead, (
        f"{len(dead)} top-level definitions in opl_spark/ are used only by "
        "tests (delete them, or move pure test helpers into tests/):\n"
        + "\n".join(dead)
    )


def test_reference_allowlist_holds_only_test_only_definitions():
    # An entry that is gone, or that live code now uses, would only hide
    # a future dead definition of the same name.
    test_only = {where.split("::")[1] for where in dead_definitions(allowed=())}
    assert set(REFERENCE_IMPLEMENTATIONS) <= test_only
