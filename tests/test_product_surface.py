"""Every top-level function, constant and class in ``opl_spark/``, and
every method of those classes, has a use outside ``tests/``.

A use is a name load, an attribute access or a ``from ... import`` of
the name in live code: ``opl_spark/`` itself, ``examples/``,
``perfbench/``, ``tools/``, ``bench.py`` and ``__spark_entry__.py``.
Not a use:
- a mention in a docstring or comment (only the AST is read; f-string
  expressions are part of it);
- a re-export in an ``opl_spark`` package ``__init__.py``;
- a use inside a definition that is itself unused, including the
  definition's own body (so recursion alone keeps nothing alive).

Uses are matched by name, so a name defined in two places is live if
either is used; a method is used by any attribute access of its name.
Functions decorated with ``@register(...)`` (the query registry) are
live by definition.  A class owns its bases, decorators, class-level
statements and dunder methods, which are live exactly when the class
is.  So is a framework hook: a method that overrides an attribute of a
base class from outside ``opl_spark/`` (``socketserver.TCPServer``'s
``process_request``), which the framework calls by name.  Whether a
method is a hook is decided by importing that base class and looking
the method up on it.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PRODUCT = REPO / "opl_spark"
LIVE_ROOTS = tuple(
    REPO / r for r in ("examples", "perfbench", "tools", "bench.py", "__spark_entry__.py")
)

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


def _names_used(*nodes: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in (n for node in nodes for n in ast.walk(node)):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            used.update(a.name for a in n.names)
    return used


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
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


def _imports(tree: ast.Module) -> dict[str, str]:
    """Local name -> dotted import path, for the module's top-level
    absolute imports."""
    out = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.Import):
            for a in stmt.names:
                local = a.asname or a.name.split(".")[0]
                out[local] = a.name if a.asname else local
        elif isinstance(stmt, ast.ImportFrom) and not stmt.level:
            for a in stmt.names:
                out[a.asname or a.name] = f"{stmt.module}.{a.name}"
    return out


def _dotted(expr: ast.expr) -> list[str] | None:
    parts = []
    while isinstance(expr, ast.Attribute):
        parts.append(expr.attr)
        expr = expr.value
    return [expr.id, *reversed(parts)] if isinstance(expr, ast.Name) else None


def _import_object(dotted: str):
    """The object a dotted path names: the longest importable module
    prefix, then attribute lookups."""
    parts = dotted.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ImportError(dotted)


def _outside_bases(cls: ast.ClassDef, imports: dict[str, str], classes: dict, seen=()) -> list:
    """The classes from outside the product that ``cls`` derives from,
    directly or through product base classes (found by name)."""
    out = []
    for base in cls.bases:
        path = _dotted(base)
        if path is None:
            continue
        dotted = ".".join([imports.get(path[0], path[0]), *path[1:]])
        if path[0] in imports and not dotted.startswith("opl_spark."):
            out.append(_import_object(dotted))
        elif path[0] not in imports and path[0] not in classes:
            out.append(_import_object(f"builtins.{dotted}"))
        else:
            for c, c_imports in classes.get(path[-1], ()):
                if c.name not in seen:
                    out += _outside_bases(c, c_imports, classes, (*seen, c.name))
    return out


def framework_hooks(cls: ast.ClassDef, imports: dict[str, str], classes: dict) -> set[str]:
    """The methods of ``cls`` that override an attribute of a base
    class from outside the product."""
    bases = _outside_bases(cls, imports, classes)
    return {
        stmt.name for stmt in cls.body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))
        and any(hasattr(b, stmt.name) for b in bases)
    }


def dead_definitions(
    allowed=REFERENCE_IMPLEMENTATIONS, product: Path = PRODUCT, live_roots=LIVE_ROOTS
) -> list[str]:
    """``module.py::name`` (``module.py::Class.method`` for a method)
    for every definition in ``product`` that no live code uses, except
    the ``allowed`` names."""
    trees = {path: ast.parse(path.read_text(), str(path)) for path in _files(product)}
    classes: dict[str, list] = {}  # class name -> [(ClassDef, its module's imports)]
    for tree in trees.values():
        imports = _imports(tree)
        for stmt in tree.body:
            if isinstance(stmt, ast.ClassDef):
                classes.setdefault(stmt.name, []).append((stmt, imports))

    defs: dict[str, list[str]] = {}  # name -> where it is defined
    owned: dict[str, set[str]] = {}  # name -> names its definitions use
    live: set[str] = set()

    def define(name: str, where: str, *nodes: ast.AST) -> None:
        defs.setdefault(name, []).append(where)
        owned.setdefault(name, set()).update(_names_used(*nodes))

    for path, tree in trees.items():
        module = path.relative_to(product.parent)
        for stmt in tree.body:
            if path.name == "__init__.py" and isinstance(stmt, ast.ImportFrom):
                continue  # a re-export is not a use
            names = _defined(stmt)
            if not names or _is_registered(stmt):
                live |= _names_used(stmt)
            elif isinstance(stmt, ast.ClassDef):
                hooks = framework_hooks(stmt, _imports(tree), classes)
                own = [*stmt.bases, *stmt.keywords, *stmt.decorator_list]
                for member in stmt.body:
                    name = getattr(member, "name", "")
                    if not isinstance(member, (ast.FunctionDef, ast.AsyncFunctionDef)) or (
                        name in hooks or (name.startswith("__") and name.endswith("__"))
                    ):
                        own.append(member)
                    else:
                        define(name, f"{module}::{stmt.name}.{name}", member)
                define(stmt.name, f"{module}::{stmt.name}", *own)
            else:
                for name in names:
                    define(name, f"{module}::{name}", stmt)
    for root in live_roots:
        for path in _files(root):
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
        f"{len(dead)} definitions in opl_spark/ are used only by tests "
        "(delete them, or move pure test helpers into tests/):\n"
        + "\n".join(dead)
    )


def test_reference_allowlist_holds_only_test_only_definitions():
    # An entry that is gone, or that live code now uses, would only hide
    # a future dead definition of the same name.
    test_only = {
        where.split("::")[1] for where in dead_definitions(allowed=())
    }
    assert set(REFERENCE_IMPLEMENTATIONS) <= test_only


def test_only_an_override_of_an_outside_base_is_a_framework_hook(tmp_path):
    """``process_request`` overrides ``socketserver.TCPServer``'s on one
    class and is a plain method on the other; a live use of both
    classes keeps only the override alive."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "import socketserver\n"
        "\n"
        "class Base(socketserver.TCPServer):\n"
        "    pass\n"
        "\n"
        "class Srv(Base):\n"
        "    def __init__(self):\n"
        "        pass\n"
        "\n"
        "    def process_request(self, request, client_address):\n"
        "        pass\n"
        "\n"
        "class Plain:\n"
        "    def process_request(self, request, client_address):\n"
        "        pass\n"
    )
    (tmp_path / "app.py").write_text("from pkg.mod import Plain, Srv\n")
    assert dead_definitions((), pkg, (tmp_path / "app.py",)) == [
        "pkg/mod.py::Plain.process_request"
    ]
