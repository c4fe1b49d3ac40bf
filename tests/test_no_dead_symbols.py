"""Every top-level function and class of the package is reached from
production code, so code that nothing runs cannot come back unnoticed.

Roots are the module-level code of the production files (every package
module, ``tools/``, ``perfbench/`` without its tests, ``bench.py`` and
``__spark_entry__.py``), the ``@register``-ed queries and
:data:`ALLOWLIST`. An import is not a use, so a package ``__init__.py``
that re-exports a name does not keep it alive; a name counts only where
code uses it (an ``import … as`` alias counts, since it renames). The
body of a reached symbol reaches every name it uses, so a helper called
only by dead code is dead too. Names match across modules; strings,
comments and tests are not references.

The test files get one check of their own: every name a test module
imports is used in that module.
"""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent
ROOT = TESTS.parent
PKG = ROOT / "data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark"

# Symbols kept without a production caller: only references a test
# compares against, each with its reason.
ALLOWLIST = {
    "operators.sketches.kmv_global_sketch": "direct sketch the KMV shard-merge test compares against",
    "operators.sketches.histogram_merge": "shard merge the histogram test compares against the direct histogram",
}


def _production_files() -> list[Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        *(p for p in sorted((ROOT / "perfbench").glob("*.py")) if not p.name.startswith("test_")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out |= {a.name.rsplit(".", 1)[-1] for a in n.names if a.asname}
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _scan() -> tuple[dict[str, set[str]], dict[str, set[str]], set[str], set[str]]:
    """(uses by symbol, symbols by bare name, registered symbols,
    names used by module-level production code)."""
    uses, by_name, registered, root_names = {}, {}, set(), set()
    for path in _production_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_pkg = PKG in path.parents
        module = ".".join(path.relative_to(PKG).with_suffix("").parts) if in_pkg else None
        for stmt in tree.body:
            if in_pkg and isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{module}.{stmt.name}"
                uses[key] = _names(stmt)
                by_name.setdefault(stmt.name, set()).add(key)
                if _is_registered(stmt):
                    registered.add(key)
            else:
                root_names |= _names(stmt)
    return uses, by_name, registered, root_names


def _reached(uses, by_name, roots: set[str], root_names: set[str]) -> set[str]:
    live, todo = set(), set(roots)
    for name in root_names:
        todo |= by_name.get(name, set())
    while todo:
        key = todo.pop()
        if key in live:
            continue
        live.add(key)
        for name in uses[key]:
            todo |= by_name.get(name, set()) - live
    return live


def test_every_package_symbol_is_reached_from_production_code():
    uses, by_name, registered, root_names = _scan()
    without_allowlist = _reached(uses, by_name, registered, root_names)
    allowed = {k for k in ALLOWLIST if k in uses}
    live = _reached(uses, by_name, registered | allowed, root_names)
    dead = sorted(set(uses) - live)
    assert not dead, (
        "package symbols no production code reaches — delete them with the "
        "tests that only exercise them, or allowlist them with a reason:\n"
        + "\n".join(dead)
    )
    stale = sorted(k for k in ALLOWLIST if k not in uses or k in without_allowlist)
    assert not stale, f"allowlist entries that are gone or reached anyway: {stale}"
    assert all(reason.strip() for reason in ALLOWLIST.values())


def _unused_imports(path: Path) -> list[str]:
    """Names ``path`` imports, at any depth, that no code in it uses."""
    tree = ast.parse(path.read_text(), filename=str(path))
    bound = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            bound |= {(a.asname or a.name.split(".", 1)[0]): n.lineno for a in n.names}
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            bound |= {(a.asname or a.name): n.lineno for a in n.names}
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{path.name}:{line} {name}" for name, line in sorted(bound.items()) if name not in used]


def test_no_unused_imports_in_tests():
    unused = [u for p in sorted(TESTS.glob("*.py")) for u in _unused_imports(p)]
    assert not unused, "imports no code in the test module uses:\n" + "\n".join(unused)
