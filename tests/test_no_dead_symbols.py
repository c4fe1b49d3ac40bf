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

A second guard keeps out options nothing sets: every defaulted
parameter of a package function is passed by some call (see
:func:`never_passed`).

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


# The second guard: every defaulted parameter of a top-level package
# function or class method is passed by some call in the repo's Python
# (package, tools, perfbench, bench.py, the entry point and the tests),
# so an option with one value in use cannot come back unnoticed.
# Callees match by bare name, like the symbol guard; positional,
# keyword, ``*`` and ``**`` arguments all count. Nested functions are
# not checked: a default there binds an enclosing value (``s=s``).

# Parameters kept although no call passes them, keyed
# ``module.function.parameter``, each with its reason.
PARAM_ALLOWLIST: dict[str, str] = {}


def _repo_files() -> list[Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted(TESTS.glob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _defaulted_params(tree: ast.Module, module: str) -> list[tuple[str, str, str, int | None]]:
    """(key, callee name, parameter, index among the positional
    arguments a call writes, or None if keyword-only) of every
    defaulted parameter of a top-level function or of a method of a
    top-level class. ``__init__`` is called by its class's name."""
    defs = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.append((stmt.name, stmt.name, stmt, 0))
        elif isinstance(stmt, ast.ClassDef):
            for f in stmt.body:
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in f.decorator_list)
                    callee = stmt.name if f.name == "__init__" else f.name
                    defs.append((f"{stmt.name}.{f.name}", callee, f, 0 if static else 1))
    out = []
    for qual, callee, f, bound in defs:
        a = f.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, arg in enumerate(positional[first:], first):
            out.append((f"{module}.{qual}.{arg.arg}", callee, arg.arg, i - bound))
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                out.append((f"{module}.{qual}.{arg.arg}", callee, arg.arg, None))
    return out


def _passes(trees: list[ast.Module]) -> dict[str, tuple[float, set[str]]]:
    """Per callee name: the most positional arguments a call passes
    (infinite after a ``*``) and every keyword a call passes (``"**"``
    after a ``**``)."""
    out: dict[str, tuple[float, set[str]]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            name = n.func.id if isinstance(n.func, ast.Name) else getattr(n.func, "attr", None)
            if name is None:
                continue
            most, kws = out.get(name, (0, set()))
            npos = float("inf") if any(isinstance(a, ast.Starred) for a in n.args) else len(n.args)
            out[name] = (max(most, npos), kws | {k.arg or "**" for k in n.keywords})
    return out


def never_passed(defining: dict[str, str], calling: list[str]) -> list[str]:
    """Keys of the defaulted parameters in ``defining`` (module name to
    source) that no call in ``calling`` (sources) passes."""
    calls = _passes([ast.parse(src) for src in calling])
    dead = []
    for module, src in defining.items():
        for key, callee, param, index in _defaulted_params(ast.parse(src), module):
            most, kws = calls.get(callee, (0, set()))
            if not (param in kws or "**" in kws or (index is not None and most > index)):
                dead.append(key)
    return dead


def test_every_defaulted_parameter_is_passed_by_some_call():
    package = {
        ".".join(p.relative_to(PKG).with_suffix("").parts): p.read_text()
        for p in sorted(PKG.rglob("*.py"))
    }
    unpassed = never_passed(package, [p.read_text() for p in _repo_files()])
    dead = sorted(k for k in unpassed if k not in PARAM_ALLOWLIST)
    assert not dead, (
        f"{len(dead)} defaulted parameters in "
        f"{len({k.rsplit('.', 1)[0] for k in dead})} functions that no call "
        "passes — fold each into its function as a constant, or allowlist "
        "it with a reason:\n" + "\n".join(dead)
    )
    stale = sorted(k for k in PARAM_ALLOWLIST if k not in unpassed)
    assert not stale, f"parameter allowlist entries that are gone or passed anyway: {stale}"
    assert all(reason.strip() for reason in PARAM_ALLOWLIST.values())


_CANNED_MODULE = """
def scale(x, factor=2, *, offset=0, unit="m"):
    def inner(y, s=x):
        return y * s
    return inner(x) * factor + offset


def spread(a, width=1, depth=3):
    return a


class Box:
    def __init__(self, size=1, label=""):
        self.size = size

    def grow(self, by=1, limit=None):
        return self.size + by

    @staticmethod
    def make(kind="plain"):
        return Box()
"""

_CANNED_CALLERS = """
scale(1, 3)
scale(2, unit="km")
spread(0, **{"depth": 4})
Box(5).grow(2)
Box.make()
"""


def test_never_passed_flags_only_defaults_no_call_passes():
    # factor passes positionally, unit by keyword, both spread defaults
    # through the ** call; inner's closure default s=x is no option
    dead = never_passed({"canned": _CANNED_MODULE}, [_CANNED_MODULE, _CANNED_CALLERS])
    assert dead == [
        # never passed, positionally or by keyword
        "canned.scale.offset",
        # Box(5) passes size; a call on an instance binds self first
        "canned.Box.__init__.label",
        "canned.Box.grow.limit",
        "canned.Box.make.kind",
    ]
