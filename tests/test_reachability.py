"""Every public callable in ``acuvate_spark/`` is reached from an entry
point or implements a COVERAGE.md row.

A public callable is a top-level ``def`` or ``class`` whose name does
not start with ``_``. The roots are:

* every decorated top-level function under ``acuvate_spark/queries/``
  (the ``@register`` queries);
* ``TagRegistry``;
* every module-level statement of the package that is not a ``def`` or
  ``class``;
* the entry-point files ``acuvate_spark/__main__.py``, ``bench.py``,
  ``__spark_entry__.py`` and ``perfbench/**/*.py``.

``tools/`` and ``tests/`` are not roots. From the roots the closure
follows every ``ast.Name`` id and ``ast.Attribute`` attr to the
top-level definitions of that name; strings and comments do not count.
Matching is by name alone, so a name that two modules define reaches
both. The check can therefore only miss an unreached callable; it never
flags reached code.

The allowlist is the names in backticks in COVERAGE.md: a callable that
implements a capability row stays even when no entry point calls it.
Every module-qualified name there (``storage.write_zordered``,
``operators/sinks.rest_sink``) must resolve to a top-level name of its
module, so a row cannot keep a deleted callable allowed.

A second check keeps options honest: every optional parameter of a
top-level function or method in ``acuvate_spark/`` must be passed by
some call site in the package, ``tests/``, ``tools/`` or an entry-point
file, by keyword, by position or through ``*``/``**`` unpacking. An
option no caller sets has one value in use and belongs in the body as
a constant. Calls match the callee by name alone (``f(...)``,
``obj.f(...)``; a class name stands for its ``__init__``), so this
check too can only miss an offender.

A third check keeps py4j reaches behind one helper: the attributes
``_jsc``, ``_jvm``, ``_jdf``, ``_jsparkSession`` and ``_gateway`` appear
in ``acuvate_spark/`` only inside ``operators/checkpoints.py::release``.

AST only: these tests start no Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "acuvate_spark"
ENTRY_FILES = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").rglob("*.py")),
]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modules() -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}


def _is_root(path: Path, stmt: ast.stmt) -> bool:
    if path == PKG / "__main__.py" or not isinstance(stmt, _DEFS):
        return True
    return stmt.name == "TagRegistry" or (
        path.parent == PKG / "queries" and bool(stmt.decorator_list)
    )


def _reached(modules: dict[Path, ast.Module]) -> set[int]:
    """ids of every top-level package statement the roots reach."""
    defs: dict[str, list[ast.stmt]] = {}
    todo: list[ast.AST] = [ast.parse(p.read_text()) for p in ENTRY_FILES]
    for path, tree in modules.items():
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(stmt)
            if _is_root(path, stmt):
                todo.append(stmt)
    seen: set[int] = set()
    while todo:
        node = todo.pop()
        if id(node) in seen:
            continue
        seen.add(id(node))
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                todo.extend(defs.get(n.id, ()))
            elif isinstance(n, ast.Attribute):
                todo.extend(defs.get(n.attr, ()))
    return seen


def _coverage_spans() -> list[tuple[int, str]]:
    """(line, text) of every backtick span in COVERAGE.md."""
    lines = (ROOT / "COVERAGE.md").read_text().splitlines()
    return [(i, span) for i, line in enumerate(lines, 1) for span in re.findall(r"`([^`]+)`", line)]


def _top_level_names(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, _DEFS):
            names.add(stmt.name)
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).partition(".")[0] for a in stmt.names)
        else:
            names.update(
                n.id
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            )
    return names


def test_every_public_callable_is_reached_or_covered():
    modules = _modules()
    reached = _reached(modules)
    covered = {name for _, span in _coverage_spans() for name in re.findall(r"[A-Za-z_]\w*", span)}
    offenders = [
        f"{path.relative_to(ROOT)}:{stmt.lineno} {stmt.name}"
        for path, tree in modules.items()
        for stmt in tree.body
        if isinstance(stmt, _DEFS)
        and not stmt.name.startswith("_")
        and id(stmt) not in reached
        and stmt.name not in covered
    ]
    assert not offenders, (
        "public callables no entry point reaches and no COVERAGE.md row names "
        "(delete them, or name the row they implement):\n" + "\n".join(offenders)
    )


def test_coverage_module_qualified_names_resolve():
    names_by_module: dict[str, set[str]] = {}
    for path, tree in _modules().items():
        module = path.relative_to(PKG).with_suffix("").as_posix().removesuffix("/__init__")
        names_by_module[module] = _top_level_names(tree)
    stale = []
    for line, span in _coverage_spans():
        m = re.match(r"([\w/]+)\.(\w+)", span)
        if m is None:
            continue
        module, name = m.groups()
        homes = [k for k in names_by_module if k == module or k.endswith("/" + module)]
        if homes and not any(name in names_by_module[k] for k in homes):
            stale.append(f"COVERAGE.md:{line} {module}.{name}")
    assert not stale, "COVERAGE.md names callables its modules do not define:\n" + "\n".join(stale)


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _callables(tree: ast.Module):
    """(called name, def, is method) of every top-level function and
    method; a class's ``__init__`` is called by the class name."""
    for stmt in tree.body:
        if isinstance(stmt, ast.ClassDef):
            for m in stmt.body:
                if isinstance(m, _FUNCS):
                    yield (stmt.name if m.name == "__init__" else m.name), m, True
        elif isinstance(stmt, _FUNCS):
            yield stmt.name, stmt, False


def _options(fn: ast.FunctionDef | ast.AsyncFunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index or None) of every parameter with a
    default; a method's index skips ``self``/``cls``."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    if method and pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    first = len(pos) - len(a.defaults)
    return [(arg.arg, i) for i, arg in enumerate(pos) if i >= first] + [
        (arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _sets(call: ast.Call, name: str, index: int | None) -> bool:
    return (
        any(k.arg in (None, name) for k in call.keywords)
        or any(isinstance(a, ast.Starred) for a in call.args)
        or (index is not None and len(call.args) > index)
    )


def test_every_option_is_set_by_some_call_site():
    modules = _modules()
    others = [*(ROOT / "tests").rglob("*.py"), *(ROOT / "tools").rglob("*.py"), *ENTRY_FILES]
    calls: dict[str, list[ast.Call]] = {}
    for tree in [*modules.values(), *(ast.parse(p.read_text()) for p in others)]:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(n)
    offenders = [
        f"{path.relative_to(ROOT)}:{fn.lineno} {name}({param})"
        for path, tree in modules.items()
        for name, fn, method in _callables(tree)
        for param, index in _options(fn, method)
        if not any(_sets(c, param, index) for c in calls.get(name, ()))
    ]
    assert not offenders, (
        "optional parameters no call site sets (make each a constant in "
        "the body, or pass it where it is needed):\n" + "\n".join(offenders)
    )


_PY4J_ATTRS = {"_jsc", "_jvm", "_jdf", "_jsparkSession", "_gateway"}
_PY4J_HOME = (PKG / "operators" / "checkpoints.py", "release")


def test_py4j_reaches_sit_behind_one_helper():
    """The package reaches into py4j internals in one place only,
    ``operators/checkpoints.py::release``."""
    offenders = []
    for path, tree in _modules().items():
        allowed: set[int] = set()
        for stmt in tree.body:
            if isinstance(stmt, _FUNCS) and (path, stmt.name) == _PY4J_HOME:
                allowed = {id(n) for n in ast.walk(stmt)}
        offenders += [
            f"{path.relative_to(ROOT)}:{n.lineno} {n.attr}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr in _PY4J_ATTRS and id(n) not in allowed
        ]
    assert not offenders, (
        "py4j internals reached outside checkpoints.release (route the reach "
        "through one helper):\n" + "\n".join(offenders)
    )
