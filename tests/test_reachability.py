"""The package ships only code that a shipped caller reaches.

Two static checks over the package source, no Spark:

- every package module is imported, directly or through other package
  modules, from a shipped root: the driver contract
  (``__spark_entry__``), the CLI (``__main__``), ``pipeline`` or the
  probe registry (``plans``);
- every top-level function, class and module-level name assignment
  (``NAME = ...``; dunders such as ``__all__`` exempt) of the package is
  named, by a ``Name``, an ``Attribute`` or an import alias, in code
  that is itself live: other module-level code, the benchmark and
  tools, or the body or assigned value of another live top-level def.
  References from the def's own body, docstrings, comments and
  ``tests/`` do not count, so a def reached only from a dead def is dead
  too.

The package imports nothing dynamically (no ``importlib``, no
``__import__``), so a static scan sees every import. Names are matched
without their module, which errs towards calling a def reached.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ark_invest_api_rust_data_spark"
ROOT_MODULES = ("__spark_entry__", f"{PKG}.__main__", f"{PKG}.pipeline", f"{PKG}.plans")
# Non-package code whose every reference is a shipped caller.
CALLER_FILES = ("__spark_entry__.py", "bench.py")
CALLER_DIRS = ("perfbench", "tools")

# Top-level defs kept with no shipped caller, each for a reference
# behaviour that SURVEY.md maps.
KEEP = {
    # main.rs:114-121: the reference's daemon loop (twice-daily refresh).
    f"{PKG}.pipeline.run_daemon",
    # SURVEY.md B21-B24: a streaming run must equal its batch twin; these
    # are the streaming runs.
    f"{PKG}.streaming.windows.tumbling_counts",
    f"{PKG}.streaming.windows.sliding_counts",
    f"{PKG}.streaming.windows.session_counts",
    f"{PKG}.streaming.windows.stream_events",
    f"{PKG}.streaming.windows.run_to_completion",
    f"{PKG}.streaming.windows.run_append_to_completion",
    f"{PKG}.streaming.windows.dedup_within_watermark",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> path, for every module of the package and
    the driver contract."""
    out = {"__spark_entry__": os.path.join(ROOT, "__spark_entry__.py")}
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, ROOT).replace(os.sep, ".")
        for f in filenames:
            if f.endswith(".py"):
                mod = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
                out[mod] = os.path.join(dirpath, f)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _imported(mod: str, is_pkg: bool, tree: ast.Module, known: dict[str, str]) -> set[str]:
    """Package modules that ``mod`` imports anywhere in its source,
    with the packages on each module's path."""
    out: set[str] = set()

    def add(name: str) -> None:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            if ".".join(parts[:i]) in known:
                out.add(".".join(parts[:i]))

    pkg = mod if is_pkg else mod.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg.split(".")
                base = base[: len(base) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module
            add(base)
            for a in node.names:
                if f"{base}.{a.name}" in known:
                    add(f"{base}.{a.name}")
    return out


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions as a ``Name``, an ``Attribute`` or an
    import alias (docstrings and comments are not in the tree as names)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


def _caller_trees() -> list[ast.Module]:
    paths = [os.path.join(ROOT, f) for f in CALLER_FILES]
    for d in CALLER_DIRS:
        for f in sorted(os.listdir(os.path.join(ROOT, d))):
            if f.endswith(".py") and not f.startswith("test_"):
                paths.append(os.path.join(ROOT, d, f))
    return [_parse(p) for p in paths]


def unreached_modules() -> list[str]:
    known = _package_modules()
    seen: set[str] = set()
    todo = list(ROOT_MODULES)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        path = known[mod]
        todo.extend(_imported(mod, path.endswith("__init__.py"), _parse(path), known) - seen)
    return sorted(set(known) - seen)


def _assigned(stmt: ast.stmt) -> tuple[list[str], list[ast.AST]]:
    """The names a module-level ``NAME = value`` (or ``a, b = ...``,
    ``NAME: T = value``) binds, and the nodes its value is made of.
    No names for any other statement, for a target that is not a plain
    name (``x.y = ...``, ``d[k] = ...``) and for a dunder."""
    if isinstance(stmt, ast.Assign):
        targets, parts = stmt.targets, [stmt.value]
    elif isinstance(stmt, ast.AnnAssign):
        targets, parts = [stmt.target], [stmt.annotation, stmt.value]
    else:
        return [], []
    names = []
    for t in targets:
        for n in t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]:
            if not isinstance(n, ast.Name) or n.id.startswith("__"):
                return [], []
            names.append(n.id)
    return names, [p for p in parts if p is not None]


def unreferenced_defs(keep: frozenset[str] | set[str] = KEEP) -> list[str]:
    defs: dict[str, list[ast.AST]] = {}  # "module.name" -> its def or value nodes
    live_names: set[str] = set()
    dead_modules = set(unreached_modules())
    for mod, path in _package_modules().items():
        if mod == "__spark_entry__" or mod in dead_modules:
            continue
        for stmt in _parse(path).body:
            names, value = _assigned(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{stmt.name}"] = [stmt]
            elif names:
                for name in names:
                    defs[f"{mod}.{name}"] = value
            else:
                live_names |= _names(stmt)
    for tree in _caller_trees():
        live_names |= _names(tree)
    live = {q for q in defs if q in keep}
    for q in live:
        for node in defs[q]:
            live_names |= _names(node)
    grew = True
    while grew:
        grew = False
        for q, nodes in defs.items():
            if q not in live and q.rpartition(".")[2] in live_names:
                live.add(q)
                for node in nodes:
                    live_names |= _names(node)
                grew = True
    return sorted(set(defs) - live)


def test_every_module_is_imported_from_a_shipped_root():
    assert unreached_modules() == []


def test_every_top_level_def_has_a_shipped_caller():
    assert unreferenced_defs() == []


def test_allowlist_holds_only_defs_without_a_caller():
    """Without the allowlist, exactly the kept defs and what only they
    read are unreferenced."""
    dead = set(unreferenced_defs(keep=set()))
    assert KEEP <= dead
    # the event schema is read only by the kept streaming runs
    assert dead - KEEP == {f"{PKG}.streaming.windows.EVENT_SCHEMA"}
