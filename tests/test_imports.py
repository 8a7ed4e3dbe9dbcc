"""Every ``couch_to_mongo_spark`` import in the engine, the CLI, the
DuckDB engine checks and the benchmark resolves — module-level imports and the
lazy ones inside functions and CLI branches alike, which no single run of
the suite reaches all of — and every package module is imported from one of
those non-test entry points, so code only the tests use lives under
``tests/``. Pure ``ast`` + ``importlib``: no Spark session."""

from __future__ import annotations

import ast
import importlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PKG = "couch_to_mongo_spark"


def _sources() -> list[str]:
    out = [os.path.join(ROOT, "submit_main.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for top in (PKG, "perfbench"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _package_of(path: str) -> str:
    """Dotted package a file's relative imports resolve against."""
    rel = os.path.relpath(os.path.dirname(path), ROOT)
    return "" if rel == "." else rel.replace(os.sep, ".")


def _engine_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every engine import in the file; name is
    None for a plain ``import module``."""
    tree = ast.parse(open(path).read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = _package_of(path).split(".")
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([mod] if mod else []))
            out += [(node.lineno, mod, a.name) for a in node.names if a.name != "*"]
    return [t for t in out if t[1] == PKG or t[1].startswith(PKG + ".")]


def _resolves(mod: str, name: str | None) -> bool:
    try:
        m = importlib.import_module(mod)
    except ImportError:
        return False
    if name is None or hasattr(m, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{mod}.{name}")
        return True
    except ImportError:
        return False


def test_engine_imports_resolve():
    sources = _sources()
    rels = {os.path.relpath(p, ROOT) for p in sources}
    assert {"submit_main.py", "__spark_entry__.py", "perfbench/harness.py"} <= rels
    broken = [
        f"{os.path.relpath(path, ROOT)}:{line}: {mod}" + (f".{name}" if name else "")
        for path in sources
        for line, mod, name in _engine_imports(path)
        if not _resolves(mod, name)
    ]
    assert not broken, "\n".join(broken)


def _module_file(mod: str) -> str | None:
    path = os.path.join(ROOT, *mod.split("."))
    for f in (os.path.join(path, "__init__.py"), path + ".py"):
        if os.path.isfile(f):
            return f
    return None


def test_every_package_module_is_reachable_from_an_entry_point():
    """Walk the import graph (lazy imports included) from the CLI, the
    DuckDB engine checks and the benchmark; importing ``a.b.c`` also
    imports the packages ``a`` and ``a.b``."""
    todo = [os.path.join(ROOT, "submit_main.py"), os.path.join(ROOT, "__spark_entry__.py")]
    bench = os.path.join(ROOT, "perfbench")
    todo += [
        os.path.join(bench, f)
        for f in os.listdir(bench)
        if f.endswith(".py") and f != "test_perfbench.py"
    ]
    seen: set[str] = set()
    while todo:
        for _, mod, name in _engine_imports(todo.pop()):
            for target in [mod] + ([f"{mod}.{name}"] if name else []):
                parts = target.split(".")
                for k in range(1, len(parts) + 1):
                    f = _module_file(".".join(parts[:k]))
                    if f and f not in seen:
                        seen.add(f)
                        todo.append(f)
    package = {p for p in _sources() if p.startswith(os.path.join(ROOT, PKG) + os.sep)}
    unreachable = sorted(os.path.relpath(p, ROOT) for p in package - seen)
    assert not unreachable, "only tests import:\n" + "\n".join(unreachable)
