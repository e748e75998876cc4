"""Every ``dataprof_spark`` module is reached from a product root.

A module that only its own tests import is code nobody runs. This
walks the package's imports with ``ast`` (imports inside functions
count: the package imports Spark-side modules lazily) from the
driver contract, the bench scripts, the package root, the pipeline
driver and the benchmark, and asserts that the walk reaches every
module under ``dataprof_spark/``.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dataprof_spark"

# root file -> why it is a root
ROOTS = {
    "__spark_entry__.py": "driver contract",
    "bench.py": "headline bench",
    "bench_extra.py": "side-artifact bench",
    f"{PKG}/__init__.py": "package root: profile() and its siblings",
    f"{PKG}/pipeline/run.py": "pipeline driver",
    # the stream path that ROADMAP direction 4 wires into pipeline/run.py
    f"{PKG}/streaming/metrics.py": "gated page stream",
}


def _module_file(mod: str) -> str | None:
    base = os.path.join(REPO, *mod.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported(path: str) -> set[str]:
    """Dotted ``dataprof_spark`` names that ``path`` imports, with
    ``from M import n`` giving both ``M`` and ``M.n`` (``n`` may be a
    submodule)."""
    # a module's own name: running it runs its packages' __init__.py
    out = {_module_name(path)}
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            # the package imports absolutely; a relative import is
            # not followed and its target reports as unreached
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return {m for m in out if m == PKG or m.startswith(PKG + ".")}


def _reached() -> set[str]:
    roots = [os.path.join(REPO, r) for r in ROOTS]
    perfbench = os.path.join(REPO, "perfbench")
    roots += [
        os.path.join(perfbench, f)
        for f in sorted(os.listdir(perfbench)) if f.endswith(".py")
    ]
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for mod in _imported(path):
            # importing a.b.c runs a/__init__.py and a/b/__init__.py too
            parts = mod.split(".")
            for n in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:n]))
                if f is not None:
                    todo.append(f)
    return {
        _module_name(p) for p in seen
        if os.path.relpath(p, REPO).startswith(PKG + os.sep)
    }


def test_every_module_is_reached_from_a_product_root():
    modules = set()
    for dirpath, _, files in os.walk(os.path.join(REPO, PKG)):
        modules.update(
            _module_name(os.path.join(dirpath, f))
            for f in files if f.endswith(".py")
        )
    unreached = sorted(modules - _reached())
    assert not unreached, (
        f"modules no product root imports: {unreached}"
    )
