"""Every ``dataprof_spark`` module and function is reached from a
product root.

Code that only its own tests call is code nobody runs. The roots are
the driver contract, the bench scripts, the package root, the
pipeline driver, the gated stream and the benchmark.

- Modules: walk the package's imports with ``ast`` (imports inside
  functions count: the package imports Spark-side modules lazily) and
  assert that the walk reaches every module under ``dataprof_spark/``.
- Functions: walk names with ``ast``. Every function in a root file
  is a root, and so is the import-time code of every module. A
  top-level function or method counts as reached when a root or a
  reached function mentions its name, as a bare name, an attribute or
  a ``from M import name``. Dunders are exempt; ``ALLOWED_UNREACHED``
  names the rest that may stay, with the reason.

The function walk is a lower bound on dead code: it matches names,
not bindings, so a name collision counts as reached. For example,
``bench.py`` calls ``profiler.profile``, and that alone makes
``facade.profile`` look reached.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dataprof_spark"

# root file -> why it is a root; every function in a root file is a
# root of the function walk too
ROOTS = {
    "__spark_entry__.py": "driver contract",
    "bench.py": "headline bench",
    "bench_extra.py": "side-artifact bench",
    # a root only while the package exports the profile() facade
    f"{PKG}/__init__.py": "package root: profile()",
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


def _root_files() -> list[str]:
    roots = [os.path.join(REPO, r) for r in ROOTS]
    perfbench = os.path.join(REPO, "perfbench")
    return roots + [
        os.path.join(perfbench, f)
        for f in sorted(os.listdir(perfbench)) if f.endswith(".py")
    ]


def _package_files() -> list[str]:
    return [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(os.path.join(REPO, PKG))
        for f in files if f.endswith(".py")
    ]


def _reached() -> set[str]:
    roots = _root_files()
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
    modules = {_module_name(p) for p in _package_files()}
    unreached = sorted(modules - _reached())
    assert not unreached, (
        f"modules no product root imports: {unreached}"
    )


# package-relative qualified name -> why it may have no product caller
ALLOWED_UNREACHED = {
    "pipeline.fixtures.pages_df": "test fixture builder",
    "core.scrub.pii_counts":
        "Python twin that the PII parity tests compare against",
    "functions.dates.parse_date_flexible":
        "twin that the date parity tests compare against",
    "pipeline.labeler.f1_score":
        "the metric that test_pipeline_parity asserts on",
    "pipeline.checkpoint.read_metrics":
        "reader for the FIXTURES.md A3 lineage table",
    "operators.skew.domain_of": "builds input for test_skew_bucketing",
    # left over from the file-ingest facade; they go with facade.py
    "sources.readers.ReadResult.corrupt_count": "goes with the facade",
    "sources.readers.from_pandas": "goes with the facade",
    "sources.readers.to_arrow": "goes with the facade",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions: bare names, attribute names and
    the names that ``from M import name`` brings in."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _functions(tree: ast.Module, mod: str) -> dict[str, ast.AST]:
    """Top-level functions and the methods of top-level classes, keyed
    by package-relative qualified name."""
    out: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, _FUNCS):
            out[f"{mod}.{node.name}"] = node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, _FUNCS):
                    out[f"{mod}.{node.name}.{sub.name}"] = sub
    return out


def _import_time_names(tree: ast.Module) -> set[str]:
    """Names that a module's top-level statements and class bodies
    mention, function bodies excluded."""
    out: set[str] = set()
    for node in tree.body:
        body = node.body if isinstance(node, ast.ClassDef) else [node]
        for stmt in body:
            if not isinstance(stmt, _FUNCS):
                out |= _names(stmt)
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _unreached_functions() -> set[str]:
    root_files = set(_root_files())
    mentioned: set[str] = set()
    pending: dict[str, ast.AST] = {}
    for path in root_files | set(_package_files()):
        tree = ast.parse(open(path).read(), path)
        if path in root_files:
            mentioned |= _names(tree)
        else:
            mentioned |= _import_time_names(tree)
            mod = _module_name(path).removeprefix(PKG).lstrip(".")
            pending.update(_functions(tree, mod))
    grew = True
    while grew:
        grew = False
        for qual, node in list(pending.items()):
            if qual.rsplit(".", 1)[1] in mentioned:
                mentioned |= _names(node)
                del pending[qual]
                grew = True
    return {q for q in pending if not _is_dunder(q.rsplit(".", 1)[1])}


def test_every_function_is_reached_from_a_product_root():
    unreached = _unreached_functions()
    dead = sorted(unreached - ALLOWED_UNREACHED.keys())
    assert not dead, f"functions no product root reaches: {dead}"
    # an allowance for a function that is now reached, or gone, is stale
    stale = sorted(ALLOWED_UNREACHED.keys() - unreached)
    assert not stale, f"stale ALLOWED_UNREACHED entries: {stale}"
