"""Every package module is reached from a shipped entry point.

A static import graph (an AST walk of every ``import``, function-local ones
included) from ``__spark_entry__.py``, ``jobs/``, ``tools/`` and
``extract_bench/`` must reach every module of the package, apart from the
allowlist below.  A module only tests import is dead weight: delete it, or
give it a caller.  No Spark session is needed.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pdf_drawing_ocr_recognition_spark"

ALLOWED_UNREACHED = {
    # MIGRATION.md maps the reference's output formats to these writers.
    "operators.sinks": "library surface for output formats (MIGRATION.md)",
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _package_modules() -> dict[str, str]:
    mods = {}
    for root, dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                mods[_module_name(path)] = path
    return mods


def _root_files() -> list[str]:
    roots = [os.path.join(REPO, "__spark_entry__.py")]
    for d in ("jobs", "tools", "extract_bench"):
        for root, dirs, files in os.walk(os.path.join(REPO, d)):
            dirs[:] = [x for x in dirs if x not in ("__pycache__", "tests")]
            roots += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return roots


def _imported_names(path: str, modules: dict[str, str]) -> set[str]:
    """Dotted names *path* imports, relative imports resolved; for
    ``from X import Y`` both ``X`` and ``X.Y`` (Y may be a submodule)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    # the package a relative import starts from
    here = _module_name(path).split(".")
    if not path.endswith("__init__.py"):
        here = here[:-1]
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            names.add(mod)
            names |= {f"{mod}.{a.name}" for a in node.names}
    # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
    out = set()
    for name in names:
        parts = name.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out & modules.keys()


def _reached() -> tuple[set[str], dict[str, str]]:
    modules = _package_modules()
    todo = [n for r in _root_files() for n in _imported_names(r, modules)]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += _imported_names(modules[name], modules)
    return seen, modules


def test_every_package_module_is_reached_from_an_entry_point():
    reached, modules = _reached()
    prefix = PACKAGE + "."
    unreached = {m[len(prefix):] for m in modules.keys() - reached if m.startswith(prefix)}
    assert unreached == ALLOWED_UNREACHED.keys(), (
        f"unreached modules: {sorted(unreached - ALLOWED_UNREACHED.keys())}; "
        f"allowlisted but reached or gone: {sorted(ALLOWED_UNREACHED.keys() - unreached)}"
    )


def test_the_walk_follows_relative_and_function_local_imports():
    reached, _ = _reached()
    # stream_extract reaches manifest only through a function-local relative import
    assert f"{PACKAGE}.streaming.stream_extract" in reached
    assert f"{PACKAGE}.operators.manifest" in reached
