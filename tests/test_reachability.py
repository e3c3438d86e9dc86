"""Every package module is reached from a real entry point.

A static walk of ``import`` / ``from … import`` statements (absolute and
relative, at any nesting depth — lazy imports inside functions count)
starting from the driver contract (``__spark_entry__.py``), the headline
benchmark (``bench.py``) and the repo benchmark (``perfbench/*.py``, not
its tests). A package module that only its own tests import is dead code
and fails this check."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pyhydroqc_spark"

# The only reader of the paper's LRO CSV files: its tests run against the
# pyhydroqc reference checkout, and no query or benchmark loads those files.
UNREACHED_ON_PURPOSE = {"pyhydroqc_spark.sources"}


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imported(path: str) -> set[str]:
    """Module names a file imports, with every enclosing package."""
    name = _module_name(path)
    is_pkg = os.path.basename(path) == "__init__.py"
    pkg = name if is_pkg else name.rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = pkg.split(".") if pkg else []
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            out.add(base)
            # ``from pkg import mod`` names a submodule when one exists
            out.update(f"{base}.{a.name}" for a in node.names)
    with_parents = set()
    for mod in out:
        parts = mod.split(".")
        with_parents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return with_parents


def _reachable() -> set[str]:
    perfbench = os.path.join(ROOT, "perfbench")
    todo = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    todo += sorted(
        os.path.join(perfbench, f) for f in os.listdir(perfbench) if f.endswith(".py")
    )
    seen: set[str] = set()
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in seen:
            continue
        seen.add(name)
        for mod in _imported(path):
            target = _module_file(mod)
            if target is not None and _module_name(target) not in seen:
                todo.append(target)
    return seen


def _package_modules() -> set[str]:
    mods = set()
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        mods.update(_module_name(os.path.join(dirpath, f)) for f in files if f.endswith(".py"))
    return mods


def test_every_package_module_is_reached_from_an_entry_point():
    reached = _reachable()
    unreached = _package_modules() - reached - UNREACHED_ON_PURPOSE
    assert not unreached, f"modules only tests reach: {sorted(unreached)}"
    # the exemption must not outlive the module it names
    assert UNREACHED_ON_PURPOSE <= _package_modules() - reached
