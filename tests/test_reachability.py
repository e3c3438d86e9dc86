"""Every package module and every top-level package function or class is
reached from a real entry point.

The entry points are the driver contract (``__spark_entry__.py``), the
headline benchmark (``bench.py``) and the repo benchmark
(``perfbench/*.py``, not its tests).

Modules: a static walk of ``import`` / ``from … import`` statements
(absolute and relative, at any nesting depth — lazy imports inside
functions count). A package module that only its own tests import is
dead code and fails this check.

Functions and classes: a walk by name over the same files. The entry
files and the module-level statements of every reached package module
are the roots; a top-level ``def``/``class`` of a reached module is
reached once its name appears in reached code (a bare name, an
attribute, an imported name or an identifier string), and its own body
then counts as reached code. Matching is by name, not by resolved binding, so two definitions that
share a name are reached together."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pyhydroqc_spark"

# The only reader of the paper's LRO CSV files: its tests run against the
# pyhydroqc reference checkout, and no query or benchmark loads those files.
UNREACHED_ON_PURPOSE = {"pyhydroqc_spark.sources"}

# Top-level definitions no entry point reaches, kept on purpose.
UNREACHED_DEFS_ON_PURPOSE = {
    # the native detection/correction chain the pipeline parity tests
    # build their reference tiers from
    "pyhydroqc_spark.operators.detect.arima_detect": "native reference chain",
    "pyhydroqc_spark.operators.detect.arima_residuals": "native reference chain (q>0 orders)",
    "pyhydroqc_spark.operators.correct.generate_corrections": "native reference chain",
    "pyhydroqc_spark.operators.fused.fused_qc_correct": "native reference chain (per-point fused rows)",
    # test-only inputs kept on purpose
    "pyhydroqc_spark.textops.ann.train_ivf_centroids": "IVF trainer the ANN tests fit their inputs with",
    "pyhydroqc_spark.textops.ann.train_pq_codebooks": "PQ trainer the ANN tests fit their inputs with",
    "pyhydroqc_spark.textops.ann.train_pq_codebooks_residual": "residual-PQ trainer of the ANN tests",
    "pyhydroqc_spark.textops.ann._subspace_kmeans": "k-means the two PQ trainers share",
    "pyhydroqc_spark.operators.rules.add_labels": "labelled-event input of the metrics tests (SURVEY P2)",
    "pyhydroqc_spark.operators.timejoin.sessionize": "gap-based sessionization, kept with its tests",
}


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _imported(path: str) -> set[str]:
    """Module names a file imports, with every enclosing package."""
    name = _module_name(path)
    is_pkg = os.path.basename(path) == "__init__.py"
    pkg = name if is_pkg else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
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


def _entry_files() -> list[str]:
    perfbench = os.path.join(ROOT, "perfbench")
    return [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")] + sorted(
        os.path.join(perfbench, f) for f in os.listdir(perfbench) if f.endswith(".py")
    )


def _reachable() -> set[str]:
    todo = _entry_files()
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


def _names(nodes) -> set[str]:
    """Every identifier a list of AST nodes mentions by name, including
    string constants that are identifiers (``getattr``-style lookups such
    as perfbench's ``tracer.wrap(module, "fn", ...)``)."""
    out: set[str] = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    out.add(node.value)
            elif isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rpartition(".")[2])
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _unreached_defs(modules: set[str]) -> set[str]:
    """Qualified names of the top-level defs of ``modules`` that no entry
    point reaches by name."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    names: set[str] = set()
    for path in _entry_files():
        names |= _names([_parse(path)])
    for mod in modules:
        tree = _parse(_module_file(mod))
        names |= _names([n for n in tree.body if not isinstance(n, _DEFS)])
        for n in tree.body:
            if isinstance(n, _DEFS):
                defs.setdefault(n.name, []).append((f"{mod}.{n.name}", n))
    todo = list(names)
    while todo:
        for _, node in defs.pop(todo.pop(), []):
            # decorators, base classes and the body all count
            new = _names([node]) - names
            names |= new
            todo.extend(new)
    return {q for entries in defs.values() for q, _ in entries}


def test_every_package_module_is_reached_from_an_entry_point():
    reached = _reachable()
    unreached = _package_modules() - reached - UNREACHED_ON_PURPOSE
    assert not unreached, f"modules only tests reach: {sorted(unreached)}"
    # the exemption must not outlive the module it names
    assert UNREACHED_ON_PURPOSE <= _package_modules() - reached


def test_every_package_function_is_reached_from_an_entry_point():
    modules = (_reachable() & _package_modules()) - UNREACHED_ON_PURPOSE
    unreached = _unreached_defs(modules)
    extra = unreached - set(UNREACHED_DEFS_ON_PURPOSE)
    assert not extra, f"functions/classes only tests reach: {sorted(extra)}"
    # every exemption names a definition that exists and is still unreached
    stale = set(UNREACHED_DEFS_ON_PURPOSE) - unreached
    assert not stale, f"exempt but reached or gone: {sorted(stale)}"
