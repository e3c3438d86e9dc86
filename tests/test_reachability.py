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
share a name are reached together.

Selector options: a public ``bool``/``str`` parameter of a top-level
package function picks a code path. Its values in use are collected from
the calls the same entry files and the package modules make (tests do
not count); an option with one value in use has a branch nothing runs.

Imports: every name an ``import`` binds in the package, the entry and
bench files or the tests is read somewhere in its file (or listed in
its ``__all__``)."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pyhydroqc_spark"

# Package modules no entry point imports, kept on purpose.
UNREACHED_ON_PURPOSE: set[str] = set()

# Top-level definitions no entry point reaches, kept on purpose.
UNREACHED_DEFS_ON_PURPOSE = {
    # test-only inputs kept on purpose
    "pyhydroqc_spark.textops.ann.train_ivf_centroids": "IVF trainer the ANN tests fit their inputs with",
    "pyhydroqc_spark.textops.ann.train_pq_codebooks": "PQ trainer the ANN tests fit their inputs with",
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


def _from_base(node: ast.ImportFrom, pkg: str) -> str:
    """The absolute module a ``from … import`` statement imports from."""
    if not node.level:
        return node.module or ""
    parts = pkg.split(".") if pkg else []
    parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


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
            base = _from_base(node, pkg)
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


# Selector options with one value in use, kept on purpose.
SINGLE_VALUE_SELECTORS_ON_PURPOSE = {
    "pyhydroqc_spark.textops.sample.stratified_sample.prefilter":
        "the guard-off path is the reference its tests compare against",
    "pyhydroqc_spark.textops.sample.token_budget_sample.prefilter":
        "the guard-off path is the reference its tests compare against",
    "pyhydroqc_spark.pipeline.run_pipeline.mode": "perfbench passes it",
}

# parameters that name a column, not a code path
_COLUMN_PARAM = re.compile(r"^(key|by|on|order|bucket)$|_(col|cols)$")
_REQUIRED = object()  # a selector with no default
_ANY = "<computed>"  # a value only known at run time


def _params(fn: ast.FunctionDef) -> tuple[list[str], list[tuple[ast.arg, ast.expr | None]]]:
    """(positional parameter names, [(parameter, default or None)])."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaults = [None] * (len(positional) - len(a.defaults)) + list(a.defaults)
    return [p.arg for p in positional], [*zip(positional, defaults), *zip(a.kwonlyargs, a.kw_defaults)]


def _bindings(path: str) -> tuple[dict, dict]:
    """({local name: package module}, {local name: (module, function)})
    for the package imports of a file, plus a package module's own
    top-level functions."""
    mods, funcs = {}, {}
    name = _module_name(path)
    pkg = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    tree = _parse(path)
    if name.startswith(PACKAGE):
        funcs.update({n.name: (name, n.name) for n in tree.body if isinstance(n, ast.FunctionDef)})
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update({a.asname: a.name for a in node.names if a.asname and a.name.startswith(PACKAGE)})
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, pkg)
            if not base.startswith(PACKAGE):
                continue
            for a in node.names:
                local = a.asname or a.name
                if _module_file(f"{base}.{a.name}"):
                    mods[local] = f"{base}.{a.name}"
                else:
                    funcs[local] = (base, a.name)
    return mods, funcs


def _resolver(mods: dict, funcs: dict):
    def target(e):
        if isinstance(e, ast.Name):
            return funcs.get(e.id)
        if isinstance(e, ast.Attribute) and isinstance(e.value, ast.Name) and e.value.id in mods:
            return (mods[e.value.id], e.attr)
        return None

    return target


def _bound(call: ast.Call, args: list, names: list[str]) -> dict[str, ast.expr]:
    """{parameter: argument expression} for the explicit arguments of a call."""
    out = {k.arg: k.value for k in call.keywords if k.arg}
    for i, a in enumerate(args):
        if isinstance(a, ast.Starred) or i >= len(names):
            break
        out.setdefault(names[i], a)
    return out


def _branching(defs: dict) -> dict:
    """{(module, function): parameters that pick a code path}: a parameter
    read in a branch test (``if``, conditional expression, ``while``,
    comprehension filter) of its function, including nested functions,
    or passed on as the argument of such a parameter of another package
    function."""
    out = {}
    for q, (fn, _path) in defs.items():
        tests = []
        for node in ast.walk(fn):
            if isinstance(node, (ast.If, ast.IfExp, ast.While)):
                tests.append(node.test)
            elif isinstance(node, ast.comprehension):
                tests.extend(node.ifs)
        read = {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}
        out[q] = {a.arg for a, _ in _params(fn)[1]} & read
    handoffs = []  # (caller, caller parameter, callee, callee parameter)
    for q, (fn, path) in defs.items():
        target = _resolver(*_bindings(path))
        own = {a.arg for a, _ in _params(fn)[1]}
        for call in (n for n in ast.walk(fn) if isinstance(n, ast.Call)):
            callee = target(call.func)
            if callee not in defs:
                continue
            for param, arg in _bound(call, call.args, _params(defs[callee][0])[0]).items():
                if isinstance(arg, ast.Name) and arg.id in own:
                    handoffs.append((q, arg.id, callee, param))
    changed = True
    while changed:
        changed = False
        for q, p, callee, param in handoffs:
            if param in out[callee] and p not in out[q]:
                out[q].add(p)
                changed = True
    return out


def _selector_values() -> dict[str, set]:
    """{module.function.option: values in use} over every selector option
    of a top-level package function that some non-test caller reaches. A
    selector is a public bool/str parameter that picks a code path: a
    bool/str constant default, or a ``bool``/``str`` annotation without
    one. A call passes a constant, a value known only at run time, or
    the caller's own selector (whose values then flow in); a call that
    omits the option uses its default."""
    defs = {}
    for mod in _package_modules():
        path = _module_file(mod)
        for n in _parse(path).body:
            if isinstance(n, ast.FunctionDef):
                defs[(mod, n.name)] = (n, path)
    branching = _branching(defs)
    # private functions carry selectors too, so a value a public function
    # hands on through a private helper flows on to its callees
    selectors = {}
    for (mod, name), (fn, _path) in defs.items():
        names, params = _params(fn)
        sel = {}
        for arg, d in params:
            if arg.arg not in branching[(mod, name)] or _COLUMN_PARAM.search(arg.arg):
                continue
            if isinstance(d, ast.Constant) and isinstance(d.value, (bool, str)):
                sel[arg.arg] = d.value
            elif d is None and arg.annotation is not None and ast.unparse(arg.annotation) in ("bool", "str"):
                sel[arg.arg] = _REQUIRED
        selectors[(mod, name)] = (names, sel)

    used: dict[str, set] = {}
    flows: dict[str, set] = {}  # option -> caller options it takes its value from
    for path in _entry_files() + [_module_file(m) for m in sorted(_package_modules())]:
        mod = _module_name(path)
        target = _resolver(*_bindings(path))
        for top in _parse(path).body:
            outer = top.name if isinstance(top, ast.FunctionDef) else None
            outer_sel = selectors.get((mod, outer), ([], {}))[1]
            for call in (n for n in ast.walk(top) if isinstance(n, ast.Call)):
                fn, args = target(call.func), call.args
                if fn not in selectors:
                    # a function handed to a wrapper with its arguments, as
                    # in perfbench's call(name, fn, *args, **kw)
                    fn = next((target(a) for a in args if target(a) in selectors), None)
                    if fn is None:
                        continue
                    args = args[[target(a) for a in args].index(fn) + 1:]
                names, sel = selectors[fn]
                bound = _bound(call, args, names)
                unpacked = any(k.arg is None for k in call.keywords) or any(
                    isinstance(a, ast.Starred) for a in args
                )
                for opt, default in sel.items():
                    q = f"{fn[0]}.{fn[1]}.{opt}"
                    e = bound.get(opt)
                    if e is None:
                        if unpacked:
                            used.setdefault(q, set()).add(_ANY)
                        elif default is not _REQUIRED:
                            used.setdefault(q, set()).add(default)
                    elif isinstance(e, ast.Constant) and isinstance(e.value, (bool, str)):
                        used.setdefault(q, set()).add(e.value)
                    elif isinstance(e, ast.Name) and e.id in outer_sel:
                        flows.setdefault(q, set()).add(f"{mod}.{outer}.{e.id}")
                    else:
                        used.setdefault(q, set()).add(_ANY)

    def resolve(q, seen):
        if q in seen:
            return set()
        seen.add(q)
        out = set(used.get(q, ()))
        for src in flows.get(q, ()):
            out |= resolve(src, seen)
        return out

    return {
        q: resolve(q, set())
        for q in set(used) | set(flows)
        if not q.split(".")[-2].startswith("_")
    }


def test_every_selector_option_has_two_values_in_use():
    values = _selector_values()
    single = {q: v for q, v in values.items() if len(v) == 1 and _ANY not in v}
    extra = sorted(set(single) - set(SINGLE_VALUE_SELECTORS_ON_PURPOSE))
    assert not extra, "options with one value in use: " + ", ".join(
        f"{q}={next(iter(single[q]))!r}" for q in extra
    )
    # every exemption names an option that exists and still has one value
    stale = set(SINGLE_VALUE_SELECTORS_ON_PURPOSE) - set(single)
    assert not stale, f"exempt but gone or in use with two values: {sorted(stale)}"


def test_every_imported_name_is_read():
    files = [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    for base in (PACKAGE, "tests"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    unread = []
    for path in files:
        tree = _parse(path)
        bound = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                bound.update({a.asname or a.name.split(".")[0]: node.lineno for a in node.names})
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound.update({a.asname or a.name: node.lineno for a in node.names if a.name != "*"})
        read = {
            n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
        }
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                read |= {e.value for e in node.value.elts}
        rel = os.path.relpath(path, ROOT)
        unread += [f"{rel}:{line} {name}" for name, line in bound.items() if name not in read]
    assert not unread, "imported but never read: " + ", ".join(sorted(unread))
