"""Scripts find the repo from their own location: no tool, bench or test
script puts a fixed absolute path on ``sys.path``, so running one from
any checkout imports that checkout's code. And no test names an absolute
path that does not exist: a test that reads an absent checkout can only
skip or fail."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# absolute paths a test writes into data but never opens
NEVER_OPENED = {"/data/f0.parquet"}  # a manifest key in tests/test_tables.py


def _tests() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "tests", "*.py")))


def _scripts() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + _tests() + [
        os.path.join(ROOT, f) for f in ("bench.py", "bench_extra.py")
    ]


def _absolute_sys_path_literals(path: str) -> list[str]:
    """``file:line`` of each ``sys.path.insert``/``append`` whose argument
    is an absolute-path string literal."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    hits = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
        ):
            continue
        for arg in node.args:
            if (
                isinstance(arg, ast.Constant)
                and isinstance(arg.value, str)
                and os.path.isabs(arg.value)
            ):
                hits.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    return hits


def _absent_absolute_paths(path: str) -> list[str]:
    """``file:line`` of each absolute-path string constant that does not
    exist. Docstrings and f-string pieces are not paths."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                skip.add(id(first.value))
        elif isinstance(node, ast.JoinedStr):
            skip.update(id(v) for v in node.values)
    return [
        f"{os.path.relpath(path, ROOT)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in skip
        and os.path.isabs(node.value)
        and node.value not in NEVER_OPENED
        and not os.path.exists(node.value)
    ]


def test_no_script_puts_an_absolute_path_on_sys_path():
    hits = [h for p in _scripts() for h in _absolute_sys_path_literals(p)]
    assert not hits, f"absolute sys.path literals: {hits}"


def test_the_check_sees_an_absolute_literal(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text('import sys\nsys.path.insert(0, "/opt/elsewhere")\nsys.path.append("rel")\n')
    assert _absolute_sys_path_literals(str(bad)) == [f"{os.path.relpath(bad, ROOT)}:2"]


def test_no_test_names_an_absent_absolute_path():
    hits = [h for p in _tests() for h in _absent_absolute_paths(p)]
    assert not hits, f"absolute paths that do not exist: {hits}"


def test_the_check_sees_an_absent_path(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        '"""Reads /no/such/dir."""\n'
        f'HERE = "{tmp_path}"\n'
        'GONE = "/no/such/dir/data.csv"\n'
        'NAME = f"/no/such/dir/{HERE}"\n'
    )
    assert _absent_absolute_paths(str(bad)) == [f"{os.path.relpath(bad, ROOT)}:3"]
