"""Scripts find the repo from their own location: no tool or bench
script puts a fixed absolute path on ``sys.path``, so running one from
any checkout imports that checkout's code."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scripts() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + [
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


def test_no_script_puts_an_absolute_path_on_sys_path():
    hits = [h for p in _scripts() for h in _absolute_sys_path_literals(p)]
    assert not hits, f"absolute sys.path literals: {hits}"


def test_the_check_sees_an_absolute_literal(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text('import sys\nsys.path.insert(0, "/opt/elsewhere")\nsys.path.append("rel")\n')
    assert _absolute_sys_path_literals(str(bad)) == [f"{os.path.relpath(bad, ROOT)}:2"]
