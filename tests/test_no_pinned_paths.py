"""No tool, bench or test module puts a fixed absolute path on sys.path:
run from a clone or a scratch copy, such a module would import the
pinned checkout's package instead of its own."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
FILES = sorted(
    [*ROOT.glob("tools/*.py"), ROOT / "bench.py", *ROOT.glob("tests/*.py")]
)


def _pinned(path: Path) -> list[int]:
    """Lines where sys.path gets a string literal that is an absolute
    path (insert/append/extend or a slice assignment)."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        target = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in ("insert", "append", "extend"):
                target, values = node.func.value, node.args
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Subscript):
            target, values = node.targets[0].value, [node.value]
        if ast.unparse(target or ast.Pass()) != "sys.path":
            continue
        if any(
            isinstance(c, ast.Constant) and isinstance(c.value, str) and c.value.startswith("/")
            for v in values
            for c in ast.walk(v)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_no_fixed_absolute_path_on_sys_path():
    pinned = {str(p.relative_to(ROOT)): _pinned(p) for p in FILES}
    assert {k: v for k, v in pinned.items() if v} == {}


def test_the_check_sees_a_pinned_path(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text('import sys\nsys.path.insert(0, "/srv/checkout")\nsys.path[:0] = ["/x"]\n')
    assert _pinned(bad) == [2, 3]
