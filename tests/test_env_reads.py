"""The library is configured through arguments, not environment
variables: an env-var knob changes behavior without a trace in the call
and picks an implementation arm no test sees. This walks every module of
``dataproc_spark/`` and fails on any environment read outside the
allowlist."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dataproc_spark"

#: (module path under dataproc_spark/, enclosing function or "<module>",
#: variable name) — the session factory's core count, and matplotlib's
#: headless-backend detection
ALLOWED = {
    ("core.py", "get_spark", "SPARK_GRAFT_CPUS"),
    ("plot.py", "<module>", "DISPLAY"),
    ("plot.py", "<module>", "WAYLAND_DISPLAY"),
    ("plot.py", "<module>", "MPLBACKEND"),
}


class _EnvReads(ast.NodeVisitor):
    """Collects (function, key) for every ``os.environ`` / ``os.getenv``
    use; ``key`` is None when it is not a string literal."""

    def __init__(self):
        self.scope = ["<module>"]
        self.os_names = {"os"}
        self.reads: list[tuple[str, str | None]] = []
        self.seen: set[int] = set()

    def _is_os(self, node, attr):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == attr
            and isinstance(node.value, ast.Name)
            and node.value.id in self.os_names
        )

    @staticmethod
    def _key(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return None

    def _record(self, env_node, key):
        self.seen.add(id(env_node))
        self.reads.append((self.scope[-1], key))

    def visit_Import(self, node):
        for a in node.names:
            if a.name == "os":
                self.os_names.add(a.asname or "os")

    def visit_ImportFrom(self, node):
        if node.module == "os":
            for a in node.names:
                if a.name in ("environ", "getenv"):
                    self.reads.append((self.scope[-1], f"from os import {a.name}"))

    def _visit_scope(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = _visit_scope

    def visit_Call(self, node):
        f = node.func
        key = self._key(node.args[0]) if node.args else None
        if self._is_os(f, "getenv"):
            self._record(f, key)
        elif isinstance(f, ast.Attribute) and self._is_os(f.value, "environ"):
            self._record(f.value, key if f.attr == "get" else None)
        self.generic_visit(node)

    def visit_Subscript(self, node):
        if self._is_os(node.value, "environ"):
            if isinstance(node.ctx, ast.Load):
                self._record(node.value, self._key(node.slice))
            else:  # a write or del sets the environment, reads nothing
                self.seen.add(id(node.value))
        self.generic_visit(node)

    def visit_Attribute(self, node):
        if (self._is_os(node, "environ") or self._is_os(node, "getenv")) \
                and id(node) not in self.seen:
            self._record(node, None)
        self.generic_visit(node)


def _env_reads(source: str):
    v = _EnvReads()
    v.visit(ast.parse(source))
    return v.reads


def test_library_reads_no_env_knobs():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for scope, key in _env_reads(path.read_text()):
            found.add((rel, scope, key))
    assert found - ALLOWED == set(), (
        "environment reads outside the allowlist — pass a parameter "
        f"instead: {sorted(found - ALLOWED, key=str)}"
    )
    assert ALLOWED <= found, f"stale allowlist: {sorted(ALLOWED - found)}"


def test_env_read_detector_sees_each_form():
    src = (
        "import os\n"
        "import os as _o\n"
        "from os import getenv\n"
        "A = os.environ.get('A')\n"
        "def f():\n"
        "    return os.getenv('B'), _o.environ['C'], 'D' in os.environ\n"
        "def g(k):\n"
        "    os.environ['W'] = '1'\n"
        "    return os.environ.get(k, '')\n"
    )
    assert sorted(_env_reads(src), key=str) == sorted([
        ("<module>", "from os import getenv"),
        ("<module>", "A"),
        ("f", "B"),
        ("f", "C"),
        ("f", None),
        ("g", None),
    ], key=str)
