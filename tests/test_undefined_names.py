"""Lint: no function loads a name that nothing binds. A name a function
reads must be local to it, bound at module level (assignment, import,
``def``/``class``, or a ``global`` statement), or a builtin. Python
only finds the miss when the line runs, which is how ``tools/ann_sweep.py``
kept calling ``cells.unpersist()`` after ``cells`` was gone. Uses the
stdlib ``symtable``; imports nothing it checks and needs no Spark."""

from __future__ import annotations

import builtins
import symtable
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "lakehouse_adventureworks2022_spark"

#: module attributes every module has without binding them
MODULE_DUNDERS = {
    "__file__", "__name__", "__doc__", "__spec__", "__loader__",
    "__package__", "__builtins__", "__path__", "__cached__",
}


def _tables(table: symtable.SymbolTable):
    for child in table.get_children():
        yield child
        yield from _tables(child)


def undefined_names(path: Path) -> list[str]:
    """``scope: name`` for every global a function or class body loads
    that ``path`` never binds at module level and builtins lack."""
    top = symtable.symtable(path.read_text(), str(path), "exec")
    bound = set(dir(builtins)) | MODULE_DUNDERS
    bound.update(
        s.get_name()
        for s in top.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    )
    scopes = list(_tables(top))
    # ``global x`` plus an assignment in a function binds x at module level
    for t in scopes:
        bound.update(
            s.get_name()
            for s in t.get_symbols()
            if s.is_declared_global() and s.is_assigned()
        )
    misses = []
    for t in scopes:
        for s in t.get_symbols():
            # is_local() guards a Python 3.11 quirk: some parameters of
            # nested functions are also reported as global
            if (
                s.is_referenced()
                and s.is_global()
                and not s.is_local()
                and s.get_name() not in bound
            ):
                misses.append(f"{t.get_name()}: {s.get_name()}")
    return sorted(set(misses))


def _modules() -> list[Path]:
    return (
        sorted(PACKAGE.rglob("*.py"))
        + sorted((ROOT / "tools").glob("*.py"))
        + sorted((ROOT / "tests").rglob("*.py"))
        + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    )


def test_the_lint_sees_an_unbound_name(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import os\n"
        "LIMIT = 3\n"
        "def setup():\n"
        "    global STATE\n"
        "    STATE = 1\n"
        "def main(arg):\n"
        "    def inner(x):\n"
        "        return x + arg\n"
        "    os.sep, LIMIT, STATE, len, __file__, inner(1)\n"
        "    cells.unpersist()\n"
        "class Box:\n"
        "    size = LIMIT + missing\n"
    )
    assert undefined_names(probe) == ["Box: missing", "main: cells"]


@pytest.mark.parametrize(
    "path", _modules(), ids=lambda p: str(p.relative_to(ROOT))
)
def test_no_function_loads_an_unbound_name(path):
    assert undefined_names(path) == []
