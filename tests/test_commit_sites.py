"""Lint: ``storage/commit.py`` is the package's only owner of atomic
writes. Every other module commits through it, so none may probe a
``_SUCCESS`` marker, call ``os.replace``/``os.rename``, or rename a
path with ``.rename(`` — the hand-rolled commit sites this rule
replaced disagreed on their crash windows. Comments and docstrings
may still name the idioms."""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "lakehouse_adventureworks2022_spark"
OWNER = PACKAGE / "storage" / "commit.py"


def _docstring_lines(source: str) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def commit_sites(path: Path) -> list[str]:
    """``line: token`` for every commit idiom in ``path``'s code."""
    source = path.read_text()
    docs = _docstring_lines(source)
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type in (tokenize.NAME, tokenize.OP, tokenize.STRING)
        and not (t.type == tokenize.STRING and t.start[0] in docs)
    ]
    sites = []
    for i, t in enumerate(toks):
        nxt = [u.string for u in toks[i + 1 : i + 3]]
        if t.type == tokenize.STRING and "_SUCCESS" in t.string:
            sites.append(f"{t.start[0]}: _SUCCESS")
        elif t.string == "os" and nxt in ([".", "replace"], [".", "rename"]):
            sites.append(f"{t.start[0]}: os.{nxt[1]}")
        elif (
            t.string == "."
            and nxt == ["rename", "("]
            and (i == 0 or toks[i - 1].string != "os")
        ):
            sites.append(f"{t.start[0]}: .rename(")
    return sites


def _modules() -> list[Path]:
    return sorted(PACKAGE.rglob("*.py")) + sorted((ROOT / "tools").glob("*.py"))


def test_the_lint_sees_every_idiom(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        '"""Docstrings may say os.replace and _SUCCESS."""\n'
        "import os\n"
        "# a comment may say os.rename too\n"
        "os.replace(a, b)\n"
        "os.rename(a, b)\n"
        "staging.rename(target)\n"
        'ok = os.path.exists(f"{d}/_SUCCESS")\n'
    )
    assert commit_sites(probe) == [
        "4: os.replace",
        "5: os.rename",
        "6: .rename(",
        "7: _SUCCESS",
    ]
    assert commit_sites(OWNER)  # the owner is where they all live


@pytest.mark.parametrize(
    "path",
    [p for p in _modules() if p != OWNER],
    ids=lambda p: str(p.relative_to(ROOT)),
)
def test_no_commit_site_outside_storage_commit(path):
    assert commit_sites(path) == [], (
        f"{path.relative_to(ROOT)} commits by hand; go through "
        f"storage/commit.py (replace_file, swap_dir or a manifest generation)"
    )
