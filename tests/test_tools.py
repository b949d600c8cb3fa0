"""Every ``tools/*.py`` script imports cleanly, so a package name that
moves or goes away fails here instead of at the tool's next run.
Importing runs no ``main()``: each tool guards it under ``__main__``.
The package's and live docs' pointers to tools and to package names
resolve."""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"
PKG = ROOT / "medallion_data_pipeline_spark"

#: live documents whose ``tools/<name>.py`` and
#: ``<subpackage>/<module>.py::<name>`` pointers must resolve; the
#: historical records (docs/SCALING.md, docs/PERFORMANCE.md,
#: OPTIMIZATION_r15.md) cite deleted code by design
POINTER_SOURCES = (
    *sorted(PKG.rglob("*.py")),
    ROOT / "README.md",
    ROOT / "docs" / "SCALE_PLAYBOOK.md",
    ROOT / "docs" / "COVERAGE.md",
    ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
)


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")),
                         ids=lambda p: p.stem)
def test_tool_imports(path, monkeypatch):
    monkeypatch.syspath_prepend(str(TOOLS))
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_tool_pointers_resolve():
    """A package docstring or live doc that names ``tools/<name>.py``
    points at a script that exists."""
    stale = [f"{src.relative_to(ROOT)}: tools/{name}.py"
             for src in POINTER_SOURCES
             for name in re.findall(r"tools/(\w+)\.py", src.read_text())
             if not (TOOLS / f"{name}.py").exists()]
    assert not stale, stale


def _top_level_names(module: pathlib.Path) -> set[str]:
    names = set()
    for node in ast.parse(module.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets
                         if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                            ast.Name):
            names.add(node.target.id)
    return names


def test_code_pointers_resolve():
    """A ``<subpackage>/<module>.py::<name>`` pointer in a package
    docstring or live doc names a top-level def, class or assignment
    of that module (checked by parsing, importing nothing)."""
    pattern = (r"\b(operators|plans|functions|sources|queries|streaming)"
               r"/(\w+)\.py::\s*(\w+)")
    names = {}
    stale = []
    for src in POINTER_SOURCES:
        for sub, mod, name in re.findall(pattern, src.read_text()):
            module = PKG / sub / f"{mod}.py"
            if module not in names:
                names[module] = (_top_level_names(module)
                                 if module.exists() else set())
            if name not in names[module]:
                stale.append(f"{src.relative_to(ROOT)}: {sub}/{mod}.py::{name}")
    assert not stale, stale
