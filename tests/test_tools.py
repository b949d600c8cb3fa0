"""Every ``tools/*.py`` script imports cleanly, so a package name that
moves or goes away fails here instead of at the tool's next run.
Importing runs no ``main()``: each tool guards it under ``__main__``."""

from __future__ import annotations

import importlib.util
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"

#: live documents whose ``tools/<name>.py`` pointers must resolve; the
#: historical records (docs/SCALING.md, docs/PERFORMANCE.md,
#: OPTIMIZATION_r15.md) cite deleted tools by design
POINTER_SOURCES = (
    *sorted((ROOT / "medallion_data_pipeline_spark").rglob("*.py")),
    ROOT / "README.md",
    ROOT / "docs" / "SCALE_PLAYBOOK.md",
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
