"""Every ``tools/*.py`` script imports cleanly, so a package name that
moves or goes away fails here instead of at the tool's next run.
Importing runs no ``main()``: each tool guards it under ``__main__``."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")),
                         ids=lambda p: p.stem)
def test_tool_imports(path, monkeypatch):
    monkeypatch.syspath_prepend(str(TOOLS))
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
