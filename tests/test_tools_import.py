"""Every script under tools/ imports cleanly: a tool still naming a deleted
engine function fails here instead of at its next manual run."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"tools_smoke_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))
