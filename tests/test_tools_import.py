"""Every script under tools/ imports cleanly. Each one runs its work
behind ``if __name__ == "__main__"``, so importing it only resolves its
imports: a renamed or deleted package name fails here instead of on
the next manual run of the tool."""

from __future__ import annotations

import importlib
import os

import pytest

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
TOOLS = sorted(
    name[:-3]
    for name in os.listdir(TOOLS_DIR)
    if name.endswith(".py") and name != "__init__.py"
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
