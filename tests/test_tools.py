"""Every script under ``tools/`` still imports against the package.

Nothing else runs these scripts in CI, so a tool that imports a deleted
name would only fail the next time someone ran it by hand. Each is
loaded by path (its top level runs; ``main`` does not).
``drive_contract.py`` is skipped: it starts Spark and drives the whole
registry at import.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parents[1] / "tools"
IMPORTABLE = sorted(
    p.stem for p in TOOLS.glob("*.py") if p.stem != "drive_contract"
)


@pytest.mark.parametrize("name", IMPORTABLE)
def test_tool_imports(name, monkeypatch):
    # several tools put their checkout on sys.path at import
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        f"_tool_{name}", TOOLS / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{name}: no main()"
