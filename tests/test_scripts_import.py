"""Every script under scripts/ imports without running its main(): a
surviving script must not keep a dangling import of a helper that was
deleted from bench.py or another script."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))), ids=os.path.basename
)
def test_script_imports_without_running(path, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"_script_{name}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)), f"{name} has no main()"
