"""The root-level tools still import: a kept script that imports a
deleted module fails here instead of when someone next runs a bench.
None of them starts a Spark session at import."""

import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", ["bench", "bench_scaling", "bench_extra",
                                  "plan_audit", "__spark_entry__"])
def test_root_tool_imports(name, monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    importlib.import_module(name)
