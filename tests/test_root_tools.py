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


def test_sweep_top_stages_since_watermark(spark, monkeypatch):
    """The sweep's stage rows: only stages after the watermark, costliest
    first, at most three, each with run/CPU time, tasks and name."""
    monkeypatch.syspath_prepend(ROOT)
    bench_extra = importlib.import_module("bench_extra")

    spark.range(1000).repartition(4).count()
    mark = bench_extra.spark_totals(spark)["last_stage"]
    spark.range(1000).repartition(4).selectExpr("sum(id)").collect()
    top = bench_extra.top_stages(spark, mark)
    assert 1 <= len(top) <= 3, top
    assert all(t["stage"] > mark for t in top), (mark, top)
    assert [t["run_s"] for t in top] == sorted(
        (t["run_s"] for t in top), reverse=True), top
    assert set(top[0]) == {"stage", "run_s", "cpu_s", "tasks", "name"}, top
