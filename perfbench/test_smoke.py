"""Tiny-scale smoke test of the benchmark harness.

    python3 -m pytest perfbench/test_smoke.py -q      # from the repo root

Runs every workload at ``harness.TINY`` scale on one Spark session, with
tracing off and on, and checks that each emits exactly the metric names and
units of BENCHMARK.json and passes its output check; then corrupts one
committed output row and checks that the output check catches it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import harness as H  # noqa: E402
import run as cli  # noqa: E402

SPEC = cli.load_spec()


@pytest.fixture(scope="module")
def session():
    """A benchmark session. The environment variables and working
    directory the harness sets are restored afterwards, so later tests in
    the same process start their own Spark as configured."""
    env, cwd = dict(os.environ), os.getcwd()
    os.chdir(ROOT)
    work = H.reset_dir(ROOT / ".perfbench_work" / f"smoke-{os.getpid()}")
    H.prepare_environment(work)
    meter = H.Meter()
    try:
        spark, session_s = H.start_spark()
        yield spark, session_s, meter, work
        H.stop_spark(spark)
    finally:
        H.reap_children()
        meter.close()
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(env)
        os.chdir(cwd)


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", cli.WORKLOADS)
def test_every_metric_is_emitted(session, workload, trace):
    spark, session_s, meter, work = session
    line, res = cli.run_workload(
        spark, session_s, meter, workload=workload, seed=7, seconds=0.1,
        trace=bool(trace), scale=H.TINY, work=H.reset_dir(work / workload))
    assert res.errors == []
    assert line["correct"] is True and line["failed"] == 0
    assert line["attempted"] >= 1
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == _units("per_layer" if trace else "end_to_end")
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values())
    json.dumps(line)  # the result line must serialize


def test_corrupted_output_fails_the_check(session):
    import extraction
    from reference import corpus_digest, reference_digests

    spark, session_s, meter, work = session
    ctx = H.Context(spark=spark, scale=H.TINY, seed=3, seconds=0.1,
                    trace=False, work=H.reset_dir(work / "corrupt"),
                    session_s=session_s, meter=meter, tracer=H.Tracer())
    ex = extraction.Extraction(ctx)
    ex.setup()
    expected = corpus_digest(reference_digests(H.TINY.docs, 3))
    out = ex.run_pass(traced=False).out
    assert ex.check(out, expected) == []

    import pyarrow as pa
    import pyarrow.parquet as pq

    part = next(p for p in sorted((out / "extracted").rglob("*.parquet"))
                if pq.ParquetFile(p).metadata.num_rows)
    table = pq.read_table(part)
    spans = table.column("out_spans").to_pylist()
    spans[0][0]["text"] = (spans[0][0]["text"] or "") + "corrupted"
    idx = table.column_names.index("out_spans")
    table = table.set_column(
        idx, "out_spans", pa.array(spans, type=table.schema.field(idx).type))
    pq.write_table(table, part)
    crc = part.with_name(f".{part.name}.crc")
    crc.unlink(missing_ok=True)  # the rewrite invalidates Hadoop's checksum
    problems = ex.check(out, expected)
    assert any("digest" in p for p in problems)


def test_fails_without_the_program():
    """Only BENCHMARK.json and the benchmark directory: no result line and
    a non-zero exit."""
    bare = H.reset_dir(ROOT / ".perfbench_work" / f"bare-{os.getpid()}")
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload",
         cli.WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
