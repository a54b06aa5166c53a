"""Benchmark command for the extraction engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one client, a closed loop:
after set-up and an untimed warm-up pass, timed passes of the workload run
back to back until ``--seconds`` have passed (at least one pass), and each
metric is the median over the passes. ``--trace 1`` then runs the same
loop again with spans on and probes every layer.

Prints a summary line, then as the last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Exits 1 when an output check fails or the run errors.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(1, str(ROOT))

WORKLOADS = ("extract_commit", "registry_hot")


def _workload(name: str):
    """(run function, layer prefixes the workload measures)."""
    import extraction
    import registry

    return {"extract_commit": (extraction.run, extraction.LAYERS),
            "registry_hot": (registry.run, registry.LAYERS)}[name]


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def emit(spec: dict, res, layers: tuple[str, ...], trace: bool) -> dict:
    """The metrics of the result line, with the units BENCHMARK.json gives.
    Per-layer metrics of layers the workload does not run read 0."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        values = res.per_layer if trace else res.end_to_end
        if name in values:
            value = values[name]
        elif trace and not name.startswith(layers):
            value = 0
        else:
            raise KeyError(f"workload did not measure {name}")
        out[name] = {"value": float(value), "unit": m["unit"]}
    return out


def run_workload(spark, session_s: float, meter, *, workload: str, seed: int,
                 seconds: float, trace: bool, scale, work: Path):
    """Run one workload on a live session; returns (result line, Result)."""
    import harness as H

    fn, layers = _workload(workload)
    tracer = H.Tracer()
    ctx = H.Context(spark=spark, scale=scale, seed=seed, seconds=seconds,
                    trace=trace, work=work, session_s=session_s, meter=meter,
                    tracer=tracer)
    res = fn(ctx)
    if trace:
        tracer.dump(ROOT / ".perfbench_out" / f"trace-{workload}-{seed}.json")
    line = {"correct": not res.errors, "attempted": int(res.attempted),
            "failed": int(res.failed),
            "metrics": emit(load_spec(), res, layers, trace)}
    return line, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)  # Spark's Python workers import the package from here
    try:
        import bench_scaling  # noqa: F401 - box contention helpers
        import extract_ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not here: {exc}", file=sys.stderr)
        return 2

    import harness as H

    H.remove_stale_work(ROOT / ".perfbench_work")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    H.reset_dir(work)
    H.prepare_environment(work)
    meter = H.Meter()
    spark = None
    try:
        spark, session_s = H.start_spark()
        line, res = run_workload(
            spark, session_s, meter, workload=args.workload, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace), scale=H.FULL,
            work=work)
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            H.stop_spark(spark)
        H.reap_children()
        meter.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass
    for err in res.errors:
        print(f"perfbench: output check failed: {err}", file=sys.stderr)
    print("perfbench:", args.workload, json.dumps(res.summary), flush=True)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
