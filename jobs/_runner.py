"""Shared section runner for the report-publishing jobs (datacard_job,
eval_job): ONE implementation of section-name validation, the
query-verbatim write loop, stats collection, and the CLI shell — so a
fix (or a stats-schema change) can never land in one job and silently
miss the other. Duplicate section names are rejected: running a section
twice would waste a full pass and silently overwrite its stats entry.
"""

from __future__ import annotations

import argparse
import json
import time


def run_sections(spark, input_dir: str, output: str, table: dict,
                 noun: str, sections: list[str] | None = None) -> dict:
    """Write the requested sections (registry queries called verbatim)
    under ``output`` and return the stats dict main() prints. Unknown,
    duplicate, or explicitly-empty selections fail fast before any
    Spark work (a mistyped stage name must not cost a corpus pass)."""
    # None means "all"; an explicitly empty selection is a caller bug
    # (an unset $SECTIONS variable must not silently publish everything)
    names = list(table) if sections is None else sections
    if not names:
        raise ValueError(f"no {noun} sections requested")
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        raise ValueError(f"duplicate {noun} sections {dupes}")
    unknown = [n for n in names if n not in table]
    if unknown:
        raise ValueError(
            f"unknown {noun} sections {unknown}; known: {list(table)}")
    stats: dict = {"sections": {}, "output": output}
    for name in names:
        t0 = time.monotonic()
        df = table[name](spark, input_dir)
        path = f"{output}/{name}"
        df.write.mode("overwrite").parquet(path)
        stats["sections"][name] = {
            "rows": spark.read.parquet(path).count(),
            "wall_sec": round(time.monotonic() - t0, 3),
        }
    return stats


def run_cli(app_name: str, input_help: str, run) -> None:
    """The shared --input/--output/--sections CLI shell."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help=input_help)
    ap.add_argument("--output", required=True)
    ap.add_argument("--sections", default=None,
                    help="comma-separated subset (default: all)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(app_name).getOrCreate()
    stats = run(
        spark, args.input, args.output,
        sections=[s.strip() for s in args.sections.split(",") if s.strip()]
        if args.sections is not None else None)
    print(json.dumps(stats))
    spark.stop()
