#!/usr/bin/env python
"""Physical-plan red-flag sweep over the whole query registry.

For every `__spark_entry__.queries()` entry, capture the (pre-execution)
physical plan at sf0.01 and flag the anti-patterns the 100 TB story
cannot tolerate:

- ``BatchEvalPython``: a row-at-a-time Python UDF reached the plan (the
  repo's contract is Arrow-vectorized-only — ArrowEvalPython / FlatMap*
  Pandas nodes are fine);
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: an unkeyed join.
  BNLJ is legitimate only for deliberate 1-row-broadcast scalar joins
  (threshold/normalizer patterns) or size-guarded bounded candidate
  sets, so it is reported with context for eyeballing, not failed;
- window over ``SinglePartition`` when the input is corpus-sized
  (reported; presentation-level global sorts over aggregate outputs are
  expected and cheap).

Usage: python plan_audit.py [sf_dir] — prints one line per flagged
query and a summary; exit 1 if any BatchEvalPython or CartesianProduct
appears anywhere.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E
    from extract_ocr_spark.session import get_spark

    spark = get_spark("local[8]", app_name="plan-audit",
                      shuffle_partitions=8)
    hard, soft = [], []
    for name, fn in E.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must visit all
            hard.append((name, f"PLAN ERROR: {exc}"))
            continue
        if "BatchEvalPython" in plan:
            hard.append((name, "BatchEvalPython (row-at-a-time Python)"))
        if "CartesianProduct" in plan:
            hard.append((name, "CartesianProduct"))
        for m in re.finditer(r"BroadcastNestedLoopJoin \w+, (\w+)", plan):
            soft.append((name, f"BNLJ ({m.group(1)})"))
        if re.search(r"Window .*SinglePartition", plan):
            soft.append((name, "window over SinglePartition"))

    print(f"audited {len(E.queries())} queries at {sf_dir}")
    for name, why in hard:
        print(f"HARD {name}: {why}")
    for name, why in sorted(set(soft)):
        print(f"note {name}: {why}")
    print(f"hard={len(hard)} notes={len(set(soft))}")
    spark.stop()
    return 1 if hard else 0


if __name__ == "__main__":
    raise SystemExit(main())
