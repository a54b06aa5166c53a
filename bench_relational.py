#!/usr/bin/env python
"""Relational-suite benchmark: wall numbers for the TPC-H-flavored join
queries at sf0.1 — the scale evidence behind the join-shape arguments in
the relational docstrings (aggregate-before-join, broadcast-semi windows,
single-scan conditional aggregates, anti-join pruning).

Each timed attempt consumes the full result through a digest aggregate
(count + bounded xxhash64 sum), the bench.py pattern. Timing discipline
shared with bench.py (min-of-N, [wall, steal, foreign_busy, idle_ok]
tuples; contaminated attempts recorded but never beat a clean one).

Env: SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BUSY_CLEAN, timed  # noqa: E402
from bench_extra import digest  # noqa: E402
from bench_scaling import STEAL_CLEAN  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

QUERY_NAMES = (
    "pricing_summary",          # Q1: one-scan conditional rollup
    "top_orders_revenue",       # Q3: selective join pyramid + TakeOrdered
    "order_priority_counts",    # Q4: EXISTS as left-semi
    "nation_trade_volume",      # Q7: one dim in two roles
    "market_share",             # Q8: one conditional aggregate
    "returned_top_customers",   # Q10: fact-fact orderkey join
    "cust_order_distribution",  # Q13: outer join + double aggregate
    "small_qty_revenue",        # Q17: window over the broadcast-semi slice
    "large_orders",             # Q18: aggregate-then-join
    "disjunctive_pricing",      # Q19: pushed IN-superset + residual OR
    "late_only_supplier",       # Q21: aggregate+windows, no self-join
    "dormant_rich_customers",   # Q22: stats broadcast + left-anti
    "data_quality_checks",      # constraint suite: one scan per table
    "salted_skew_join",         # hot-key spread join
)


def main() -> None:
    import __spark_entry__ as entry

    from extract_ocr_spark.session import get_spark

    spark = get_spark(f"local[{CPUS}]", app_name="bench-relational",
                      shuffle_partitions=CPUS)
    registry = entry.queries()
    results: dict[str, float] = {}
    runs: dict[str, list] = {}
    for name in QUERY_NAMES:
        fn = lambda: digest(registry[name](spark, SF_DIR))  # noqa: E731
        fn()  # warm (file index + code paths)
        best, rs = timed(fn)
        results[name] = best
        runs[name] = rs

    out = {
        "metric": "relational_suite_wall_sec",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": 0.1 if "sf0.1" in SF_DIR else SF_DIR,
        "runs_sec_steal": runs,
        "steal_clean_threshold": STEAL_CLEAN,
        "busy_clean_threshold": BUSY_CLEAN,
        "cpus": CPUS,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
