#!/usr/bin/env python
"""Temporal-operator benchmark: times the three custom joins
(asof_join / range_join_bins / hypertable_rollup) over a large
natively-generated events corpus — the wall numbers behind the PLANS.md
claims that the as-of window and the bin-and-prune equi join scale,
while the naive range-condition join (BroadcastNestedLoopJoin) does not.

Each timed attempt consumes the full query through a digest aggregate
(count + xxhash64 sum over every output column), so the window/join/
rollup work is fully materialized without a driver-side collect of the
result set. A fourth, opt-in row times the NAIVE nested-loop range join
on a small slice (it is quadratic; running it at the full corpus would
take hours — which is the point) for a measured, like-for-like contrast
on the same input.

Prints ONE JSON line in bench.py's format; timing discipline shared
with bench.py (min-of-N, [wall, steal, foreign_busy, idle_ok] tuples).

Env: SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_TEMPORAL_EVENTS (default 10_000_000),
     SPARK_GRAFT_TEMPORAL_NAIVE (default 1 = include the naive-join
         contrast row at NAIVE_EVENTS; 0 to skip),
     SPARK_GRAFT_TEMPORAL_NAIVE_EVENTS (default 200_000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import timed  # noqa: E402
from bench_scaling import STEAL_CLEAN  # noqa: E402
from bench import BUSY_CLEAN  # noqa: E402
from bench_extra import digest  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_EVENTS = int(os.environ.get("SPARK_GRAFT_TEMPORAL_EVENTS", "10000000"))
NAIVE = os.environ.get("SPARK_GRAFT_TEMPORAL_NAIVE", "1") == "1"
NAIVE_EVENTS = int(os.environ.get(
    "SPARK_GRAFT_TEMPORAL_NAIVE_EVENTS", "200000"))
N_INTERVALS = int(os.environ.get("SPARK_GRAFT_TEMPORAL_INTERVALS", "20000"))

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".bench_data", f"events_{N_EVENTS}")


def main() -> None:
    from pyspark.sql import functions as F

    from extract_ocr_spark.datagen import synthetic_events_df
    from extract_ocr_spark.operators.temporal import (
        asof_join_query,
        hypertable_rollup_query,
        range_join_bins_query,
    )
    from extract_ocr_spark.session import get_spark

    spark = get_spark(f"local[{CPUS}]", app_name="bench-temporal",
                      shuffle_partitions=CPUS)

    marker = os.path.join(DATA_DIR, "events.parquet", "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(DATA_DIR, ignore_errors=True)
        synthetic_events_df(spark, N_EVENTS, partitions=4 * CPUS) \
            .write.mode("overwrite") \
            .parquet(os.path.join(DATA_DIR, "events.parquet"))

    queries = {
        "asof_join": lambda: digest(asof_join_query(spark, DATA_DIR)),
        "range_join_bins": lambda: digest(
            range_join_bins_query(spark, DATA_DIR)),
        "hypertable_rollup": lambda: digest(
            hypertable_rollup_query(spark, DATA_DIR)),
    }

    results: dict[str, float] = {}
    runs: dict[str, list] = {}
    for name, fn in queries.items():
        fn()  # warm: JIT, parquet footer cache, codegen
        best, rs = timed(fn)
        results[name] = best
        runs[name] = rs

    extras: dict = {}
    if NAIVE:
        # Contrast on a LARGE interval table (the regime where range
        # joins actually hurt: IP ranges, time intervals — thousands of
        # rows, not the registry query's 12 oracle-checkable tiers).
        # Naive = the raw range predicate, which Spark plans as a
        # BroadcastNestedLoopJoin evaluating events x intervals
        # predicates; binned = explode intervals to bucket keys, equi
        # join, residual filter. Same input slice, same output rows
        # (asserted), wall measured for both.
        sub = os.path.join(DATA_DIR, "_naive_slice")
        slice_dir = os.path.join(sub, "events.parquet")
        if not os.path.exists(os.path.join(slice_dir, "_SUCCESS")):
            spark.read.parquet(os.path.join(DATA_DIR, "events.parquet")) \
                .filter(F.col("event_id") < NAIVE_EVENTS) \
                .write.mode("overwrite").parquet(slice_dir)

        ev = spark.read.parquet(slice_dir).select("event_id", "value")
        # 20k overlapping unit-width intervals over the value domain,
        # generated natively: lo = (i*7 mod 4800)/10, hi = lo + 1
        intervals = spark.range(0, N_INTERVALS).select(
            F.col("id").alias("iv_id"),
            (F.pmod(F.col("id") * 7, F.lit(4800)).cast("double") / 10.0)
            .alias("lo")).withColumn("hi", F.col("lo") + 1.0)
        intervals = intervals.localCheckpoint(eager=True)

        naive_df = (ev.join(intervals, (ev.value >= intervals.lo)
                            & (ev.value < intervals.hi))
                    .select("event_id", "iv_id"))
        binned_df = (ev.withColumn("b", F.floor("value"))
                     .join(F.broadcast(
                         intervals.select(
                             "iv_id", "lo", "hi",
                             F.explode(F.sequence(
                                 F.floor("lo"), F.floor("hi")))
                             .alias("b"))), "b")
                     .filter((F.col("value") >= F.col("lo"))
                             & (F.col("value") < F.col("hi")))
                     .select("event_id", "iv_id"))
        assert naive_df.count() == binned_df.count()

        def naive():
            digest(naive_df)

        def binned():
            digest(binned_df)

        naive()
        best_naive, rs_naive = timed(naive)
        binned()
        best_binned, rs_binned = timed(binned)
        extras["naive_range_join"] = {
            "events": NAIVE_EVENTS,
            "intervals": N_INTERVALS,
            "naive_nested_loop_sec": best_naive,
            "binned_equi_sec": best_binned,
            "speedup": round(best_naive / best_binned, 2)
            if best_binned else None,
            "runs_naive": rs_naive,
            "runs_binned": rs_binned,
        }

    out = {
        "metric": "temporal_suite_wall_sec",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "events": N_EVENTS,
        "asof_events_per_sec": round(N_EVENTS / results["asof_join"], 1),
        "runs_sec_steal": runs,
        "steal_clean_threshold": STEAL_CLEAN,
        "busy_clean_threshold": BUSY_CLEAN,
        "cpus": CPUS,
    }
    out.update(extras)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
