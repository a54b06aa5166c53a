#!/usr/bin/env python
"""Graph-operator benchmark: wall numbers for the block-community graph
family (triangle counting, label propagation, link prediction) over a
large natively-generated graph — the scale evidence behind the PLANS.md
claims that the oriented two-join closure, the per-iteration LPA plan,
and the wedge-join candidate miner hold past toy sizes.

The graph is the SAME closed form the registry queries derive from the
documents table (links.block_edges_of), at SPARK_GRAFT_GRAPH_NODES nodes
(default 5M -> ~9M canonical edges, ~4M triangles). Each timed attempt
consumes the full result through a digest aggregate (count + bounded
xxhash64 sum), the bench.py pattern.

Prints ONE JSON line in bench.py's format; timing discipline shared with
bench.py (min-of-N, [wall, steal, foreign_busy, idle_ok] tuples).

Env: SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_GRAPH_NODES (default 5_000_000),
     SPARK_GRAFT_LPA_ITERS (default 3).
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
N_NODES = int(os.environ.get("SPARK_GRAFT_GRAPH_NODES", "5000000"))
LPA_N = int(os.environ.get("SPARK_GRAFT_LPA_ITERS", "3"))


def main() -> None:
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.links import (
        block_edges_of,
        label_propagation_df,
        link_prediction_df,
        triangle_count_df,
    )
    from extract_ocr_spark.session import get_spark

    spark = get_spark(f"local[{CPUS}]", app_name="bench-graph",
                      shuffle_partitions=CPUS)
    docs = (spark.range(0, N_NODES, 1, 4 * CPUS)
            .select(F.col("id").alias("doc_id")))
    edges = block_edges_of(docs, N_NODES).persist()
    n_edges = edges.count()   # materialize once; all ops reuse the cache

    queries = {
        "triangle_count": lambda: digest(triangle_count_df(docs, edges)),
        "label_propagation": lambda: digest(
            label_propagation_df(docs, edges, iters=LPA_N)),
        "link_prediction": lambda: digest(link_prediction_df(edges)),
    }
    results: dict[str, float] = {}
    runs: dict[str, list] = {}
    for name, fn in queries.items():
        fn()  # warm
        best, rs = timed(fn)
        results[name] = best
        runs[name] = rs

    out = {
        "metric": "graph_suite_wall_sec",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": None,
        "graph_nodes": N_NODES,
        "graph_edges": n_edges,
        "lpa_iters": LPA_N,
        "edges_per_sec_triangles": (
            round(n_edges / results["triangle_count"], 1)
            if results.get("triangle_count") else None),
        "runs_sec_steal": runs,
        "steal_clean_threshold": STEAL_CLEAN,
        "busy_clean_threshold": BUSY_CLEAN,
        "cpus": CPUS,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
