#!/usr/bin/env python
"""Noop-sink isolation harness (guide §1.4) for the headline queries.

NOT part of the frozen driver bench: used to attribute wall time to
scan / staging / Python-boundary / kernel for OPTIMIZATION_r06.md.
Each probe is labeled via setJobDescription and timed as min-of-3 after
one warm-up.

Usage: ``python bench_extra.py`` runs the noop probes;
``python bench_extra.py sweep [query ...]`` times registry queries.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn, reps=3):
    spark.sparkContext.setJobDescription(label)
    fn()  # warm-up
    best = 9e9
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def main():
    from typing import Iterator

    import pandas as pd

    from extract_ocr_spark.datagen import spans_from_flat_documents
    from extract_ocr_spark.pipeline import (
        _EXTRACT_DIGEST_SCHEMA, extract_digest_df, salted_repartition)
    from extract_ocr_spark.session import get_spark

    spark = get_spark(f"local[{CPUS}]", app_name="bench_extra",
                      shuffle_partitions=max(8, CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    parts = 4 * max(8, CPUS)
    out = {}

    corpus_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              ".bench_data", "spans_v3_120000")
    docs = spark.read.parquet(corpus_dir)

    def boundary_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # full Arrow->pandas cost of the spans column, zero kernel work
        for pdf in batches:
            n = len(pdf)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "out_sha": [""] * n,
                "partition_id": [0] * n,
                "spans_in": [len(s) if s is not None else 0 for s in pdf["spans"]],
                "spans_out": [0] * n,
                "bytes_in": [0] * n,
                "bytes_out": [0] * n,
                "wall_ms": [0] * n,
                "error": [None] * n,
            })

    out["syn_scan_noop"] = timed(spark, "syn: scan only", lambda: noop(docs))
    out["syn_staged_noop"] = timed(
        spark, "syn: salted staging",
        lambda: noop(salted_repartition(docs, parts)))
    out["syn_boundary"] = timed(
        spark, "syn: boundary only (no kernel)",
        lambda: noop(salted_repartition(docs, parts).mapInPandas(
            boundary_fn, schema=_EXTRACT_DIGEST_SCHEMA)))
    out["syn_full"] = timed(
        spark, "syn: full extract digest",
        lambda: noop(extract_digest_df(docs, partitions=parts)))

    flat = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wrapped = spans_from_flat_documents(flat)
    out["flat_scan_noop"] = timed(spark, "flat: scan only", lambda: noop(flat))
    out["flat_wrap_noop"] = timed(
        spark, "flat: wrap spans", lambda: noop(wrapped))
    out["flat_staged_noop"] = timed(
        spark, "flat: salted staging",
        lambda: noop(salted_repartition(wrapped, parts)))
    out["flat_boundary"] = timed(
        spark, "flat: boundary only",
        lambda: noop(salted_repartition(wrapped, parts).mapInPandas(
            boundary_fn, schema=_EXTRACT_DIGEST_SCHEMA)))
    out["flat_full"] = timed(
        spark, "flat: full extract digest",
        lambda: noop(extract_digest_df(wrapped, partitions=parts)))

    print(json.dumps(out, indent=1))
    spark.stop()


def sweep_registry():
    """Time every registry query at the bench SF (one warm-up + best-of-2,
    steal-recorded). Output: one JSON line per query to stdout — the
    r6 optimization checklist's measurement source."""
    import __spark_entry__ as entry

    from extract_ocr_spark.session import get_spark

    def stat():
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    spark = get_spark(f"local[{CPUS}]", app_name="bench_extra_sweep",
                      shuffle_partitions=max(8, CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    only = sys.argv[2:] if len(sys.argv) > 2 else None
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
            best, steal = 9e9, 1.0
            for _ in range(2):
                s0 = stat()
                t0 = time.monotonic()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                w = time.monotonic() - t0
                s1 = stat()
                st = (s1[7] - s0[7]) / max(1, sum(s1) - sum(s0))
                if w < best:
                    best, steal = w, st
            results[name] = (round(best, 3), round(steal, 4))
            print(json.dumps({"q": name, "sec": round(best, 3),
                              "steal": round(steal, 4)}), flush=True)
        except Exception as exc:  # pragma: no cover - sweep robustness
            results[name] = (None, None)
            print(json.dumps({"q": name, "err": str(exc)[:200]}), flush=True)
        spark.sparkContext.setJobDescription(None)
    total = sum(v[0] for v in results.values() if v[0] is not None)
    print(json.dumps({"sweep_total_sec": round(total, 2),
                      "n": len(results)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "sweep":
        sweep_registry()
    else:
        main()
