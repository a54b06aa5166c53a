"""``registry_hot``: the iterative graph queries of ``operators.links`` and
``frontier`` plus the codebook queries of ``operators.similarity``, run
back to back and collected into this process over the sf0.1
``documents`` / ``embeddings`` tables. No extraction kernel and no commit
sink run here.

The tables are copies of the repository's sf0.1 test tables (generated
with seed 42), kept in ``data/sf0.1`` because a run may read nothing
outside its checkout. ``--seed`` does not apply to this workload.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import harness as H

from extract_ocr_spark.frontier import bfs_frontier
from extract_ocr_spark.operators import all_queries

LAYERS = ("session.", "datagen.", "links.", "similarity.", "spark.", "box.",
          "trace.")
LINKS = ("shortest_paths", "bfs_frontier", "k_core")
SIMILARITY = ("kmeans_clusters", "semdedup")
WARMUP_ROWS = 50  # rows of each table the warm-up pass reads
TABLES = Path(__file__).resolve().parent / "data" / "sf0.1"


def copy_tables(dest: Path, rows: int | None) -> None:
    """Copy the sf0.1 ``documents`` and ``embeddings`` tables into
    ``dest``: whole, or their first ``rows`` rows."""
    dest.mkdir(parents=True, exist_ok=True)
    for t in ("documents", "embeddings"):
        src = TABLES / f"{t}.parquet"
        if rows is None:
            shutil.copyfile(src, dest / src.name)
        else:
            pq.write_table(pq.read_table(src).slice(0, rows), dest / src.name)


def bfs_frontier_capped(spark, sf_dir: str):
    """The ``bfs_frontier`` registry query with its page cap set to the
    node count instead of 10^9. The cap never binds either way, so the
    result is the same; with 10^9, Spark's top-k for the per-level cap
    allocates a 10^9-slot queue and the query needs ~10 GB of heap."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    src = F.col("doc_id").cast("string").alias("src")
    edges = docs.select(
        src, ((F.col("doc_id") * 2 + 1) % n).cast("string").alias("dst")
    ).unionByName(docs.select(
        src, ((F.col("doc_id") * 3 + 7) % n).cast("string").alias("dst")))
    out = bfs_frontier(spark, edges, ["0", "17"], max_depth=3, max_pages=n)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("depth").cast("int").alias("depth"))


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return v


def _normalize(rows, cols) -> list[tuple]:
    """Order-insensitive rows with floats at six decimals — the
    comparison the oracle tests make."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows),
                  key=repr)


class Registry:
    def __init__(self, ctx: H.Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tables = ctx.work / "tables"
        queries, self.oracles = all_queries()
        self.queries = {q: queries[q] for q in LINKS + SIMILARITY}
        self.queries["bfs_frontier"] = bfs_frontier_capped
        self._n_pass = 0

    def setup(self) -> dict:
        sc = self.ctx.scale
        times = []
        for _ in range(sc.table_reps):
            t0 = time.perf_counter()
            copy_tables(H.reset_dir(self.tables), sc.registry_rows)
            times.append(time.perf_counter() - t0)
        self.rows = {t: pq.ParquetFile(self.tables / f"{t}.parquet")
                     .metadata.num_rows for t in ("documents", "embeddings")}
        return {"corpus_s": H.median(times),
                "corpus_mb": H.dir_bytes(self.tables) / 1e6}

    def query(self, name: str, tables: Path | None = None):
        df = self.queries[name](self.spark, str(tables or self.tables))
        return df, df.toArrow()

    def warm_up(self) -> None:
        """Every query once on the first rows of the tables. In a fresh
        JVM the first pass of the queries ran up to 1.8x slower than the
        next, until the JIT had compiled the planner and scheduler paths;
        a 50-row slice warms them in about 18 s and leaves the first full
        pass within about 10% of the second."""
        warm = self.ctx.work / "warm"
        copy_tables(warm, min(WARMUP_ROWS, min(self.rows.values())))
        for name in self.queries:
            self.query(name, warm)
        shutil.rmtree(warm)

    def run_pass(self, traced: bool) -> dict:
        ctx, sc = self.ctx, self.spark.sparkContext
        k = self._n_pass
        self._n_pass += 1
        seconds, results, frames = {}, {}, {}
        totals0 = H.spark_totals(self.spark) if traced else None
        with ctx.meter.window() as w, ctx.tracer.maybe(traced, "pass") as sp:
            for name in self.queries:
                if traced:
                    sc.setJobGroup(f"perfbench-{k}-{name}", name)
                with ctx.tracer.maybe(traced, name):
                    t0 = time.perf_counter()
                    frames[name], results[name] = self.query(name)
                    seconds[name] = time.perf_counter() - t0
        out = {"window": w, "seconds": seconds, "results": results,
               "frames": frames, "span": sp}
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            out["spark"] = H.spark_delta(self.spark, totals0)
            out["jobs"] = {q: H.group_jobs(self.spark, f"perfbench-{k}-{q}")
                           for q in self.queries}
        return out

    def loop(self, traced: bool) -> list[dict]:
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.ctx.seconds:
            passes.append(self.run_pass(traced))
        return passes

    def check(self, results: dict) -> list[str]:
        """Queries whose result differs from their DuckDB oracle on the
        same parquet files."""
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.tables / (t + '.parquet')}'")
            bad = []
            for name, table in results.items():
                res = con.sql(self.oracles[name])
                want = _normalize(res.fetchall(), res.columns)
                cols = table.column_names
                got = _normalize(
                    [tuple(r[c] for c in cols) for r in table.to_pylist()],
                    cols)
                if sorted(cols) != sorted(res.columns) or got != want:
                    bad.append(f"{name}: result differs from its oracle")
            return bad
        finally:
            con.close()


def run(ctx: H.Context) -> H.Result:
    phases = H.Phases()
    reg = Registry(ctx)
    setup = reg.setup()
    phases.mark("setup")
    reg.warm_up()
    phases.mark("warm_up")
    passes = reg.loop(traced=False)
    phases.mark("timed")
    res = H.Result(end_to_end={})
    res.attempted = len(passes) * len(reg.queries)
    problems = reg.check(passes[-1]["results"])
    phases.mark("check")
    res.errors += problems
    res.failed = len(problems)
    rows_read = (len(LINKS) * reg.rows["documents"]
                 + len(SIMILARITY) * reg.rows["embeddings"])
    res.end_to_end = {
        "run_s": H.median(p["window"].wall_s for p in passes),
        "docs_per_s": H.median(rows_read / p["window"].wall_s
                               for p in passes),
        "cpu_s": H.median(p["window"].cpu_s for p in passes),
        "peak_rss_mb": H.median(p["window"].peak_rss_mb for p in passes),
        "committed_mb": H.median(
            sum(t.nbytes for t in p["results"].values()) / 1e6
            for p in passes),
        "ok_frac": 1.0 - res.failed / max(1, res.attempted),
        "setup_s": ctx.session_s + setup["corpus_s"],
    }
    res.summary = {
        "pass_s": [round(p["window"].wall_s, 3) for p in passes],
        **reg.rows,
        "phase_s": phases.seconds,
        **H.box_share([p["window"] for p in passes]),
        "query_s": {q: round(H.median(p["seconds"][q] for p in passes), 3)
                    for q in reg.queries},
    }
    if ctx.trace:
        traced = reg.loop(traced=True)
        tr = ctx.tracer
        layers = {
            "session.start_s": ctx.session_s,
            "datagen.corpus_s": setup["corpus_s"],
            "datagen.corpus_mb": setup["corpus_mb"],
            "box.steal_frac": res.summary["steal_frac"],
            "box.foreign_busy_frac": res.summary["foreign_busy_frac"],
            "trace.overhead_s": (H.median(p["window"].wall_s for p in traced)
                                 - res.end_to_end["run_s"]),
            "trace.coverage": H.median(tr.coverage(p["span"]) for p in traced),
        }
        for key in ("jobs", "tasks", "shuffle_write_mb", "spill_mb",
                    "peak_execution_mb"):
            layers[f"spark.{key}"] = H.median(p["spark"][key] for p in traced)
        for q in reg.queries:
            layer = "links" if q in LINKS else "similarity"
            layers[f"{layer}.{q}_s"] = H.median(p["seconds"][q] for p in traced)
            layers[f"{layer}.{q}_jobs"] = H.median(p["jobs"][q] for p in traced)
        for q in SIMILARITY:
            layers[f"similarity.{q}_plan_chars"] = len(
                traced[-1]["frames"][q]._jdf.queryExecution()
                .optimizedPlan().toString())
        res.per_layer = layers
    return res
