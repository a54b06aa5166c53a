"""``extract_commit``: ``ExtractionRun.run`` over a seeded corpus into an
empty output directory, in a few micro-batches. The kernels, the Arrow
boundary and the per-batch commit do the work; there is no lineage to
read until the output check and the resume probe.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

import harness as H
from reference import corpus_digest, doc_digest, reference_digests

from extract_ocr_spark.datagen import gen_doc, synthetic_documents_df
from extract_ocr_spark.kernels.extract import extract_doc
from extract_ocr_spark.lineage_audit import audit_run
from extract_ocr_spark.pipeline import (ExtractionRun, ParquetMarkerSink,
                                        extract_digest_df, salted_repartition)
from extract_ocr_spark.schemas import EXTRACTED_SCHEMA

LAYERS = ("session.", "datagen.", "pipeline.", "kernels.", "commit.",
          "resume.", "spark.", "box.", "trace.")
KINDS = ("html", "pdf", "ocr", "json", "xml", "text")
WARMUP_PASSES = 2
COMMIT_STEPS = ("write_extracted", "read_back", "write_lineage",
                "write_metrics", "finalize")


class TimingSink(ParquetMarkerSink):
    """The default commit sink with every protocol step traced."""

    def __init__(self, tracer: H.Tracer):
        super().__init__(None)  # ``run`` is attached once it exists
        self.tracer = tracer

    def write_extracted(self, df, b):
        with self.tracer.span("commit.write_extracted"):
            super().write_extracted(df, b)

    def read_back(self, b):
        with self.tracer.span("commit.read_back"):
            return super().read_back(b)

    def write_lineage(self, df):
        with self.tracer.span("commit.write_lineage"):
            super().write_lineage(df)

    def write_metrics(self, df):
        with self.tracer.span("commit.write_metrics"):
            super().write_metrics(df)

    def finalize(self, b):
        with self.tracer.span("commit.finalize"):
            super().finalize(b)


class TracedRun(ExtractionRun):
    """``ExtractionRun`` with its two public steps traced: the resume gate
    and each micro-batch's commit. Together they cover the whole of
    ``run``."""

    def __init__(self, spark, out_dir: str, tracer: H.Tracer):
        self.tracer = tracer
        sink = TimingSink(tracer)
        super().__init__(spark, out_dir, sink=sink)
        sink.run = self

    def pending(self, docs):
        with self.tracer.span("resume.pending"):
            return super().pending(docs)

    def commit_one(self, chunk, b, **kw):
        with self.tracer.span("commit.batch"):
            super().commit_one(chunk, b, **kw)


@dataclass
class Pass:
    out: Path
    window: H.Window
    outcomes: int          # docs given a processed/error event by the pass
    errors: int            # of which 'error'
    committed_bytes: int
    span: int | None = None
    batch_s: list[float] | None = None
    layers: dict | None = None  # traced passes: per-layer figures


def _parquet(files, under: Path) -> list[str]:
    prefix = str(under) + "/"
    return [f for f in files if f.startswith(prefix) and f.endswith(".parquet")]


def _column_sum(files, column: str) -> int:
    return sum(int(pq.read_table(f, columns=[column]).column(0)
                   .to_numpy(zero_copy_only=False).sum())
               for f in files if pq.ParquetFile(f).metadata.num_rows)


def _lineage_events(files) -> tuple[int, int]:
    processed = errors = 0
    for f in files:
        kinds = pq.read_table(f, columns=["event_kind"]).column(0).to_pylist()
        processed += kinds.count("processed")
        errors += kinds.count("error")
    return processed + errors, errors


class Extraction:
    def __init__(self, ctx: H.Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.batches = ctx.scale.batches
        self._n_pass = 0

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> dict:
        """Write the corpus once: the first write is also the cold start
        of the Python workers, and repeating it would add several seconds
        to every run."""
        corpus = self.ctx.work / "corpus"
        t0 = time.perf_counter()
        synthetic_documents_df(self.spark, self.ctx.scale.docs,
                               seed=self.ctx.seed).write.parquet(str(corpus))
        corpus_s = time.perf_counter() - t0
        self.docs = self.spark.read.parquet(str(corpus))
        return {"corpus_s": corpus_s, "corpus_mb": H.dir_bytes(corpus) / 1e6}

    # -- one timed pass ----------------------------------------------------------
    def run_pass(self, traced: bool) -> Pass:
        ctx = self.ctx
        out = ctx.work / f"pass{self._n_pass}"
        self._n_pass += 1
        run = (TracedRun(self.spark, str(out), ctx.tracer) if traced
               else ExtractionRun(self.spark, str(out)))
        totals0 = H.spark_totals(self.spark) if traced else None
        with ctx.meter.window() as w, ctx.tracer.maybe(traced, "pass") as sp:
            run.run(self.docs, micro_batches=self.batches)
        new = H.file_sizes(out)
        outcomes, errors = _lineage_events(_parquet(new, out / "lineage"))
        p = Pass(out=out, window=w, outcomes=outcomes, errors=errors,
                 committed_bytes=sum(new.values()), span=sp)
        if traced:
            p.batch_s = [ctx.tracer.duration(i) for i in
                         ctx.tracer.descendants(sp, "commit.batch")]
            p.layers = self._pass_layers(p, sorted(new))
            p.layers.update((f"spark.{k}", v) for k, v in
                            H.spark_delta(self.spark, totals0).items())
        return p

    def _pass_layers(self, p: Pass, new_files: list[str]) -> dict:
        """Per-layer figures of one traced pass, from its spans and the
        files it committed."""
        tr = self.ctx.tracer
        out = {f"commit.{step}_s": sum(
            tr.duration(i) for i in tr.descendants(p.span, f"commit.{step}"))
            for step in COMMIT_STEPS}
        ext = _parquet(new_files, p.out / "extracted")
        filled = {Path(f).parent.name for f in ext
                  if pq.ParquetFile(f).metadata.num_rows}
        out["commit.batches"] = len(p.batch_s)
        out["commit.empty_batches"] = len(p.batch_s) - len(filled)
        out["commit.files_written"] = sum(
            1 for f in new_files if not Path(f).name.startswith("."))
        out["kernels.busy_s"] = _column_sum(
            _parquet(new_files, p.out / "metrics"), "wall_ms") / 1e3
        out["kernels.bytes_out_per_in"] = (
            _column_sum(ext, "bytes_out") / max(1, _column_sum(ext, "bytes_in")))
        out["trace.coverage"] = tr.coverage(p.span)
        return out

    def warm_up(self) -> None:
        """Untimed passes, as the timed ones: Python worker pool, JIT and
        the parquet writer. After a single one, the first timed passes
        still ran 10-40% slower than the later ones."""
        for _ in range(WARMUP_PASSES):
            warm = self.ctx.work / "warm"
            ExtractionRun(self.spark, str(warm)).run(
                self.docs, micro_batches=self.batches)
            shutil.rmtree(warm)

    def loop(self, traced: bool, min_passes: int = 1) -> list[Pass]:
        passes: list[Pass] = []
        t0 = time.perf_counter()
        while (len(passes) < min_passes
               or time.perf_counter() - t0 < self.ctx.seconds):
            if passes:  # keep only the newest output on disk
                shutil.rmtree(passes[-1].out)
            passes.append(self.run_pass(traced))
        return passes

    # -- output check ------------------------------------------------------------
    def check(self, out: Path, expected_digest: str) -> list[str]:
        """Problems with the committed output in ``out`` (empty if none)."""
        n = self.ctx.scale.docs
        run = ExtractionRun(self.spark, str(out))
        lineage = run.lineage()
        if lineage is None:
            return ["no committed lineage"]
        extracted = run.extracted()
        problems = []
        audit = audit_run(self.docs, lineage, extracted)
        if not audit["ok"]:
            problems.append(
                f"lineage audit failed: {audit['missing_lineage']} docs "
                f"without lineage, {audit['missing_output']} without output")
        hist = audit["event_kind_histogram"]
        committed = hist.get("processed", 0) + hist.get("error", 0)
        if committed != n:
            problems.append(f"{committed} docs committed, corpus has {n}")
        table = extracted.toArrow()
        got = corpus_digest(
            doc_digest(d, spans) for d, spans in
            zip(table.column("doc_id").to_pylist(),
                table.column("out_spans").to_pylist()))
        if got != expected_digest:
            problems.append("committed out_spans digest differs from "
                            "extract_doc on the generated documents")
        return problems

    # -- per-layer probes (traced run only) -----------------------------------------
    def probe_pipeline(self) -> dict:
        """Noop-sink passes over one stage each: the corpus read, the
        staging exchange, the Arrow boundary without a kernel, and the
        digest-only extraction."""

        def boundary(batches):
            for pdf in batches:
                # the per-document span records the extraction wrapper builds
                spans = [list(s) if s is not None else [] for s in pdf["spans"]]
                yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                    "out_spans": [[] for _ in spans]})

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        staged = salted_repartition(self.docs, parts)
        stages = {
            "scan": lambda: noop(self.docs),
            "staging": lambda: noop(staged),
            "boundary": lambda: noop(
                staged.mapInPandas(boundary, schema=EXTRACTED_SCHEMA)),
            "extract_digest": lambda: noop(extract_digest_df(self.docs)),
        }
        out = {}
        for name, fn in stages.items():
            times = []
            for _ in range(self.ctx.scale.probe_reps):
                with self.ctx.tracer.span(f"pipeline.{name}") as sp:
                    fn()
                times.append(self.ctx.tracer.duration(sp))
            out[f"pipeline.{name}_s"] = H.median(times)
        out["pipeline.staged_partitions"] = staged.rdd.getNumPartitions()
        return out

    def probe_resume(self, out: Path) -> dict:
        """``lineage`` and ``pending`` timed directly on a committed
        output: the resume gate a restarted run pays before any batch."""
        run = ExtractionRun(self.spark, str(out))
        times, rows, pending = [], 0, 0
        for _ in range(self.ctx.scale.probe_reps):
            with self.ctx.tracer.span("resume.pending") as sp:
                rows = run.lineage().count()
                pending = run.pending(self.docs).count()
            times.append(self.ctx.tracer.duration(sp))
        return {"resume.pending_s": H.median(times),
                "resume.lineage_rows": rows, "resume.pending_docs": pending}

    def probe_kernels(self) -> dict:
        """Per-kind kernel latency: ``extract_doc`` on one span at a time,
        single-threaded in this process, over spans generated from the
        seed."""
        need = self.ctx.scale.kernel_samples
        samples: dict[str, list] = {k: [] for k in KINDS}
        i = 0
        with self.ctx.tracer.span("kernels.generate"):
            while any(len(v) < need for v in samples.values()):
                doc = gen_doc(i, self.ctx.seed)
                i += 1
                for sp in doc["spans"]:
                    bucket = samples.get(sp["kind"])
                    if bucket is not None and len(bucket) < need:
                        bucket.append((doc["doc_id"], sp))
        out = {}
        with self.ctx.tracer.span("kernels.time"):
            for kind, spans in samples.items():
                us = []
                for doc_id, sp in spans:
                    t0 = time.perf_counter_ns()
                    extract_doc(doc_id, [sp])
                    us.append((time.perf_counter_ns() - t0) / 1e3)
                for q, tag in ((0.5, "p50"), (0.99, "p99")):
                    v = H.percentile(us, q)
                    out[f"kernels.{kind}_us_{tag}"] = 0.0 if v is None else v
                out[f"kernels.{kind}_n"] = len(us)
        return out


def _traced_layers(traced: list[Pass]) -> dict:
    """Medians over the traced passes, plus the per-batch commit time
    percentile over all their batches."""
    out = {k: H.median(p.layers[k] for p in traced) for k in traced[0].layers}
    batch_s = [s for p in traced for s in p.batch_s]
    p50 = H.percentile(batch_s, 0.5)
    out["commit.batch_s_p50"] = 0.0 if p50 is None else p50
    out["commit.batch_s_n"] = len(batch_s)
    return out


def run(ctx: H.Context) -> H.Result:
    ex = Extraction(ctx)
    n = ctx.scale.docs
    phases = H.Phases()
    setup = ex.setup()
    phases.mark("setup")
    ex.warm_up()
    phases.mark("warm_up")
    passes = ex.loop(traced=False)
    phases.mark("timed")
    res = H.Result(end_to_end={}, attempted=n * len(passes))
    for p in passes:
        res.failed += p.errors + max(0, n - p.outcomes)
        if p.outcomes != n:
            res.errors.append(f"pass committed {p.outcomes} of {n} docs")
    expected = corpus_digest(reference_digests(n, ctx.seed))
    problems = ex.check(passes[-1].out, expected)
    phases.mark("check")
    if problems:
        res.errors += problems
        res.failed = max(res.failed, n)
    shutil.rmtree(passes[-1].out)
    res.end_to_end = {
        "run_s": H.median(p.window.wall_s for p in passes),
        "docs_per_s": H.median(p.outcomes / p.window.wall_s for p in passes),
        "cpu_s": H.median(p.window.cpu_s for p in passes),
        "peak_rss_mb": H.median(p.window.peak_rss_mb for p in passes),
        "committed_mb": H.median(p.committed_bytes / 1e6 for p in passes),
        "ok_frac": 1.0 - res.failed / max(1, res.attempted),
        "setup_s": ctx.session_s + setup["corpus_s"],
    }
    res.summary = {"pass_s": [round(p.window.wall_s, 3) for p in passes],
                   "docs": n, "micro_batches": ex.batches,
                   "phase_s": phases.seconds,
                   **H.box_share([p.window for p in passes])}
    if ctx.trace:
        traced = ex.loop(traced=True,
                         min_passes=-(-H.BATCH_SAMPLES // ex.batches))
        layers = {
            "session.start_s": ctx.session_s,
            "datagen.corpus_s": setup["corpus_s"],
            "datagen.corpus_mb": setup["corpus_mb"],
            "box.steal_frac": res.summary["steal_frac"],
            "box.foreign_busy_frac": res.summary["foreign_busy_frac"],
            "trace.overhead_s": (H.median(p.window.wall_s for p in traced)
                                 - res.end_to_end["run_s"]),
        }
        layers.update(_traced_layers(traced))
        layers.update(ex.probe_resume(traced[-1].out))
        shutil.rmtree(traced[-1].out)
        layers.update(ex.probe_pipeline())
        layers.update(ex.probe_kernels())
        res.per_layer = layers
    return res
