"""The vectorized extraction pipeline: size-class salted repartitioning,
``mapInPandas`` extraction, per-partition lineage + metrics, anti-join
resume.

Scale design (targets the 10^12-doc cluster deployment, tested on local):

- **No driver materialization**: documents never ``collect()``; the only
  driver-side values are counts and small aggregates.
- **Skew**: documents are split by a size-class threshold; each class is
  explicitly repartitioned (salted by ``xxhash64(doc_id)``) so a partition's
  *byte* load is balanced, not just its row count. AQE cannot rebalance a
  ``mapInPandas`` stage, so this is done before the UDF (SURVEY.md §4).
- **Resume**: processed doc_ids live in a lineage table; a run begins with
  a ``left_anti`` join against it (reference done/failed-set skip,
  crawl.py:938-939). Work is committed in micro-batches, each an atomic
  parquet append of output + lineage + metrics, so a killed job resumes at
  batch/partition granularity without reprocessing (north_rule). On a real
  cluster these three appends become one Iceberg multi-table transaction;
  the parquet fallback writes output first, then lineage — a crash between
  the two re-extracts at most one micro-batch (idempotent: outputs are
  deduplicated by doc_id on read).
- **Arrow batches**: ``spark.sql.execution.arrow.maxRecordsPerBatch`` caps
  docs per batch (session.py) so oversized documents cannot blow executor
  memory.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from typing import Iterator

import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels.extract import doc_size_bytes, extract_doc
from .schemas import EXTRACTED_SCHEMA

# Docs whose total span payload exceeds this are routed to the "big" path
# (256 KB ≈ 30× the median synthetic doc; the generator's oversized docs
# are ~100× median ≈ 800 KB).
BIG_DOC_BYTES = 256 << 10

# Per-document stats shared by both return channels (spans / digest).
_STATS_FIELDS = [
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("spans_in", T.IntegerType(), False),
    T.StructField("spans_out", T.IntegerType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("error", T.StringType(), True),
]
_EXTRACT_FULL_SCHEMA = T.StructType([*EXTRACTED_SCHEMA.fields, *_STATS_FIELDS])
_EXTRACT_DIGEST_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("out_sha", T.StringType(), False),
    *_STATS_FIELDS,
])


def _digest_spans(spans: list[dict]) -> str:
    # Feed the hash in pieces instead of building one interpolated string
    # per span: the f-string copied every rendered text twice (format +
    # encode) before hashing. The byte stream is unchanged:
    # kind \x1f text \x1f media_ref \x1f order \x1e per span.
    h = hashlib.sha256()
    up = h.update
    for sp in spans:
        up(sp["kind"].encode())
        up(b"\x1f")
        t = sp["text"]
        if t:
            up(t.encode())
        up(b"\x1f")
        m = sp["media_ref"]
        if m:
            up(m.encode())
        up(b"\x1f%d\x1e" % sp["order"])
    return h.hexdigest()


def _extract_batches(mode: str, waf_integration: bool, digest: bool):
    """The per-document extraction loop behind every entry point.

    ``digest=False`` returns the rendered spans (``out_spans``), which a
    sink needs. ``digest=True`` returns a 64-hex sha256 of them
    (``out_sha``) instead: every output byte still feeds the hash, so the
    kernel work is identical, but the Python→JVM return channel shrinks
    ~1000× for consumers that only aggregate (the benchmark reducer)."""
    empty = "" if digest else []

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            doc_ids = pdf["doc_id"].tolist()
            # Arrow hands array<struct> to pandas as a sequence of dicts.
            spans_col = [list(s) if s is not None else [] for s in pdf["spans"]]
            rows = []
            # Per-document containment: one malformed document becomes an
            # 'error' lineage event, never a failed task/stage (the
            # reference's error-event path, crawl.py:968-979).
            for i, (d, s) in enumerate(zip(doc_ids, spans_col)):
                t0 = time.perf_counter()
                try:
                    out = extract_doc(d, s, mode=mode,
                                      waf_integration=waf_integration)
                    row = (_digest_spans(out) if digest else out, len(out),
                           sum(len(sp["text"]) for sp in out if sp["text"]),
                           None)
                except Exception as exc:  # noqa: BLE001
                    row = (empty, 0, 0, f"{type(exc).__name__}: {exc}"[:500])
                    if d is None:
                        # keep the output schema's non-null doc_id
                        doc_ids[i] = f"<null-doc-id:{pid}:{i}>"
                # true per-doc wall (a skewed doc no longer smears its
                # cost across batch-mates in the metrics table)
                rows.append((*row, int((time.perf_counter() - t0) * 1000)))
            outs, spans_out, bytes_out, errors, walls = (
                map(list, zip(*rows)) if rows else ([],) * 5)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "out_sha" if digest else "out_spans": outs,
                    "partition_id": [pid] * len(doc_ids),
                    "spans_in": [len(s) for s in spans_col],
                    "spans_out": spans_out,
                    "bytes_in": [doc_size_bytes(s) for s in spans_col],
                    "bytes_out": bytes_out,
                    "wall_ms": walls,
                    "error": errors,
                }
            )

    return fn


def _extract(docs: DataFrame, *, mode: str, partitions: int | None,
             waf_integration: bool, digest: bool) -> DataFrame:
    """Staging + the extraction stage. A streaming source is not staged:
    its micro-batch is already bounded by the source's trigger limits."""
    if not docs.isStreaming:
        parts = partitions or int(docs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        docs = salted_repartition(docs, parts)
    return docs.mapInPandas(
        _extract_batches(mode, waf_integration, digest),
        schema=_EXTRACT_DIGEST_SCHEMA if digest else _EXTRACT_FULL_SCHEMA)


def extract_digest_df(docs: DataFrame, *, mode: str = "reference",
                      partitions: int | None = None) -> DataFrame:
    """Extraction with the digest-only return channel (``out_sha`` plus
    the stats columns) — the aggregate-consumer path."""
    return _extract(docs, mode=mode, partitions=partitions,
                    waf_integration=True, digest=True)


def salted_repartition(df: DataFrame, partitions: int) -> DataFrame:
    """Skew-aware staging for the extraction UDF.

    ``partitions`` is the requested exchange width, clamped to
    ``2 × defaultParallelism`` (two task waves per core; see below).

    Only the heavy tail is shuffled: docs above ``BIG_DOC_BYTES`` are
    hash-repartitioned on doc_id into their own partition set, so one
    oversized PDF never serializes a partition of small docs behind it.
    Small docs keep their source partitioning (parquet splits are already
    ~byte-balanced via ``spark.sql.files.maxPartitionBytes``) — at 100 TB,
    shuffling the full corpus to fix a 1% heavy tail would move ~99 TB for
    nothing.

    The rule is scale-adaptive: when the source has fewer partitions than
    the (clamped) parallelism (a single small file, a collapsed listing),
    keeping the source partitioning would serialize the CPU-heavy
    extraction UDF behind a handful of tasks — so everything is shuffled
    once. At real scale the scan has ≥ ``partitions`` splits and the
    heavy-tail-only path is kept.
    """
    # Cap the exchange width at two task waves per core: every task of a
    # Python-eval stage pays a fixed dispatch cost (worker handshake +
    # Arrow stream setup, measured ~8 ms wall each on this box), so task
    # counts far beyond the cluster's parallelism buy nothing but
    # overhead — 128 requested partitions vs the 64-task cap measured
    # 5.29 s vs 4.19 s on the 120k-doc digest bench. The cap scales with
    # ``defaultParallelism`` (grows with the cluster), so it is a
    # proportional policy, not a local-mode constant; two waves keep
    # enough granularity that one slow heavy-tail task cannot hold the
    # whole stage.
    partitions = min(partitions,
                     2 * df.sparkSession.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < partitions:
        # Every row moves anyway: one hash exchange assigns each doc_id to
        # the same target partition the two-branch union would (same hash
        # function, same partition count), with a single scan and no size
        # computation.
        return df.repartition(partitions, "doc_id")
    sized = df.withColumn(
        "_size",
        F.aggregate(
            F.coalesce(F.col("spans"), F.array()),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        ),
    )
    small = sized.filter(F.col("_size") <= BIG_DOC_BYTES)
    big = sized.filter(F.col("_size") > BIG_DOC_BYTES)
    out = small.unionByName(big.repartition(partitions, "doc_id"))
    return out.drop("_size")


def extract_df(docs: DataFrame, *, mode: str = "reference",
               partitions: int | None = None,
               with_stats: bool = False,
               waf_integration: bool = True) -> DataFrame:
    """Transformation-only extraction: documents → extracted spans, from a
    batch or a streaming ``docs`` frame.

    ``waf_integration=False`` mirrors the reference's local-seed ingest
    (EP2): only hard WAF block markers drop a page, never the anchor-count
    heuristic (which misfires on browser-saved SPA shells)."""
    out = _extract(docs, mode=mode, partitions=partitions,
                   waf_integration=waf_integration, digest=False)
    if with_stats:
        return out
    return out.select("doc_id", "out_spans")


class ParquetMarkerSink:
    """Default commit sink: three parquet appends + a zero-byte
    ``_COMMITTED_<run_id>`` marker as the atomic visibility flip (the
    full rationale lives on ``ExtractionRun``'s marker section)."""

    def __init__(self, run: "ExtractionRun"):
        self.run = run

    def write_extracted(self, df: DataFrame, b: int) -> None:
        # Hive-style per-batch subdirectory: lineage/metrics derivation
        # reads back ONLY this batch's files (O(batch), not
        # O(total-written) — re-reading the whole output directory per
        # micro-batch would be O(B²) over the run), and reads of the
        # root still see batch_id via partition-column inference.
        df.write.mode("append").parquet(self._batch_path(b))

    def read_back(self, b: int) -> DataFrame:
        return self.run.spark.read.parquet(self._batch_path(b))

    def write_lineage(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.run.lineage_path)

    def write_metrics(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.run.metrics_path)

    def finalize(self, b: int) -> None:
        # Durability point: everything for batch b is on disk — flip
        # the batch visible with one zero-byte marker create.
        self.run._commit_batch(b)

    # -- read side: committed rows only ---------------------------------
    def read_committed_lineage(self) -> DataFrame | None:
        try:
            lineage = self.run.spark.read.parquet(self.run.lineage_path)
        except Exception:
            return None
        keys = self.run._committed_keys()
        return lineage.filter(ExtractionRun._commit_key(
            F.col("snapshot_id"), F.col("run_id")).isin(keys))

    def read_committed_extracted(self) -> DataFrame:
        df = self.run.spark.read.parquet(self.run.extracted_path)
        keys = self.run._committed_keys()
        return df.filter(ExtractionRun._commit_key(
            F.col("batch_id"), F.col("run_id")).isin(keys))

    def _batch_path(self, b: int) -> str:
        return os.path.join(self.run.extracted_path, f"batch_id={b}")

    # -- streaming epoch coordination (marker files; streaming.py routes
    # every marker existence/creation and the foreign-history scan
    # through these so a non-marker sink can supply its own semantics) --
    def _epoch_marker(self, b: int, ident: str):
        return self.run._hadoop_fs(
            os.path.join(self._batch_path(b), f"_STREAM_{ident}"))

    def stream_epoch_precommitted(self, b: int, ident: str) -> bool:
        """True iff the stream with this identity already durably
        committed epoch ``b`` (its own replay marker exists)."""
        fs, jmark = self._epoch_marker(b, ident)
        return fs.exists(jmark)

    def stream_mark_epoch(self, b: int, ident: str) -> None:
        fs, jmark = self._epoch_marker(b, ident)
        fs.create(jmark, True).close()

    def stream_epoch_foreign_commit(self, b: int) -> bool:
        """A committed batch under this epoch id that this stream did not
        mark (two-live-streams-one-outdir pathological case)."""
        fs, jdir = self.run._hadoop_fs(self._batch_path(b))
        return fs.exists(jdir) and any(
            f.getPath().getName().startswith("_COMMITTED_")
            for f in fs.listStatus(jdir))

    def stream_has_foreign_history(self, ident: str) -> bool:
        """Any committed batch anywhere in the output lacking this
        stream's marker — evidence the output predates this checkpoint
        (fresh-checkpoint reuse / foreign stream / crash between commit
        and marker), which flips the committer into per-doc mode."""
        fs, root = self.run._hadoop_fs(self.run.extracted_path)
        if not fs.exists(root):
            return False
        for st in fs.listStatus(root):
            if not st.getPath().getName().startswith("batch_id="):
                continue
            names = {f.getPath().getName()
                     for f in fs.listStatus(st.getPath())}
            if any(n.startswith("_COMMITTED_") for n in names) \
                    and f"_STREAM_{ident}" not in names:
                return True
        return False


class IcebergCommitSink:
    """Iceberg variant of the SAME commit protocol (README "Iceberg
    deployment"): the three appends become ``writeTo(<table>).append()``
    snapshot commits on ``<prefix>.extracted/lineage/metrics``; no
    marker file exists because each Iceberg append IS an atomic
    visibility flip, and on 1.2+ the three fold into one multi-table
    WAP stage-commit. Requires the iceberg-spark-runtime jar + a
    configured catalog — absent in this sandbox, so the wiring is
    exercised by tests/test_iceberg_harness.py (skips cleanly without
    the jar) and the protocol-order contract by a fake-sink test."""

    def __init__(self, run: "ExtractionRun", prefix: str):
        self.run = run
        self.prefix = prefix

    def _append(self, df: DataFrame, table: str) -> None:
        from pyspark.errors import AnalysisException

        try:
            df.writeTo(table).append()
        except AnalysisException as exc:
            # Only table-not-exists falls through to create (first batch);
            # any other analysis failure — schema mismatch, catalog auth —
            # must surface as itself, not as a misleading "already exists".
            try:
                df.writeTo(table).using("iceberg").create()
            except Exception:
                raise exc

    def write_extracted(self, df: DataFrame, b: int) -> None:
        self._append(df.withColumn("batch_id", F.lit(b).cast("long")),
                     f"{self.prefix}.extracted")

    def read_back(self, b: int) -> DataFrame:
        return self._read_table("extracted").filter(F.col("batch_id") == b)

    def write_lineage(self, df: DataFrame) -> None:
        self._append(df, f"{self.prefix}.lineage")

    def write_metrics(self, df: DataFrame) -> None:
        self._append(df, f"{self.prefix}.metrics")

    def finalize(self, b: int) -> None:
        """No marker file: the metrics append (the LAST append of the
        protocol) is the commit point — see the read side below."""

    # -- read side. Each Iceberg append is individually atomic, but the
    # three appends together are not a transaction: a crash between them
    # would leave orphan extracted rows or lineage-without-metrics
    # visible if readers trusted the tables raw. So the read side applies
    # the same rule the parquet marker encodes: a (snapshot_id, run_id)
    # batch is committed iff its METRICS rows exist (metrics is the final
    # append, so its snapshot commit plays the marker's role). Orphans
    # from a mid-protocol crash are invisible and their docs simply
    # re-run on resume — identical semantics to ParquetMarkerSink. The
    # confirmed-pairs table is O(batches) rows, a broadcast semi-join.
    # (Iceberg 1.2+ WAP stage-commit can fold the three appends into one
    # atomic multi-table commit, making these semi-joins redundant —
    # README "Iceberg deployment".)
    def _read_table(self, name: str) -> DataFrame:
        return self.run.spark.read.table(f"{self.prefix}.{name}")

    def _confirmed_pairs(self) -> DataFrame | None:
        try:
            m = self._read_table("metrics")
        except Exception:  # no metrics table yet: nothing committed
            return None
        return m.select(F.col("snapshot_id").alias("_c_batch"),
                        F.col("run_id").alias("_c_run")).distinct()

    def read_committed_lineage(self) -> DataFrame | None:
        pairs = self._confirmed_pairs()
        if pairs is None:
            return None
        try:
            lineage = self._read_table("lineage")
        except Exception:
            return None
        return lineage.join(
            F.broadcast(pairs),
            (lineage["snapshot_id"] == pairs["_c_batch"])
            & (lineage["run_id"] == pairs["_c_run"]), "left_semi")

    def read_committed_extracted(self) -> DataFrame:
        ext = self._read_table("extracted")
        pairs = self._confirmed_pairs()
        if pairs is None:
            return ext.filter(F.lit(False))
        return ext.join(
            F.broadcast(pairs),
            (ext["batch_id"] == pairs["_c_batch"])
            & (ext["run_id"] == pairs["_c_run"]), "left_semi")

    # -- streaming epoch coordination: catalog tables have no marker
    # files, and Iceberg appends are not idempotent on replay — so the
    # committer runs in per-doc mode permanently (every epoch anti-joins
    # committed lineage before committing; replayed epochs shrink to
    # empty and are skipped). Correct under replay, fresh-checkpoint
    # reuse, and two-streams-one-table alike.
    def stream_epoch_precommitted(self, b: int, ident: str) -> bool:
        return False

    def stream_mark_epoch(self, b: int, ident: str) -> None:
        pass

    def stream_epoch_foreign_commit(self, b: int) -> bool:
        return True

    def stream_has_foreign_history(self, ident: str) -> bool:
        return True


class ExtractionRun:
    """Checkpointed extraction over an output directory.

    Layout: ``<out_dir>/extracted`` (doc_id, out_spans, stats columns),
    ``<out_dir>/lineage`` (FIXTURES.md §3), ``<out_dir>/metrics`` (§4).

    ``sink`` is the commit-protocol seam: ``ParquetMarkerSink`` (default,
    this sandbox) or ``IcebergCommitSink`` (real deployment) — both
    receive the identical write_extracted → read_back → write_lineage →
    write_metrics → finalize sequence from ``commit_one``.
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 run_id: str | None = None, mode: str = "reference",
                 waf_integration: bool = True, sink=None):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.mode = mode
        # False = local-seed ingest semantics (reference cli.py:473-483)
        self.waf_integration = waf_integration
        self.extracted_path = os.path.join(out_dir, "extracted")
        self.lineage_path = os.path.join(out_dir, "lineage")
        self.metrics_path = os.path.join(out_dir, "metrics")
        self.sink = sink if sink is not None else ParquetMarkerSink(self)

    # -- atomic batch commit markers --------------------------------------
    # The parquet fallback writes output → lineage → metrics as three
    # non-transactional appends; a crash between them must not surface a
    # half-committed batch. A zero-byte `_COMMITTED_<run_id>` marker inside
    # the batch directory is written only after all three appends succeed,
    # and every reader (extracted / attempted_doc_ids / lineage) filters to
    # (batch_id, run_id) pairs that have a marker — uncommitted rows are
    # invisible and the docs simply re-run on resume. Markers go through
    # the Hadoop FileSystem API so the same code works on file://, HDFS and
    # S3A. (On Iceberg the multi-table transaction replaces all of this —
    # README "Iceberg runtime".)
    def _hadoop_fs(self, path: str):
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()), jpath

    def _commit_batch(self, batch: int) -> None:
        fs, jpath = self._hadoop_fs(os.path.join(
            self.extracted_path, f"batch_id={batch}",
            f"_COMMITTED_{self.run_id}"))
        fs.create(jpath, True).close()

    def _committed_keys(self) -> list[str]:
        """All durable "<batch_id>:<run_id>" commit keys under the output
        root — driver-side listing, O(batches), metadata only."""
        fs, root = self._hadoop_fs(self.extracted_path)
        if not fs.exists(root):
            return []
        keys = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("batch_id="):
                continue
            b = name.split("=", 1)[1]
            for f in fs.listStatus(st.getPath()):
                fn = f.getPath().getName()
                if fn.startswith("_COMMITTED_"):
                    keys.append(f"{b}:{fn[len('_COMMITTED_'):]}")
        return keys

    @staticmethod
    def _commit_key(batch_col, run_col) -> F.Column:
        return F.concat(batch_col.cast("string"), F.lit(":"), run_col)

    # -- lineage ---------------------------------------------------------
    def lineage(self) -> DataFrame | None:
        """Committed lineage events only (rows appended by a run that died
        before its batch marker are excluded)."""
        return self.sink.read_committed_lineage()

    def attempted_doc_ids(self) -> DataFrame | None:
        """Docs with a durable outcome: processed OR errored (the
        reference skips both its done and failed sets, crawl.py:938-939).
        Only committed batches count — a doc whose batch never got its
        marker is still pending and will re-run."""
        lineage = self.lineage()
        if lineage is None:
            return None
        return lineage.filter(
            F.col("event_kind").isin("processed", "error")).select("doc_id")

    def pending(self, docs: DataFrame) -> DataFrame:
        done = self.attempted_doc_ids()
        if done is None:
            return docs
        # The resume gate as a distributed anti-join.
        return docs.join(done, "doc_id", "left_anti")

    # -- run -------------------------------------------------------------
    def run(self, docs: DataFrame, *, micro_batches: int = 1,
            stop_after: int | None = None, force: bool = False,
            _crash_before_lineage: bool = False,
            _crash_before_marker: bool = False) -> dict:
        """Process pending docs in micro-batches; each batch commits
        output + lineage + metrics, then a ``_COMMITTED_<run_id>`` marker
        that makes the batch visible to readers — atomically from any
        reader's point of view. ``stop_after`` simulates a kill after
        N batches (for resume tests); the ``_crash_*`` hooks simulate a
        kill *inside* a batch's commit sequence (crash-consistency tests).
        ``force=True`` re-derives everything regardless of lineage — the
        reference's ``normalize-export`` recompute-derived-data pass
        (EP3, cli.py:324-352)."""
        pending = docs if force else self.pending(docs)
        t_start = time.monotonic()
        batches_done = 0
        for b in range(micro_batches):
            if stop_after is not None and batches_done >= stop_after:
                break
            # Route null doc_ids to batch 0 explicitly so they still reach
            # the kernel and produce the contract-violation 'error'
            # lineage event (same containment as the micro_batches=1
            # path). Spark's xxhash64 never returns NULL — a NULL input
            # hashes to the seed — so an explicit isNull branch, not a
            # coalesce, is what pins them to a deterministic batch.
            chunk = (
                pending.filter(
                    F.when(F.col("doc_id").isNull(), F.lit(0))
                    .otherwise(F.pmod(F.xxhash64("doc_id"),
                                      F.lit(micro_batches))) == b)
                if micro_batches > 1 else pending
            )
            self.commit_one(chunk, b,
                            _crash_before_lineage=_crash_before_lineage,
                            _crash_before_marker=_crash_before_marker)
            batches_done += 1

        return {
            "run_id": self.run_id,
            "batches_done": batches_done,
            "wall_s": time.monotonic() - t_start,
        }

    def commit_one(self, chunk: DataFrame, b: int, *,
                   _crash_before_lineage: bool = False,
                   _crash_before_marker: bool = False) -> None:
        """Extract + commit ONE micro-batch under batch id ``b``: output →
        lineage → metrics → `_COMMITTED_<run_id>` marker. Shared by the
        batch driver loop (``run``) and the streaming ``foreachBatch``
        sink (``streaming.stream_extract_with_lineage``), so both paths
        get identical crash-atomicity and read-back semantics."""
        extracted = extract_df(chunk, mode=self.mode, with_stats=True,
                               waf_integration=self.waf_integration)
        extracted = extracted.withColumn("run_id", F.lit(self.run_id))
        self.sink.write_extracted(extracted, b)
        if _crash_before_lineage:
            raise RuntimeError("simulated kill: after output write, "
                               "before lineage append")

        # Lineage + metrics from the *written* output, reading only
        # the new batch and pruned small columns (never out_spans). The
        # run_id filter guards against rows appended to the same batch
        # by an earlier killed run.
        committed = (
            self.sink.read_back(b)
            .filter(F.col("run_id") == self.run_id)
            .select("doc_id", "partition_id", "spans_in", "spans_out",
                    "bytes_in", "wall_ms", "error")
        )
        lineage = committed.select(
            F.col("partition_id"),
            F.col("doc_id"),
            F.when(F.col("error").isNull(), "processed")
            .otherwise("error").alias("event_kind"),
            F.when(F.col("error").isNull(), "ok")
            .otherwise("failed").alias("status"),
            F.col("error"),
            F.current_timestamp().alias("at"),
            F.lit(b).cast("long").alias("snapshot_id"),
            F.lit(self.run_id).alias("run_id"),
        )
        self.sink.write_lineage(lineage)
        if _crash_before_marker:
            raise RuntimeError("simulated kill: after lineage append, "
                               "before commit marker")

        metrics = committed.groupBy("partition_id").agg(
            F.count("*").alias("docs"),
            F.sum("spans_in").alias("spans_in"),
            F.sum("spans_out").alias("spans_out"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("wall_ms").alias("wall_ms"),
        ).select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(b).cast("long").alias("snapshot_id"),
            "partition_id", "docs", "spans_in", "spans_out",
            "bytes_in", "wall_ms",
            F.current_timestamp().alias("at"),
        )
        self.sink.write_metrics(metrics)
        self.sink.finalize(b)

    def extracted(self) -> DataFrame:
        """Committed successful output. Rows from a run that died between
        writes (no batch marker) are filtered out — resume re-runs those
        docs, so no half-committed batch is ever visible. The doc_id dedup
        remains for *legitimate* replays (``force=True`` recompute commits
        the same doc again under a new run_id); errored docs appear in
        lineage, not here."""
        return (
            self.sink.read_committed_extracted()
            .filter(F.col("error").isNull())
            .dropDuplicates(["doc_id"]).select("doc_id", "out_spans")
        )
