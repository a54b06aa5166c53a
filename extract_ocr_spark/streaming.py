"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch with file-based resume (SURVEY.md §2.9);
streaming is the Spark-native extension for continuous ingest: new parquet
files landing in a directory are picked up incrementally, run through the
same ``mapInPandas`` extraction kernel, and appended to the output with
exactly-once semantics via the streaming checkpoint — the streaming
analogue of the lineage anti-join resume.

Also provides a windowed event aggregation with watermarking (late-data
handling), the streaming analogue of ``relational.windowed_event_counts``.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .pipeline import extract_df
from .schemas import DOCUMENTS_SCHEMA

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, *, mode: str = "reference",
                   available_now: bool = True):
    """Continuously extract documents from parquet files arriving in
    ``input_dir``. Returns the StreamingQuery.

    Exactly-once: file-source offsets + sink commit log live in the
    checkpoint; a killed job resumes at the last committed micro-batch
    without reprocessing (streaming replaces the batch lineage table).
    """
    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )
    # The same extraction stage as batch; extract_df skips staging on a
    # streaming source (the micro-batch is bounded by maxFilesPerTrigger).
    writer = (
        extract_df(docs, mode=mode)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_event_counts(spark: SparkSession, input_dir: str,
                                 *, watermark: str = "1 hour",
                                 window: str = "1 hour") -> DataFrame:
    """Tumbling-window event counts with late-data watermarking. Returns
    the streaming DataFrame (caller attaches a sink). Batch-equivalent:
    relational.windowed_event_counts — same grouping semantics."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0)
             .alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "sum_value")
    )


def stream_dedup_extract(spark: SparkSession, input_dir: str,
                         *, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of the same normalized
    content within the watermark horizon (``dropDuplicatesWithinWatermark``
    on the content sha — the streaming analogue of S8's content-addressed
    dedupe / batch ``dedup_exact_norm``), keyed on the normalized text of
    the first span. State is bounded by the watermark: at 100 TB/day the
    sha-key state store holds one horizon's worth of 16-byte keys, not
    the corpus. Returns the deduped streaming DataFrame (caller attaches
    the extraction kernel + sink)."""
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    first_text = F.coalesce(F.element_at(F.col("spans"), 1)["text"], F.lit(""))
    keyed = docs.withColumn(
        "content_sha",
        F.substring(F.sha2(F.trim(
            F.regexp_replace(F.lower(first_text), r"\s+", " ")), 256), 1, 16),
    ).withColumn("arrival_ts", F.current_timestamp())
    return (
        keyed.withWatermark("arrival_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
        .drop("arrival_ts")
    )


# -- custom stateful operator: session windows via applyInPandasWithState ------

SESSION_GAP_S = 1800  # 30 min inactivity closes a session

_SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("sv", T.DoubleType()),  # sum of value*100 rounded, /100 at emit
])


def sessionize_batch(ts_us: list[int], values: list[float],
                     gap_s: int = SESSION_GAP_S) -> list[tuple[int, int, int, float]]:
    """Pure session logic over one user's (sorted) events:
    [(start_us, end_us, n, sum_scaled)] — unit-testable without Spark."""
    sessions = []
    start = last = None
    n = 0
    sv = 0.0
    for t, v in sorted(zip(ts_us, values)):
        if last is not None and (t - last) > gap_s * 1_000_000:
            sessions.append((start, last, n, sv))
            start, n, sv = None, 0, 0.0
        if start is None:
            start = t
        last = t
        n += 1
        sv += round(v * 100)
    if start is not None:
        sessions.append((start, last, n, sv))
    return sessions


def _sessionize_fn(key: tuple, batches: Iterable[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    user_id = key[0]
    ts_us: list[int] = []
    vals: list[float] = []
    for pdf in batches:
        ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        vals.extend(float(v) for v in pdf["value"])

    if state.hasTimedOut:
        start_us, last_us, n, sv = state.get
        state.remove()
        yield pd.DataFrame({
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [n],
            "sum_value": [sv / 100.0],
        })
        return

    if state.exists:
        start_us, last_us, n, sv = state.get
        merged = sessionize_batch(ts_us, vals)
        # stitch: if the first new session continues the stored one
        if merged and merged[0][0] - last_us <= SESSION_GAP_S * 1_000_000:
            s0 = merged[0]
            merged[0] = (start_us, s0[1], n + s0[2], sv + s0[3])
        else:
            merged.insert(0, (start_us, last_us, n, sv))
    else:
        merged = sessionize_batch(ts_us, vals)

    out_rows = merged[:-1]  # all but the still-open last session
    open_s = merged[-1] if merged else None
    if open_s is not None:
        state.update((int(open_s[0]), int(open_s[1]), int(open_s[2]),
                      float(open_s[3])))
        state.setTimeoutDuration(SESSION_GAP_S * 1000)
    if out_rows:
        yield pd.DataFrame({
            "user_id": [user_id] * len(out_rows),
            "session_start": [pd.Timestamp(r[0], unit="us") for r in out_rows],
            "session_end": [pd.Timestamp(r[1], unit="us") for r in out_rows],
            "n_events": [r[2] for r in out_rows],
            "sum_value": [r[3] / 100.0 for r in out_rows],
        })


def stream_sessionize(spark: SparkSession, input_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user session windows with a
    30-minute inactivity gap, via ``applyInPandasWithState`` (processing-
    time timeout closes idle sessions). The session-assembly logic is the
    pure function ``sessionize_batch``. Closed sessions are emitted; the
    open session per user lives in the state store."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# -- custom stateful operator: incremental conversion funnel --------------------

_FUNNEL_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("stage", T.IntegerType()),
    T.StructField("at", T.TimestampType()),
])

_FUNNEL_STATE_SCHEMA = T.StructType([
    T.StructField("stage", T.IntegerType()),
    T.StructField("bound_us", T.LongType()),
])

_FUNNEL_CODE = {"view": 1, "click": 2, "purchase": 3}


def _funnel_fn(key: tuple, batches: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
    from .operators.temporal import funnel_transitions

    user_id = key[0]
    evs: list[tuple[int, int, int]] = []
    for pdf in batches:
        for t, eid, et in zip(pd.to_datetime(pdf["ts"]), pdf["event_id"],
                              pdf["event_type"]):
            evs.append((int(t.value // 1000), int(eid),
                        _FUNNEL_CODE.get(et, 0)))
    evs.sort()  # (ts, event_id) order within the micro-batch

    st = tuple(state.get) if state.exists else (0, 0)
    trans, new_st = funnel_transitions(
        [(c, t) for t, _eid, c in evs], state=st)
    state.update((int(new_st[0]), int(new_st[1])))
    if trans:
        yield pd.DataFrame({
            "user_id": [user_id] * len(trans),
            "stage": [s for s, _ in trans],
            "at": [pd.Timestamp(t, unit="us") for _, t in trans],
        })


def stream_funnel(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of ``operators.temporal.event_funnel_query``: per-user
    funnel-stage TRANSITIONS emitted as they happen, with the fold
    accumulator (stage, boundary_us) in the state store so the funnel
    spans micro-batches and restarts. Both sides fold with the same pure
    function (``temporal.funnel_transitions``), so batch/stream parity is
    by construction; the split-fold continuity the state store relies on
    (fold(a ++ b) == fold(b) from fold(a)'s state) is pinned by a test.
    Like ``stream_sessionize``, per-user events are assumed in order
    across micro-batches (chronological file landing); no timeout is
    needed because the funnel window is event-time arithmetic inside the
    fold, not wall-clock state expiry."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn,
            outputStructType=_FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _stream_identity(run, checkpoint_dir: str) -> str:
    """Read-or-create the stream identity recorded inside the checkpoint
    directory. Epoch ids restart at 0 with a fresh checkpoint, so "batch
    id N already has a marker" is only evidence of a *replay* when the
    marker came from a stream using the SAME checkpoint — the identity
    file makes that distinction durable (Hadoop FS API: works on
    file://, HDFS, S3A like the markers themselves)."""
    import os
    import uuid

    fs, jpath = run._hadoop_fs(os.path.join(checkpoint_dir,
                                            "_stream_identity"))
    if fs.exists(jpath):
        stream = fs.open(jpath)
        try:
            return stream.readUTF()
        finally:
            stream.close()
    ident = uuid.uuid4().hex[:12]
    out = fs.create(jpath, True)
    out.writeUTF(ident)
    out.close()
    return ident


def make_epoch_committer(run, checkpoint_dir: str):
    """foreachBatch callback: commit one streaming epoch through
    ``ExtractionRun.commit_one`` with the epoch id as the batch id.

    Replay safety is tied to the checkpoint's stream identity, not the
    bare batch id: a restarted stream replays the last epoch when the
    sink committed but the offset checkpoint didn't — that replay carries
    the SAME ``_stream_identity``, sees this stream's ``_STREAM_<ident>``
    marker in the batch directory, and no-ops. A *fresh* checkpoint over
    a reused output directory restarts epoch ids at 0 AND may regroup
    files into different epochs entirely, so one committed-but-unmarked
    batch anywhere in the output (a foreign stream's history, or a crash
    between commit and stream-marker) flips the committer into per-doc
    mode for its whole lifetime: every epoch anti-joins against committed
    lineage before committing — genuinely new data is never silently
    dropped, already-committed docs are never double-counted, even when
    an old doc lands in a NEW epoch id whose directory is pristine.
    Marker existence/creation and the foreign-history scan all route
    through the run's commit sink (``stream_*`` seam methods), so the
    committer works unchanged on ``IcebergCommitSink`` — which has no
    marker files and answers the seam with "always per-doc mode"
    (replayed epochs anti-join to empty instead of double-appending).
    On the parquet sink the checks are driver-side metadata reads (one
    O(batches) listing at creation, O(1) per epoch)."""
    ident = _stream_identity(run, checkpoint_dir)
    guard_per_doc = run.sink.stream_has_foreign_history(ident)

    def commit(batch_df, epoch_id: int) -> None:
        b = int(epoch_id)
        if run.sink.stream_epoch_precommitted(b, ident):
            return  # this stream already durably committed this epoch
        # belt for the pathological two-live-streams-one-outdir case: a
        # foreign marker that appeared in THIS batch dir after creation
        if guard_per_doc or run.sink.stream_epoch_foreign_commit(b):
            attempted = run.attempted_doc_ids()
            if attempted is not None:
                batch_df = batch_df.join(attempted.distinct(), "doc_id",
                                         "left_anti")
            if not batch_df.isEmpty():
                run.commit_one(batch_df, b)
        else:
            run.commit_one(batch_df, b)
        run.sink.stream_mark_epoch(b, ident)

    return commit


def stream_extract_with_lineage(spark: SparkSession, input_dir: str,
                                out_dir: str, checkpoint_dir: str, *,
                                mode: str = "reference",
                                available_now: bool = True):
    """Streaming extraction through the SAME commit protocol as the batch
    pipeline: each micro-batch runs ``ExtractionRun.commit_one`` inside
    ``foreachBatch`` — output + lineage + metrics + `_COMMITTED` marker,
    keyed by the streaming epoch id as the batch id.

    Crash semantics compose: the file-source offsets in the checkpoint
    give at-least-once micro-batch delivery. An epoch whose process died
    mid-commit has no marker and is invisible — resume re-runs it. An
    epoch that fully committed but whose offset was not yet checkpointed
    is replayed by a restarted stream under a NEW run_id; the committer
    detects the existing marker for that batch id and skips, so committed
    lineage keeps exactly one event per doc (no duplicate markers from
    two runs of the same epoch). Exactly the batch pipeline's guarantees,
    now for a continuously arriving corpus. Returns
    (StreamingQuery, ExtractionRun)."""
    from .pipeline import ExtractionRun

    run = ExtractionRun(spark, out_dir, mode=mode)
    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )
    commit = make_epoch_committer(run, checkpoint_dir)

    writer = (
        docs.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), run


# -- custom stateful operator: incremental per-user EMA ----------------------

_EMA_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("ema_value", T.DoubleType()),
])

_EMA_STATE_SCHEMA = T.StructType([
    T.StructField("ema", T.DoubleType()),
    T.StructField("n", T.LongType()),
])


def _ema_fn(key: tuple, batches: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    from .operators.temporal import ema_steps

    user_id = key[0]
    evs: list[tuple[int, int, float]] = []
    for pdf in batches:
        for t, eid, v in zip(pd.to_datetime(pdf["ts"]), pdf["event_id"],
                             pdf["value"]):
            evs.append((int(t.value // 1000), int(eid), float(v)))
    evs.sort()  # (ts, event_id) order within the micro-batch

    st = tuple(state.get) if state.exists else None
    ema, n = ema_steps([v for _, _, v in evs], state=st)
    state.update((float(ema), int(n)))
    if evs:
        yield pd.DataFrame({"user_id": [user_id],
                            "n_events": [n],
                            "ema_value": [ema]})


def stream_ema(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of ``operators.temporal.ema_value_query``: per-user
    EMA snapshots emitted per micro-batch, the (ema, n) accumulator in
    the state store so the fold spans micro-batches and restarts. Both
    sides step with the same recurrence (``temporal.ema_steps`` — the
    python mirror of the batch JVM fold), so the final streamed value
    is BIT-IDENTICAL to the batch query's, pinned by a restart test.
    Like the other stateful operators here, per-user events are assumed
    in order across micro-batches (chronological file landing)."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _ema_fn,
            outputStructType=_EMA_OUT_SCHEMA,
            stateStructType=_EMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- custom stateful operator: incremental HyperLogLog registers -------------

FLAT_DOCS_DDL = ("doc_id long, text string, lang string, source string,"
                 " n_chars long")

_HLL_OUT_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("idx", T.LongType()),
    T.StructField("m", T.LongType()),
])

_HLL_STATE_SCHEMA = T.StructType([T.StructField("m", T.LongType())])


def _hll_fn(key: tuple, batches: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    best = int(state.get[0]) if state.exists else 0
    seen = 0
    for pdf in batches:
        if len(pdf):
            best = max(best, int(pdf["rank"].max()))
            seen += len(pdf)
    state.update((best,))
    if seen:
        yield pd.DataFrame({"source": [key[0]], "idx": [int(key[1])],
                            "m": [best]})


def stream_hll_registers(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of the batch HLL sketch: per-(source, register)
    max-rank kept in the state store, register snapshots emitted per
    micro-batch. Register max is DUPLICATE-INSENSITIVE, so this path
    needs no blocking distinct and no per-item state — the state is
    exactly sources × 64 longs no matter how many documents stream
    through, which is what makes HLL the canonical streaming sketch.
    The rank rows come from the same ``hll_rank_rows`` expressions as
    the batch operator (dedup off), so the final streamed registers are
    BIT-IDENTICAL to the batch ones — pinned across a restart by
    ``test_stream_hll_registers_match_batch_across_restart``."""
    from .operators.textanalysis import hll_rank_rows

    docs = spark.readStream.schema(FLAT_DOCS_DDL).parquet(input_dir)
    return (
        hll_rank_rows(docs, dedup=False)
        .groupBy("source", "idx")
        .applyInPandasWithState(
            _hll_fn,
            outputStructType=_HLL_OUT_SCHEMA,
            stateStructType=_HLL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- custom stateful operator: incremental count-min sketch cells ------------

_CMS_OUT_SCHEMA = T.StructType([
    T.StructField("j", T.StringType()),
    T.StructField("b", T.LongType()),
    T.StructField("cnt", T.LongType()),
])

_CMS_STATE_SCHEMA = T.StructType([T.StructField("cnt", T.LongType())])


def _cms_fn(key: tuple, batches: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    cnt = int(state.get[0]) if state.exists else 0
    seen = 0
    for pdf in batches:
        seen += len(pdf)
    if seen:
        cnt += seen
        state.update((cnt,))
        yield pd.DataFrame({"j": [key[0]], "b": [int(key[1])],
                            "cnt": [cnt]})


def stream_cms_cells(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of the batch count-min sketch: per-(j, b) cell
    counts kept in the state store, cell snapshots emitted per
    micro-batch. Cell counts are ADDITIVE (the other canonical
    mergeable-sketch property, complementing HLL's max-register), so
    the state is exactly CMS_D × CMS_W longs no matter how many tokens
    stream through, and heavy-hitter estimates (min over a token's d
    cells) can be served from the streamed snapshot at any point. The
    cell coordinates come from the same ``cms_cell_rows`` scheme as the
    batch operator, so after the last micro-batch the streamed cells
    are BIT-IDENTICAL to the batch sketch — pinned across a restart by
    ``test_stream_cms_cells_match_batch_across_restart``."""
    from .operators import tok_array
    from .operators.textanalysis import cms_cell_rows

    docs = spark.readStream.schema(FLAT_DOCS_DDL).parquet(input_dir)
    toks = docs.select(F.explode(tok_array(F.col("text"))).alias("tok"))
    return (
        cms_cell_rows(toks).select("j", "b")
        .groupBy("j", "b")
        .applyInPandasWithState(
            _cms_fn,
            outputStructType=_CMS_OUT_SCHEMA,
            stateStructType=_CMS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- custom stateful operator: incremental classifier-score histogram --------

_QCH_OUT_SCHEMA = T.StructType([
    T.StructField("grp", T.StringType()),
    T.StructField("bin", T.LongType()),
    T.StructField("pos", T.LongType()),
    T.StructField("neg", T.LongType()),
])

_QCH_STATE_SCHEMA = T.StructType([
    T.StructField("pos", T.LongType()),
    T.StructField("neg", T.LongType()),
])


def _qch_fn(key: tuple, batches: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    pos, neg = (int(state.get[0]), int(state.get[1])) if state.exists \
        else (0, 0)
    seen = d_pos = 0
    for pdf in batches:
        seen += len(pdf)
        d_pos += int(pdf["label"].sum())
    if seen:
        pos += d_pos
        neg += seen - d_pos
        state.update((pos, neg))
        yield pd.DataFrame({"grp": [key[0]], "bin": [int(key[1])],
                            "pos": [pos], "neg": [neg]})


def stream_score_hist(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of the shared classifier operating-point histogram
    (``_qc_hist``): per-(source, bin) pos/neg counts kept in the state
    store, cell snapshots emitted per micro-batch. Cells are ADDITIVE
    and the bin space is bounded, so state stays |sources| × bin-range
    longs no matter how many documents stream through — and every
    histogram-derived evaluation (ROC-AUC, the PR sweep, calibration
    bins, per-source KS drift) can be served from any snapshot without
    touching the corpus. The (grp, bin, label) rows come from the same
    map-only ``qc_scored_rows`` expressions as the batch operators —
    possible only because the per-doc score is an array fold, not a
    per-doc aggregation (a second stateful operator would be
    unsupported here) — so the streamed cells are BIT-IDENTICAL to the
    batch histogram, pinned across a restart by
    ``test_stream_score_hist_matches_batch_across_restart``."""
    from .operators.textanalysis import qc_scored_rows

    docs = spark.readStream.schema(FLAT_DOCS_DDL).parquet(input_dir)
    return (
        qc_scored_rows(docs)
        .groupBy("grp", "bin")
        .applyInPandasWithState(
            _qch_fn,
            outputStructType=_QCH_OUT_SCHEMA,
            stateStructType=_QCH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_enrich(spark: SparkSession, input_dir: str,
                  dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: streaming events ⋈ a static
    dimension on user_id. The static side is re-planned per micro-batch
    by Structured Streaming itself (no state store involved) and lands
    as a broadcast hash join under the session's threshold — the
    standard shape for joining a 10^12-event stream against a bounded
    dim without shuffling the stream. Columns: events.* + the dim's
    non-key columns."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return events.join(F.broadcast(dim), "user_id")


def stream_touch_pairs(spark: SparkSession, input_dir: str, *,
                       delay: str = "6 hours") -> DataFrame:
    """Watermarked stream-stream interval join: every purchase matches
    each prior touch (view/click/signup) by the same user inside the
    6-hour attribution lookback — the streaming twin of
    ``attribution_linear``'s pair stage (``operators/temporal.py``;
    reference analog: the per-response endpoint→source audit joins,
    `/root/reference/src/extract_ocr/crawl.py` report path). Both sides
    are independent readers over the same landing directory, so one
    stream of interleaved events feeds both join inputs without a
    pre-split.

    State-bound math (the reason this holds at 10^12 events): with
    watermarks on BOTH event-time columns and the range predicate
    ``tp - 6h <= tt <= tp`` in the join condition, the state store can
    evict a buffered touch once the purchase-side watermark passes
    ``tt + 6h`` (no future purchase can still match it) and a buffered
    purchase once the touch-side watermark passes ``tp`` (no future
    touch can precede it). Join state is therefore bounded by the event
    volume of one lookback window plus ``delay``, never the full
    history. Inner-join matches emit as soon as both rows have arrived
    (append mode). ``delay`` is the out-of-order slack — raise it when
    landings replay far-past data (the parity test spans the whole
    fixture, so it passes a delay covering the fixture's time span).

    Tie discipline mirrors the batch pair stage exactly: a touch at the
    same microsecond as the purchase counts only when ``tid < pid``."""
    from .operators.temporal import ATTR_TOUCH_TYPES, ATTR_WINDOW_US

    p = (spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
         .filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pid"), "user_id",
                 F.col("ts").alias("tp"),
                 F.round(F.col("value") * 100).cast("long").alias("cents"))
         .withWatermark("tp", delay))
    t = (spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
         .filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES))
         .select(F.col("user_id").alias("t_user"),
                 F.col("event_type").alias("ch"),
                 F.col("event_id").alias("tid"),
                 F.col("ts").alias("tt"))
         .withWatermark("tt", delay))
    lookback = F.expr(f"INTERVAL {ATTR_WINDOW_US} MICROSECOND")
    cond = ((F.col("user_id") == F.col("t_user"))
            # both range bounds stated as plain conjuncts so the
            # streaming planner derives state-eviction thresholds
            & (F.col("tt") <= F.col("tp"))
            & (F.col("tt") >= F.col("tp") - lookback)
            & ((F.col("tt") < F.col("tp"))
               | (F.col("tid") < F.col("pid"))))
    return (p.join(t, cond)
            .select("pid", "tid", "ch", "user_id", "cents"))
