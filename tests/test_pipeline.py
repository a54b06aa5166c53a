"""Engine-layer tests: distributed extraction, span-sequence equality vs the
pure-kernel oracle, shuffle invariance, skew salting, lineage + resume."""

import pytest

from pyspark.sql import functions as F

from extract_ocr_spark.datagen import gen_doc, synthetic_documents_df
from extract_ocr_spark.kernels.extract import extract_doc
from extract_ocr_spark.pipeline import ExtractionRun, extract_df, salted_repartition

N_DOCS = 120


@pytest.fixture(scope="module")
def docs(spark):
    return synthetic_documents_df(spark, N_DOCS, seed=42, partitions=6).cache()


def _norm_out_spans(rows):
    """rows of (doc_id, out_spans) → {doc_id: [(kind,text,media_ref,order)]}"""
    out = {}
    for r in rows:
        out[r["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in (r["out_spans"] or [])
        ]
    return out


def test_span_sequence_equality_vs_kernel_oracle(spark, docs):
    """The distributed pipeline must equal the pure kernel doc-by-doc under
    span-sequence equality (kind, text, media_ref, order)."""
    got = _norm_out_spans(extract_df(docs).collect())
    assert len(got) == N_DOCS
    for i in range(N_DOCS):
        doc = gen_doc(i, seed=42)
        expected = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_doc(doc["doc_id"], doc["spans"])
        ]
        assert got[doc["doc_id"]] == expected, f"doc {i} mismatch"


def test_shuffle_invariance(spark, docs):
    """Same result regardless of partitioning."""
    a = _norm_out_spans(extract_df(docs, partitions=2).collect())
    b = _norm_out_spans(extract_df(docs.repartition(13), partitions=7).collect())
    assert a == b


def test_waf_docs_drop_html_span(spark, docs):
    """Docs with variant-5 HTML (WAF interstitial) emit no markdown span."""
    got = _norm_out_spans(extract_df(docs).collect())
    waf_ids = [f"doc-{i:010d}" for i in range(N_DOCS) if i % 7 == 5]
    assert waf_ids
    for d in waf_ids:
        kinds = [k for (k, *_rest) in got[d]]
        assert "markdown" not in kinds


def test_media_spans_pass_through(spark, docs):
    got = extract_df(docs).select(
        "doc_id", F.explode("out_spans").alias("s")
    ).filter(F.col("s.kind") == "media").collect()
    assert got, "expected some media spans in the synthetic corpus"
    for r in got:
        assert r["s"]["media_ref"] is not None
        assert r["s"]["text"] is None


def test_salted_repartition_balances_bytes(spark, docs):
    staged = salted_repartition(docs, 6)
    sizes = (
        staged.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "sz",
            F.aggregate(
                F.coalesce(F.col("spans"), F.array()), F.lit(0).cast("long"),
                lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
            ),
        )
        .groupBy("pid").agg(F.sum("sz").alias("bytes"), F.count("*").alias("n"))
        .collect()
    )
    assert len(sizes) > 1
    # A single oversized doc cannot be split, but it must be *isolated*:
    # the heaviest partition should carry almost no other docs, so its
    # wall-clock cost is the one doc, not the doc plus a full share of
    # small docs.
    heaviest = max(sizes, key=lambda r: r["bytes"])
    assert heaviest["n"] <= 3
    # And the small-doc partitions are count-balanced (uniform salt).
    small_parts = [r for r in sizes if r is not heaviest]
    counts = [r["n"] for r in small_parts]
    assert max(counts) <= 3 * max(1, min(counts))


def test_lineage_resume_no_double_processing(spark, docs, tmp_path):
    out = str(tmp_path / "run")
    run = ExtractionRun(spark, out, run_id="t1")
    # Simulate a kill: only 2 of 4 micro-batches commit.
    res1 = run.run(docs, micro_batches=4, stop_after=2)
    assert res1["batches_done"] == 2
    n_after_kill = run.extracted().count()
    assert 0 < n_after_kill < N_DOCS

    # Resume with a fresh run object (new process semantics).
    run2 = ExtractionRun(spark, out, run_id="t2")
    pending = run2.pending(docs)
    assert pending.count() == N_DOCS - n_after_kill
    run2.run(docs, micro_batches=4)

    final = run2.extracted()
    assert final.count() == N_DOCS
    # Lineage has exactly one 'processed' event per doc → nothing was
    # reprocessed after resume.
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.count() == N_DOCS
    assert lineage.select("doc_id").distinct().count() == N_DOCS

    # Metrics cover every doc.
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.agg(F.sum("docs")).first()[0] == N_DOCS

    # Output is laid out in per-batch Hive-style subdirectories, so the
    # per-batch commit read-back is O(batch) (a physically separate path),
    # never a filtered rescan of the whole output directory.
    import os as _os
    batch_dirs = sorted(
        d for d in _os.listdir(f"{out}/extracted") if d.startswith("batch_id="))
    assert batch_dirs == [f"batch_id={b}" for b in range(4)]
    # Reading one batch dir sees only its own files.
    one = spark.read.parquet(f"{out}/extracted/batch_id=0")
    assert all("batch_id=0" in f for f in one.inputFiles())

    # And the resumed output still matches the kernel oracle.
    got = _norm_out_spans(final.collect())
    for i in (0, 5, 17):
        doc = gen_doc(i, seed=42)
        expected = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_doc(doc["doc_id"], doc["spans"])
        ]
        assert got[doc["doc_id"]] == expected


def test_skewed_docs_exist_and_extract(spark, docs):
    """The generator's oversized docs flow through the big-doc path."""
    big = docs.withColumn(
        "sz",
        F.aggregate(
            F.coalesce(F.col("spans"), F.array()), F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        ),
    ).filter(F.col("sz") > 256 << 10)
    assert big.count() >= 1
    out = extract_df(big.drop("sz"))
    assert out.count() == big.count()


def test_error_containment_and_lineage(spark, tmp_path):
    """A contract-violating doc (null doc_id) becomes an 'error' lineage
    event; the job succeeds, good docs extract, resume skips the failure."""
    good = synthetic_documents_df(spark, 10, seed=42, partitions=2)
    bad = spark.createDataFrame(
        [(None, [("text", "x", None, 0)])],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    docs = good.unionByName(bad)
    out = str(tmp_path / "errrun")
    run = ExtractionRun(spark, out, run_id="err1")
    run.run(docs)

    lineage = spark.read.parquet(f"{out}/lineage")
    kinds = {r["event_kind"]: r["n"] for r in
             lineage.groupBy("event_kind").agg(F.count("*").alias("n")).collect()}
    assert kinds.get("processed") == 10
    assert kinds.get("error") == 1
    err = lineage.filter(F.col("event_kind") == "error").first()
    assert "ValueError" in err["error"]
    assert run.extracted().count() == 10

    # resume: all identified docs are settled; only the null-id row (which
    # has no identity to track) remains pending
    run2 = ExtractionRun(spark, out, run_id="err2")
    remaining = run2.pending(docs).collect()
    assert len(remaining) == 1 and remaining[0]["doc_id"] is None


def test_density_mode_through_pipeline(spark):
    """mode='density' flows through extract_df and picks the low-link-
    density block in the no-semantic-container fallback."""
    nav = "".join(f"<a href='/{i}'>menu entry number {i} padding</a> "
                  for i in range(8))
    html = (f"<html><body><div id='nav'>{nav}</div>"
            "<div id='content'>real content prose shorter than nav "
            "but with no links anywhere at all</div></body></html>")
    docs = spark.createDataFrame(
        [("d1", [("html", html, None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    ref = extract_df(docs, mode="reference").first()["out_spans"][0]["text"]
    den = extract_df(docs, mode="density").first()["out_spans"][0]["text"]
    assert "menu entry" in ref          # largest-div wins (reference)
    assert "real content prose" in den  # density scoring wins
    assert "menu entry" not in den


def test_digest_path_agrees_with_spans_path(spark, docs):
    """The benchmark's digest return channel must perform the identical
    extraction: per-doc sha256 over the spans path's output equals the
    digest path's out_sha, and the byte/span counters match. A contained
    failure (null doc_id) gets the same error, placeholder doc_id and
    zeroed counters on both channels, and an empty out_sha."""
    from extract_ocr_spark.pipeline import _digest_spans, extract_digest_df

    bad = spark.createDataFrame(
        [(None, [("text", "x", None, 0)])],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    mixed = docs.unionByName(bad)
    spans_rows = extract_df(mixed, with_stats=True).collect()
    digest_rows = {r["doc_id"]: r for r in
                   extract_digest_df(mixed).collect()}
    assert len(digest_rows) == N_DOCS + 1
    failed = [r for r in spans_rows if r["error"] is not None]
    assert len(failed) == 1
    assert failed[0]["doc_id"].startswith("<null-doc-id:")
    for r in spans_rows:
        d = digest_rows[r["doc_id"]]
        assert d["error"] == r["error"]
        assert d["spans_in"] == r["spans_in"]
        assert d["bytes_in"] == r["bytes_in"]
        assert d["spans_out"] == r["spans_out"]
        assert d["bytes_out"] == r["bytes_out"]
        if r["error"] is not None:
            assert d["out_sha"] == ""
            assert r["out_spans"] == []
            assert (r["spans_out"], r["bytes_out"]) == (0, 0)
            continue
        expect_sha = _digest_spans([s.asDict() for s in r["out_spans"]])
        assert d["out_sha"] == expect_sha


def test_crash_between_output_and_lineage_resumes_clean(spark, tmp_path):
    """Kill after the batch's output parquet lands but before lineage:
    the unmarked batch must be invisible (extracted / attempted empty for
    those docs), resume must re-run exactly those docs, and the final
    state must have no duplicates."""
    docs = synthetic_documents_df(spark, 12, seed=42, partitions=2)
    out = str(tmp_path / "crashrun")
    run = ExtractionRun(spark, out, run_id="c1")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="before lineage"):
        run.run(docs, micro_batches=3, _crash_before_lineage=True)

    # Output files exist on disk, but nothing is committed.
    reader = ExtractionRun(spark, out, run_id="probe")
    assert reader._committed_keys() == []
    assert reader.attempted_doc_ids() is None or \
        reader.attempted_doc_ids().count() == 0
    assert reader.extracted().count() == 0
    assert reader.pending(docs).count() == 12

    # Resume: everything re-runs once, cleanly.
    run2 = ExtractionRun(spark, out, run_id="c2")
    run2.run(docs, micro_batches=3)
    final = run2.extracted()
    assert final.count() == 12
    assert final.select("doc_id").distinct().count() == 12
    # Committed lineage: exactly one processed event per doc — the
    # crashed run's rows never entered lineage at all here.
    lin = run2.lineage().filter(F.col("event_kind") == "processed")
    assert lin.count() == 12


def test_crash_between_lineage_and_marker_resumes_clean(spark, tmp_path):
    """Kill after lineage lands but before the commit marker: the lineage
    rows are on disk but uncommitted, so the docs stay pending; resume
    re-runs them and committed readers never see double events."""
    docs = synthetic_documents_df(spark, 12, seed=42, partitions=2)
    out = str(tmp_path / "crashrun2")
    run = ExtractionRun(spark, out, run_id="m1")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="before commit marker"):
        run.run(docs, micro_batches=3, _crash_before_marker=True)

    reader = ExtractionRun(spark, out, run_id="probe")
    # Raw lineage has the orphaned rows...
    raw = spark.read.parquet(f"{out}/lineage")
    assert raw.count() > 0
    # ...but the committed view hides them, so nothing counts as done.
    assert reader.attempted_doc_ids().count() == 0
    assert reader.extracted().count() == 0
    assert reader.pending(docs).count() == 12

    run2 = ExtractionRun(spark, out, run_id="m2")
    run2.run(docs, micro_batches=3)
    assert run2.extracted().count() == 12
    lin = run2.lineage().filter(F.col("event_kind") == "processed")
    assert lin.count() == 12
    assert lin.select("doc_id").distinct().count() == 12
