"""Deterministic synthetic spans-table generation.

Two generators:

- ``synthetic_documents_df``: distributed, seeded generator of the input
  table ``documents(doc_id, spans)`` covering every reference code path
  (FIXTURES.md §1): html selector/fallback/WAF/missing-h1 variants, multi-
  page PDFs with empty + malformed pages, noisy OCR, valid + invalid
  JSON/XML, media passthrough spans, non-trivial interleaves, and a skewed
  size distribution (rare oversized docs ≥100× median) for the size-class
  salting path. Generation runs inside ``mapInPandas`` over ``spark.range``
  so no driver materialization happens at any scale.
- ``spans_from_flat_documents``: wraps the driver's flat
  ``documents(doc_id,text,...)`` parquet into the spans shape using only
  native (JVM-side) expressions — used by ``__spark_entry__.entry``.
"""

from __future__ import annotations

import json
import random
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import DOCUMENTS_SCHEMA

_WORDS = (
    "the data portal query spark table row column index merge sort filter "
    "window batch stream join scan hash key value order group count patent "
    "document manifest export citation endpoint schema snapshot partition "
    "lineage metric span markdown extract content heading paragraph anchor"
).split()

def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _make_html(rng: random.Random, doc_idx: int, variant: int) -> str:
    title = f"Doc {doc_idx} {_sentence(rng, 3)}"
    paras = "".join(
        f"<p>{_sentence(rng, rng.randint(8, 30))} "
        f"<a href='/p/{rng.randint(0, 999)}.html'>{_sentence(rng, 2)}</a></p>"
        for _ in range(rng.randint(2, 6))
    )
    nav = "".join(f"<a href='/nav/{i}'>nav {i}</a>" for i in range(6))
    boiler = (
        f"<script>var t={doc_idx};</script><style>.x{{color:red}}</style>"
        f"<noscript>enable js</noscript>"
    )
    h1 = f"<h1>{title}</h1>" if variant != 6 else ""
    body_core = f"{h1}{paras}"
    if variant == 0:
        main = f"<main>{body_core}</main>"
    elif variant == 1:
        main = f"<article>{body_core}</article>"
    elif variant == 2:
        main = f"<div id='topic-content'>{body_core}</div>"
    elif variant == 3:
        main = f"<div role='main'>{body_core}</div>"
    elif variant == 4:  # no semantic container → largest-div fallback
        main = f"<div class='c1'>{body_core}</div><div class='c2'>{_sentence(rng, 4)}</div>"
    elif variant == 5:  # WAF-like interstitial (dropped by the kernel)
        return (
            "<html><head><title>Checking</title></head><body>"
            "<script src='challenge.js'></script>Request blocked</body></html>"
        )
    else:  # 6: no h1
        main = f"<main><p>{_sentence(rng, 20)}</p>{paras}</main>"
    return (
        f"<html><head><title>{title}</title>{boiler}</head>"
        f"<body><nav>{nav}</nav>{main}<footer>footer {doc_idx}</footer></body></html>"
    )


def _make_pdf_layout(rng: random.Random, pages: int, oversized: bool = False) -> str:
    out_pages: list[str] = []
    for p in range(pages):
        roll = rng.random()
        if roll < 0.15 and not oversized:
            out_pages.append("%%ERR corrupted page stream")
            continue
        if roll < 0.25 and not oversized:
            out_pages.append("   ")
            continue
        lines = []
        # Oversized docs (~100× the median ~8 KB doc) exercise skew salting:
        # 2 pages × 4500 positioned lines ≈ 800 KB.
        for row in range(4_500 if oversized else rng.randint(3, 8)):
            y = row * 12
            lines.append(f"@{y},40:{_sentence(rng, rng.randint(4, 9))}")
            if rng.random() < 0.3:
                lines.append(f"@{y},200:{_sentence(rng, 3)}")
        rng.shuffle(lines)  # reading order must be reconstructed
        out_pages.append("\n".join(lines))
    return "\f".join(out_pages)


def _make_ocr(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(4, 12)):
        words = [rng.choice(_WORDS) for _ in range(rng.randint(3, 9))]
        line = ("  " if rng.random() < 0.4 else "").join(" ".join(words).split())
        if rng.random() < 0.3:
            line += "-\n" + rng.choice(_WORDS)
        lines.append(line)
        if rng.random() < 0.3:
            lines.append("")
            if rng.random() < 0.5:
                lines.append("")
    return "\n".join(lines)


def gen_doc(doc_idx: int, seed: int = 42) -> dict[str, Any]:
    """Pure deterministic generator for one document row."""
    rng = random.Random(seed * 1_000_003 + doc_idx)
    spans: list[dict[str, Any]] = []
    offset = 0

    def add(kind: str, text: str | None, media_ref: str | None = None) -> None:
        nonlocal offset
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": offset})
        offset += rng.randint(1, 3)  # non-trivial gaps in the interleave

    oversized = doc_idx % 251 == 0  # rare ≥100× docs → skew path
    add("html", _make_html(rng, doc_idx, doc_idx % 7))
    if rng.random() < 0.6 or oversized:
        pages = 2 if oversized else rng.randint(2, 5)
        add("pdf", _make_pdf_layout(rng, pages, oversized=oversized))
    if rng.random() < 0.5:
        add("ocr", _make_ocr(rng))
    if rng.random() < 0.4:
        if rng.random() < 0.8:
            add("json", json.dumps({"doc": doc_idx, "tags": [_sentence(rng, 1)],
                                    "n": rng.randint(0, 99)}))
        else:
            add("json", "{broken json" + str(doc_idx))
    if rng.random() < 0.3:
        if rng.random() < 0.8:
            add("xml", f"<root><id>{doc_idx}</id><t>{_sentence(rng, 3)}</t></root>")
        else:
            add("xml", f"<unclosed id={doc_idx}>")
    if rng.random() < 0.35:
        add("media", None, media_ref=f"sha-{rng.getrandbits(64):016x}")
    if rng.random() < 0.3:
        add("text", _sentence(rng, rng.randint(10, 60)))
    # Shuffle the physical span order: offsets define the interleave,
    # not array position.
    rng.shuffle(spans)
    return {"doc_id": f"doc-{doc_idx:010d}", "spans": spans}


def synthetic_documents_df(spark: SparkSession, n_docs: int, seed: int = 42,
                           partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation of the input spans table."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_doc(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [r["doc_id"] for r in rows],
                 "spans": [r["spans"] for r in rows]}
            )

    return (
        spark.range(0, n_docs, 1, parts)
        .mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
    )


def spans_from_flat_documents(flat: DataFrame) -> DataFrame:
    """Wrap the driver's flat documents(doc_id,text,lang,source,n_chars)
    table into the spans shape with native expressions only (JVM-side)."""
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><script>x()</script></head><body><nav>"
              "<a href='/a'>a</a><a href='/b'>b</a></nav><main><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p></main>"
              "<footer>f</footer></body></html>"),
    )
    json_payload = F.to_json(F.struct(
        F.col("doc_id"), F.col("lang"), F.col("source"), F.col("n_chars")))
    spans = F.array(
        F.struct(F.lit("html").alias("kind"), html.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(0).alias("offset")),
        F.struct(F.lit("json").alias("kind"), json_payload.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(1).alias("offset")),
        F.struct(F.lit("media").alias("kind"),
                 F.lit(None).cast("string").alias("text"),
                 F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("media_ref"),
                 F.lit(2).alias("offset")),
        F.struct(F.lit("ocr").alias("kind"),
                 F.substring(F.col("text"), 1, 200).alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(3).alias("offset")),
    )
    return flat.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def synthetic_flat_documents_df(spark: SparkSession, n_docs: int,
                                partitions: int | None = None,
                                min_words: int = 60,
                                word_spread: int = 60) -> DataFrame:
    """Deterministic flat documents(doc_id, text, lang, source, n_chars)
    corpus generated with NATIVE expressions only — no Python in the
    path, so corpus construction itself scales like any other codegen
    projection (used by the curation endurance bench at 1.2M docs).

    Each doc is ``min_words + 1 + (id % word_spread)`` words (the
    generating ``F.sequence`` is inclusive on both ends) drawn from the
    fixed vocabulary by xxhash64 — content-unique per doc (exact dedup
    has real work) with heavy shared n-grams (repetition/contamination
    stages have real work)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    vocab = F.array(*[F.lit(w) for w in _WORDS])
    nw = len(_WORDS)
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(min_words)
                   + (F.col("id") % word_spread).cast("int")),
        lambda i: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(F.col("id"), i), F.lit(nw)) + 1).cast("int")),
    ))
    sources = F.array(F.lit("web"), F.lit("wiki"), F.lit("books"))
    return (
        spark.range(0, n_docs, 1, parts)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.element_at(sources,
                         (F.col("id") % 3 + 1).cast("int")).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )


def synthetic_events_df(spark: SparkSession, n_events: int,
                        partitions: int | None = None,
                        n_users: int = 0) -> DataFrame:
    """Deterministic events(event_id, ts, user_id, event_type, value,
    props) corpus, native expressions only (no Python in the path) —
    the big-events input for bench_temporal.py. Shape mirrors the
    driver's events.parquet: timestamps spread over ~30 days in event_id
    order (so per-user as-of scans have realistic time locality),
    user_id / event_type / value drawn by xxhash64, value in [0, 490].
    n_users defaults to n_events // 67 (the driver table's ~150 users
    per 10k events)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    users = n_users or max(1, n_events // 67)
    kinds = F.array(*[F.lit(k) for k in
                      ("click", "error", "purchase", "signup", "view")])
    step_us = (30 * 24 * 3600 * 1_000_000) // max(1, n_events)
    ts = F.timestamp_micros(
        F.lit(1704067200000000)  # 2024-01-01T00:00:00Z as epoch micros
        + F.col("id") * step_us
        + F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(step_us)))
    return (
        spark.range(0, n_events, 1, parts)
        .select(
            F.col("id").alias("event_id"),
            ts.cast("timestamp_ntz").alias("ts"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(2)),
                   F.lit(users)).alias("user_id"),
            F.element_at(
                kinds,
                (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(5)) + 1)
                .cast("int")).alias("event_type"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(49000))
             .cast("double") / 100.0).alias("value"),
            F.concat(F.lit('{"k": '),
                     F.pmod(F.xxhash64(F.col("id"), F.lit(5)), F.lit(100)),
                     F.lit("}")).alias("props"),
        )
    )
