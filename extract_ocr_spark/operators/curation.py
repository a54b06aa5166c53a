"""Training-data curation operators: the standard steps between raw
extracted text and a training corpus, each JVM-native and oracle-checked.

- ``dedup_apply``: materialize the deduplicated corpus (canonical row per
  content hash), not just the duplicate groups.
- ``split_assign``: deterministic train/val/test assignment by content
  hash (stable across runs and partitionings, no RNG state).
- ``shuffle_order``: deterministic global shuffle key for training-order
  randomization (salted hash, reproducible).
- ``contamination_check``: n-gram overlap of the corpus against an
  eval/benchmark set via an inverted shingle index (the dedup machinery
  re-aimed at decontamination).
- ``pii_scrub``: regex scrub of emails/phone-like tokens with counts.

Scale notes: every operator is one shuffle or less; the contamination
join is the inverted-index pattern (shuffle O(matching shingles), never
a cross join); split/shuffle are stateless projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import (WS_CHARS, WS_RE, md5_long, pair_sides, spread_input,
               tok_array, word_ngrams)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# -- dedup materialization ------------------------------------------------------

def norm_content_sha() -> "F.Column":
    """Normalized-content hash shared by the dedup stage and the
    curation job's flag frame (one definition so they cannot diverge)."""
    return F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), WS_RE + "+", " ")), 256)


def dedup_apply_df(docs: DataFrame) -> DataFrame:
    """Keep one canonical row (min doc_id) per normalized-content hash —
    all input columns preserved (the composable pipeline stage; the
    registry query below projects for its oracle)."""
    ranked = docs.withColumn("sha", norm_content_sha())
    keep = ranked.groupBy("sha").agg(F.min("doc_id").alias("doc_id"))
    return ranked.join(keep, ["sha", "doc_id"], "left_semi").drop("sha")


def dedup_apply(spark, sf_dir):
    """Keep one canonical row (min doc_id) per normalized-content hash."""
    return (
        dedup_apply_df(_docs(spark, sf_dir))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


DEDUP_APPLY_SQL = rf"""
WITH h AS (
  SELECT *, sha256(trim(regexp_replace(lower(text), '{WS_RE}+', ' ', 'g'))) AS sha
  FROM documents
)
SELECT doc_id, lang, source, n_chars
FROM (SELECT *, min(doc_id) OVER (PARTITION BY sha) AS keep FROM h)
WHERE doc_id = keep
ORDER BY doc_id
"""


# -- split assignment ------------------------------------------------------------

def split_assign_df(docs: DataFrame) -> DataFrame:
    """90/5/5 train/val/test by content-hash bucket: stable under
    re-partitioning, re-runs, and row order (no RNG). Adds ``bucket``
    and ``split`` columns."""
    bucket = (
        F.conv(F.substring(F.sha2(F.col("text"), 256), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return docs.withColumn("bucket", bucket).withColumn("split", split)


def split_assign(spark, sf_dir):
    """90/5/5 train/val/test by content-hash bucket (registry query)."""
    return (
        split_assign_df(_docs(spark, sf_dir))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    )


# the ONE SQL derivation of (doc_id, bucket, split) — interpolated into
# SPLIT_ASSIGN_SQL and SPLIT_LEAKAGE_SQL so the bucket rule cannot drift
_SPLIT_CTE = """sb AS (
  SELECT doc_id,
         CAST(('0x' || substring(sha256(text), 1, 8))::BIGINT % 100 AS BIGINT)
           AS bucket
  FROM documents
), sp AS (
  SELECT doc_id, bucket,
         CASE WHEN bucket < 90 THEN 'train'
              WHEN bucket < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM sb
)"""

SPLIT_ASSIGN_SQL = f"""
WITH {_SPLIT_CTE}
SELECT doc_id, bucket, split FROM sp ORDER BY doc_id
"""


# -- deterministic training shuffle ----------------------------------------------

def shuffle_order(spark, sf_dir):
    """Reproducible global shuffle: order by salted content hash. The
    orderBy is a range-partitioned sort (scales; no single reducer)."""
    docs = _docs(spark, sf_dir)
    key = F.sha2(F.concat(F.lit("epoch-1:"), F.col("doc_id").cast("string")), 256)
    return docs.select("doc_id", key.alias("shuffle_key")).orderBy("shuffle_key")


SHUFFLE_ORDER_SQL = """
SELECT doc_id, sha256('epoch-1:' || doc_id) AS shuffle_key
FROM documents ORDER BY shuffle_key
"""


# -- benchmark decontamination -----------------------------------------------------

def contamination_check(spark, sf_dir):
    """Docs sharing ≥ 5 distinct word-3-gram shingles with the eval set
    (here: doc_id < 5 stand in for a benchmark). Inverted-index join —
    the corpus is never cross-joined against the eval set.

    Scale shape: (1) hot boilerplate shingles (corpus document frequency >
    ``SHINGLE_DF_CAP``) are dropped from the corpus side before the join —
    one footer sentence shared by 10⁶ docs that also appears in the eval
    set would otherwise fan out df_corpus × df_eval join rows; the oracle
    mirrors the cap, and the (documented) cost is recall on docs whose
    overlap is *only* boilerplate. (2) the eval side is tiny relative to a
    100 TB corpus (~10⁴ benchmark docs), so it rides an explicit
    ``broadcast`` — the corpus-side shingle explosion never shuffles."""
    from .dedup import _drop_hot_shingles, _with_shingles

    docs = _with_shingles(spread_input(_docs(spark, sf_dir))).select(
        "doc_id", F.explode("shingles").alias("shingle"))
    # Eval set: docs 0-4 plus docs 100-104 — the latter stay IN the
    # corpus, modeling benchmark text that leaked into training data
    # verbatim, so the check provably fires (≥5 self-overlap rows at
    # every sf; an all-disjoint eval set would make the oracle a
    # toothless 0-vs-0 comparison).
    is_eval = (F.col("doc_id") < 5) | F.col("doc_id").between(100, 104)
    eval_set = docs.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "shingle").distinct()
    corpus = _drop_hot_shingles(docs.filter(F.col("doc_id") >= 5))
    return (
        corpus.join(F.broadcast(eval_set), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= 5)
        .orderBy("doc_id", "eval_id")
    )


def _contamination_df_cap() -> int:
    from .dedup import SHINGLE_DF_CAP

    return SHINGLE_DF_CAP


CONTAMINATION_CHECK_SQL = r"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 1),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
  FROM w WHERE len(words) >= 3
), corpus AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id >= 5
  AND shingle NOT IN (
    SELECT shingle FROM sh WHERE doc_id >= 5
    GROUP BY shingle HAVING count(*) > {CAP})
)
SELECT c.doc_id, e.eval_id, count(*) AS shared_shingles
FROM corpus c JOIN (
  SELECT DISTINCT doc_id AS eval_id, shingle FROM sh
  WHERE doc_id < 5 OR doc_id BETWEEN 100 AND 104) e
  ON c.shingle = e.shingle
GROUP BY c.doc_id, e.eval_id
HAVING count(*) >= 5
ORDER BY c.doc_id, eval_id
""".replace("{CAP}", str(_contamination_df_cap()))


# -- PII scrub ------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"


def pii_scrub(spark, sf_dir):
    """Scrub emails and phone-like tokens; report counts per doc."""
    docs = _docs(spark, sf_dir)
    n_email = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
    after_email = F.regexp_replace("text", _EMAIL_RE, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(after_email, F.lit(_PHONE_RE), 0))
    scrubbed = F.regexp_replace(after_email, _PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.substring(F.sha2(scrubbed, 256), 1, 16).alias("scrubbed_sha"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = rf"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM documents
)
SELECT doc_id, n_emails,
       len(regexp_extract_all(t1, '{_PHONE_RE}')) AS n_phones,
       substring(sha256(regexp_replace(t1, '{_PHONE_RE}', '<PHONE>', 'g')), 1, 16)
         AS scrubbed_sha
FROM s ORDER BY doc_id
"""


# -- quality filtering ------------------------------------------------------------

MIN_CHARS = 80
MIN_ALPHA_RATIO = 0.55
MAX_PUNCT_RATIO = 0.10
WORD_LEN_RANGE = (3.0, 10.0)


def quality_filter_df(docs: DataFrame) -> DataFrame:
    """Adds the four per-gate verdict columns + ``keep`` (composable
    pipeline stage; see quality_filter_apply for the gates)."""
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace("text", rf"[\w{WS_CHARS}]", ""))
    words = F.split(F.trim(F.col("text")), WS_RE + "+")
    mwl = F.length(F.concat_ws("", words)).cast("double") / F.size(words)
    ok_len = n >= MIN_CHARS
    ok_alpha = (alpha.cast("double") / n) >= MIN_ALPHA_RATIO
    ok_punct = (punct.cast("double") / n) <= MAX_PUNCT_RATIO
    ok_words = (mwl >= WORD_LEN_RANGE[0]) & (mwl <= WORD_LEN_RANGE[1])
    return docs.withColumns({
        "ok_len": ok_len, "ok_alpha": ok_alpha,
        "ok_punct": ok_punct, "ok_words": ok_words,
        "keep": ok_len & ok_alpha & ok_punct & ok_words,
    })


def quality_filter_apply(spark, sf_dir):
    """Materialize the quality-filtered corpus: the standard pre-training
    gates (length floor, alpha-ratio floor, punctuation ceiling, mean-word-
    length sanity band) applied as one JVM-native predicate, with the
    per-gate verdicts kept for auditability."""
    return (
        quality_filter_df(_docs(spark, sf_dir))
        .select("doc_id", "ok_len", "ok_alpha", "ok_punct", "ok_words", "keep")
        .orderBy("doc_id")
    )


QUALITY_FILTER_APPLY_SQL = rf"""
WITH q AS (
  SELECT doc_id,
         length(text) AS n,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[\w{WS_CHARS}]', '', 'g')) AS punct,
         length(array_to_string(regexp_split_to_array(trim(text), '{WS_RE}+'), ''))
           * 1.0 / len(regexp_split_to_array(trim(text), '{WS_RE}+')) AS mwl
  FROM documents
)
SELECT doc_id,
       n >= {MIN_CHARS} AS ok_len,
       alpha * 1.0 / n >= {MIN_ALPHA_RATIO} AS ok_alpha,
       punct * 1.0 / n <= {MAX_PUNCT_RATIO} AS ok_punct,
       (mwl >= {WORD_LEN_RANGE[0]} AND mwl <= {WORD_LEN_RANGE[1]}) AS ok_words,
       (n >= {MIN_CHARS}
        AND alpha * 1.0 / n >= {MIN_ALPHA_RATIO}
        AND punct * 1.0 / n <= {MAX_PUNCT_RATIO}
        AND mwl >= {WORD_LEN_RANGE[0]} AND mwl <= {WORD_LEN_RANGE[1]}) AS keep
FROM q ORDER BY doc_id
"""


# -- training sequence packing ------------------------------------------------------

PACK_BUDGET = 2048   # tokens per packed training sequence
PACK_SHARDS = 64     # packing shards (cluster: thousands)


def pack_sequences_df(docs: DataFrame, *, budget: int = PACK_BUDGET,
                      shards: int = PACK_SHARDS) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, shard, n_tokens, seq_id): assign
    each doc to a fixed-budget packed sequence (cumulative-token chunking
    — the standard at-scale approximation of greedy packing, since exact
    first-fit needs a sequential scan).

    Scale shape: a single global ordered cumsum would be a one-partition
    window (a scale-killer), so docs are hash-sharded first and packing is
    shard-local — every shard's window runs in parallel and a sequence
    never crosses shards (training shards are independent anyway). Output
    sequence identity is (shard, seq_id)."""
    from pyspark.sql import Window

    n_tokens = F.size(F.split(F.trim(
        F.regexp_replace("text", WS_RE + "+", " ")), " "))
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long"),
        F.lit(shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        docs.select("doc_id", n_tokens.alias("n_tokens"),
                    shard.alias("shard"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id", "shard", "n_tokens",
            F.floor((F.col("cum") - F.col("n_tokens")) / budget)
            .cast("long").alias("seq_id"))
    )


def pack_sequences(spark, sf_dir):
    return pack_sequences_df(_docs(spark, sf_dir)).orderBy("doc_id")


PACK_SEQUENCES_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(regexp_replace(text, '{WS_RE}+', ' ', 'g')), ' ')) AS n_tokens,
         CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
              % {PACK_SHARDS} AS INT) AS shard
  FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / {PACK_BUDGET}.0) AS BIGINT) AS seq_id
FROM t ORDER BY doc_id
"""


# -- stratified (per-source) deterministic sampling ----------------------------------

SAMPLE_RATES = {"web": 0.5, "wiki": 1.0, "books": 1.0, "code": 0.25}
DEFAULT_RATE = 0.1


def stratified_sample_df(docs: DataFrame, *, rates: dict | None = None,
                         default_rate: float = DEFAULT_RATE) -> DataFrame:
    """Mixture sampling: keep each doc with a per-source rate, decided by
    a deterministic content-free hash (md5 of doc_id → bucket of 10⁴), so
    the sample is reproducible across runs/partitionings and needs no RNG
    state. This is the domain-mixture step of a training-data pipeline
    (e.g. upsample wiki/books, downsample crawl). All input columns are
    preserved; a ``rate`` column is added."""
    rates = SAMPLE_RATES if rates is None else rates
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long"),
        F.lit(10_000))
    rate = F.lit(default_rate)
    for src, r in sorted(rates.items()):
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    return (
        docs.withColumn("rate", rate.cast("double"))
        .filter(bucket < F.col("rate") * 10_000)
    )


def stratified_sample(spark, sf_dir):
    return (
        stratified_sample_df(_docs(spark, sf_dir))
        .select("doc_id", "source", "rate")
        .orderBy("doc_id")
    )


_RATE_CASES = " ".join(
    f"WHEN source = '{src}' THEN {r}"
    for src, r in sorted(SAMPLE_RATES.items()))

STRATIFIED_SAMPLE_SQL = f"""
WITH s AS (
  SELECT doc_id, source,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
           % 10000 AS bucket,
         CAST(CASE {_RATE_CASES} ELSE {DEFAULT_RATE} END AS DOUBLE) AS rate
  FROM documents
)
SELECT doc_id, source, rate
FROM s WHERE bucket < rate * 10000
ORDER BY doc_id
"""


QUERIES = {
    "dedup_apply": dedup_apply,
    "split_assign": split_assign,
    "shuffle_order": shuffle_order,
    "contamination_check": contamination_check,
    "pii_scrub": pii_scrub,
    "quality_filter_apply": quality_filter_apply,
    "pack_sequences": pack_sequences,
    "stratified_sample": stratified_sample,
}

ORACLES = {
    "dedup_apply": DEDUP_APPLY_SQL,
    "split_assign": SPLIT_ASSIGN_SQL,
    "shuffle_order": SHUFFLE_ORDER_SQL,
    "contamination_check": CONTAMINATION_CHECK_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "quality_filter_apply": QUALITY_FILTER_APPLY_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
}


# --- Temperature mixture weights (alpha-sampling, XLM-R style) ---------

MIX_ALPHA = 0.5  # weight ∝ share^alpha; 0.5 = sqrt (IEEE-exact both sides)


def mixture_weights_df(docs: DataFrame) -> DataFrame:
    """Per-source temperature resampling weights: share_s = tokens_s /
    total, weight_s ∝ share_s^0.5 normalized — the multinomial
    alpha-sampling used to upweight low-resource sources when mixing a
    multi-source training corpus.

    Scale: one map-side-combined groupBy over (source) — the shuffle
    carries one slim row per source per partition — then two
    single-row aggregates over the #sources-row table, broadcast back.
    Float parity: alpha = 0.5 so share^alpha is sqrt() (IEEE-754
    correctly rounded, bit-identical in any engine), and the
    normalizer Σ sqrt folds in SOURCE-SORTED order on both sides
    (F.aggregate over a sorted array here, list_reduce over
    list(ORDER BY source) in the oracle) — a plain SUM() would add in
    engine-dependent order and could flip the 6th rounded decimal."""
    ws = F.size(F.split(F.trim(F.col("text")), WS_RE + "+"))
    per = docs.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(ws).alias("tokens"))
    tot = per.agg(F.sum("tokens").alias("total"))
    sh = (per.crossJoin(F.broadcast(tot))
          .withColumn("share", F.col("tokens") / F.col("total"))
          .withColumn("sq", F.sqrt("share")))
    den = sh.agg(F.aggregate(
        F.array_sort(F.collect_list(F.struct("source", "sq"))),
        F.lit(0.0), lambda a, x: a + x["sq"]).alias("denom"))
    return (sh.crossJoin(F.broadcast(den))
            .select("source", "docs", "tokens",
                    F.round("share", 6).alias("share"),
                    F.round(F.col("sq") / F.col("denom"), 6)
                    .alias("weight"))
            .orderBy("source"))


def mixture_weights(spark, sf_dir):
    return mixture_weights_df(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


MIXTURE_WEIGHTS_SQL = rf"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '{WS_RE}+')))
              AS BIGINT) AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per
), sh AS (
  SELECT source, docs, tokens,
         CAST(tokens AS DOUBLE) / total AS share,
         sqrt(CAST(tokens AS DOUBLE) / total) AS sq
  FROM per, tot
), den AS (
  -- fold in source-sorted order: the same float additions in the same
  -- order as the Spark plan's sorted-array aggregate
  SELECT list_reduce(list(sq ORDER BY source), (a, b) -> a + b) AS denom
  FROM sh
)
SELECT source, docs, tokens, round(share, 6) AS share,
       round(sq / denom, 6) AS weight
FROM sh, den ORDER BY source
"""

QUERIES["mixture_weights"] = mixture_weights
ORACLES["mixture_weights"] = MIXTURE_WEIGHTS_SQL


# --- Corpus report (per-source "data card" aggregate) -------------------


def corpus_report_df(docs: DataFrame) -> DataFrame:
    """Per-source corpus statistics — the "data card" a training-data
    pipeline publishes alongside a curated corpus: document/token/char
    volumes, exact-duplicate counts (normalized-content sha), the
    language mix, and mean document length.

    Numerics: every sum is an exact BIGINT; the one float op is the
    final tokens/docs division (hash-exact parity by construction).

    Scale: ONE groupBy(source) — the distinct-sha count rides the same
    shuffle (Spark plans count+countDistinct as a two-phase expand, both
    keyed on source). At 10^12 docs swap countDistinct for
    approx_count_distinct if the per-source sha cardinality strains the
    expand; the rest is map-side combinable.

    Reference analog: ExportInspection's counts-by-kind over the
    manifest (/root/reference/src/extract_ocr/export_inspect.py:9-30)
    lifted to corpus-curation fields."""
    # tok_array filters empties, so whitespace-only docs report 0 tokens
    # (split of '' yields [''] — it would inflate the published stat)
    ws = F.size(tok_array(F.trim(F.col("text")), lower=False)).cast("long")
    return (
        docs.select(
            "source", "lang",
            F.length("text").cast("long").alias("chars_"),
            ws.alias("toks"),
            norm_content_sha().alias("sha"))
        .groupBy("source")
        .agg(F.count("*").alias("docs"),
             F.sum("toks").alias("tokens"),
             F.sum("chars_").alias("chars"),
             (F.count("*") - F.countDistinct("sha")).alias("dup_docs"),
             F.array_join(F.array_sort(F.collect_set("lang")), ",")
             .alias("langs"))
        .select(
            "source", "docs", "tokens", "chars", "dup_docs", "langs",
            F.round(F.col("tokens").cast("double") / F.col("docs"), 6)
            .alias("avg_doc_tokens"))
        .orderBy("source")
    )


def corpus_report(spark, sf_dir):
    return corpus_report_df(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


CORPUS_REPORT_SQL = rf"""
WITH d AS (
  SELECT source, lang,
         length(text) AS chars_,
         len(list_filter(regexp_split_to_array(trim(text), '{WS_RE}+'),
                         t -> t != '')) AS toks,
         sha256(trim(regexp_replace(lower(text), '{WS_RE}+', ' ', 'g')))
           AS sha
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(toks) AS BIGINT) AS tokens,
       CAST(sum(chars_) AS BIGINT) AS chars,
       CAST(count(*) - count(DISTINCT sha) AS BIGINT) AS dup_docs,
       array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs,
       round(CAST(sum(toks) AS DOUBLE) / count(*), 6) AS avg_doc_tokens
FROM d GROUP BY source ORDER BY source
"""

QUERIES["corpus_report"] = corpus_report
ORACLES["corpus_report"] = CORPUS_REPORT_SQL


# --- Multi-granularity data card (CUBE + grouping_id) ---------------------


def cube_report_df(docs: DataFrame) -> DataFrame:
    """Doc/token volumes at EVERY granularity of (source, lang) in one
    pass — per cell, per source, per lang, and the corpus total — via
    CUBE with an explicit grouping_id, the multi-granularity rollup a
    data card publishes without re-scanning per level. Rolled-up
    dimensions render as '<all>' (distinguished from real values by the
    grouping bit, never by NULL-ness).

    Numerics: counts and BIGINT token sums only — hash-exact by
    construction (grouping_id bit order, source-then-lang, matches
    DuckDB's GROUPING(source, lang)).

    Scale: Catalyst plans CUBE as one Expand (4 rows per input row)
    feeding ONE map-side-combinable aggregate — the 4× blowup collapses
    inside each task before the single (source, lang, gid) exchange, so
    shuffle volume is bounded by the grouping cells, not the corpus.

    Empty-input convention: zero rows (Spark's cube over an empty input
    emits nothing; the oracle's HAVING count(*) > 0 drops the docs=0
    grand-total row ANSI CUBE would emit there — it filters nothing on
    any non-empty input, where every cube cell aggregates ≥1 row)."""
    ws = F.size(tok_array(F.trim(F.col("text")), lower=False)).cast("long")
    return (
        docs.select("source", "lang", ws.alias("toks"))
        .cube("source", "lang")
        .agg(F.grouping_id().cast("long").alias("gid"),
             F.grouping("source").alias("_gs"),
             F.grouping("lang").alias("_gl"),
             F.count("*").alias("docs"),
             F.sum("toks").alias("tokens"))
        .select(
            F.when(F.col("_gs") == 1, F.lit("<all>"))
            .otherwise(F.col("source")).alias("source"),
            F.when(F.col("_gl") == 1, F.lit("<all>"))
            .otherwise(F.col("lang")).alias("lang"),
            "gid", "docs", "tokens")
        .orderBy("gid", "source", "lang")
    )


def cube_report(spark, sf_dir):
    return cube_report_df(_docs(spark, sf_dir))


CUBE_REPORT_SQL = rf"""
WITH d AS (
  SELECT source, lang,
         len(list_filter(regexp_split_to_array(trim(text), '{WS_RE}+'),
                         t -> t != '')) AS toks
  FROM documents
)
SELECT CASE WHEN GROUPING(source) = 1 THEN '<all>' ELSE source END
         AS source,
       CASE WHEN GROUPING(lang) = 1 THEN '<all>' ELSE lang END AS lang,
       CAST(GROUPING(source, lang) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(toks) AS BIGINT) AS tokens
FROM d GROUP BY CUBE (source, lang)
HAVING count(*) > 0
ORDER BY gid, source, lang
"""

QUERIES["cube_report"] = cube_report
ORACLES["cube_report"] = CUBE_REPORT_SQL


# --- Paragraph-level dedup (CCNet-style, keep-first) ---------------------

PARA_TOKENS = 6  # paragraph block size; small enough that the synthetic
# corpus's injected duplicate runs (~5% of 5+-grams) produce real drops


def _para_blocks(docs: DataFrame, p: int = PARA_TOKENS) -> DataFrame:
    """The ONE paragraph segmentation (doc_id, n_paras, pos, para) both
    paragraph operators share — a segmentation tweak cannot silently
    desynchronize paragraph_dedup from boilerplate_lines."""
    from . import tok_array

    toks = tok_array(F.col("text"), lower=False)
    base = (docs.select("doc_id", toks.alias("toks"))
            .withColumn("n_paras",
                        F.ceil(F.size("toks") / F.lit(p)).cast("long")))
    # guard: sequence(0, -1) DESCENDS — only explode docs with ≥1 block
    return (base.filter(F.col("n_paras") > 0)
            .select("doc_id", "n_paras",
                    F.posexplode(F.transform(
                        F.sequence(F.lit(0), F.col("n_paras") - 1),
                        lambda i: F.array_join(
                            F.slice("toks", i * p + 1, p), " "))
                    ).alias("pos", "para")))


def paragraph_dedup_df(docs: DataFrame, p: int = PARA_TOKENS) -> DataFrame:
    """CCNet-style paragraph-level dedup: split each document into
    paragraphs, hash the NORMALIZED (lowercased) paragraph, and keep only
    the FIRST occurrence corpus-wide (ordered by (doc_id, position));
    rebuild each document from its surviving paragraphs in original
    order. Kept paragraphs keep their ORIGINAL casing — only the dedup
    key is case-folded, like CCNet's hash-normalized / text-preserved
    paragraph pass (inter-token whitespace does collapse to single
    spaces: token-block segmentation cannot preserve it).

    The synthetic corpus has no newlines, so "paragraph" here is a
    fixed-size block of ``p`` whitespace tokens (the segmentation is a
    pluggable seam; on real text it would split on blank lines exactly
    like CCNet's per-paragraph sha1 pass).

    Scale: documents are tokenized ONCE (the doc-list join side below
    reads only doc_id — a column-pruned scan, plan-pinned to a single
    Generate). One explode (rows ≈ tokens/p), then two shuffles: the
    sha256 window for the keep-first rank and the groupBy(doc_id)
    re-assembly (n_paras rides the exploded rows, so no doc needs a
    second tokenization). No pair joins; both keys are uniform hashes so
    no skew. At 10^12 docs the sha shuffle is the cost driver: ~17×
    fewer rows than a token shuffle, and AQE coalesces the tail.

    Reference analog: the content-sha dedupe of raw snapshots
    (/root/reference/src/extract_ocr/crawl.py sha-named response files)
    applied at sub-document granularity."""
    from pyspark.sql.window import Window

    paras = _para_blocks(docs, p)
    w = Window.partitionBy(
        F.sha2(F.lower("para"), 256)).orderBy("doc_id", "pos")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    keep = F.col("rn") == 1
    agg = ranked.groupBy("doc_id").agg(
        F.first("n_paras").alias("n_paras"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(
                F.when(keep, F.struct("pos", "para")))),
                lambda x: x["para"]), " ").alias("text_kept"))
    return (docs.select("doc_id")
            .join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("text_kept", F.lit("")).alias("text_kept")))


def paragraph_dedup(spark, sf_dir):
    # no spread_input: measured SLOWER here (0.8 s → 1.5 s) — the
    # paragraph explode is cheap and the added exchange dominates.
    return (paragraph_dedup_df(_docs(spark, sf_dir))
            .orderBy("doc_id"))


PARAGRAPH_DEDUP_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{WS_RE}+'),
                     x -> x <> '') AS toks
  FROM documents
), b AS (
  SELECT doc_id, toks,
         CAST(ceil(len(toks) / {PARA_TOKENS}.0) AS BIGINT) AS n_paras
  FROM t
), p AS (
  SELECT doc_id, n_paras, r.i AS pos,
         array_to_string(
           toks[r.i*{PARA_TOKENS}+1 : r.i*{PARA_TOKENS}+{PARA_TOKENS}],
           ' ') AS para
  FROM b, unnest(range(0, n_paras)) AS r(i)
), k AS (
  SELECT doc_id, n_paras, pos, para,
         row_number() OVER (PARTITION BY sha256(lower(para))
                            ORDER BY doc_id, pos) AS rn
  FROM p
), a AS (
  SELECT doc_id, max(n_paras) AS n_paras,
         CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
         string_agg(para, ' ' ORDER BY pos)
           FILTER (WHERE rn = 1) AS text_kept
  FROM k GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_paras, 0) AS n_paras,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.text_kept, '') AS text_kept
FROM documents d LEFT JOIN a USING (doc_id)
ORDER BY doc_id
"""

QUERIES["paragraph_dedup"] = paragraph_dedup
ORACLES["paragraph_dedup"] = PARAGRAPH_DEDUP_SQL


# --- DSIR hashed importance-resampling weights (Xie et al. 2023) ---------

DSIR_BUCKETS = 8192
DSIR_TARGET_LANG = "en"


def dsir_weights_df(docs: DataFrame, target_lang: str = DSIR_TARGET_LANG,
                    buckets: int = DSIR_BUCKETS, *,
                    _checkpoint: bool = True) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS
    2023): score every raw document by the log-likelihood ratio between
    a TARGET distribution (here: the ``lang = target_lang`` slice, the
    paper's "formal text" stand-in) and the RAW distribution, both
    modeled as hashed unigram+bigram bag-of-ngrams with add-1 smoothing
    over ``buckets`` buckets. High log_ratio = looks like the target;
    resampling by these weights is the paper's data-selection step.

    Plan shape (100 TB honest): one scan, one explode over the
    concatenated unigram+bigram feature array, one partial-aggregated
    groupBy to per-doc bucket counts (`occ`, persisted — three
    consumers: raw, tot, scored), then the raw/target distributions are
    tiny rollups of `occ` (≤ ``buckets`` rows) joined back broadcast-
    style; nothing ever carries more than O(distinct (doc, bucket)) rows.

    Float parity: bucket counts are exact BIGINTs, each per-bucket term
    is computed from the same integers on both engines, and the per-doc
    sum folds in BUCKET-SORTED order (F.aggregate over an array_sort'ed
    struct list / list_reduce over list(ORDER BY b)) — the char_entropy
    discipline — so round(6) is hash-exact, never last-ulp flaky.
    """
    # ONE scan + ONE explode: unigrams and bigrams concatenate into a
    # single feature array before exploding (a union of two selects
    # would re-read and re-tokenize the corpus per branch)
    toks = word_ngrams(docs.select(
        "doc_id", "lang", tok_array(F.col("text")).alias("w")), "w", 2, "bg")
    feats = toks.select(
        "doc_id", "lang", F.explode(F.concat("w", "bg")).alias("f"))
    occ = (feats
           .select("doc_id", "lang",
                   (md5_long(F.col("f")) % buckets).alias("b"))
           .groupBy("doc_id", "lang", "b")
           .agg(F.count("*").alias("n"))
           .persist())
    try:
        is_tgt = F.col("lang") == target_lang
        # a wrong target_lang (e.g. a case mismatch) would otherwise
        # silently degrade every log_ratio to smoothing noise
        if occ.filter(is_tgt).isEmpty():
            raise ValueError(
                f"DSIR target slice lang={target_lang!r} matched no "
                f"documents with features")
        raw = occ.groupBy("b").agg(
            F.sum("n").alias("rb"),
            F.sum(F.when(is_tgt, F.col("n")).otherwise(F.lit(0)))
            .alias("tb"))
        tot = occ.agg(
            F.sum("n").alias("r_total"),
            F.sum(F.when(is_tgt, F.col("n")).otherwise(F.lit(0)))
            .alias("t_total"))
        term = F.col("n") * (
            F.log((F.col("tb") + 1) / (F.col("t_total") + buckets))
            - F.log((F.col("rb") + 1) / (F.col("r_total") + buckets)))
        scored = (occ.join(F.broadcast(raw), "b")
                  .crossJoin(F.broadcast(tot))
                  .select("doc_id", "b", "n", term.alias("term")))
        agg = scored.groupBy("doc_id").agg(
            F.sum("n").alias("n_feats"),
            F.round(F.aggregate(
                F.array_sort(F.collect_list(F.struct("b", "term"))),
                F.lit(0.0), lambda a, x: a + x["term"]), 6)
            .alias("log_ratio"))
        # the slim per-doc result is pinned eagerly so `occ` can be
        # released here; _checkpoint=False is the plan-inspection seam
        # (localCheckpoint hides the upstream plan from .explain)
        if _checkpoint:
            agg = agg.localCheckpoint(eager=True)
    finally:
        occ.unpersist()
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
                    F.coalesce("log_ratio", F.lit(0.0)).alias("log_ratio")))


def dsir_weights(spark, sf_dir):
    return dsir_weights_df(spread_input(_docs(spark, sf_dir))).orderBy("doc_id")


DSIR_WEIGHTS_SQL = rf"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x != '') AS toks
  FROM documents
), uni AS (
  SELECT doc_id, lang, unnest(toks) AS f FROM w
), bi AS (
  SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS f
  FROM w, unnest(range(1, len(toks))) AS t(i)
  WHERE len(toks) >= 2
), feats AS (
  SELECT * FROM uni UNION ALL SELECT * FROM bi
), occ AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(f), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM feats GROUP BY doc_id, lang, b
), raw AS (
  SELECT b, CAST(sum(n) AS BIGINT) AS rb,
         CAST(coalesce(sum(n) FILTER (WHERE lang = '{DSIR_TARGET_LANG}'),
                       0) AS BIGINT) AS tb
  FROM occ GROUP BY b
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS r_total,
         CAST(coalesce(sum(n) FILTER (WHERE lang = '{DSIR_TARGET_LANG}'),
                       0) AS BIGINT) AS t_total
  FROM occ
), terms AS (
  SELECT occ.doc_id, occ.b, occ.n,
         occ.n * (ln(CAST(raw.tb + 1 AS DOUBLE)
                     / (tot.t_total + {DSIR_BUCKETS}))
                  - ln(CAST(raw.rb + 1 AS DOUBLE)
                       / (tot.r_total + {DSIR_BUCKETS}))) AS term
  FROM occ JOIN raw USING (b) CROSS JOIN tot
), agg AS (
  -- fold in bucket-sorted order: the same float additions in the same
  -- order as the Spark plan's sorted-array aggregate
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
         round(list_reduce(list_prepend(0.0, list(term ORDER BY b)),
                           (a, x) -> a + x), 6) AS log_ratio
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.n_feats, 0) AS n_feats,
       coalesce(agg.log_ratio, 0.0) AS log_ratio
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""

QUERIES["dsir_weights"] = dsir_weights
ORACLES["dsir_weights"] = DSIR_WEIGHTS_SQL


# --- Per-source token-length quantiles (data-card staple) ----------------


def length_quantiles_df(docs: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 of per-doc whitespace-token counts per source —
    the length distribution every data card reports and every
    pack/chunk budget is tuned against.

    Exactness over approximation: Spark's percentile_approx (and any
    t-digest) is engine-specific and can never be oracle-checked, so
    this takes the KMV route — the quantile is the value at integer
    rank ceil(q*n) under a total (tokens, doc_id) order, computed with
    pure integer arithmetic (ceil(q*n) as (num*n + den - 1) div den —
    no float q*n whose last ulp could flip the rank). Zero floats in
    the output.

    Scale: one groupBy-free projection for token counts, ONE shuffle on
    source for the rank window, and the final conditional aggregate
    rides the window's partitioning. Per-source sort is the inherent
    cost of exact quantiles; a 100 TB variant with huge sources would
    swap in percentile_approx and give up the oracle, not the shuffle."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "source", "doc_id", F.size(tok_array(F.col("text"))).alias("tokens"))
    w = Window.partitionBy("source").orderBy("tokens", "doc_id")
    wn = Window.partitionBy("source")
    ranked = (toks.withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count("*").over(wn)))

    def rank_at(num: int, den: int):
        # ceil(num*n/den) in exact integer arithmetic (`div`, not
        # float-/ + floor, whose double quotient can cross an integer
        # boundary past ~2^47 docs)
        return F.expr(f"(n * {num} + {den} - 1) div {den}")

    def q_at(num: int, den: int):
        return F.max(F.when(F.col("rn") == rank_at(num, den),
                            F.col("tokens")))

    return (ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        q_at(1, 2).alias("p50_tokens"),
        q_at(9, 10).alias("p90_tokens"),
        q_at(99, 100).alias("p99_tokens"),
    ).orderBy("source"))


def length_quantiles(spark, sf_dir):
    return length_quantiles_df(_docs(spark, sf_dir))


LENGTH_QUANTILES_SQL = rf"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                         x -> x != '')) AS tokens
  FROM documents
), r AS (
  SELECT source, tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY tokens, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       max(CASE WHEN rn = (n * 1 + 1) // 2 THEN tokens END) AS p50_tokens,
       max(CASE WHEN rn = (n * 9 + 9) // 10 THEN tokens END) AS p90_tokens,
       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN tokens END) AS p99_tokens
FROM r GROUP BY source ORDER BY source
"""

QUERIES["length_quantiles"] = length_quantiles
ORACLES["length_quantiles"] = LENGTH_QUANTILES_SQL


# -- HDR-histogram quantile sketch (mergeable, sort-free) -----------------

# sub-bucket resolution: values keep their top (HDR_SUB_BITS + 1)
# significant bits, so a bucket's width is < value / 2^HDR_SUB_BITS and
# any quantile estimate carries ≤ 1/2^HDR_SUB_BITS relative error
HDR_SUB_BITS = 3

# the shift that drops everything below the top (HDR_SUB_BITS + 1)
# significant bits: length(bin(v)) is the exact integer bit length on
# BOTH engines (a string op — no float log2 whose last ulp could flip a
# bucket at an octave boundary), and v >> sh << sh is the bucket floor
_HDR_SH = f"greatest(length(bin(v)) - {HDR_SUB_BITS + 1}, 0)"


def hdr_bucket_bounds() -> tuple["F.Column", "F.Column"]:
    """(lb, ub) bucket-bound expressions over a non-negative BIGINT
    column named ``v`` — THE one bucket definition (hdr_cells_df and its
    SQL twin both derive from _HDR_SH), split out so the property test
    can drive it across the full 64-bit range, where no token-count
    fixture can reach."""
    lb = F.expr(f"shiftleft(shiftright(v, {_HDR_SH}), {_HDR_SH})")
    # the 1 must be BIGINT: shiftleft on an INT literal wraps at sh >= 31
    # (values with >= 35-bit token counts would get ub < lb); and the -1
    # must bind to the width BEFORE adding lb, or the top bucket of the
    # 63-bit octave overflows BIGINT (ANSI error) at lb + width = 2^63
    width = F.expr(f"shiftleft(cast(1 as bigint), {_HDR_SH})").cast("long")
    return lb.cast("long"), (lb + (width - 1)).cast("long")


def hdr_cells_df(docs: DataFrame) -> DataFrame:
    """(source, lb, ub, cnt) HdrHistogram cells over per-doc token
    counts: each value keeps its top HDR_SUB_BITS+1 significant bits
    (pure integer bit ops), so there are at most 2^HDR_SUB_BITS buckets
    per octave — ≤ ~512 cells per source for any 64-bit value range.
    Cells are ADDITIVE (a groupBy count), so sketches merge by summing
    cnt per (source, lb, ub) — the partial_agg_merge property that lets
    10^12-doc shards sketch independently and combine."""
    toks = docs.select(
        "source", F.size(tok_array(F.col("text"))).cast("long").alias("v"))
    lb, ub = hdr_bucket_bounds()
    return (toks.select("source", lb.alias("lb"), ub.alias("ub"))
            .groupBy("source", "lb", "ub")
            .agg(F.count("*").alias("cnt")))


def hdr_quantiles_df(docs: DataFrame) -> DataFrame:
    """Approximate p50/p90/p99 of per-doc token counts per source from
    the HDR cell sketch — the sort-free twin of ``length_quantiles``:
    the exact query pays a full per-source sort of the corpus; this
    shuffles only bounded (source, lb, ub, cnt) cells and bounds the
    true quantile inside [p_lo, p_hi] with ≤ 1/2^HDR_SUB_BITS relative
    error (the containment is pinned against length_quantiles in
    tests). The quantile rank is the same exact-integer ceil(q*n) used
    by the exact query; every output is BIGINT, so oracle parity holds
    by construction.

    Scale: one groupBy on (source, lb, ub) — map-side combinable — then
    windows over ≤ ~512-row per-source frames. Nothing corpus-sized is
    sorted, windowed, or joined."""
    from pyspark.sql.window import Window

    cells = hdr_cells_df(docs)
    w = (Window.partitionBy("source").orderBy("lb")
         .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy("source")
    c = (cells.withColumn("cum", F.sum("cnt").over(w))
         .withColumn("n", F.sum("cnt").over(wn)))

    def pick(col: str, num: int, den: int):
        # first cell whose cumulative count reaches rank ceil(num*n/den);
        # cells are disjoint ordered ranges, so min(lb) and min(ub) over
        # the candidates land on the SAME cell. Integer `div`, not
        # float-/ + floor: past ~2^47 docs the double quotient can cross
        # an integer boundary and pick the wrong cell
        rank = F.expr(f"(n * {num} + {den} - 1) div {den}")
        return F.min(F.when(F.col("cum") >= rank, F.col(col)))

    return (c.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        pick("lb", 1, 2).alias("p50_lo"), pick("ub", 1, 2).alias("p50_hi"),
        pick("lb", 9, 10).alias("p90_lo"), pick("ub", 9, 10).alias("p90_hi"),
        pick("lb", 99, 100).alias("p99_lo"),
        pick("ub", 99, 100).alias("p99_hi"),
    ).orderBy("source"))


def hdr_quantiles(spark, sf_dir):
    return hdr_quantiles_df(_docs(spark, sf_dir))


# the ONE SQL twin of hdr_cells_df's (source, lb, ub, cnt) build —
# interpolated into HDR_QUANTILES_SQL and QUANTILE_NORMALIZE_SQL so the
# bucket scaffolding cannot drift between the two sketch consumers
_HDR_SRC_CELLS_SQL = f"""SELECT source,
         (v >> {_HDR_SH}) << {_HDR_SH} AS lb,
         ((v >> {_HDR_SH}) << {_HDR_SH})
           + (((1::BIGINT) << {_HDR_SH}) - 1) AS ub,
         count(*) AS cnt
  FROM t GROUP BY 1, 2, 3"""

HDR_QUANTILES_SQL = rf"""
WITH t AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                              x -> x != '')) AS BIGINT) AS v
  FROM documents
), c AS (
  {_HDR_SRC_CELLS_SQL}
), r AS (
  SELECT source, lb, ub,
         sum(cnt) OVER (PARTITION BY source ORDER BY lb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM c
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN lb END) AS BIGINT)
         AS p50_lo,
       CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN ub END) AS BIGINT)
         AS p50_hi,
       CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lb END) AS BIGINT)
         AS p90_lo,
       CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN ub END) AS BIGINT)
         AS p90_hi,
       CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END) AS BIGINT)
         AS p99_lo,
       CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN ub END) AS BIGINT)
         AS p99_hi
FROM r GROUP BY source ORDER BY source
"""

QUERIES["hdr_quantiles"] = hdr_quantiles
ORACLES["hdr_quantiles"] = HDR_QUANTILES_SQL


# -- Cross-source quantile normalization (sketch-aligned) -----------------
#
# The feature-normalization step for mixing heterogeneous sources: a
# "long" doc from a short-form source and a "long" doc from a book
# source sit at the same within-source percentile but wildly different
# raw token counts; training mixtures that threshold on raw counts
# systematically over-prune some sources. quantile_normalize maps each
# doc's within-source percentile onto the GLOBAL distribution — the
# value bounds the corpus-wide HDR sketch assigns to that percentile —
# so per-source thresholds can be stated once, globally.
#
# Scale shape: the within-source rank is a per-source window (the
# documented exact-path trade length_quantiles already makes); the
# GLOBAL side never sorts the corpus — it is the bounded (≤ ~512-cell)
# HDR sketch, cumulated in one tiny SinglePartition window and joined
# back by range as a bounded broadcast (the partition_skew_report BNLJ
# class; a global exact rank would be the 10^12-doc sort this operator
# exists to avoid). Every output is exact BIGINT (ranks, bp, bucket
# bounds) — hash-exact by construction.

def quantile_normalize_df(docs: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id", "source",
        F.size(tok_array(F.col("text"))).cast("long").alias("v"))
    ws = Window.partitionBy("source").orderBy("v", "doc_id")
    wn = Window.partitionBy("source")
    per = (toks.withColumn("rk", F.row_number().over(ws))
           .withColumn("n", F.count("*").over(wn))
           .withColumn("pct_bp", F.when(
               F.col("n") > 1,
               # rk is INT (row_number); widen BEFORE the *10000 or the
               # product overflows past ~2^31/10^4 rows per source
               F.expr("((cast(rk as bigint) - 1) * 10000) div (n - 1)"))
               .otherwise(F.lit(0)).cast("long")))
    # the global sketch is the per-source sketch MERGED — the cell
    # additivity hdr_cells_df advertises; the cell construction lives in
    # exactly one place
    cells = (hdr_cells_df(docs).groupBy("lb", "ub")
             .agg(F.sum("cnt").alias("cnt")))
    wg = Window.orderBy("lb").rowsBetween(Window.unboundedPreceding, 0)
    g = (cells.withColumn("cum", F.sum("cnt").over(wg))
         .withColumn("cum_lo", F.col("cum") - F.col("cnt")))
    # total from the window-free cells frame, not g — deriving it
    # through g would hang a second SinglePartition window off the
    # 1-row aggregate branch
    n_total = cells.select(F.sum("cnt").alias("nt"))
    per = (per.crossJoin(F.broadcast(n_total))
           .withColumn("gr", F.expr(
               "(pct_bp * (nt - 1)) div 10000 + 1")))
    out = (per.join(
        F.broadcast(g),
        (F.col("gr") > F.col("cum_lo")) & (F.col("gr") <= F.col("cum")))
        .select("doc_id", "source", F.col("v").alias("n_tok"),
                "pct_bp", F.col("lb").alias("norm_lo"),
                F.col("ub").alias("norm_hi")))
    return out


def quantile_normalize(spark, sf_dir):
    return quantile_normalize_df(_docs(spark, sf_dir)).orderBy("doc_id")


QUANTILE_NORMALIZE_SQL = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                              x -> x != '')) AS BIGINT) AS v
  FROM documents
), per AS (
  SELECT doc_id, source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
), pct AS (
  SELECT doc_id, source, v,
         CASE WHEN n > 1 THEN ((rk - 1) * 10000) // (n - 1)
              ELSE 0 END AS pct_bp
  FROM per
), sc AS (
  {_HDR_SRC_CELLS_SQL}
), c AS (
  SELECT lb, ub, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM sc GROUP BY lb, ub
), g AS (
  SELECT lb, ub, cnt,
         sum(cnt) OVER (ORDER BY lb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM c
), g2 AS (
  SELECT lb, ub, CAST(cum AS BIGINT) AS cum,
         CAST(cum - cnt AS BIGINT) AS cum_lo
  FROM g
), nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM c)
SELECT p.doc_id, p.source, p.v AS n_tok,
       CAST(p.pct_bp AS BIGINT) AS pct_bp,
       g2.lb AS norm_lo, g2.ub AS norm_hi
FROM pct p CROSS JOIN nt
JOIN g2 ON (p.pct_bp * (nt.nt - 1)) // 10000 + 1 > g2.cum_lo
       AND (p.pct_bp * (nt.nt - 1)) // 10000 + 1 <= g2.cum
ORDER BY p.doc_id
"""

QUERIES["quantile_normalize"] = quantile_normalize
ORACLES["quantile_normalize"] = QUANTILE_NORMALIZE_SQL


# -- Train/val/test near-dup leakage audit --------------------------------
#
# The eval-integrity check every split ships with: near-duplicate pairs
# (the production word-3-gram Jaccard >= 1/2 rule, capped pair engine)
# whose members land in DIFFERENT splits — each one is a doc the model
# effectively trains on AND is evaluated on. Two structural facts the
# docstring owes the reader: (1) raw-identical duplicates can NEVER
# cross splits here — the split bucket is a hash of the content itself
# (split_assign_df), so exact-dup leakage is impossible by
# construction; (2) normalized-equal variants (case/whitespace) have
# shingle Jaccard 1.0 and are caught by this channel, so the near-dup
# rule subsumes the normalized-exact one. What remains — and what this
# reports — is the genuinely paraphrase/near-dup leakage content-hash
# splitting cannot prevent; the remedy is cluster-level splitting
# (assign whole neardup_clusters to one split), and this query is the
# audit that says whether you need it.
#
# Output: per unordered split pair, the leaking-pair count and the
# worst (max) Jaccard. Integer counts; the jaccard is one division +
# round(6) on exact integers (the ngram_jaccard form). Scale: the
# capped shingle pairs (``operators.key_pairs``), the map-only split
# attached to both members by ``pair_sides``; the rollup is ≤ 3 rows.

from .dedup import JACCARD_THRESHOLD as _LEAK_TAU  # noqa: E402

_LEAK_TAU_NUM, _LEAK_TAU_DEN = 1, 2
assert _LEAK_TAU_NUM / _LEAK_TAU_DEN == _LEAK_TAU


def split_leakage_check_df(docs: DataFrame) -> DataFrame:
    from ..operators.dedup import _capped_pair_intersections

    sp = split_assign_df(docs).select("doc_id", "split")
    pr = _capped_pair_intersections(docs)
    j_ok = (F.col("shared") * _LEAK_TAU_DEN
            >= (F.col("n_a") + F.col("n_b") - F.col("shared"))
            * _LEAK_TAU_NUM)
    jac = F.round(F.col("shared")
                  / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6)
    x = (pair_sides(pr.filter(j_ok), sp, "split")
         .filter(F.col("split_a") != F.col("split_b"))
         .select(F.least("split_a", "split_b").alias("split_lo"),
                 F.greatest("split_a", "split_b").alias("split_hi"),
                 jac.alias("jaccard")))
    return (x.groupBy("split_lo", "split_hi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.max("jaccard").alias("max_jaccard"))
            .orderBy("split_lo", "split_hi"))


def split_leakage_check(spark, sf_dir):
    return split_leakage_check_df(spread_input(_docs(spark, sf_dir)))


def _split_leakage_sql() -> str:
    from .dedup import _PAIR_CTE

    return _PAIR_CTE + f"""
, {_SPLIT_CTE}
, x AS (
  SELECT least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi,
         round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
  FROM p JOIN sp sa ON sa.doc_id = p.a_id
         JOIN sp sb ON sb.doc_id = p.b_id
  WHERE sa.split <> sb.split
    AND inter * {_LEAK_TAU_DEN} >= (na + nb - inter) * {_LEAK_TAU_NUM}
)
SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
       max(jaccard) AS max_jaccard
FROM x GROUP BY 1, 2 ORDER BY 1, 2
"""


SPLIT_LEAKAGE_SQL = _split_leakage_sql()

QUERIES["split_leakage_check"] = split_leakage_check
ORACLES["split_leakage_check"] = SPLIT_LEAKAGE_SQL


# -- Per-source token-budget sampling ------------------------------------------

# Per-source token budget for mixture construction. At sf0.01 the source
# totals span 1136-1553 tokens, so 1200 leaves some sources fully kept
# and most truncated mid-stream — both branches of the rule are
# exercised by the oracle row set.
TOKEN_BUDGET = 1200


def token_budget_sample_df(docs: DataFrame, *,
                           ordered: bool = True) -> DataFrame:
    """Deterministic per-source token-budget selection: order each
    source's documents by md5(doc_id) (a stable, seedless shuffle), take
    the running token total, and keep documents while the cumulative
    count stays within TOKEN_BUDGET. This is the budgeted-mixture step a
    training-corpus assembly runs per source/domain (cf. the reference's
    max_pages cap O1 — same semantics, token-denominated and per-group).

    Scale shape: one shuffle on source for the window; the cumulative
    sum is a single ordered pass within each source partition, and all
    arithmetic is exact integers (token counts, running totals — no
    float weights to reconcile). Sources are the parallelism axis at
    corpus scale; a pathologically large single source is the same skew
    problem as any window and would be salted upstream (the budget rule
    composes: sub-budgets per salt summing to the source budget)."""
    from pyspark.sql.window import Window

    t = docs.select(
        "doc_id", "source",
        F.size(tok_array(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    w = (Window.partitionBy("source").orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
           .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
           .select("doc_id", "source", "n_tokens", "cum_tokens"))
    return out.orderBy("doc_id") if ordered else out


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_sample_df(_docs(spark, sf_dir))


TOKEN_BUDGET_SAMPLE_SQL = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
              '{WS_RE}+'), x -> x != '')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
ORDER BY doc_id
"""

QUERIES["token_budget_sample"] = token_budget_sample
ORACLES["token_budget_sample"] = TOKEN_BUDGET_SAMPLE_SQL


# -- Weighted sampling without replacement (A-Res / Efraimidis-Spirakis) -------

WSAMPLE_K = 20
# 52-bit md5 prefix → an exact dyadic uniform in (0, 0.5]; both endpoints
# avoided so ln() is finite and never exactly 0
_WSAMPLE_DENOM = float(2 ** 53)


def weighted_sample_df(docs: DataFrame, k: int = WSAMPLE_K) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis A-Res): each doc gets key = ln(u)/w with u an md5-derived
    uniform and w its char-length weight; the top-k keys are exactly a
    weighted sample. No RNG state — the sample is a pure function of the
    corpus, so it is reproducible across retries, engines and cluster
    sizes (the property a 100-TB training-mix pipeline actually needs;
    rand()-based sampling is partition-order-dependent under retries).

    Scale shape: one codegen projection computes the keys, and the top-k
    is a TakeOrderedAndProject (per-partition heaps + one driver merge of
    k·P rows) — never a global sort."""
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
               16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(_WSAMPLE_DENOM)
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.log(u) / w
    return (docs.select("doc_id", "source", "n_chars",
                        F.round(key, 6).alias("sample_key"))
            .orderBy(F.col("sample_key").desc(), "doc_id")
            .limit(k))


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_sample_df(_docs(spark, sf_dir))


WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(
           ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               + 1) / {_WSAMPLE_DENOM!r})
           / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS sample_key
  FROM documents
)
SELECT * FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {WSAMPLE_K}
"""

QUERIES["weighted_sample"] = weighted_sample
ORACLES["weighted_sample"] = WEIGHTED_SAMPLE_SQL


# -- T5-style span-corruption masking plan -------------------------------------

SPAN_START_MOD = 7   # ~1/7 of positions seed a span
SPAN_LEN_MOD = 3     # seeded span covers 1-3 tokens


def span_corruption_plan_df(docs: DataFrame) -> DataFrame:
    """Deterministic T5/UL2-style span-corruption PLAN: for every doc,
    the merged token spans that a denoising objective would mask.
    Span seeds and lengths come from an md5 hash of (doc_id, position)
    — no RNG state, so the plan is identical across retries, engines
    and cluster sizes (rand()-based masking re-rolls per task retry and
    can never be oracle-checked). Overlapping/adjacent seeded spans
    merge via gaps-and-islands, exactly like the substring-dedup
    operator merges duplicate runs.

    Scale shape: positions explode to one slim (doc_id, pos) row per
    token, then TWO windows — a running max of seeded span ends (the
    interval-merge trick: masked ⇔ cum_end ≥ pos) and the island
    numbering — share ONE doc_id partitioning (a single exchange; both
    sort within the same shuffle), and the final rollup is one
    aggregate per island. Everything is integer arithmetic in
    whole-stage codegen."""
    from pyspark.sql import Window

    from . import md5_long

    n = F.size(F.split(F.trim(F.col("text")), WS_RE + "+"))
    base = (docs.select("doc_id", n.alias("n_toks"))
            .filter(F.col("n_toks") >= 1)
            .select("doc_id", "n_toks",
                    F.explode(F.sequence(F.lit(0), F.col("n_toks") - 1))
                    .alias("pos")))
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                          F.col("pos").cast("string")))
    seeded = base.withColumn(
        "span_end",
        F.when(h % SPAN_START_MOD == 0,
               F.least(F.col("pos") + h % SPAN_LEN_MOD,
                       F.col("n_toks") - 1))
        .otherwise(F.lit(-1)))
    w_cum = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    masked = (seeded
              .withColumn("cum_end", F.max("span_end").over(w_cum))
              .filter(F.col("cum_end") >= F.col("pos")))
    w_rn = Window.partitionBy("doc_id").orderBy("pos")
    return (masked
            .withColumn("island", F.col("pos")
                        - F.row_number().over(w_rn))
            .groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("pos").alias("span_end"),
                 F.count("*").alias("span_len"))
            .select("doc_id", "span_start", "span_end", "span_len")
            .orderBy("doc_id", "span_start"))


def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_corruption_plan_df(_docs(spark, sf_dir))


SPAN_CORRUPTION_PLAN_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '{WS_RE}+')) AS n_toks
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '{WS_RE}+')) >= 1
), pos AS (
  SELECT doc_id, n_toks, CAST(p AS BIGINT) AS pos
  FROM toks, unnest(range(0, n_toks)) AS t(p)
), seeded AS (
  SELECT doc_id, pos,
         CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
                    || CAST(pos AS VARCHAR)), 1, 15))::BIGINT
                   % {SPAN_START_MOD} = 0
              THEN least(pos + ('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                    || ':' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT
                    % {SPAN_LEN_MOD}, n_toks - 1)
              ELSE -1 END AS span_end
  FROM pos
), masked AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos,
               max(span_end) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_end
        FROM seeded)
  WHERE cum_end >= pos
), islands AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS island
  FROM masked
)
SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
       count(*) AS span_len
FROM islands GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""

QUERIES["span_corruption_plan"] = span_corruption_plan
ORACLES["span_corruption_plan"] = SPAN_CORRUPTION_PLAN_SQL


# -- Domain + term blocklist filter (RefinedWeb/UT1-style) ---------------------

BLOCK_DOMAINS = ("src3", "src7", "src11")
BLOCK_TERMS = ("slow", "hash")
BLOCK_PCT = 8  # word-block when blocked tokens exceed 8% of the doc


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate the big crawl curations run first (RefinedWeb's
    UT1 domain blocklist + soft word-blocklist): a document is dropped
    outright when its source domain is on the blocklist, else when
    blocklisted terms exceed BLOCK_PCT of its tokens. Emits every doc
    with (status, blocked_n, total_n) so the decision is auditable —
    the fraction stays an exact integer pair, never a float.

    Scale shape: MAP-ONLY — the domain set and term set are literal
    IN-lists in one codegen projection (a real UT1 list at ~4M domains
    would switch to a broadcast join on the registered-domain key; the
    term scan stays a map-side array filter either way). No shuffle
    but the presentation sort."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (docs
           .withColumn("toks", tok_array(F.col("text")))
           .withColumn("total_n", F.size("toks").cast("long"))
           .withColumn(
               "blocked_n",
               F.size(F.filter(
                   "toks",
                   lambda x: x.isin(list(BLOCK_TERMS)),
               )).cast("long"))
           .withColumn(
               "status",
               F.when(F.col("source").isin(list(BLOCK_DOMAINS)),
                      F.lit("domain_blocked"))
               .when(F.col("blocked_n") * 100
                     > F.col("total_n") * BLOCK_PCT,
                     F.lit("word_blocked"))
               .otherwise(F.lit("kept"))))
    return (out.select("doc_id", "source", "status",
                       "blocked_n", "total_n")
            .orderBy("doc_id"))


BLOCKLIST_FILTER_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                         x -> x <> '')) AS BIGINT) AS total_n,
    CAST(len(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
      x -> x IN {BLOCK_TERMS})) AS BIGINT) AS blocked_n
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN source IN {BLOCK_DOMAINS} THEN 'domain_blocked'
            WHEN blocked_n * 100 > total_n * {BLOCK_PCT}
              THEN 'word_blocked'
            ELSE 'kept' END AS status,
       blocked_n, total_n
FROM t ORDER BY doc_id
"""

QUERIES["blocklist_filter"] = blocklist_filter
ORACLES["blocklist_filter"] = BLOCKLIST_FILTER_SQL


# -- k_anonymity: quasi-identifier group-size audit ----------------------------

K_ANON_K = 5
K_ANON_CHAR_BUCKET = 100


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the release quasi-identifiers (lang,
    source, length bucket): every equivalence class with fewer than
    K_ANON_K members is a re-identification risk the privacy review of
    a published training corpus must enumerate. Output: every class
    with its size and an at_risk flag — all exact integers.

    Scale shape: one partial-aggregatable groupBy on the class key;
    the bucket floor-division keeps the key low-cardinality, so the
    aggregate state is bounded by the class space, not the corpus."""
    docs = _docs(spark, sf_dir)
    bucket = (F.floor(F.col("n_chars") / K_ANON_CHAR_BUCKET)
              .cast("long") * K_ANON_CHAR_BUCKET)
    return (docs.groupBy(F.col("lang"), F.col("source"),
                         bucket.alias("chars_bucket"))
            .agg(F.count("*").alias("class_size"))
            .select("lang", "source", "chars_bucket", "class_size",
                    (F.col("class_size") < K_ANON_K).alias("at_risk"))
            .orderBy("lang", "source", "chars_bucket"))


K_ANONYMITY_SQL = f"""
SELECT lang, source,
       (n_chars // {K_ANON_CHAR_BUCKET}) * {K_ANON_CHAR_BUCKET}
         AS chars_bucket,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < {K_ANON_K} AS at_risk
FROM documents
GROUP BY 1, 2, 3
ORDER BY lang, source, chars_bucket
"""

QUERIES["k_anonymity"] = k_anonymity
ORACLES["k_anonymity"] = K_ANONYMITY_SQL


# -- Fill-in-the-middle split plan (Bavarian et al. 2022) ----------------------

FIM_RATE_MOD = 2     # apply FIM to ~1/2 of docs (hash parity, no RNG)
FIM_HEAD_CHARS = 48  # oracle-checked head of the reordered PSM string


def fim_plan_df(docs: DataFrame) -> DataFrame:
    """Deterministic fill-in-the-middle (FIM, Bavarian et al. 2022)
    transformation plan — the code-LLM data-prep step: for ~1/2 of
    docs (md5 parity on doc_id, never rand() — task retries would
    re-roll it), pick two character split points u, v from md5 hashes
    of (doc_id, salt), reorder the doc as PSM
    (prefix ⧺ suffix ⧺ middle) and emit the three segment lengths plus
    the head of the reordered string, so the transform itself — not
    just the split arithmetic — is oracle-checked. Unselected docs
    pass through (prefix = whole doc).

    Scale shape: map-only — one projection over the corpus scan, no
    exchange, no Python; all split arithmetic is integer/codegen and
    the reorder is three substrings. Spark and DuckDB substring share
    1-based, char-counted, zero-length-safe semantics."""
    from . import md5_long

    n = F.length("text")
    sid = F.col("doc_id").cast("string")
    fim = (md5_long(F.concat(sid, F.lit(":fim"))) % FIM_RATE_MOD) == 0
    u = md5_long(F.concat(sid, F.lit(":u"))) % (n + 1)
    v = md5_long(F.concat(sid, F.lit(":v"))) % (n + 1)
    lo = F.least(u, v)
    hi = F.greatest(u, v)
    psm = F.concat(
        F.substring(F.col("text"), F.lit(1), lo),
        F.lit("<FIM_SUF>"),
        F.substring(F.col("text"), hi + 1, n - hi),
        F.lit("<FIM_MID>"),
        F.substring(F.col("text"), lo + 1, hi - lo))
    return docs.select(
        "doc_id",
        fim.alias("fim_applied"),
        F.when(fim, lo).otherwise(n).cast("long").alias("prefix_len"),
        F.when(fim, hi - lo).otherwise(F.lit(0)).cast("long")
        .alias("middle_len"),
        F.when(fim, n - hi).otherwise(F.lit(0)).cast("long")
        .alias("suffix_len"),
        F.when(fim, F.substring(psm, 1, FIM_HEAD_CHARS))
        .otherwise(F.substring(F.col("text"), 1, FIM_HEAD_CHARS))
        .alias("head"),
    ).orderBy("doc_id")


def fim_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fim_plan_df(_docs(spark, sf_dir))


def _md5_15(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


FIM_PLAN_SQL = rf"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         {_md5_15("CAST(doc_id AS VARCHAR) || ':fim'")}
           % {FIM_RATE_MOD} = 0 AS fim,
         least({_md5_15("CAST(doc_id AS VARCHAR) || ':u'")} % (length(text) + 1),
               {_md5_15("CAST(doc_id AS VARCHAR) || ':v'")} % (length(text) + 1))
           AS lo,
         greatest({_md5_15("CAST(doc_id AS VARCHAR) || ':u'")} % (length(text) + 1),
                  {_md5_15("CAST(doc_id AS VARCHAR) || ':v'")} % (length(text) + 1))
           AS hi
  FROM documents
)
SELECT doc_id,
       fim AS fim_applied,
       CAST(CASE WHEN fim THEN lo ELSE n END AS BIGINT) AS prefix_len,
       CAST(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT) AS middle_len,
       CAST(CASE WHEN fim THEN n - hi ELSE 0 END AS BIGINT) AS suffix_len,
       CASE WHEN fim
            THEN substring(
              substring(text, 1, lo) || '<FIM_SUF>'
              || substring(text, hi + 1, n - hi) || '<FIM_MID>'
              || substring(text, lo + 1, hi - lo),
              1, {FIM_HEAD_CHARS})
            ELSE substring(text, 1, {FIM_HEAD_CHARS}) END AS head
FROM base
ORDER BY doc_id
"""

QUERIES["fim_plan"] = fim_plan
ORACLES["fim_plan"] = FIM_PLAN_SQL


# -- Corpus-frequency boilerplate removal (CCNet/RefinedWeb line filter) -------

BOILER_MIN_DF = 3  # a paragraph present in ≥3 distinct docs is boilerplate


def boilerplate_lines_df(docs: DataFrame,
                         p: int = PARA_TOKENS,
                         min_df: int = BOILER_MIN_DF) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: drop from EVERY
    document any paragraph whose corpus document-frequency reaches
    ``min_df`` (nav bars, cookie banners, footers — content that
    repeats across pages). The complement of paragraph_dedup's
    keep-first rule: dedup keeps one copy of a repeated paragraph,
    this removes all copies once it looks templated. Shares the exact
    segmentation via _para_blocks.

    Scale shape: one tokenize + explode, a (sha → distinct-doc df)
    aggregate — vocabulary-sized, NO broadcast hint (paragraph
    vocabulary grows with the corpus: Heaps' law, the tfidf lesson;
    AQE may broadcast when it measures small) — joined back on the
    uniform sha key, then one groupBy(doc_id) re-assembly. No pair
    joins, no skew (hash keys), nothing driver-side."""
    sha = F.sha2(F.lower("para"), 256)
    # pin the tokenize+explode ONCE: df_tab aggregates `paras` and then
    # joins back to it — without the persist the corpus scan + regex
    # split + posexplode (the dominant cost) would execute on both
    # sides (the markov/HITS lesson)
    paras = _para_blocks(docs, p).withColumn("k", sha).persist()
    try:
        df_tab = (paras.groupBy("k")
                  .agg(F.countDistinct("doc_id").alias("df")))
        keep = F.col("df") < min_df
        agg = (paras.join(df_tab, "k")
               .groupBy("doc_id")
               .agg(F.first("n_paras").alias("n_paras"),
                    F.sum((~keep).cast("long")).alias("n_dropped"),
                    F.array_join(
                        F.transform(F.array_sort(F.collect_list(
                            F.when(keep, F.struct("pos", "para")))),
                            lambda x: x["para"]), " ").alias("text_kept"))
               .localCheckpoint(eager=True))
    finally:
        paras.unpersist()
    return (docs.select("doc_id")
            .join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
                    F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
                    F.coalesce("text_kept", F.lit("")).alias("text_kept")))


def boilerplate_lines(spark, sf_dir):
    # no spread_input: measured neutral-to-slower (1.25 s → 1.5 s) —
    # the line explode is cheap relative to the added exchange.
    return boilerplate_lines_df(_docs(spark, sf_dir)).orderBy("doc_id")


BOILERPLATE_LINES_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{WS_RE}+'),
                     x -> x != '') AS toks
  FROM documents
), b AS (
  SELECT doc_id, toks,
         CAST(ceil(len(toks) / {PARA_TOKENS}.0) AS BIGINT) AS n_paras
  FROM t
), p AS (
  SELECT doc_id, n_paras, r.i AS pos,
         array_to_string(
           toks[r.i*{PARA_TOKENS}+1 : r.i*{PARA_TOKENS}+{PARA_TOKENS}],
           ' ') AS para
  FROM b, unnest(range(0, n_paras)) AS r(i)
), d AS (
  SELECT sha256(lower(para)) AS k, count(DISTINCT doc_id) AS df
  FROM p GROUP BY 1
), j AS (
  SELECT p.*, d.df FROM p JOIN d ON d.k = sha256(lower(p.para))
), a AS (
  SELECT doc_id, max(n_paras) AS n_paras,
         CAST(count(*) FILTER (WHERE df >= {BOILER_MIN_DF}) AS BIGINT)
           AS n_dropped,
         string_agg(para, ' ' ORDER BY pos)
           FILTER (WHERE df < {BOILER_MIN_DF}) AS text_kept
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_paras, 0) AS n_paras,
       coalesce(a.n_dropped, 0) AS n_dropped,
       coalesce(a.text_kept, '') AS text_kept
FROM documents d LEFT JOIN a USING (doc_id)
ORDER BY doc_id
"""

QUERIES["boilerplate_lines"] = boilerplate_lines
ORACLES["boilerplate_lines"] = BOILERPLATE_LINES_SQL


# --- Leave-one-out target encoding (feature prep) ----------------------

def target_encode_loo_df(events: DataFrame) -> DataFrame:
    """Leave-one-out target encoding of a categorical key: each event's
    feature is the mean target of its CATEGORY EXCLUDING ITSELF —
    the standard leakage-free way to hand a high-cardinality categorical
    to a downstream model (a plain category mean leaks each row's own
    label into its feature). Null when the row is its category's only
    member.

    Float discipline: the target is summed as exact cents (the repo-wide
    rule for double aggregates), so loo = (sum_cents - cents) /
    (100 * (n-1)) divides exact integers and both engines produce the
    same IEEE double with no rounding step.

    Scale shape: ONE map-side-combinable aggregate to category
    cardinality, joined back by broadcast (categories are bounded; a
    10^6-category version flips to a shuffle join automatically past the
    autoBroadcastJoinThreshold). No window over the fact table."""
    from pyspark.sql import functions as F

    cents = F.round(F.col("value") * 100).cast("long")
    per_cat = (events.select("event_type", cents.alias("c"))
               .groupBy("event_type")
               .agg(F.sum("c").alias("sum_c"), F.count("*").alias("n")))
    return (
        events.select("event_id", "event_type", cents.alias("c"))
        .join(F.broadcast(per_cat), "event_type")
        .select(
            "event_id", "event_type",
            F.when(F.col("n") > 1,
                   (F.col("sum_c") - F.col("c")).cast("double")
                   / (F.lit(100.0) * (F.col("n") - 1).cast("double")))
            .alias("loo_mean"))
        .orderBy("event_id")
    )


def target_encode_loo(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return target_encode_loo_df(ev)


TARGET_ENCODE_LOO_SQL = """
WITH c AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), agg AS (
  SELECT event_type, sum(cents) AS sum_c, count(*) AS n
  FROM c GROUP BY event_type
)
SELECT event_id, c.event_type,
       CASE WHEN n > 1
            THEN CAST(sum_c - cents AS DOUBLE)
                 / (100.0 * CAST(n - 1 AS DOUBLE))
       END AS loo_mean
FROM c JOIN agg ON c.event_type = agg.event_type
ORDER BY event_id
"""

QUERIES["target_encode_loo"] = target_encode_loo
ORACLES["target_encode_loo"] = TARGET_ENCODE_LOO_SQL
