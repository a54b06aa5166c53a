"""Text-analysis operators over the documents table: token counting,
quality metrics, top terms (native expressions, oracle-checked), language
ID and document fingerprinting (Arrow-batched pandas UDFs whose exact
semantics are re-expressed in DuckDB SQL, so they are oracle-checked
too — the UDFs stay as the documented Arrow-batch surface)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels.textstats import fingerprint, lang_id
from . import (spread_input, PY_WS_RE, WS_CHARS, WS_RE, md5_long, tok_array,
               word_ngrams)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ws_bpe_counts():
    """The ONE (whitespace, BPE-ish) token-count expression pair, shared
    by token_counts and tokenizer_fertility so the two can never drift.
    SQL twins: the TOKEN_COUNTS_SQL / TOKENIZER_FERTILITY_SQL len()
    expressions."""
    ws = F.size(F.split(F.trim(F.col("text")), WS_RE + "+"))
    # F.expr string literal: Spark SQL unescapes \\ once before the regex
    # engine sees the pattern.
    _bpe_pat = r"\\w+|[^\\w" + WS_CHARS.replace("\\", "\\\\") + "]"
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{_bpe_pat}', 0)"))
    return ws, bpe


def token_counts(spark, sf_dir):
    """Whitespace tokens + BPE-ish regex tokens (words / punctuation)."""
    docs = _docs(spark, sf_dir)
    ws, bpe = _ws_bpe_counts()
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    ).orderBy("doc_id")


TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '{WS_RE}+')) AS ws_tokens,
       len(regexp_extract_all(text, '\w+|[^\w{WS_CHARS}]')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def quality_metrics(spark, sf_dir):
    """Length / alpha-ratio / punct-ratio / mean-word-length quality
    signals, all JVM-side."""
    docs = _docs(spark, sf_dir)
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace("text", rf"[\w{WS_CHARS}]", ""))
    words = F.split(F.trim(F.col("text")), WS_RE + "+")
    mean_wlen = F.round(
        (F.length(F.concat_ws("", words)).cast("double")) / F.size(words), 6)
    return docs.select(
        "doc_id",
        n.alias("n_chars_actual"),
        F.round(alpha.cast("double") / n, 6).alias("alpha_ratio"),
        F.round(punct.cast("double") / n, 6).alias("punct_ratio"),
        mean_wlen.alias("mean_word_len"),
    ).orderBy("doc_id")


QUALITY_METRICS_SQL = rf"""
SELECT doc_id,
       length(text) AS n_chars_actual,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
             / length(text), 6) AS alpha_ratio,
       round(length(regexp_replace(text, '[\w{WS_CHARS}]', '', 'g')) * 1.0
             / length(text), 6) AS punct_ratio,
       round(length(array_to_string(regexp_split_to_array(trim(text), '{WS_RE}+'), '')) * 1.0
             / len(regexp_split_to_array(trim(text), '{WS_RE}+')), 6) AS mean_word_len
FROM documents ORDER BY doc_id
"""


@pandas_udf(T.StringType())
def _lang_id_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lang_id)


@pandas_udf(T.LongType())
def _fingerprint_udf(texts: pd.Series) -> pd.Series:
    # mod 2^61-1 fits in int64
    return texts.map(fingerprint)


def lang_id_pred(spark, sf_dir):
    """Stopword-profile language ID (Arrow-batched pandas UDF). The
    predicted language is compared against the table's lang column as an
    agreement histogram."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("lang_pred", _lang_id_udf("text"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


def doc_fingerprints(spark, sf_dir):
    """Rolling polynomial hash fingerprint per document (pandas UDF),
    distinct-counted per source as a dedup-readiness signal."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("fp", _fingerprint_udf("text"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("fp").alias("n_distinct_fp"))
        .orderBy("source")
    )


# -- language-ID oracle: the stopword-argmax heuristic re-expressed in SQL.
# Fold order in the kernel is sorted(langs) with strict '>' updates, so the
# winner is the max-hit language earliest in sorted order; 'und' on 0 hits.

from ..kernels.textstats import _STOPWORDS  # noqa: E402  (oracle mirror)

_LANGS_SORTED = sorted(_STOPWORDS)


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS[lang]))
    return (f"len(list_filter(regexp_split_to_array(lower(text), "
            f"'{PY_WS_RE}+'), w -> list_contains([{words}], w))) AS h_{lang}")


LANG_ID_PRED_SQL = (
    "WITH hits AS (\n  SELECT lang,\n         "
    + ",\n         ".join(_lang_hits_sql(lg) for lg in _LANGS_SORTED)
    + "\n  FROM documents\n), pred AS (\n  SELECT lang,\n"
    + "         CASE WHEN greatest("
    + ", ".join(f"h_{lg}" for lg in _LANGS_SORTED)
    + ") = 0 THEN 'und'\n"
    + "".join(
        f"              WHEN h_{lg} = greatest("
        + ", ".join(f"h_{m}" for m in _LANGS_SORTED)
        + f") THEN '{lg}'\n"
        for lg in _LANGS_SORTED)
    + "         END AS lang_pred\n  FROM hits\n)\n"
    + "SELECT lang, lang_pred, count(*) AS n FROM pred\n"
    + "GROUP BY lang, lang_pred ORDER BY lang, lang_pred\n"
)


# -- fingerprint oracle: the rolling polynomial hash (base 1000003 mod
# 2^61-1 over utf-8 bytes of the whitespace/case-normalized text) computed
# in DuckDB via list_reduce over per-char codepoints (corpus is ASCII, so
# codepoint == utf-8 byte).

_FP_SQL_EXPR = (
    "CASE WHEN norm = '' THEN 0 ELSE "
    "list_reduce(list_prepend(0::HUGEINT, "
    "list_transform(regexp_split_to_array(norm, ''), c -> ord(c))), "
    "(h, c) -> (h * 1000003 + c) % 2305843009213693951)::BIGINT END"
)

DOC_FINGERPRINTS_SQL = rf"""
WITH n AS (
  SELECT source,
         array_to_string(list_filter(
           regexp_split_to_array(lower(text), '{PY_WS_RE}+'), w -> w != ''), ' ') AS norm
  FROM documents
), f AS (
  SELECT source, {_FP_SQL_EXPR} AS fp FROM n
)
SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct_fp
FROM f GROUP BY source ORDER BY source
"""


QUERIES = {
    "token_counts": token_counts,
    "quality_metrics": quality_metrics,
    "lang_id_pred": lang_id_pred,
    "doc_fingerprints": doc_fingerprints,
}

ORACLES = {
    "token_counts": TOKEN_COUNTS_SQL,
    "quality_metrics": QUALITY_METRICS_SQL,
    "lang_id_pred": LANG_ID_PRED_SQL,
    "doc_fingerprints": DOC_FINGERPRINTS_SQL,
}


_TOP_TERMS_SCHEMA = "source string, term string, tf bigint, n_docs bigint"


def _top_terms_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: top-5 terms for one source group by raw term
    frequency (ties broken alphabetically — deterministic).

    API-demo variant only (tested for agreement with the native query):
    it loads one source's whole corpus into a single pandas frame, which
    OOMs on a hot source at 100 TB — the registry query below is the
    native partial-aggregation scale path."""
    from collections import Counter

    counts: Counter = Counter()
    for text in pdf["text"]:
        counts.update(str(text).lower().split())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    src = pdf["source"].iloc[0]
    return pd.DataFrame(
        {"source": [src] * len(top),
         "term": [t for t, _ in top],
         "tf": [c for _, c in top],
         "n_docs": [len(pdf)] * len(top)})


def top_terms_per_source_grouped_map(spark, sf_dir):
    """``applyInPandas`` grouped-map API demo (see _top_terms_fn)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("source", "text")
        .groupBy("source")
        .applyInPandas(_top_terms_fn, schema=_TOP_TERMS_SCHEMA)
        .orderBy("source", F.desc("tf"), "term")
    )


def top_terms_per_source(spark, sf_dir):
    """Per-source top-5 terms by raw frequency, fully native: explode
    words → two-phase groupBy (map-side partial agg) → row_number window.
    One shuffle on (source, term) + one on source — no grouped-map, no
    per-source memory ceiling."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "source", "doc_id",
        F.explode(F.split(F.lower(F.col("text")), WS_RE + "+")).alias("term")
    ).filter(F.col("term") != "")
    tf = words.groupBy("source", "term").agg(F.count("*").alias("tf"))
    ndocs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("source").orderBy(F.desc("tf"), "term")
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .join(F.broadcast(ndocs), "source")
        .select("source", "term", "tf", "n_docs")
        .orderBy("source", F.desc("tf"), "term")
    )


TOP_TERMS_PER_SOURCE_SQL = rf"""
WITH words AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(text), '{WS_RE}+')) AS term
  FROM documents
), tf AS (
  SELECT source, term, count(*) AS tf
  FROM words WHERE term != '' GROUP BY source, term
), nd AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), ranked AS (
  SELECT tf.*, row_number() OVER (
    PARTITION BY source ORDER BY tf DESC, term) AS rn
  FROM tf
)
SELECT r.source, r.term, r.tf, nd.n_docs
FROM ranked r JOIN nd ON r.source = nd.source
WHERE rn <= 5
ORDER BY r.source, r.tf DESC, r.term
"""


QUERIES["top_terms_per_source"] = top_terms_per_source
ORACLES["top_terms_per_source"] = TOP_TERMS_PER_SOURCE_SQL


# -- repetition metrics (Gopher-style quality signals) -------------------------------
# Rae et al. 2021 (Gopher), table A1: duplicate-line fraction and
# top-n-gram fraction are standard repetition filters for web-scale
# training corpora. Both fully native: line stats as array expressions
# (no shuffle), the 2-gram mode via explode → two-phase agg (one shuffle
# on (doc_id, gram), partial map-side combine — scales like word count).

def repetition_metrics_df(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, n_lines, dup_line_frac,
    top_2gram_frac) — see ``repetition_metrics``."""
    lines = F.filter(
        F.transform(F.split("text", "\n"), lambda l: F.trim(l)),
        lambda l: l != "")
    line_stats = docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_uniq_lines"),
    )
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), WS_RE + "+", " ")),
        " ")
    # sub-2-word docs have no 2-grams and fall out via the left join
    # (frac coalesced to 0)
    grams = word_ngrams(docs.withColumn("_w", words), "_w", 2, "_g").select(
        "doc_id", F.explode("_g").alias("gram"))
    gram_stats = (
        grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(
            F.max("c").alias("top_gram"),
            F.sum("c").alias("n_grams"))
    )
    dup_line_frac = F.when(
        F.col("n_lines") > 0,
        F.round(1.0 - F.col("n_uniq_lines") / F.col("n_lines"), 6)
    ).otherwise(F.lit(0.0))
    top_gram_frac = F.round(
        F.coalesce(F.col("top_gram") / F.col("n_grams"), F.lit(0.0)), 6)
    return (
        line_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id", "n_lines",
            dup_line_frac.alias("dup_line_frac"),
            top_gram_frac.alias("top_2gram_frac"))
    )


def repetition_metrics(spark, sf_dir):
    return repetition_metrics_df(_docs(spark, sf_dir)).orderBy("doc_id")


REPETITION_METRICS_SQL = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x != '') AS lines
  FROM documents
), ls AS (
  SELECT doc_id, len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_uniq_lines
  FROM l
), w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '{WS_RE}+', ' ', 'g')), ' ') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i+1])) AS gram
  FROM w WHERE len(words) >= 2
), gc AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
), gs AS (
  SELECT doc_id, max(c) AS top_gram, sum(c) AS n_grams FROM gc GROUP BY doc_id
)
SELECT ls.doc_id, ls.n_lines,
       CASE WHEN ls.n_lines > 0
            THEN round(1.0 - ls.n_uniq_lines * 1.0 / ls.n_lines, 6)
            ELSE 0.0 END AS dup_line_frac,
       round(coalesce(gs.top_gram * 1.0 / gs.n_grams, 0.0), 6) AS top_2gram_frac
FROM ls LEFT JOIN gs ON ls.doc_id = gs.doc_id
ORDER BY ls.doc_id
"""


QUERIES["repetition_metrics"] = repetition_metrics
ORACLES["repetition_metrics"] = REPETITION_METRICS_SQL


# -- LM quality scoring (CCNet-style, corpus-trained bigram LM) ---------------
# CCNet (Wenzek et al. 2020) filters web text by LM perplexity; with no
# external model available, the standard self-contained variant trains the
# LM on the corpus itself: add-k-smoothed bigram model, score = average
# negative log-likelihood of the doc's bigram occurrences. High scores =
# improbable word sequences (gibberish, boilerplate soup) — the quality
# signal used to rank/drop docs in a pre-training pipeline.
#
# Scale shape: two corpus-wide count aggregations (unigram, bigram — both
# map-side-combined), the vocabulary size as one scalar, and per-doc
# scoring via joins keyed on the bigram/unigram — inverted-index joins,
# never a cross join; nothing is collected to the driver.

LM_ADD_K = 0.5


def lm_nll_scores_df(docs: DataFrame) -> DataFrame:
    words_col = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")),
        " ")
    # tokens hold no spaces (non-alnum runs became the separator), so
    # each bigram splits back into (w1, w2) on its one space
    bg = F.split("bg", " ")
    bigrams = word_ngrams(
        docs.select("doc_id", words_col.alias("w")), "w", 2, "bgs").select(
        "doc_id", F.explode("bgs").alias("bg")).select(
        "doc_id", bg.getItem(0).alias("w1"), bg.getItem(1).alias("w2"))

    # Pre-aggregate to per-doc bigram COUNTS first: the corpus-level c2
    # is a rollup of occ (one shuffle stage shorter than re-counting raw
    # occurrences), c1 rolls up from c2, and the scoring joins carry
    # O(distinct (doc, w1, w2)) rows instead of every occurrence. occ is
    # persisted for the duration (three consumers) and released before
    # returning — the slim per-doc result is checkpointed eagerly, the
    # same contained lifecycle as minhash_lsh_pairs.
    occ = bigrams.groupBy("doc_id", "w1", "w2") \
        .agg(F.count("*").alias("n")).persist()
    try:
        c2 = occ.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
        c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
        vocab = c1.agg(F.count("*").alias("v"))

        k = F.lit(LM_ADD_K)
        scored = (
            occ.join(c2, ["w1", "w2"]).join(c1, "w1")
            .crossJoin(F.broadcast(vocab))
            .withColumn("nll", -(F.log(F.col("c2") + k)
                                 - F.log(F.col("c1") + k * F.col("v"))))
        )
        # Ordered fold (the char_entropy pattern): both engines sum the
        # per-(w1, w2) float terms in (w1, w2)-sorted order, so the
        # accumulation order — not just the term multiset — is
        # identical, and the 4th rounded decimal can never flip on an
        # ulp at a .00005 boundary. n is integer, so its sum needs no
        # ordering; only the float term sum is folded.
        result = (
            scored.withColumn("term", F.col("n") * F.col("nll"))
            .groupBy("doc_id")
            .agg(F.sum("n").alias("n_bigrams"),
                 F.array_sort(F.collect_list(F.struct("w1", "w2", "term")))
                 .alias("terms"))
            .select(
                "doc_id",
                F.round(F.aggregate("terms", F.lit(0.0),
                                    lambda a, x: a + x["term"])
                        / F.col("n_bigrams"), 4).alias("avg_nll"),
                "n_bigrams")
            .localCheckpoint(eager=True)
        )
    finally:
        occ.unpersist()
    return result.orderBy("doc_id")


def lm_nll_scores(spark, sf_dir):
    return lm_nll_scores_df(spread_input(_docs(spark, sf_dir)))


LM_NLL_SCORES_SQL = rf"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
), bg AS (
  SELECT doc_id, words[i] AS w1, words[i+1] AS w2
  FROM w, unnest(range(1, len(words))) AS t(i)
  WHERE len(words) >= 2
), occ AS (
  -- per-doc bigram counts FIRST, mirroring the Spark plan exactly: the
  -- weighted mean then sums the identical multiset of (n * nll) terms on
  -- both sides, instead of DuckDB averaging per-occurrence rows while
  -- Spark averages per-(doc,w1,w2) groups — mathematically equal but a
  -- different number of float additions, which could flip the 4th
  -- rounded decimal at a .00005 boundary on adversarial corpora
  SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY doc_id, w1, w2
), c2 AS (
  SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM occ GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), v AS (
  SELECT count(*) AS v FROM c1
)
, terms AS (
  SELECT occ.doc_id, occ.w1, occ.w2, occ.n,
         occ.n * -(ln(c2.c2 + {LM_ADD_K})
                   - ln(c1.c1 + {LM_ADD_K} * v.v)) AS term
  FROM occ JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
-- fold the (w1, w2)-sorted term list: identical additions in identical
-- order to the Spark F.aggregate (the char_entropy pattern)
SELECT doc_id,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY w1, w2)),
                         (a, b) -> a + b)
             / CAST(sum(n) AS DOUBLE), 4) AS avg_nll,
       CAST(sum(n) AS BIGINT) AS n_bigrams
FROM terms
GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES["lm_nll_scores"] = lm_nll_scores
ORACLES["lm_nll_scores"] = LM_NLL_SCORES_SQL


# --- Token-window chunking (training-data prep) ------------------------

CHUNK_WIN = 20
CHUNK_STRIDE = 10


def chunk_documents_df(docs: DataFrame, win: int = CHUNK_WIN,
                       stride: int = CHUNK_STRIDE,
                       carry: tuple = (), ordered: bool = True
                       ) -> DataFrame:
    """Sliding token-window chunking: each document becomes overlapping
    chunks of ``win`` whitespace tokens starting every ``stride`` tokens
    (the standard long-document → context-window prep step that
    ``pack_sequences`` assumes already happened).

    Scale: one narrow projection + explode — no shuffle at all (the
    ``orderBy`` is presentation-level determinism for the oracle
    protocol). The token array is built once per row and sliced per
    chunk inside whole-stage codegen; output size is
    ceil(tokens/stride) rows per doc, linear in input. ``carry`` names
    extra columns to pass through unchanged (the curation job carries
    source/lang metadata onto each chunk)."""
    carry = list(carry)
    toks = F.split(F.trim(F.col("text")), WS_RE + "+")
    base = docs.select(
        "doc_id", *carry, toks.alias("toks"), F.size(toks).alias("n"))
    out = (
        base.select(
            "doc_id", *carry, "toks",
            F.explode(F.sequence(
                F.lit(0), F.col("n") - 1, F.lit(stride))).alias("st"))
        .select(
            "doc_id", *carry,
            (F.col("st") / stride).cast("long").alias("chunk_id"),
            F.slice("toks", F.col("st") + 1, F.lit(win)).alias("c"))
        .select(
            "doc_id", *carry, "chunk_id",
            F.size("c").cast("long").alias("chunk_tokens"),
            F.array_join("c", " ").alias("chunk_text")))
    # presentation sort for the oracle protocol; pipeline callers skip
    # it (the downstream write repartitions anyway)
    return out.orderBy("doc_id", "chunk_id") if ordered else out


def chunk_documents(spark, sf_dir):
    return chunk_documents_df(_docs(spark, sf_dir))


# DuckDB list slices are 1-based and end-inclusive: toks[st+1 : st+WIN]
# is exactly WIN elements (clamped at the tail), mirroring
# F.slice(toks, st+1, WIN).
CHUNK_DOCUMENTS_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{WS_RE}+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks,
         unnest(range(0, len(toks), {CHUNK_STRIDE})) AS st
  FROM t
)
SELECT doc_id, CAST(st // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(toks[st+1 : st+{CHUNK_WIN}]) AS BIGINT) AS chunk_tokens,
       array_to_string(toks[st+1 : st+{CHUNK_WIN}], ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_id
"""

QUERIES["chunk_documents"] = chunk_documents
ORACLES["chunk_documents"] = CHUNK_DOCUMENTS_SQL


# --- Hashed linear quality classifier (fastText-style) ------------------

QC_BUCKETS = 4096
QC_THRESHOLD = 0.0


def _qc_doc_sums(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """THE classifier weight definition (md5 bucket % 1001 - 500), rolled
    to exact per-doc sums (sw, n_tok) — shared by quality_classifier and
    classifier_auc so the weight table cannot drift between the scorer
    and its evaluation. `extra` carries grouping columns (constant per
    doc_id) through so callers don't need a join back.

    MAP-ONLY: the per-doc sum is an array fold over the token array (a
    left fold of exact BIGINT addition — order-free, so it equals the
    oracle's explode+GROUP BY sum bit for bit), NOT an explode +
    groupBy(doc_id). A doc's tokens never leave its row, so the whole
    scorer contributes ZERO exchanges — the downstream eval family
    (classifier_auc / pr_curve / calibration_bins / ks_drift) pays only
    its own bounded-histogram shuffle, and the same expressions run
    unchanged on an unbounded stream (stream_score_hist), where a
    per-doc stateful pre-aggregation would be a second stateful
    operator Structured Streaming forbids. Docs with no tokens are
    dropped, matching the explode form's semantics — via the equivalent
    cheap pre-filter "has any non-whitespace char" (a post-hoc
    ``n_tok >= 1`` filter gets predicate-pushed through the projection
    by expression substitution, re-inlining the split once more per
    row; the pre-filter instead lands at the scan). The token array is
    staged in its own projection so CollapseProject cannot inline the
    split once per consumer (the gopher_rules lesson)."""
    toks = tok_array(F.trim(F.col("text")))

    def w(t):
        return (md5_long(t) % QC_BUCKETS % 1001 - 500).cast("long")

    staged = (docs.filter(F.col("text").rlike(f"[^{WS_CHARS}]"))
              .select("doc_id", *extra, toks.alias("_toks")))
    return staged.select(
        "doc_id", *extra,
        F.aggregate("_toks", F.lit(0).cast("long"),
                    lambda acc, t: acc + w(t)).alias("sw"),
        F.size("_toks").cast("long").alias("n_tok"))


def _qc_sums_cte(extra: str = "") -> str:
    """The DuckDB twin of ``_qc_doc_sums`` as a WITH-clause body ending
    in an ``agg(doc_id{extra}, sw, n_tok)`` CTE; ``extra`` is a leading-
    comma column list (e.g. ", source, lang")."""
    return rf"""tok AS (
  SELECT doc_id{extra},
         unnest(regexp_split_to_array(lower(trim(text)), '{WS_RE}+')) AS tok
  FROM documents
), w AS (
  SELECT doc_id{extra},
         ((('0x' || substring(md5(tok), 1, 15))::BIGINT % {QC_BUCKETS})
          % 1001 - 500) AS w
  FROM tok WHERE tok != ''
), agg AS (
  SELECT doc_id{extra}, sum(w) AS sw, count(*) AS n_tok FROM w
  GROUP BY doc_id{extra}
)"""


def quality_classifier_df(docs: DataFrame, threshold: float = QC_THRESHOLD,
                          ordered: bool = True) -> DataFrame:
    """fastText-style hashed bag-of-words linear classifier: lowercase
    whitespace tokens hash into ``QC_BUCKETS`` buckets; each bucket
    carries a deterministic integer weight (a stand-in for trained
    weights — the same seeded-literal trick as the LSH hyperplanes); the
    document score is the mean bucket weight over its tokens, scaled to
    [-1, 1].

    Numerics: the per-doc sum is an exact BIGINT accumulation, so the
    only float operation is one final division — hash-exact against the
    oracle by construction, no summation-order dependence (the trap
    lm_nll_scores had to engineer around).

    Scale: map-only — the per-doc sum is an array fold (_qc_doc_sums),
    so scoring contributes ZERO exchanges and stays entirely in
    whole-stage codegen, no UDF.

    Reference analog: lifts the reference's boolean content gates
    (/root/reference/src/extract_ocr/content.py — WAF/HTML heuristics)
    to a scored classifier, the shape a curation pipeline trains."""
    out = (
        _qc_doc_sums(docs)
        .select(
            "doc_id", "n_tok",
            F.round(F.col("sw").cast("double")
                    / (F.lit(500.0) * F.col("n_tok")), 6).alias("score"))
        .withColumn("keep", F.col("score") >= F.lit(threshold))
    )
    # presentation sort for the oracle protocol; pipeline callers skip it
    return out.orderBy("doc_id") if ordered else out


def quality_classifier(spark, sf_dir):
    return quality_classifier_df(_docs(spark, sf_dir))


QUALITY_CLASSIFIER_SQL = rf"""
WITH {_qc_sums_cte()}
SELECT doc_id, n_tok,
       round(CAST(sw AS DOUBLE) / (500.0 * n_tok), 6) AS score,
       round(CAST(sw AS DOUBLE) / (500.0 * n_tok), 6) >= {QC_THRESHOLD}
         AS keep
FROM agg ORDER BY doc_id
"""

QUERIES["quality_classifier"] = quality_classifier
ORACLES["quality_classifier"] = QUALITY_CLASSIFIER_SQL


# --- Winnowing fingerprints (MOSS-style local fingerprint selection) -----

WIN_K = 4  # tokens per k-gram
WIN_W = 4  # winnowing window (k-gram positions per window)


def winnow_fingerprints_df(docs: "DataFrame") -> "DataFrame":
    """Winnowing (Schleimer/Wilkerson/Aiken, MOSS): hash every k-gram of
    tokens, then keep only each window's minimum hash — a position-robust
    fingerprint subset that still guarantees any shared run of
    w + k - 1 tokens yields at least one shared fingerprint. Ties break
    to the LEFTMOST position (min over (hash, pos) — fixed here so both
    engines agree; classic MOSS picks rightmost).

    Complements ``doc_fingerprints`` (one whole-doc hash): these are the
    LOCAL fingerprints that detect partial overlap / near-copies.

    Docs with fewer k-grams than one window keep their single overall
    min (the pos = 0 window), so every doc with ≥ k tokens is
    represented.

    Scale: one explode (one row per k-gram), ONE shuffle — the window
    over doc_id — then a partial-aggregated distinct. Fingerprint rows
    out ≈ 2/(w+1) of gram rows (the winnowing density bound). The
    doc_id partition is bounded by the 400k-char doc cap, so no window
    skew; no pair joins here — downstream matching equi-joins on fp.

    Reference analog: sha-keyed response identity
    (/root/reference/src/extract_ocr/crawl.py content-sha naming)
    refined to sub-document granularity for overlap detection."""
    from pyspark.sql.window import Window

    toks = docs.select("doc_id", tok_array(F.col("text")).alias("toks"))
    grams = word_ngrams(toks, "toks", WIN_K, "_g").select(
        "doc_id", F.size("_g").alias("n_grams"),
        F.posexplode("_g").alias("pos", "gram"))
    h = grams.withColumn("fp", md5_long(F.col("gram")))
    wspec = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(0, WIN_W - 1))
    winners = (h.withColumn("win", F.min(F.struct("fp", "pos")).over(wspec))
               .filter((F.col("pos") == 0) |
                       (F.col("pos") <= F.col("n_grams") - WIN_W))
               .select("doc_id",
                       F.col("win.pos").alias("pos"),
                       F.col("win.fp").alias("fp"))
               .distinct())
    return winners


def winnow_fingerprints(spark, sf_dir):
    return winnow_fingerprints_df(spread_input(_docs(spark, sf_dir))).orderBy(
        "doc_id", "pos")


WINNOW_FINGERPRINTS_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, len(toks) - {WIN_K} + 1 AS n_grams, r.i AS pos,
         ('0x' || substring(md5(array_to_string(
            toks[r.i+1 : r.i+{WIN_K}], ' ')), 1, 15))::BIGINT AS fp
  FROM t, unnest(range(0, len(toks) - {WIN_K} + 1)) AS r(i)
  WHERE len(toks) >= {WIN_K}
), w AS (
  SELECT doc_id, n_grams, pos,
         min(struct_pack(f := fp, p := pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WIN_W} - 1 FOLLOWING) AS win
  FROM g
)
SELECT DISTINCT doc_id,
       struct_extract(win, 'p') AS pos,
       struct_extract(win, 'f') AS fp
FROM w WHERE pos = 0 OR pos <= n_grams - {WIN_W}
ORDER BY doc_id, pos
"""

QUERIES["winnow_fingerprints"] = winnow_fingerprints
ORACLES["winnow_fingerprints"] = WINNOW_FINGERPRINTS_SQL


# --- Character-entropy quality signal -------------------------------------

def char_entropy_df(docs: "DataFrame") -> "DataFrame":
    """Shannon entropy (nats) of each document's character distribution —
    the classic gibberish/binary-noise quality signal: natural text sits
    ~2.2-3.2 nats, base64/hex blobs and single-char spam fall far outside.

    Float parity engineering (the lm_nll lesson): both engines fold the
    SAME per-(char,count) term multiset in the SAME char-sorted order —
    `F.aggregate` over an array_sort'ed struct list here, `list_reduce`
    over `list(... ORDER BY ch)` in the oracle — then round once at the
    end. A bare SUM() would add in engine-dependent order.

    Scale: the char explode is wide (one row per character) but the
    groupBy(doc_id, ch) partial-aggregates map-side, so the shuffle
    carries at most |alphabet| rows per doc per partition; the second
    groupBy rides the same doc_id hash. Caveat: Spark's split('') walks
    UTF-16 code units, DuckDB walks codepoints — identical on BMP text
    (the corpus is ASCII); supplementary-plane text would need a
    codepoint-safe splitter on the Spark side."""
    hist = (docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
            .filter(F.col("ch") != "")
            .groupBy("doc_id", "ch").agg(F.count("*").alias("cnt")))
    ent = (hist.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.array_sort(F.collect_list(F.struct("ch", "cnt"))).alias("terms"))
        .select(
            "doc_id", F.col("n").alias("n_chars_counted"),
            F.round(-F.aggregate(
                "terms", F.lit(0.0),
                lambda a, x: a + (x["cnt"] / F.col("n"))
                * F.log(x["cnt"] / F.col("n"))), 4).alias("entropy_nats")))
    return (docs.select("doc_id")
            .join(ent, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_chars_counted", F.lit(0))
                    .alias("n_chars_counted"),
                    F.coalesce("entropy_nats", F.lit(0.0))
                    .alias("entropy_nats")))


def char_entropy(spark, sf_dir):
    return char_entropy_df(_docs(spark, sf_dir)).orderBy("doc_id")


CHAR_ENTROPY_SQL = r"""
WITH c AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
  FROM documents
), hist AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
  FROM c WHERE ch <> '' GROUP BY doc_id, ch
), tot AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY doc_id
), ent AS (
  -- fold the char-sorted term list: identical additions in identical
  -- order to the Spark aggregate
  SELECT h.doc_id, t.n,
         round(-list_reduce(
           list_prepend(0.0, list(
             (CAST(cnt AS DOUBLE) / t.n)
             * ln(CAST(cnt AS DOUBLE) / t.n)
             ORDER BY ch)),
           (a, b) -> a + b), 4) AS entropy_nats
  FROM hist h JOIN tot t USING (doc_id)
  GROUP BY h.doc_id, t.n
)
SELECT d.doc_id,
       coalesce(ent.n, 0) AS n_chars_counted,
       coalesce(ent.entropy_nats, 0.0) AS entropy_nats
FROM documents d LEFT JOIN ent USING (doc_id)
ORDER BY doc_id
"""

QUERIES["char_entropy"] = char_entropy
ORACLES["char_entropy"] = CHAR_ENTROPY_SQL


# --- KMV distinct-count sketch --------------------------------------------

KMV_K = 64  # sketch size; per-source bigram cardinality (~700 at sf0.01)
# keeps the estimator path (not the exact-small-set path) exercised

_KMV_NUM = float((KMV_K - 1) << 60)  # (k-1) * 2^60, exactly representable


def kmv_distinct_df(docs: "DataFrame") -> "DataFrame":
    """K-minimum-values cardinality sketch (Bar-Yossef et al. 2002) over
    each source's distinct token bigrams, reported next to the exact
    count. With a uniform hash on [0, 2^60), the k-th smallest value
    h_(k) estimates the cardinality as (k-1) * 2^60 / h_(k); sources
    holding fewer than k values report the exact count (the sketch
    isn't full).

    Why this exists next to approx_count_distinct: Spark's HLL sketch
    is not reproducible in another engine, so it can never be
    oracle-checked — KMV with md5 is fully deterministic, giving the
    driver a hash-exact check on a genuinely approximate estimator
    (same trick as the inlined-literal LSH oracles). KMV is also the
    textbook MERGEABLE sketch: the k smallest of a union are a subset
    of the union of per-partition k smallest, so a production variant
    partial-aggregates map-side; the window formulation here trades
    that for oracle checkability (the per-source distinct-bigram
    cardinality is vocabulary-bounded, so the per-source sort is safe).

    Float parity: one division of two exactly-representable doubles
    ((k-1)*2^60 is 6 significand bits; int64→double rounding is
    IEEE-identical in both engines), then one round — by construction.
    """
    from pyspark.sql.window import Window

    toks = docs.select("source", tok_array(F.col("text")).alias("toks"))
    grams = word_ngrams(toks, "toks", 2, "_bg").select(
        "source", F.explode("_bg").alias("bg")).distinct()
    h = grams.select("source", "bg", md5_long(F.col("bg")).alias("h"))
    w = Window.partitionBy("source").orderBy("h", "bg")
    r = h.withColumn("rn", F.row_number().over(w))
    agg = r.groupBy("source").agg(
        F.count("*").alias("exact_distinct"),
        F.max(F.when(F.col("rn") <= KMV_K, F.col("h"))).alias("kth"))
    est = (F.when(F.col("exact_distinct") < KMV_K,
                  F.col("exact_distinct").cast("double"))
           .otherwise(F.round(F.lit(_KMV_NUM) / F.col("kth"), 4)))
    return agg.select("source", "exact_distinct",
                      est.alias("kmv_estimate"))


def kmv_distinct(spark, sf_dir):
    return kmv_distinct_df(_docs(spark, sf_dir)).orderBy("source")


KMV_DISTINCT_SQL = rf"""
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT DISTINCT source,
         array_to_string(toks[r.i+1 : r.i+2], ' ') AS bg
  FROM t, unnest(range(0, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 2
), h AS (
  SELECT source, bg, ('0x' || substring(md5(bg), 1, 15))::BIGINT AS h
  FROM g
), r AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h, bg) AS rn
  FROM h
), a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct,
         max(CASE WHEN rn <= {KMV_K} THEN h END) AS kth
  FROM r GROUP BY source
)
SELECT source, exact_distinct,
       CASE WHEN exact_distinct < {KMV_K}
            THEN CAST(exact_distinct AS DOUBLE)
            ELSE round({_KMV_NUM!r} / kth, 4) END AS kmv_estimate
FROM a ORDER BY source
"""

QUERIES["kmv_distinct"] = kmv_distinct
ORACLES["kmv_distinct"] = KMV_DISTINCT_SQL


# --- Gopher document-quality rules (Rae et al. 2021, Appendix A) ----------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
_GOPHER_STOPS = ("and", "be", "have", "of", "that", "the", "to", "with")


def gopher_rules_df(docs: "DataFrame") -> "DataFrame":
    """The Gopher/MassiveText document-quality rule set (Rae et al. 2021,
    Appendix A) as per-doc counters plus one combined ``keep`` flag:
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    ('#' and ellipsis), bullet-started and ellipsis-ended line fractions,
    alphabetic-word fraction, and the >=2-distinct-stopwords gate.
    Complements ``repetition_metrics`` (which owns Gopher's dup-line and
    top-2gram repetition rules) and ``quality_metrics`` (generic ratios).

    Numerics: every rule threshold is evaluated in EXACT integer
    arithmetic (e.g. symbol ratio <= 0.1 as ``10*symbols <= n_words``),
    so the output carries no floats at all — oracle parity by
    construction, nothing to round.

    Scale: pure per-row JVM expressions (splits, filters, replaces) —
    no shuffle beyond the presentation sort, whole-stage codegen
    throughout; at cluster scale this is a map-only stage. The tokenize
    runs ONCE: words/lines land in a staged projection (non-cheap
    expressions referenced more than once survive CollapseProject), and
    every counter derives from those array columns — inlining the split
    into each lambda would re-tokenize ~7x per row (plan-pinned).
    """
    def _count(sub: str, width: int):
        diff = F.length("text") - F.length(
            F.replace(F.col("text"), F.lit(sub)))
        return diff if width == 1 else (diff / F.lit(width)).cast("long")

    symbols = _count("#", 1) + _count("...", 3) + _count("…", 1)
    base = docs.select(
        "doc_id",
        tok_array(F.col("text"), lower=False).alias("words"),
        F.split(F.col("text"), "\n").alias("lines"),
        symbols.cast("long").alias("symbols"),
    )
    # lower AFTER splitting (mirrored in the oracle) so case-folding can
    # never move a token boundary differently between the two engines
    lowered = F.transform("words", lambda w: F.lower(w))
    out = base.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.size("lines").alias("n_lines"),
        F.length(F.concat_ws("", F.col("words"))).alias("wchars"),
        "symbols",
        F.size(F.filter(
            "lines", lambda l: F.ltrim(l).rlike("^[-*•]")))
        .alias("bullet_lines"),
        F.size(F.filter(
            "lines",
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…"))))
        .alias("ellipsis_lines"),
        F.size(F.filter("words", lambda w: w.rlike("[A-Za-z]")))
        .alias("alpha_words"),
        # distinct stopwords present = size of the (distinct) intersection
        F.size(F.array_intersect(
            lowered, F.array(*[F.lit(s) for s in _GOPHER_STOPS])))
        .alias("stop_hits"),
    )
    keep = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.lit(3) * F.col("n_words") <= F.col("wchars"))
        & (F.col("wchars") <= F.lit(10) * F.col("n_words"))
        & (F.lit(10) * F.col("symbols") <= F.col("n_words"))
        & (F.lit(10) * F.col("bullet_lines") <= F.lit(9) * F.col("n_lines"))
        & (F.lit(10) * F.col("ellipsis_lines") <= F.lit(3) * F.col("n_lines"))
        & (F.lit(5) * F.col("alpha_words") >= F.lit(4) * F.col("n_words"))
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("keep", keep).drop("wchars")


def gopher_rules(spark, sf_dir):
    return gopher_rules_df(_docs(spark, sf_dir)).orderBy("doc_id")


_STOPS_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)

GOPHER_RULES_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{WS_RE}+'),
                     x -> x != '') AS words,
         regexp_split_to_array(text, '\n') AS lines,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) / 3
              + length(text) - length(replace(text, '…', ''))
              AS BIGINT) AS symbols
  FROM documents
), c AS (
  SELECT doc_id,
         len(words) AS n_words,
         len(lines) AS n_lines,
         length(array_to_string(words, '')) AS wchars,
         symbols,
         len(list_filter(lines,
             l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_lines,
         len(list_filter(lines,
             l -> ends_with(rtrim(l), '...')
                  OR ends_with(rtrim(l), '…'))) AS ellipsis_lines,
         len(list_filter(words,
             w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
         len(list_filter([{_STOPS_SQL}],
             s -> list_contains(list_transform(words, x -> lower(x)),
                                s))) AS stop_hits
  FROM base
)
SELECT doc_id, n_words, n_lines, symbols, bullet_lines, ellipsis_lines,
       alpha_words, stop_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND 3 * n_words <= wchars AND wchars <= 10 * n_words
        AND 10 * symbols <= n_words
        AND 10 * bullet_lines <= 9 * n_lines
        AND 10 * ellipsis_lines <= 3 * n_lines
        AND 5 * alpha_words >= 4 * n_words
        AND stop_hits >= 2) AS keep
FROM c ORDER BY doc_id
"""

QUERIES["gopher_rules"] = gopher_rules
ORACLES["gopher_rules"] = GOPHER_RULES_SQL


# --- Per-document TF-IDF top terms ----------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms_df(docs: "DataFrame", k: int = TFIDF_TOP_K) -> "DataFrame":
    """Top-k terms per document by TF-IDF (tf * ln(N/df)) — the standard
    per-doc keyword signal (complements top_terms_per_source, which
    ranks raw frequency per source). Ties break alphabetically so the
    ranking is deterministic on both engines.

    Plan shape: one explode → groupBy(doc_id, term) for tf (map-side
    combined); df is an O(vocabulary) rollup of tf joined back WITHOUT
    a broadcast hint — vocabulary grows with corpus size (Heaps' law),
    so at 100 TB the df table is NOT broadcastable and the tf ⋈ df
    equi-join on term must be free to shuffle (AQE still broadcasts it
    when it measures small). N rides a 1-row broadcast. The per-doc
    top-k window partitions on doc_id — WindowGroupLimit pushes the
    k-filter map-side, so the shuffle never carries more than k rows
    per doc per partition beyond the tf aggregate itself.

    Float parity: tf/N/df are exact BIGINTs; score = tf * ln(N/df) is
    two float ops on identical operands (IEEE-identical in both
    engines); the rank compares those identical doubles, so the top-k
    cut can never disagree."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id", F.explode(tok_array(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .withColumn("score",
                          F.col("tf") * F.log(F.col("n") / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("doc_id", "term", "tf",
                    F.round("score", 6).alias("tfidf")))


def tfidf_top_terms(spark, sf_dir):
    return tfidf_top_terms_df(_docs(spark, sf_dir)).orderBy("doc_id", "term")


TFIDF_TOP_TERMS_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                            x -> x != '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
), r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rn
  FROM s
)
SELECT doc_id, term, tf, round(score, 6) AS tfidf
FROM r WHERE rn <= {TFIDF_TOP_K}
ORDER BY doc_id, term
"""

QUERIES["tfidf_top_terms"] = tfidf_top_terms
ORACLES["tfidf_top_terms"] = TFIDF_TOP_TERMS_SQL


# --- CCNet perplexity bucketing -----------------------------------------------

CCNET_BUCKETS = ("head", "middle", "tail")


def ccnet_buckets_df(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
    language, rank documents by their LM score (``lm_nll_scores_df`` —
    the corpus bigram LM standing in for CCNet's KenLM) and split the
    ranking into head / middle / tail terciles. head = the best-scoring
    third, the slice CCNet feeds to training first.

    The tercile rule is exact integer arithmetic on the rank: bucket =
    head iff 3*rank <= n, middle iff 3*rank <= 2*n — no float quantile
    whose boundary could flip between engines. Ties on the (4-dp
    rounded) score break by doc_id, so the ordering is total and both
    engines rank identically (score parity itself is the already-proven
    lm_nll_scores invariant).

    Scale shape: the LM scoring dominates (characterized separately);
    bucketing adds ONE window partitioned by language — languages are
    the parallelism axis, and a giant language partition is the standard
    window-skew case (rank via two-pass partial sort if a single lang
    outgrows a partition at 10^12 docs; semantics unchanged)."""
    from pyspark.sql.window import Window

    nll = lm_nll_scores_df(docs)
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    wn = Window.partitionBy("lang")
    return (nll.join(docs.select("doc_id", "lang"), "doc_id")
            .withColumn("r", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
            .withColumn(
                "bucket",
                F.when(3 * F.col("r") <= F.col("n"), "head")
                .when(3 * F.col("r") <= 2 * F.col("n"), "middle")
                .otherwise("tail"))
            .select("doc_id", "lang", "avg_nll", "bucket")
            .orderBy("doc_id"))


def ccnet_buckets(spark, sf_dir):
    return ccnet_buckets_df(spread_input(_docs(spark, sf_dir)))


CCNET_BUCKETS_SQL = f"""
WITH nll AS ({LM_NLL_SCORES_SQL}),
j AS (
  SELECT nll.doc_id, d.lang, nll.avg_nll
  FROM nll JOIN documents d USING (doc_id)
), r AS (
  SELECT doc_id, lang, avg_nll,
         row_number() OVER (PARTITION BY lang
                            ORDER BY avg_nll, doc_id) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM j
)
SELECT doc_id, lang, avg_nll,
       CASE WHEN 3 * r <= n THEN 'head'
            WHEN 3 * r <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r ORDER BY doc_id
"""

QUERIES["ccnet_buckets"] = ccnet_buckets
ORACLES["ccnet_buckets"] = CCNET_BUCKETS_SQL


# --- Inverted-index construction ----------------------------------------------

IDX_DF_MIN = 2    # singleton terms index nothing worth joining on
IDX_DF_CAP = 30   # stop-term posting lists are the classic skew killer


def inverted_index_df(docs: DataFrame) -> DataFrame:
    """Materialized inverted index: bigram phrase -> (df, sorted posting
    list) for phrases with IDX_DF_MIN <= df <= IDX_DF_CAP — the
    retrieval artifact behind bm25_search (which scores on the fly) and
    the shape an index-shard export job writes at corpus scale. Bigrams
    (the shared ``word_ngrams`` builder, n=2) rather than unigrams:
    phrase postings are what positional/phrase retrieval shards, and
    their df spectrum has the long tail an index cap is designed for.

    Scale shape: two phases on purpose. Phase 1 computes df alone
    (count aggregate — partial map-side combine, tiny rows); the cap
    filter then prunes stop phrases BEFORE any posting list exists, so
    the classic skew killer (collecting 10^11 doc_ids for one hot term)
    can never materialize. Phase 2 re-shuffles only the surviving
    (term, doc_id) pairs into sorted postings. The df table is
    vocabulary-sized, which Heaps' law makes unbroadcastable at corpus
    scale — the join is left to AQE (broadcasts while small), the
    tfidf_top_terms lesson. Postings sort numerically, then render as a
    string so both engines hash one canonical form."""
    # r6: one explicit term-keyed exchange feeds BOTH phases. The naive
    # two-reference form computed the tokenize→bigram→explode chain and
    # scanned the source twice (the df side partial-aggregated before
    # its exchange, so the two exchange subtrees differed and
    # ReuseExchange could not fire: 2 scans, 4 exchanges). With the
    # shared repartition the subtrees are identical — one scan, the
    # pair table shuffled once, both the df aggregate and the join read
    # the same shuffle output (measured 7.0 s → 4.0 s at sf0.1; 1.4 s
    # with the registry wrapper's spread_input). The phase order is
    # unchanged: df prunes hot phrases before any posting list is
    # collected.
    toks = docs.select("doc_id", tok_array(F.col("text")).alias("toks"))
    pairs = word_ngrams(toks, "toks", 2, "_bg").select(
        "doc_id", F.explode(F.array_distinct("_bg")).alias("term")
    ).repartition("term")
    df_tab = (pairs.groupBy("term").agg(F.count("*").alias("df"))
              .filter((F.col("df") >= IDX_DF_MIN)
                      & (F.col("df") <= IDX_DF_CAP)))
    return (pairs.join(df_tab, "term")
            .groupBy("term", "df")
            .agg(F.array_join(
                F.transform(F.sort_array(F.collect_list("doc_id")),
                            lambda x: x.cast("string")), ",")
                .alias("postings"))
            .select("term", "df", "postings")
            .orderBy("term"))


def inverted_index(spark, sf_dir):
    return inverted_index_df(spread_input(_docs(spark, sf_dir)))


INVERTED_INDEX_SQL = rf"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x != '') AS toks
  FROM documents
), pairs AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS term
  FROM w, unnest(range(1, len(toks))) AS t(i)
  WHERE len(toks) >= 2
), df_tab AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM pairs GROUP BY term
  HAVING count(*) BETWEEN {IDX_DF_MIN} AND {IDX_DF_CAP}
)
SELECT p.term, d.df,
       array_to_string(list_transform(list_sort(list(p.doc_id)),
                                      x -> CAST(x AS VARCHAR)), ',')
         AS postings
FROM pairs p JOIN df_tab d USING (term)
GROUP BY p.term, d.df
ORDER BY p.term
"""

QUERIES["inverted_index"] = inverted_index
ORACLES["inverted_index"] = INVERTED_INDEX_SQL


# --- PMI collocations -----------------------------------------------------------

PMI_MIN_COUNT = 5   # singleton/noise pairs have unstable PMI
PMI_TOP_K = 20


def pmi_collocations_df(docs: DataFrame) -> DataFrame:
    """Top-K collocations by pointwise mutual information over adjacent
    token bigrams — the phrase-mining step a tokenizer-vocabulary or
    merged-token pipeline runs over the corpus (Mikolov et al. 2013's
    phrase score is this with a discount). PMI = ln(p(w1,w2) /
    (p(w1·)·p(·w2))) with positional marginals (w1 counted as bigram
    head, w2 as tail) so every count derives from the ONE bigram table.

    Float parity: pmi = ln(c2)+ln(N)-ln(cs)-ln(ce) — a fixed-order
    scalar expression (no float aggregate exists to reorder), overflow-
    free where c2*N would blow past 2^63 at corpus scale. Ranking uses
    the UNROUNDED double (bit-identical on both engines), ties broken
    by (w1, w2); rounding happens once, after the top-K cut.

    Scale shape: one explode → bigram-keyed count (map-side combine);
    the marginals are rollups of that count table, joined WITHOUT a
    broadcast hint (vocabulary-sized — Heaps' law, the tfidf lesson;
    AQE broadcasts while small); N is a broadcast single row. The
    global top-K is TakeOrdered — per-partition heaps, no full sort."""
    toks = docs.select(tok_array(F.col("text")).alias("toks"))
    c2 = (word_ngrams(toks, "toks", 2, "_bg")
          .select(F.explode("_bg").alias("bg"))
          .groupBy("bg").agg(F.count("*").alias("c2"))
          .select(F.split("bg", " ").getItem(0).alias("w1"),
                  F.split("bg", " ").getItem(1).alias("w2"),
                  "c2"))
    cs = c2.groupBy("w1").agg(F.sum("c2").alias("cs"))
    ce = c2.groupBy("w2").agg(F.sum("c2").alias("ce"))
    nn = c2.agg(F.sum("c2").alias("n"))
    scored = (c2.filter(F.col("c2") >= PMI_MIN_COUNT)
              .join(cs, "w1").join(ce, "w2")
              .crossJoin(F.broadcast(nn))
              .withColumn(
                  "pmi",
                  F.log(F.col("c2").cast("double"))
                  + F.log(F.col("n").cast("double"))
                  - F.log(F.col("cs").cast("double"))
                  - F.log(F.col("ce").cast("double"))))
    return (scored
            .orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOP_K)
            .select("w1", "w2", F.col("c2").alias("n_pair"),
                    F.round("pmi", 6).alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2"))


def pmi_collocations(spark, sf_dir):
    return pmi_collocations_df(spread_input(_docs(spark, sf_dir)))


PMI_COLLOCATIONS_SQL = rf"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                             x -> x != '') AS toks
  FROM documents
), bg AS (
  SELECT toks[i] || ' ' || toks[i+1] AS bg
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS c2
  FROM bg GROUP BY bg
), cs AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS cs FROM c2 GROUP BY w1
), ce AS (
  SELECT w2, CAST(sum(c2) AS BIGINT) AS ce FROM c2 GROUP BY w2
), nn AS (
  SELECT CAST(sum(c2) AS BIGINT) AS n FROM c2
), scored AS (
  SELECT c2.w1, c2.w2, c2.c2,
         ln(CAST(c2.c2 AS DOUBLE)) + ln(CAST(nn.n AS DOUBLE))
         - ln(CAST(cs.cs AS DOUBLE)) - ln(CAST(ce.ce AS DOUBLE)) AS pmi
  FROM c2 JOIN cs USING (w1) JOIN ce USING (w2) CROSS JOIN nn
  WHERE c2.c2 >= {PMI_MIN_COUNT}
), top AS (
  SELECT * FROM scored ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP_K}
)
SELECT w1, w2, c2 AS n_pair, round(pmi, 6) AS pmi
FROM top ORDER BY pmi DESC, w1, w2
"""

QUERIES["pmi_collocations"] = pmi_collocations
ORACLES["pmi_collocations"] = PMI_COLLOCATIONS_SQL


# --- Vocabulary coverage --------------------------------------------------------

VOCAB_TOP_K = 50


def vocab_coverage_df(docs: DataFrame) -> DataFrame:
    """Tokenizer-vocabulary construction: the top-K words by corpus
    frequency with each prefix's cumulative coverage of all token
    occurrences — the curve a vocab-size decision (BPE budget, stopword
    cutoff) is read off.

    Scale shape: the full vocabulary is NEVER globally sorted — top-K
    comes from TakeOrdered (per-partition heaps over the word-count
    aggregate), and the rank/cumsum window runs over exactly K rows,
    which is legal because a descending-frequency prefix sum only needs
    the rows above the cutoff. The total is a broadcast single row.
    coverage = cum/total divides two exact integers — one correctly-
    rounded float op, identical on both engines."""
    from pyspark.sql.window import Window

    from . import tok_array

    c = (docs.select(F.explode(tok_array(F.col("text"))).alias("word"))
         .groupBy("word").agg(F.count("*").alias("tf")))
    tot = c.agg(F.sum("tf").alias("n"))
    topk = c.orderBy(F.desc("tf"), "word").limit(VOCAB_TOP_K)
    order = Window.orderBy(F.desc("tf"), "word")
    cum = Window.orderBy(F.desc("tf"), "word").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (topk
            .withColumn("rank", F.row_number().over(order))
            .withColumn("cum", F.sum("tf").over(cum))
            .crossJoin(F.broadcast(tot))
            .select("rank", "word", "tf",
                    F.round(F.col("cum").cast("double") / F.col("n"), 6)
                    .alias("coverage"))
            .orderBy("rank"))


def vocab_coverage(spark, sf_dir):
    return vocab_coverage_df(_docs(spark, sf_dir))


VOCAB_COVERAGE_SQL = rf"""
WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x != '') AS toks
  FROM documents
), w AS (
  SELECT unnest(toks) AS word FROM t
), c AS (
  SELECT word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY word
), tot AS (
  SELECT CAST(sum(tf) AS BIGINT) AS n FROM c
), topk AS (
  SELECT word, tf FROM c ORDER BY tf DESC, word LIMIT {VOCAB_TOP_K}
), r AS (
  -- rank/cumsum over ONLY the top-K rows: a descending-frequency
  -- prefix sum needs nothing below the cutoff (mirrors the Spark
  -- TakeOrdered-then-window shape)
  SELECT word, tf,
         row_number() OVER (ORDER BY tf DESC, word) AS rank,
         CAST(sum(tf) OVER (ORDER BY tf DESC, word
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM topk
)
SELECT r.rank, r.word, r.tf,
       round(CAST(r.cum AS DOUBLE) / tot.n, 6) AS coverage
FROM r CROSS JOIN tot
ORDER BY r.rank
"""

QUERIES["vocab_coverage"] = vocab_coverage
ORACLES["vocab_coverage"] = VOCAB_COVERAGE_SQL


# -- skip-gram co-occurrence pairs ------------------------------------------------

SKIPGRAM_MAX_DIST = 2
SKIPGRAM_MIN_COUNT = 3


def skipgram_pairs(spark, sf_dir):
    """word2vec-style windowed co-occurrence counts: every forward token
    pair (w1, w2) at distance d ∈ 1..SKIPGRAM_MAX_DIST across the corpus,
    kept when its corpus count reaches SKIPGRAM_MIN_COUNT. This is the
    co-occurrence matrix feeding embedding pre-training and collocation
    mining (pmi_collocations ranks ADJACENT pairs; this one keeps the
    distance dimension).

    Scale shape: pair construction is MAP-ONLY — for each distance the
    shifted token array is zip_with'd against itself (two bounded slices,
    no self-join, no window), concatenated, and exploded once; the single
    shuffle is the two-phase (w1, w2, d) count, whose partial aggregation
    absorbs hot pairs (stopword-stopword pairs are exactly the skew).
    The count filter runs post-aggregation on the reduced key space."""
    docs = _docs(spark, sf_dir)
    t = tok_array(F.col("text"))
    base = docs.select(t.alias("t"))
    n = F.size("t")

    def pairs_at(d: int):
        ln = F.greatest(n - d, F.lit(0))
        return F.zip_with(
            F.slice("t", 1, ln), F.slice("t", d + 1, ln),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2"),
                                  F.lit(d).alias("d")))

    allp = F.concat(*[pairs_at(d) for d in range(1, SKIPGRAM_MAX_DIST + 1)])
    return (base.select(F.explode(allp).alias("p"))
            .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"),
                     F.col("p.d").alias("d"))
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= SKIPGRAM_MIN_COUNT)
            .orderBy("w1", "w2", "d"))


SKIPGRAM_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                x -> x <> '') AS t
  FROM documents
),
pairs AS (
  SELECT t[i] AS w1, t[i + d] AS w2, d
  FROM toks,
       (VALUES {", ".join(f"({d})" for d in range(1, SKIPGRAM_MAX_DIST + 1))}) dd(d),
       unnest(range(1, len(t) - d + 1)) AS r(i)
)
SELECT w1, w2, CAST(d AS INT) AS d, CAST(count(*) AS BIGINT) AS c
FROM pairs GROUP BY w1, w2, d HAVING count(*) >= {SKIPGRAM_MIN_COUNT}
ORDER BY w1, w2, d
"""

QUERIES["skipgram_pairs"] = skipgram_pairs
ORACLES["skipgram_pairs"] = SKIPGRAM_PAIRS_SQL


# --- HyperLogLog distinct-count sketch --------------------------------------

HLL_M = 64                    # registers (p = 6 index bits off the low end)
_HLL_REST_BITS = 54           # 60-bit md5 hash minus the 6 index bits
_HLL_ALPHA = 0.709            # Flajolet et al. 2007 bias constant for m=64
_HLL_LC_CUT = 2.5 * HLL_M     # small-range (linear counting) switchover


def hll_rank_rows(docs: "DataFrame", *, dedup: bool = True) -> "DataFrame":
    """(source, idx, rank) per token bigram — the register-update stream
    shared by the batch sketch below and ``streaming.stream_hll_registers``.
    ``dedup=False`` skips the distinct: register max is duplicate-
    insensitive, and a streaming DataFrame cannot host the blocking
    distinct anyway (the batch path keeps it because one row per distinct
    gram also yields exact_distinct for free)."""
    toks = docs.select("source", tok_array(F.col("text")).alias("toks"))
    grams = word_ngrams(toks, "toks", 2, "_bg").select(
        "source", F.explode("_bg").alias("bg"))
    if dedup:
        grams = grams.distinct()
    h = grams.select("source", md5_long(F.col("bg")).alias("h"))
    hashed = h.select(
        "source", (F.col("h") % HLL_M).alias("idx"),
        F.expr(f"h div {HLL_M}").alias("rest"))
    rank = (F.when(F.col("rest") == 0, F.lit(_HLL_REST_BITS + 1))
            .otherwise(F.lit(_HLL_REST_BITS + 1)
                       - F.length(F.bin(F.col("rest")))))
    return hashed.select("source", "idx", rank.alias("rank"))


def hll_distinct_df(docs: "DataFrame") -> "DataFrame":
    """HyperLogLog cardinality sketch (Flajolet et al. 2007) over each
    source's distinct token bigrams — the same domain as kmv_distinct, so
    the two estimators are directly comparable in one corpus report. The
    60-bit md5 hash splits into a 6-bit register index (low bits) and a
    54-bit suffix whose leading-zero rank updates the register; the raw
    estimate is alpha * m^2 / sum(2^-M_j), switching to linear counting
    m * ln(m / empty) below 2.5m when registers remain empty.

    Unlike Spark's built-in approx_count_distinct (whose HLL++ register
    layout is not reproducible outside the JVM), this one is
    oracle-checkable: register indices, ranks (via length(bin(x)) — both
    engines print minimal binary), and the register fold are exact
    integers / exact binary fractions. The fold sums 2^-M_j in register
    order on both sides (char_entropy discipline: 64 terms spanning up to
    2^61 in scale do NOT commute exactly in doubles), so the estimate is
    bit-identical by induction; ln only runs on the linear-counting
    branch, whose condition both engines derive from the same doubles.

    Scale shape: registers are a two-phase aggregate — (source, idx)
    max(rank) partials absorb the token firehose map-side, then 64 rows
    per source fold driver-free into one estimate row. This is THE
    mergeable-sketch pattern: per-partition register vectors union by
    max, so a 100 TB corpus pays one narrow shuffle of
    O(sources * 64) rows."""
    # hll_rank_rows yields ONE row per distinct (source, bigram), so
    # counting rows inside the register rollup yields exact_distinct for
    # free — the whole operator is a single pass (no second scan, no
    # join back)
    regs = (hll_rank_rows(docs)
            .groupBy("source", "idx").agg(F.max("rank").alias("m"),
                                          F.count("*").alias("cnt")))
    # the register's exact binary fraction 2^-m, computed while m is a
    # real column (integer shift then one exact-double division)
    term = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)")
    folded = (regs.select("source", "idx", "cnt", term.alias("term"))
              .groupBy("source").agg(
                  F.count("*").alias("hit"),
                  F.sum("cnt").alias("exact_distinct"),
                  F.aggregate(
                      F.array_sort(F.collect_list(F.struct("idx", "term"))),
                      F.lit(0.0), lambda a, x: a + x["term"])
                  .alias("fold")))
    raw = ((F.lit(_HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)))
           / (F.col("fold") + (F.lit(HLL_M) - F.col("hit")).cast("double")))
    est = (F.when((raw <= F.lit(_HLL_LC_CUT)) & (F.col("hit") < HLL_M),
                  F.lit(float(HLL_M))
                  * F.log(F.lit(float(HLL_M))
                          / (F.lit(HLL_M) - F.col("hit")).cast("double")))
           .otherwise(raw))
    return folded.select("source", "exact_distinct",
                         F.col("hit").alias("registers_hit"),
                         F.round(est, 4).alias("hll_estimate"))


def hll_distinct(spark, sf_dir):
    return hll_distinct_df(_docs(spark, sf_dir)).orderBy("source")


HLL_DISTINCT_SQL = rf"""
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT DISTINCT source,
         array_to_string(toks[r.i+1 : r.i+2], ' ') AS bg
  FROM t, unnest(range(0, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 2
), h AS (
  SELECT source, ('0x' || substring(md5(bg), 1, 15))::BIGINT AS h FROM g
), regs AS (
  SELECT source, h % {HLL_M} AS idx,
         max(CASE WHEN h // {HLL_M} = 0 THEN {_HLL_REST_BITS + 1}
                  ELSE {_HLL_REST_BITS + 1} - length(bin(h // {HLL_M}))
             END) AS m
  FROM h GROUP BY source, h % {HLL_M}
), s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS hit,
         list_reduce(list_prepend(0.0, list(
             1.0 / CAST(CAST(1 AS BIGINT) << m AS DOUBLE) ORDER BY idx)),
           (a, b) -> a + b) AS fold
  FROM regs GROUP BY source
), e AS (
  SELECT source, hit,
         (CAST('{_HLL_ALPHA!r}' AS DOUBLE) * {float(HLL_M * HLL_M)!r})
           / (fold + CAST({HLL_M} - hit AS DOUBLE)) AS raw
  FROM s
), x AS (
  SELECT source, hit,
         CASE WHEN raw <= {_HLL_LC_CUT!r} AND hit < {HLL_M}
              THEN {float(HLL_M)!r}
                   * ln({float(HLL_M)!r} / CAST({HLL_M} - hit AS DOUBLE))
              ELSE raw END AS est
  FROM e
), ex AS (
  SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
  FROM g GROUP BY source
)
SELECT ex.source, ex.exact_distinct, x.hit AS registers_hit,
       round(x.est, 4) AS hll_estimate
FROM ex JOIN x USING (source) ORDER BY source
"""

QUERIES["hll_distinct"] = hll_distinct
ORACLES["hll_distinct"] = HLL_DISTINCT_SQL


# --- Count-min sketch heavy hitters ------------------------------------------

CMS_W = 16          # deliberately narrow: vocab ~31 >> 16 buckets, so the
CMS_D = 4           # overestimate channel (min over 4 rows) is EXERCISED
CMS_HEAVY_DEN = 32  # heavy iff est * 32 >= total tokens (>= 3.125%)


def cms_heavy_hitters_df(docs: "DataFrame") -> "DataFrame":
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) over
    the corpus token stream: d=4 salted md5 rows x w=16 buckets, estimate
    = min over rows of the bucket totals, heavy iff the estimate clears
    CMS_HEAVY_DEN^-1 of all tokens. Every token reports (true_count,
    cms_estimate, is_heavy) so the sketch's one-sided error (estimate >=
    truth, overshoot only from collisions) is visible in the output — w
    is deliberately far below the vocabulary so collisions actually
    happen at test scale, the same forced-error design as bloom_url_seen's
    m=4n.

    Scale shape: the sketch is built from the TOKEN COUNTS table, not the
    raw stream — bucket totals are a sum over distinct tokens (vocab-
    bounded, Heaps' law), so the corpus-sized explode happens exactly
    once (the same count table serves truth and sketch). All integers:
    parity by construction. The d*w = 64-cell sketch itself is the
    mergeable map-side structure a streaming variant would keep."""
    toks = docs.select(F.explode(tok_array(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("true_count"))
    counts = counts.persist()
    try:
        total = counts.agg(F.sum("true_count").alias("n")) \
            .collect()[0]["n"]
        out = _cms_estimates(counts, int(total)).localCheckpoint(eager=True)
    finally:
        counts.unpersist()
    return out


def cms_cell_rows(toks: "DataFrame") -> "DataFrame":
    """THE count-min salt/bucket scheme: each input row (any frame with
    a ``tok`` column) explodes into CMS_D salted rows carrying the cell
    coordinates (j, b) with b = md5_long(j ‖ ':' ‖ tok) % CMS_W. Shared
    by the batch sketch below and ``streaming.stream_cms_cells`` so the
    streamed cells are by construction the batch cells — a salt or
    width change cannot desynchronize the two."""
    from . import md5_long

    salted = toks.withColumn(
        "j", F.explode(F.array(*[F.lit(str(j)) for j in range(CMS_D)])))
    return salted.withColumn(
        "b", md5_long(F.concat(F.col("j"), F.lit(":"), F.col("tok")))
        % CMS_W)


def _cms_estimates(counts: "DataFrame", total: int) -> "DataFrame":
    """Lazy sketch-build + probe over a (tok, true_count) table (split
    out so the plan is pin-testable before the persist/localCheckpoint
    in cms_heavy_hitters_df hides it)."""
    hashed = cms_cell_rows(counts).select("tok", "true_count", "j", "b")
    bc = hashed.groupBy("j", "b").agg(
        F.sum("true_count").alias("cnt"))
    est = (hashed.join(bc, ["j", "b"])
           .groupBy("tok", "true_count")
           .agg(F.min("cnt").alias("cms_estimate")))
    return (est.select(
        F.col("tok").alias("token"), "true_count", "cms_estimate",
        (F.col("cms_estimate") * CMS_HEAVY_DEN >= F.lit(total))
        .alias("is_heavy"))
        .orderBy("token"))


def cms_heavy_hitters(spark, sf_dir):
    return cms_heavy_hitters_df(_docs(spark, sf_dir))


CMS_HEAVY_HITTERS_SQL = rf"""
WITH t AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                            x -> x <> '')) AS tok
  FROM documents
), c AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS true_count FROM t GROUP BY tok
), tot AS (SELECT CAST(sum(true_count) AS BIGINT) AS n FROM c),
buck AS (
  SELECT u.j, tok, true_count,
         ('0x' || substring(md5(u.j || ':' || tok), 1, 15))::BIGINT
           % {CMS_W} AS b
  FROM c, unnest([{", ".join(repr(str(j)) for j in range(CMS_D))}]) AS u(j)
), bc AS (
  SELECT j, b, CAST(sum(true_count) AS BIGINT) AS cnt FROM buck GROUP BY j, b
), est AS (
  SELECT buck.tok, buck.true_count, min(bc.cnt) AS cms_estimate
  FROM buck JOIN bc ON bc.j = buck.j AND bc.b = buck.b
  GROUP BY buck.tok, buck.true_count
)
SELECT tok AS token, true_count, cms_estimate,
       cms_estimate * {CMS_HEAVY_DEN} >= (SELECT n FROM tot) AS is_heavy
FROM est ORDER BY token
"""

QUERIES["cms_heavy_hitters"] = cms_heavy_hitters
ORACLES["cms_heavy_hitters"] = CMS_HEAVY_HITTERS_SQL


# --- Monroe weighted log-odds (distinctive terms per source) ------------

LOGODDS_PRIOR = 10.0   # Dirichlet strength a0 (informative, corpus-scaled)
LOGODDS_TOP = 5


def log_odds_terms_df(docs: DataFrame) -> DataFrame:
    """Monroe et al. (2008) weighted log-odds with an informative
    Dirichlet prior: for each source, which terms are distinctively
    frequent vs the REST of the corpus, scored by the z-statistic
    delta/sqrt(var). The prior a_w = a0·c_w/N shrinks rare-term odds
    toward the corpus distribution — the property that makes this the
    standard "what words define this subcorpus" statistic rather than
    raw log-ratio (which explodes on count-1 terms).

    Float discipline: every score is a FIXED FORMULA over exact integer
    counts (no float accumulation at all — the only sums are BIGINT),
    parenthesized identically in the oracle so both engines run the
    same IEEE op sequence; ln/sqrt are the only libm calls and the
    output rounds at 4.

    Scale shape: one tokenize+explode → (source, term) count, then two
    BIGINT rollups (term totals, source totals) reuse that aggregate —
    c2→c1 style, never a second corpus scan. The term-keyed join is
    vocabulary-sized on BOTH sides (no broadcast hint — the tfidf
    lesson), the source-totals join is tiny, and the top-5 per source
    is a 20-partition window over the scored aggregate."""
    from pyspark.sql import Window

    from . import tok_array

    csw = (docs.select("source",
                       F.explode(tok_array(F.col("text"))).alias("term"))
           .groupBy("source", "term").agg(F.count("*").alias("c_sw"))
           .persist())
    try:
        result = _log_odds_ranked_df(csw).localCheckpoint(eager=True)
    finally:
        csw.unpersist()
    return result.orderBy("source", F.desc("zscore"), "term")


def _log_odds_ranked_df(csw: DataFrame) -> DataFrame:
    """The lazy scoring stage over the (source, term) counts — split out
    so plan pins can target the PRODUCTION frame (the checkpoint in the
    wrapper hides subplans from executedPlan)."""
    from pyspark.sql import Window

    cw = csw.groupBy("term").agg(F.sum("c_sw").alias("c_w"))
    ns = csw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    tot = cw.agg(F.sum("c_w").alias("n_tot"))

    a0 = F.lit(LOGODDS_PRIOR)
    one = F.lit(1.0)
    j = (csw.join(cw, "term")
         .join(ns, "source")
         .crossJoin(F.broadcast(tot)))
    aw = a0 * F.col("c_w") / F.col("n_tot")
    c_rest = F.col("c_w") - F.col("c_sw")
    n_rest = F.col("n_tot") - F.col("n_s")
    delta = (F.log((F.col("c_sw") + aw)
                   / (F.col("n_s") + a0 - F.col("c_sw") - aw))
             - F.log((c_rest + aw)
                     / (n_rest + a0 - c_rest - aw)))
    var = one / (F.col("c_sw") + aw) + one / (c_rest + aw)
    scored = j.withColumn("z", delta / F.sqrt(var))
    w = Window.partitionBy("source").orderBy(F.desc("z"), "term")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= LOGODDS_TOP)
            .select("source", "term", "c_sw",
                    F.round("z", 4).alias("zscore")))


def log_odds_terms(spark, sf_dir):
    return log_odds_terms_df(_docs(spark, sf_dir))


# interpolated float constants go through quoted-string CASTs (strtod is
# correctly rounded; a bare long decimal literal would re-round through
# DuckDB DECIMAL — the pagerank lesson); 10.0/1.0 are exact anyway but
# the rule is applied uniformly
_A0_SQL = f"CAST('{LOGODDS_PRIOR!r}' AS DOUBLE)"

LOG_ODDS_TERMS_SQL = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(
           regexp_split_to_array(lower(text), '{WS_RE}+'),
           x -> x <> '')) AS term
  FROM documents
), csw AS (
  SELECT source, term, count(*) AS c_sw FROM toks GROUP BY source, term
), cw AS (
  SELECT term, CAST(sum(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY term
), ns AS (
  SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM csw GROUP BY source
), tot AS (
  SELECT CAST(sum(c_w) AS BIGINT) AS n_tot FROM cw
), scored AS (
  SELECT csw.source, csw.term, csw.c_sw,
         (ln((csw.c_sw + {_A0_SQL} * cw.c_w / tot.n_tot)
             / (ns.n_s + {_A0_SQL} - csw.c_sw
                - {_A0_SQL} * cw.c_w / tot.n_tot))
          - ln(((cw.c_w - csw.c_sw) + {_A0_SQL} * cw.c_w / tot.n_tot)
               / ((tot.n_tot - ns.n_s) + {_A0_SQL} - (cw.c_w - csw.c_sw)
                  - {_A0_SQL} * cw.c_w / tot.n_tot)))
         / sqrt(CAST('1.0' AS DOUBLE)
                / (csw.c_sw + {_A0_SQL} * cw.c_w / tot.n_tot)
                + CAST('1.0' AS DOUBLE)
                / ((cw.c_w - csw.c_sw) + {_A0_SQL} * cw.c_w / tot.n_tot))
           AS z
  FROM csw JOIN cw USING (term) JOIN ns USING (source) CROSS JOIN tot
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY z DESC, term) AS rn
  FROM scored
)
SELECT source, term, c_sw, round(z, 4) AS zscore
FROM ranked WHERE rn <= {LOGODDS_TOP}
ORDER BY source, zscore DESC, term
"""

QUERIES["log_odds_terms"] = log_odds_terms
ORACLES["log_odds_terms"] = LOG_ODDS_TERMS_SQL


# --- Wide→long unpivot of per-doc metrics (the stack surface) -----------

def metrics_unpivot_df(docs: DataFrame) -> DataFrame:
    """Per-doc metric table in LONG form via stack() — the unpivot API
    surface (the inverse of user_event_pivot's .pivot()): three integer
    metrics per doc (chars, whitespace tokens, lines) become
    (doc_id, metric, value) rows, the shape metric stores and
    feature pipelines ingest.

    Scale shape: stack is a pure projection (a Generate node — 3 output
    rows per input row, zero shuffle, no Python); the metrics
    themselves are codegen string ops."""
    n_toks = F.size(F.split(F.trim(F.col("text")), WS_RE + "+"))
    n_lines = F.size(F.split(F.col("text"), "\n"))
    wide = docs.select(
        "doc_id", F.col("n_chars").alias("m_chars"),
        n_toks.cast("long").alias("m_tokens"),
        n_lines.cast("long").alias("m_lines"))
    return (wide.select(
        "doc_id",
        F.expr("stack(3, 'n_chars', m_chars, 'n_tokens', m_tokens, "
               "'n_lines', m_lines) AS (metric, value)"))
        .orderBy("doc_id", "metric"))


def metrics_unpivot(spark, sf_dir):
    return metrics_unpivot_df(_docs(spark, sf_dir))


METRICS_UNPIVOT_SQL = rf"""
WITH wide AS (
  SELECT doc_id, n_chars AS m_chars,
         CAST(len(regexp_split_to_array(trim(text), '{WS_RE}+'))
              AS BIGINT) AS m_tokens,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS m_lines
  FROM documents
)
SELECT doc_id, metric, value FROM (
  SELECT doc_id, 'n_chars' AS metric, m_chars AS value FROM wide
  UNION ALL
  SELECT doc_id, 'n_tokens', m_tokens FROM wide
  UNION ALL
  SELECT doc_id, 'n_lines', m_lines FROM wide
)
ORDER BY doc_id, metric
"""

QUERIES["metrics_unpivot"] = metrics_unpivot
ORACLES["metrics_unpivot"] = METRICS_UNPIVOT_SQL


# -- BPE merge learning (byte-pair encoding vocabulary induction) ---------------

BPE_N_MERGES = 3


def _bpe_learn(docs: DataFrame) -> tuple[DataFrame, list]:
    """Shared BPE learn loop: returns the vocabulary DataFrame with the
    post-merge ``syms`` column (word, freq, syms) and the learned merge
    list [(rank, a, b, count)]. See bpe_merges_df for semantics and the
    scale argument; bpe_encode_df reuses the final vocabulary so the
    encode stage never re-runs the per-rule passes over the corpus."""
    words = (docs
             .select(F.explode(tok_array(F.col("text"))).alias("word"))
             .groupBy("word")
             .agg(F.count("*").alias("freq"))
             .withColumn(
                 "syms",
                 F.transform(
                     F.sequence(F.lit(1), F.length("word")),
                     lambda i: F.col("word").substr(i.cast("int"),
                                                    F.lit(1))))
             .localCheckpoint(eager=True))
    merges = []
    for rank in range(1, BPE_N_MERGES + 1):
        # guard: sequence(1, 0) DESCENDS for single-symbol words
        pair_arr = F.when(
            F.size("syms") > 1,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i.cast("int")).alias("a"),
                    F.element_at("syms", i.cast("int") + 1).alias("b"))),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (words
                .select("freq", F.explode(pair_arr).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .limit(1)
                .collect()[0])
        a, b, cnt = best["a"], best["b"], int(best["cnt"])
        merges.append((rank, a, b, cnt))
        merged = F.array(F.lit(a + b))
        new_syms = F.aggregate(
            "syms", F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), merged),
            ).otherwise(F.concat(acc, F.array(x))))
        words = (words.withColumn("syms", new_syms)
                 .localCheckpoint(eager=True))
    return words, merges


def bpe_merges_df(docs: DataFrame) -> DataFrame:
    """Learn the first BPE_N_MERGES byte-pair-encoding merges (Sennrich
    2016) over the corpus: iteratively count adjacent-symbol pairs
    weighted by word frequency, take the most frequent pair (ties →
    lexicographic smallest), and apply the merge greedily left-to-right
    in every word. All counts are exact integers and the tie order is
    total, so the normally-heuristic tokenizer-training loop is
    hash-exact-checkable.

    The greedy merge is a JVM ordered fold (append, or replace-last
    when (last, current) == (a, b)); the fold equals the reference
    scan-and-skip semantics because a merged symbol a||b can never
    equal a (b is nonempty), so a fresh merge can't re-trigger. The
    oracle applies the merge with the INDEPENDENT island-parity
    formulation (consecutive match runs keep even offsets) — driver
    equality re-proves the greedy semantics, and a python-reference
    test pins both (the k_core lesson: iterative ops need an external
    truth, not just the twin).

    Scale shape: ONE corpus scan builds the word-frequency table; every
    iteration then runs over the VOCABULARY (Heaps' law — sublinear in
    corpus size): one partial-aggregatable pair count, a 1-row
    TakeOrdered collect, one map-only merge, localCheckpoint to keep
    the plan flat. This is exactly how production BPE trainers shard:
    corpus → word counts once, then iterate on the counts."""
    _, merges = _bpe_learn(docs)
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, "
                "pair_count long")


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merges_df(_docs(spark, sf_dir))


BPE_HEAD_TOKENS = 5


def bpe_encode_df(docs: DataFrame) -> DataFrame:
    """Encode every document with the learned BPE merges (the apply
    stage of the tokenizer pair — bpe_merges learns the rules, this
    tokenizes the corpus with them). Per doc: token count, total
    post-merge symbol count, total character count (all exact integers)
    plus the encoded form of the first BPE_HEAD_TOKENS tokens as a
    visible-evidence string.

    Scale shape (the production tokenizer-sharding layout): the merge
    passes run over the VOCABULARY only (Heaps-sublinear, inside
    _bpe_learn); the corpus is then encoded by a single equi-join
    token→vocab — no per-rule pass ever touches the corpus. The vocab
    side carries slim (word, syms) and is broadcast by AQE when small;
    no manual hint because vocabulary grows with corpus size (the
    tfidf_top_terms lesson). The head string collects only tok_pos ≤
    BPE_HEAD_TOKENS structs per doc (null-skipping collect_list), never
    the whole document."""
    words, _ = _bpe_learn(docs)
    toks = docs.select(
        "doc_id",
        F.posexplode(tok_array(F.col("text"))).alias("p", "word"),
    ).select("doc_id", "word", (F.col("p") + 1).alias("tok_pos"))
    enc = toks.join(words.select("word", "syms"), "word")
    head_struct = F.when(
        F.col("tok_pos") <= BPE_HEAD_TOKENS,
        F.struct(F.col("tok_pos").alias("tok_pos"),
                 F.array_join("syms", " ").alias("enc")))
    per = enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.size("syms")).cast("long").alias("n_syms"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(head_struct)),
                        lambda x: x["enc"]),
            " | ").alias("head_encoded"))
    return (docs.select("doc_id").join(per, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_tokens", F.lit(0).cast("long"))
                 .alias("n_tokens"),
                F.coalesce("n_syms", F.lit(0).cast("long")).alias("n_syms"),
                F.coalesce("n_chars", F.lit(0).cast("long"))
                 .alias("n_chars"),
                F.coalesce("head_encoded", F.lit("")).alias("head_encoded"))
            .orderBy("doc_id"))


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode_df(_docs(spark, sf_dir))


def _bpe_iter_sql(k: int) -> str:
    """One unrolled oracle iteration: pair counts from w{k-1}, best pair,
    island-parity greedy merge into w{k}. pos/w are MATERIALIZED — each
    is referenced twice, and without it DuckDB re-inlines the whole
    upstream chain per reference (the pca/k_core lesson)."""
    return f"""
pairs_{k} AS (
  SELECT w.syms[i] AS a, w.syms[i+1] AS b, CAST(sum(w.freq) AS BIGINT) AS cnt
  FROM w{k - 1} w, unnest(range(1, len(w.syms))) AS t(i)
  GROUP BY 1, 2
),
best_{k} AS (
  SELECT a, b, cnt, {k} AS merge_rank FROM pairs_{k}
  ORDER BY cnt DESC, a, b LIMIT 1
),
pos_{k} AS MATERIALIZED (
  SELECT w.word, w.freq, i, w.syms[i] AS s,
         CASE WHEN i < len(w.syms) THEN w.syms[i+1] END AS s_next,
         (i < len(w.syms) AND w.syms[i] = bp.a AND w.syms[i+1] = bp.b) AS m
  FROM w{k - 1} w CROSS JOIN best_{k} bp,
       unnest(range(1, len(w.syms) + 1)) AS t(i)
),
isl_{k} AS (
  SELECT word, i,
         i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl
  FROM pos_{k} WHERE m
),
kept_{k} AS MATERIALIZED (
  SELECT word, i,
         (i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0 AS kept
  FROM isl_{k}
),
w{k} AS MATERIALIZED (
  SELECT p.word, p.freq,
         list(CASE WHEN coalesce(kk.kept, false) THEN p.s || p.s_next
                   ELSE p.s END ORDER BY p.i) AS syms
  FROM pos_{k} p
  LEFT JOIN kept_{k} kk ON kk.word = p.word AND kk.i = p.i
  LEFT JOIN kept_{k} kp ON kp.word = p.word AND kp.i = p.i - 1
  WHERE NOT coalesce(kp.kept, false)
  GROUP BY p.word, p.freq
)"""


_BPE_CHAIN_CTES = f"""w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         list_transform(range(1, len(word) + 1),
                        i -> substr(word, CAST(i AS INT), 1)) AS syms
  FROM (
    SELECT unnest(list_filter(
      regexp_split_to_array(lower(text), '{WS_RE}+'), x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
),{",".join(_bpe_iter_sql(k) for k in range(1, BPE_N_MERGES + 1))}"""

BPE_MERGES_SQL = f"""
WITH {_BPE_CHAIN_CTES}
SELECT merge_rank, a AS left_sym, b AS right_sym, cnt AS pair_count
FROM ({" UNION ALL ".join(f"SELECT * FROM best_{k}"
                          for k in range(1, BPE_N_MERGES + 1))})
ORDER BY merge_rank
"""

# Encode oracle: same learn chain, then tokens join the final vocabulary
# w{M} — one pass over the corpus, mirroring the Spark join layout.
BPE_ENCODE_SQL = f"""
WITH {_BPE_CHAIN_CTES},
toks AS MATERIALIZED (
  SELECT d.doc_id, d.ws[i] AS word, i AS tok_pos
  FROM (
    SELECT doc_id, list_filter(
      regexp_split_to_array(lower(text), '{WS_RE}+'), x -> x <> '') AS ws
    FROM documents
  ) d, unnest(range(1, len(d.ws) + 1)) AS t(i)
),
enc AS MATERIALIZED (
  SELECT t.doc_id, t.tok_pos, t.word, w.syms
  FROM toks t JOIN w{BPE_N_MERGES} w ON w.word = t.word
),
per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(len(syms)) AS BIGINT) AS n_syms,
         CAST(sum(length(word)) AS BIGINT) AS n_chars,
         string_agg(array_to_string(syms, ' '), ' | ' ORDER BY tok_pos)
           FILTER (WHERE tok_pos <= {BPE_HEAD_TOKENS}) AS head_encoded
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_syms, 0) AS n_syms,
       coalesce(p.n_chars, 0) AS n_chars,
       coalesce(p.head_encoded, '') AS head_encoded
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY doc_id
"""

QUERIES["bpe_merges"] = bpe_merges
ORACLES["bpe_merges"] = BPE_MERGES_SQL
QUERIES["bpe_encode"] = bpe_encode
ORACLES["bpe_encode"] = BPE_ENCODE_SQL


# -- dictionary_encode: global frequency-ordered vocab ids --------------------

DICT_RANGE_PARTS = 8  # rank parallelism; scaled to the cluster in prod


def dictionary_encode_df(docs: DataFrame) -> DataFrame:
    """Assign dense global ids to the vocabulary in (freq DESC, word)
    order — the id layout tokenizer vocabularies and dictionary-encoded
    columns use — WITHOUT the naive global row_number (whose plan is an
    Exchange SinglePartition funneling the whole vocabulary through one
    task). Scale path: repartitionByRange on the full sort key, rank
    locally per partition, then add broadcast per-partition offsets.
    Because (freq, word) is a TOTAL order with no duplicate keys, the
    local-rank + offset composition equals the global row_number exactly
    regardless of where the range sampler places boundaries — so the
    result is deterministic even though the boundaries aren't part of
    the contract. The offset cumsum runs over DICT_RANGE_PARTS rows
    (cluster-sized, not data-sized); the one single-partition window in
    the plan is over that tiny frame. The pid re-hash exchange touches
    only the VOCAB (Heaps-sublinear), never the corpus."""
    from pyspark.sql.window import Window

    vocab = (docs
             .select(F.explode(tok_array(F.col("text"))).alias("word"))
             .groupBy("word")
             .agg(F.count("*").cast("long").alias("freq")))
    ranked = (vocab
              .repartitionByRange(DICT_RANGE_PARTS, F.desc("freq"), "word")
              .withColumn("pid", F.spark_partition_id()))
    w_local = Window.partitionBy("pid").orderBy(F.desc("freq"), "word")
    ranked = ranked.withColumn(
        "local_rank", F.row_number().over(w_local).cast("long"))
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = (ranked.groupBy("pid").agg(F.count("*").alias("c"))
               .select("pid",
                       F.coalesce(F.sum("c").over(w_off), F.lit(0))
                       .cast("long").alias("off")))
    return (ranked.join(F.broadcast(offsets), "pid")
            .select((F.col("off") + F.col("local_rank")).alias("vocab_id"),
                    "word", "freq")
            .orderBy("vocab_id"))


def dictionary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dictionary_encode_df(_docs(spark, sf_dir))


DICTIONARY_ENCODE_SQL = f"""
WITH vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(
      regexp_split_to_array(lower(text), '{WS_RE}+'), x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
         AS vocab_id,
       word, freq
FROM vocab ORDER BY vocab_id
"""

QUERIES["dictionary_encode"] = dictionary_encode
ORACLES["dictionary_encode"] = DICTIONARY_ENCODE_SQL


# --- Jensen-Shannon divergence between source unigram mixes ---------------

JS_BUCKETS = 1024
JS_MAX_SOURCES = 64


def js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between per-source
    hashed unigram distributions — the standard data-mixture
    diagnostic: how far apart two corpus components are before picking
    mixture weights (complements mixture_weights, which only sees
    per-source sizes). Distributions are hashed-bucket bags (the DSIR
    trick: md5_long % JS_BUCKETS keeps the domain fixed and engine-
    invariant), JS = KL(p‖m)/2 + KL(q‖m)/2 with m = (p+q)/2.

    Scale shape: ONE corpus scan + explode collapses to the (source,
    bucket) table — bounded by sources x JS_BUCKETS, never corpus-
    sized; per-source totals ride that table as a window; the pair
    expansion is bounded by pairs x JS_BUCKETS. Pairwise-over-sources
    is inherently O(S^2), so the operator refuses more than
    JS_MAX_SOURCES sources (mixture components are few; domains are
    not the intended key) instead of degrading into an unbounded
    blowup.

    Float parity: bucket counts and totals are exact BIGINTs; p, q, m
    and each CASE-guarded p·ln(p/m) term are computed from identical
    operands on both engines (ln parity established by lm_nll/
    char_entropy); the per-pair sum folds in bucket-sorted order; the
    0.5 halving constants reach DuckDB as CAST(... AS DOUBLE) so no
    DECIMAL collapse (the kmeans lesson); one round(6) at the end."""
    from pyspark.sql import Window

    from . import md5_long

    docs = _docs(spark, sf_dir)
    occ = (docs
           .select("source",
                   F.explode(tok_array(F.col("text"))).alias("tok"))
           .select("source",
                   (md5_long(F.col("tok")) % JS_BUCKETS).alias("b"))
           .groupBy("source", "b")
           .agg(F.count("*").alias("n"))
           .persist())
    try:
        n_src = occ.select("source").distinct().count()
        if n_src > JS_MAX_SOURCES:
            raise ValueError(
                f"js_divergence is pairwise over sources: {n_src} sources "
                f"exceed JS_MAX_SOURCES={JS_MAX_SOURCES}; aggregate to "
                f"mixture components first")
        d = occ.withColumn(
            "t", F.sum("n").over(Window.partitionBy("source")))
        srcs = d.select("source").distinct()
        pairs = (srcs.alias("x").crossJoin(srcs.alias("y"))
                 .filter(F.col("x.source") < F.col("y.source"))
                 .select(F.col("x.source").alias("s1"),
                         F.col("y.source").alias("s2")))
        left = pairs.join(
            d.select(F.col("source").alias("s1"), "b",
                     F.col("n").alias("n1"), F.col("t").alias("t1")), "s1")
        right = pairs.join(
            d.select(F.col("source").alias("s2"), "b",
                     F.col("n").alias("n2"), F.col("t").alias("t2")), "s2")
        both = left.join(right, ["s1", "s2", "b"], "full")
        tots = d.select("source", "t").distinct()
        both = (both
                .drop("t1", "t2")
                .join(F.broadcast(tots.select(F.col("source").alias("s1"),
                                              F.col("t").alias("t1"))), "s1")
                .join(F.broadcast(tots.select(F.col("source").alias("s2"),
                                              F.col("t").alias("t2"))), "s2"))
        n1 = F.coalesce("n1", F.lit(0))
        n2 = F.coalesce("n2", F.lit(0))
        p = n1.cast("double") / F.col("t1")
        q = n2.cast("double") / F.col("t2")
        m = (p + q) * F.lit(0.5)
        term = (F.when(n1 > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
                + F.when(n2 > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
                ) * F.lit(0.5)
        res = (both.select("s1", "s2", "b", term.alias("term"))
               .groupBy("s1", "s2")
               .agg(F.count("*").cast("long").alias("n_buckets"),
                    F.round(F.aggregate(
                        F.array_sort(F.collect_list(
                            F.struct("b", "term"))),
                        F.lit(0.0), lambda a, x: a + x["term"]), 6)
                    .alias("js_nats"))
               .orderBy("s1", "s2")
               .localCheckpoint(eager=True))
    finally:
        occ.unpersist()
    return res


JS_DIVERGENCE_SQL = rf"""
WITH occ AS (
  SELECT source,
         ('0x' || substring(md5(tok), 1, 15))::BIGINT % {JS_BUCKETS} AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT source, unnest(list_filter(
             regexp_split_to_array(lower(text), '{WS_RE}+'),
             x -> x != '')) AS tok
    FROM documents)
  GROUP BY source, b
), d AS (
  SELECT *, CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS t
  FROM occ
), pairs AS (
  SELECT x.source AS s1, y.source AS s2
  FROM (SELECT DISTINCT source FROM d) x,
       (SELECT DISTINCT source FROM d) y
  WHERE x.source < y.source
), l AS (
  SELECT p.s1, p.s2, d.b, d.n AS n1
  FROM pairs p JOIN d ON d.source = p.s1
), r AS (
  SELECT p.s1, p.s2, d.b, d.n AS n2
  FROM pairs p JOIN d ON d.source = p.s2
), pq AS (
  SELECT coalesce(l.s1, r.s1) AS s1, coalesce(l.s2, r.s2) AS s2,
         coalesce(l.b, r.b) AS b,
         coalesce(l.n1, 0) AS n1, coalesce(r.n2, 0) AS n2
  FROM l FULL JOIN r ON r.s1 = l.s1 AND r.s2 = l.s2 AND r.b = l.b
), tots AS (
  SELECT DISTINCT source, t FROM d
), terms AS (
  SELECT b.s1, b.s2, b.b,
         CAST(0.5 AS DOUBLE) * (
           CASE WHEN b.n1 > 0
                THEN (CAST(b.n1 AS DOUBLE) / t1.t)
                     * ln((CAST(b.n1 AS DOUBLE) / t1.t)
                          / ((CAST(b.n1 AS DOUBLE) / t1.t
                              + CAST(b.n2 AS DOUBLE) / t2.t)
                             * CAST(0.5 AS DOUBLE)))
                ELSE CAST(0.0 AS DOUBLE) END
           + CASE WHEN b.n2 > 0
                THEN (CAST(b.n2 AS DOUBLE) / t2.t)
                     * ln((CAST(b.n2 AS DOUBLE) / t2.t)
                          / ((CAST(b.n1 AS DOUBLE) / t1.t
                              + CAST(b.n2 AS DOUBLE) / t2.t)
                             * CAST(0.5 AS DOUBLE)))
                ELSE CAST(0.0 AS DOUBLE) END) AS term
  FROM pq b
  JOIN tots t1 ON t1.source = b.s1
  JOIN tots t2 ON t2.source = b.s2
)
SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_buckets,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY b)),
                         (a, x) -> a + x), 6) AS js_nats
FROM terms GROUP BY s1, s2
ORDER BY s1, s2
"""

QUERIES["js_divergence"] = js_divergence
ORACLES["js_divergence"] = JS_DIVERGENCE_SQL


# --- Tokenizer fertility per language (data-card staple) -------------------

def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: BPE-ish regex tokens emitted
    per whitespace word (the standard multilingual-tokenizer health
    metric — fertility ≫ 1 for a language means the tokenizer
    fragments it and its effective context shrinks). Reuses the
    token_counts tokenizer pair so the two queries can never drift.

    Scale + parity: one corpus scan, exact BIGINT sums per language
    (map-side combine on a tiny key), ONE float division of identical
    operands at the end, round(6)."""
    docs = _docs(spark, sf_dir)
    ws, bpe = _ws_bpe_counts()
    return (docs
            .select("lang", ws.alias("ws"), bpe.alias("bpe"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("ws").cast("long").alias("ws_tokens"),
                 F.sum("bpe").cast("long").alias("bpe_tokens"))
            .select("lang", "n_docs", "ws_tokens", "bpe_tokens",
                    F.round(F.col("bpe_tokens").cast("double")
                            / F.col("ws_tokens"), 6).alias("fertility"))
            .orderBy("lang"))


TOKENIZER_FERTILITY_SQL = rf"""
WITH t AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '{WS_RE}+')) AS ws,
         len(regexp_extract_all(text, '\w+|[^\w{WS_CHARS}]')) AS bpe
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS BIGINT), 6)
         AS fertility
FROM t GROUP BY lang ORDER BY lang
"""

QUERIES["tokenizer_fertility"] = tokenizer_fertility
ORACLES["tokenizer_fertility"] = TOKENIZER_FERTILITY_SQL


# --- Exact binned ROC-AUC of the quality classifier ----------------------

# Score bins: score = sw / (500 * n_tok) ∈ [-1, 1] maps to
# bin = (sw*20 + AUC_OFFSET*n_tok) div n_tok ∈ [0, 2*AUC_OFFSET] — the
# offset keeps the numerator non-negative so truncating integer division
# (Spark `div` == DuckDB `//`) IS floor and the binning stays monotone in
# the score (bare truncation folds (-1, 1) score-units into bin 0).
AUC_OFFSET = 10_000


def qc_scored_rows(docs: DataFrame) -> DataFrame:
    """THE (grp=source, bin, label) operating-point projection shared by
    classifier_auc / pr_curve / calibration_bins / ks_drift AND the
    streaming histogram twin: the classifier score as its exact integer
    1e-4 bin, labeled ``lang == 'en'``. One definition (with the
    _QC_SCORED_HIST_CTES SQL twin) so the evaluations can never drift
    into different score spaces. Map-only (``_qc_doc_sums`` is an array
    fold), so it runs unchanged on a streaming DataFrame."""
    sums = _qc_doc_sums(docs, extra=("source", "lang"))
    return sums.select(
        F.col("source").alias("grp"),
        F.expr(f"(sw * 20 + {AUC_OFFSET} * n_tok) div n_tok").alias("bin"),
        (F.col("lang") == "en").cast("long").alias("label"))


def _qc_scored(spark, sf_dir) -> DataFrame:
    return qc_scored_rows(_docs(spark, sf_dir))


def _qc_hist(scored: DataFrame) -> DataFrame:
    """Bounded (grp, bin) pos/neg histogram — the shared corpus-collapse
    stage of binned_auc_df and pr_curve."""
    return (scored.groupBy("grp", "bin")
            .agg(F.sum("label").alias("pos"),
                 (F.count("*") - F.sum("label")).alias("neg")))


# SQL twin of _qc_scored + _qc_hist, appended after _qc_sums_cte's agg.
_QC_SCORED_HIST_CTES = rf""",
scored AS (
  SELECT source AS grp, (sw * 20 + {AUC_OFFSET} * n_tok) // n_tok AS bin,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM agg
), g AS (
  SELECT grp, bin, sum(label) AS pos, count(*) - sum(label) AS neg
  FROM scored GROUP BY grp, bin
)"""


def binned_auc_df(scored: DataFrame) -> DataFrame:
    """Exact Mann-Whitney ROC-AUC with midrank tie credit over binned
    scores, per group. Input: one row per item with columns
    ``(grp, bin BIGINT — monotone in the score, label 0/1)``.

    The pairwise definition (AUC = P(score_pos > score_neg) + ½·P(tie))
    is O(n²); this computes it from the per-bin histogram: walking bins
    ascending, each bin with p positives and n negatives contributes
    ``p * (2·cum_neg_below + n)`` to 2U, and AUC = 2U / (2·P·N). Every
    accumulation is exact BIGINT; the single float operation is the
    final division, so the result is hash-exact across engines and
    independent of partition/summation order.

    Scale: the histogram is bounded by the bin range (≤ 2·AUC_OFFSET+1
    rows per group after the groupBy), so the per-group ordered window
    runs over ≤20k rows no matter the corpus size — the same
    bounded-aggregate-then-window shape as cms_heavy_hitters. Int-width
    ceiling: 2U ≤ 2·n_pos·n_neg, so a single group holding ≳4.3e9
    balanced-label rows overflows the BIGINT accumulation (ANSI error,
    not silent wrap) — past that, widen the c2u terms to DECIMAL(38,0);
    the per-bin pos/neg counts themselves stay comfortably in BIGINT."""
    from pyspark.sql import Window

    g = _qc_hist(scored)
    w = (Window.partitionBy("grp").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("cum")
    per = (
        g.select("grp", "pos", "neg", cum)
        .select("grp", "pos", "neg",
                (F.col("pos") * (2 * F.col("cum") + F.col("neg")))
                .alias("c2u"))
        .groupBy("grp")
        .agg(F.sum("pos").alias("n_pos"), F.sum("neg").alias("n_neg"),
             F.sum("c2u").alias("two_u"))
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(F.col("two_u").cast("double")
                / (F.lit(2.0) * F.col("n_pos").cast("double")
                   * F.col("n_neg").cast("double")), 6))
    return per.select("grp", "n_pos", "n_neg", "two_u", auc.alias("auc"))


def classifier_auc(spark, sf_dir):
    """Per-source ROC-AUC of the hashed linear quality classifier at
    predicting ``lang == 'en'`` — the evaluation loop a trained curation
    classifier needs (quality_classifier produces the score; this
    measures it against an independent label). The computation is exact,
    but exact *for the 1e-4-quantized score* (see AUC_OFFSET): scores
    landing in one bin receive midrank tie credit, so an unbinned
    sklearn roc_auc_score over the raw ratios can differ slightly —
    the quantization is what buys the bounded-histogram scale shape and
    cross-engine hash-exactness (no float ever ranks).

    Plan: one map-only scoring projection (the shared _qc_doc_sums
    array fold — zero exchanges) feeding the bounded histogram
    machinery of binned_auc_df; the histogram groupBy is the only
    corpus-sized exchange.

    Reference analog: the reference gates content with boolean
    heuristics (/root/reference/src/extract_ocr/content.py) and never
    measures them; this is the measurement."""
    return (
        binned_auc_df(_qc_scored(spark, sf_dir))
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    )


CLASSIFIER_AUC_SQL = rf"""
WITH {_qc_sums_cte(", source, lang")}{_QC_SCORED_HIST_CTES}, c AS (
  SELECT grp, pos, neg,
         coalesce(sum(neg) OVER (PARTITION BY grp ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM g
), per AS (
  SELECT grp, CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(neg) AS BIGINT) AS n_neg,
         CAST(sum(pos * (2 * cum + neg)) AS BIGINT) AS two_u
  FROM c GROUP BY grp
)
SELECT grp AS source, n_pos, n_neg, two_u,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round(CAST(two_u AS DOUBLE) /
               (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
                * CAST(n_neg AS DOUBLE)), 6)
       END AS auc
FROM per ORDER BY source
"""

QUERIES["classifier_auc"] = classifier_auc
ORACLES["classifier_auc"] = CLASSIFIER_AUC_SQL


# --- Precision/recall threshold sweep of the quality classifier ----------

# Fixed operating points: score -1.0 .. 1.0 in 0.1 steps, expressed in
# the same integer bin space as classifier_auc (see AUC_OFFSET).
PR_THRS = list(range(0, 2 * AUC_OFFSET + 1, 1000))


def pr_curve(spark, sf_dir):
    """Per-source precision/recall at 21 fixed thresholds of the hashed
    linear classifier score (predict positive iff score >= threshold,
    label = lang == 'en') — the operating-point sweep that completes the
    eval triple with classifier_auc (same shared weight definition, same
    integer bin space). tp/fp/fn are exact BIGINT counts; precision and
    recall are the only float divisions, computed once per emitted row.

    Scale: the corpus collapses to the bounded (source, bin) histogram
    first (one groupBy — the classifier_auc shape); the threshold sweep
    is a 21-way explode of that histogram followed by one bounded
    groupBy. No join, no window, nothing corpus-sized past the first
    aggregate."""
    g = (_qc_hist(_qc_scored(spark, sf_dir))
         .withColumnRenamed("grp", "source"))
    e = g.withColumn(
        "thr_bin", F.explode(F.array(*[F.lit(t) for t in PR_THRS])))
    hit = F.col("bin") >= F.col("thr_bin")
    cm = (e.groupBy("source", "thr_bin")
          .agg(F.sum(F.when(hit, F.col("pos")).otherwise(0)).alias("tp"),
               F.sum(F.when(hit, F.col("neg")).otherwise(0)).alias("fp"),
               F.sum("pos").alias("p")))
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.round(F.col("tp").cast("double")
                          / (F.col("tp") + F.col("fp")).cast("double"), 6))
    rec = F.when(F.col("p") > 0,
                 F.round(F.col("tp").cast("double")
                         / F.col("p").cast("double"), 6))
    return (cm.select("source", "thr_bin", "tp", "fp",
                      (F.col("p") - F.col("tp")).alias("fn"),
                      prec.alias("prec"), rec.alias("rec"))
            .orderBy("source", "thr_bin"))


PR_CURVE_SQL = rf"""
WITH {_qc_sums_cte(", source, lang")}{_QC_SCORED_HIST_CTES},
thr(thr_bin) AS (VALUES {", ".join(f"({t})" for t in PR_THRS)}),
cm AS (
  SELECT g.grp AS source, thr.thr_bin,
         sum(CASE WHEN g.bin >= thr.thr_bin THEN g.pos ELSE 0 END) AS tp,
         sum(CASE WHEN g.bin >= thr.thr_bin THEN g.neg ELSE 0 END) AS fp,
         sum(g.pos) AS p
  FROM g, thr GROUP BY g.grp, thr.thr_bin
)
SELECT source, CAST(thr_bin AS BIGINT) AS thr_bin,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(p - tp AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0 THEN
         round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
       END AS prec,
       CASE WHEN p > 0 THEN round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6)
       END AS rec
FROM cm ORDER BY source, thr_bin
"""

QUERIES["pr_curve"] = pr_curve
ORACLES["pr_curve"] = PR_CURVE_SQL


# --- Calibration (reliability) bins of the quality classifier ------------

def calibration_bins(spark, sf_dir):
    """Per-source reliability diagram of the classifier score: the
    bounded histogram coarsened to 0.1-wide score bins, each reporting
    observed positive rate vs mean predicted score — the calibration
    readout that completes the eval set (classifier_auc ranks, pr_curve
    sweeps operating points, this measures whether the score VALUE
    means anything). Shares _qc_scored/_qc_hist with the other two, so
    all three evaluations read the same operating-point space.

    Everything aggregates exact integers off the bounded histogram (n,
    n_pos, Σbin·count); the two float divisions happen once per emitted
    row. No corpus-sized work beyond the shared histogram groupBy."""
    g = _qc_hist(_qc_scored(spark, sf_dir))
    agg = (
        g.groupBy(F.col("grp").alias("source"),
                  F.expr("bin div 1000").alias("cal_bin"))
        .agg(F.sum(F.col("pos") + F.col("neg")).alias("n"),
             F.sum("pos").alias("n_pos"),
             F.sum(F.col("bin") * (F.col("pos") + F.col("neg")))
             .alias("sum_bin"))
    )
    return (
        agg.select(
            "source", "cal_bin", "n", "n_pos",
            F.round(F.col("n_pos").cast("double")
                    / F.col("n").cast("double"), 6).alias("obs_rate"),
            F.round(F.col("sum_bin").cast("double")
                    / (F.col("n").cast("double") * F.lit(float(AUC_OFFSET)))
                    - F.lit(1.0), 6).alias("mean_score"))
        .orderBy("source", "cal_bin")
    )


CALIBRATION_BINS_SQL = rf"""
WITH {_qc_sums_cte(", source, lang")}{_QC_SCORED_HIST_CTES}
SELECT grp AS source, bin // 1000 AS cal_bin,
       CAST(sum(pos + neg) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       round(CAST(sum(pos) AS DOUBLE) / CAST(sum(pos + neg) AS DOUBLE), 6)
         AS obs_rate,
       round(CAST(sum(bin * (pos + neg)) AS DOUBLE)
             / (CAST(sum(pos + neg) AS DOUBLE) * {AUC_OFFSET}.0) - 1.0, 6)
         AS mean_score
FROM g GROUP BY grp, bin // 1000 ORDER BY source, cal_bin
"""

QUERIES["calibration_bins"] = calibration_bins
ORACLES["calibration_bins"] = CALIBRATION_BINS_SQL


# --- Two-sample KS drift of the classifier score per source --------------

def ks_drift(spark, sf_dir):
    """Per-source two-sample Kolmogorov-Smirnov statistic between the
    source's classifier-score distribution and the REST of the corpus —
    the distribution-drift detector a multi-source ingest needs (a crawl
    source whose quality-score distribution walks away from the corpus
    shows up here long before mean-score summaries move). Reads the same
    shared _qc_scored/_qc_hist operating-point space as the eval triple,
    so "drift" is measured in exactly the score the curation gates act
    on.

    Numerics: with both ECDFs evaluated on the shared integer bin grid,
    sup_b |F_src(b) - F_rest(b)| = max_b |cum_src·n_rest - cum_rest·
    n_src| / (n_src·n_rest) — the numerator is exact BIGINT at every
    step and the single float operation is the final division, so the
    result is hash-exact across engines (nothing float ever compares or
    accumulates). ``ks_bin`` reports the SMALLEST bin attaining the sup
    (deterministic tie-break). Int-width ceiling: the products are
    bounded by n_src·n_rest ≤ N²/4, overflowing BIGINT (ANSI error, not
    silent wrap) once the corpus passes ~6.1e9 scored docs; past that,
    widen the cum products to DECIMAL(38,0) — the histogram itself stays
    bounded regardless.

    Scale: after the shared corpus collapse (map-only scoring + the one
    bounded-histogram groupBy), every frame is bounded by
    |sources| × (2·AUC_OFFSET+1) histogram rows: the source×bin grid,
    the cumulative windows, and the final per-source aggregate never see
    the corpus. No join touches a corpus-sized side."""
    from pyspark.sql import Window

    h = _qc_hist(_qc_scored(spark, sf_dir))
    c = h.select("grp", "bin", (F.col("pos") + F.col("neg")).alias("c"))
    t = c.groupBy("bin").agg(F.sum("c").alias("tc"))
    s = c.groupBy("grp").agg(F.sum("c").alias("n_src"))
    n = t.agg(F.sum("tc").alias("n_all"))
    grid = (s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(t))
            .join(c, ["grp", "bin"], "left")
            .select("grp", "n_src", "n_all", "bin", "tc",
                    F.coalesce("c", F.lit(0)).alias("cnt")))
    w = (Window.partitionBy("grp").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum_s = F.sum("cnt").over(w)
    cum_t = F.sum("tc").over(w)
    dnum = F.abs(cum_s * (F.col("n_all") - F.col("n_src"))
                 - (cum_t - cum_s) * F.col("n_src"))
    step = grid.select("grp", "n_src", "n_all", "bin", dnum.alias("dnum"))
    step = step.withColumn(
        "dmax", F.max("dnum").over(Window.partitionBy("grp")))
    n_rest = (F.col("n_all") - F.col("n_src")).cast("long")
    ks = F.when(
        (F.col("n_src") > 0) & (F.col("n_all") > F.col("n_src")),
        F.round(F.col("d_num").cast("double")
                / (F.col("n_src").cast("double")
                   * (F.col("n_all") - F.col("n_src")).cast("double")), 6))
    return (
        step.groupBy("grp", "n_src", "n_all")
        .agg(F.max("dnum").cast("long").alias("d_num"),
             F.min(F.when(F.col("dnum") == F.col("dmax"), F.col("bin")))
             .cast("long").alias("ks_bin"))
        .select(F.col("grp").alias("source"),
                F.col("n_src").cast("long").alias("n_src"),
                n_rest.alias("n_rest"), "d_num", "ks_bin", ks.alias("ks"))
        .orderBy("source")
    )


KS_DRIFT_SQL = rf"""
WITH {_qc_sums_cte(", source, lang")}{_QC_SCORED_HIST_CTES},
c AS (SELECT grp, bin, pos + neg AS c FROM g),
t AS (SELECT bin, sum(c) AS tc FROM c GROUP BY bin),
s AS (SELECT grp, sum(c) AS n_src FROM c GROUP BY grp),
n AS (SELECT sum(tc) AS n_all FROM t),
grid AS (
  SELECT s.grp, s.n_src, n.n_all, t.bin, t.tc, coalesce(c.c, 0) AS cnt
  FROM s CROSS JOIN n CROSS JOIN t
  LEFT JOIN c ON c.grp = s.grp AND c.bin = t.bin
),
step AS (
  SELECT grp, n_src, n_all, bin,
         abs(sum(cnt) OVER w * (n_all - n_src)
             - (sum(tc) OVER w - sum(cnt) OVER w) * n_src) AS dnum
  FROM grid
  WINDOW w AS (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT grp, n_src, n_all, bin, dnum,
         max(dnum) OVER (PARTITION BY grp) AS dmax
  FROM step
)
SELECT grp AS source, CAST(n_src AS BIGINT) AS n_src,
       CAST(n_all - n_src AS BIGINT) AS n_rest,
       CAST(max(dnum) AS BIGINT) AS d_num,
       CAST(min(CASE WHEN dnum = dmax THEN bin END) AS BIGINT) AS ks_bin,
       CASE WHEN n_src > 0 AND n_all - n_src > 0 THEN
         round(CAST(max(dnum) AS DOUBLE)
               / (CAST(n_src AS DOUBLE)
                  * CAST(n_all - n_src AS DOUBLE)), 6)
       END AS ks
FROM m GROUP BY grp, n_src, n_all ORDER BY source
"""

QUERIES["ks_drift"] = ks_drift
ORACLES["ks_drift"] = KS_DRIFT_SQL


# --- Pearson chi-squared of the source × lang contingency ----------------

def chi2_drift(spark, sf_dir):
    """Per-source Pearson chi-squared contribution over the
    (source, lang) doc-count contingency table — the CATEGORICAL drift
    detector beside ks_drift's numeric one: a source whose language
    composition diverges from independence with the corpus mix shows up
    as a large chi2_part (the global independence statistic is the sum
    of the parts, with (S-1)·(L-1) degrees of freedom). Zero cells
    contribute their full expected-count term via the source × lang
    grid, exactly as the test statistic requires.

    Float parity: observed counts and margins are exact BIGINTs; each
    cell's e = CAST(rs AS DOUBLE) · ct / n and d²/e are computed from
    identical operands in the identical order on both engines, and the
    per-source sum folds in lang-sorted order (the js_divergence
    discipline); one round(6) at the end.

    Scale: after the one corpus-sized groupBy(source, lang), every
    frame is bounded by |sources| × |langs|: the margin tables, the
    grid cross joins (1-row n broadcast + bounded lang margin), and the
    per-source fold never see the corpus."""
    c = (_docs(spark, sf_dir).groupBy("source", "lang")
         .agg(F.count("*").alias("o")))
    rs = c.groupBy("source").agg(F.sum("o").alias("rs"))
    ct = c.groupBy("lang").agg(F.sum("o").alias("ct"))
    n = c.agg(F.sum("o").alias("n"))
    grid = (rs.crossJoin(F.broadcast(ct)).crossJoin(F.broadcast(n))
            .join(c, ["source", "lang"], "left")
            .select("source", "lang", "rs", "ct", "n",
                    F.coalesce("o", F.lit(0)).alias("o")))
    e = F.col("rs").cast("double") * F.col("ct") / F.col("n")
    d = F.col("o").cast("double") - e
    return (
        grid.select("source", "lang",
                    F.col("rs").cast("long").alias("n_src"),
                    (d * d / e).alias("term"))
        .groupBy("source", "n_src")
        .agg(F.count("*").cast("long").alias("n_cells"),
             F.round(F.aggregate(
                 F.array_sort(F.collect_list(F.struct("lang", "term"))),
                 F.lit(0.0), lambda a, x: a + x["term"]), 6)
             .alias("chi2_part"))
        .orderBy("source")
    )


CHI2_DRIFT_SQL = r"""
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY source, lang
), rs AS (SELECT source, sum(o) AS rs FROM c GROUP BY source),
ct AS (SELECT lang, sum(o) AS ct FROM c GROUP BY lang),
n AS (SELECT sum(o) AS n FROM c),
grid AS (
  SELECT rs.source, ct.lang, rs.rs, ct.ct, n.n, coalesce(c.o, 0) AS o
  FROM rs CROSS JOIN ct CROSS JOIN n
  LEFT JOIN c ON c.source = rs.source AND c.lang = ct.lang
), terms AS (
  SELECT source, lang, CAST(rs AS BIGINT) AS n_src,
         (CAST(o AS DOUBLE) - CAST(rs AS DOUBLE) * ct / n)
           * (CAST(o AS DOUBLE) - CAST(rs AS DOUBLE) * ct / n)
           / (CAST(rs AS DOUBLE) * ct / n) AS term
  FROM grid
)
SELECT source, n_src, CAST(count(*) AS BIGINT) AS n_cells,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY lang)),
                         (a, x) -> a + x), 6) AS chi2_part
FROM terms GROUP BY source, n_src ORDER BY source
"""

QUERIES["chi2_drift"] = chi2_drift
ORACLES["chi2_drift"] = CHI2_DRIFT_SQL


# -- Self-BLEU corpus-diversity audit ------------------------------------------
#
# Self-BLEU (Zhu et al. 2018, "Texygen") measures how much each document
# resembles the REST of the corpus — the standard diversity readout for
# generated/synthetic training data (high self-BLEU = mode collapse,
# duplicated templates). Per doc: modified bigram precision against all
# other docs as references — each of the doc's bigram counts is clipped
# at the MAXIMUM count of that bigram in any OTHER document (the BLEU
# clip rule with the corpus-minus-self as the reference set).
#
# The naive form is a doc × corpus pair scan. The scale shape here: the
# per-(bigram) max-over-other-docs needs only the TOP-2 (doc, count)
# rows per bigram — for doc d the clip ceiling is top1's count unless
# top1 IS d, in which case top2's. row_number()<=2 over the (bigram)
# window compiles to WindowGroupLimit (map-side top-2 per key), so hot
# stopword bigrams never materialize their full posting; the clip join
# is then (doc, bigram, count) ⋈ the ≤2-rows-per-bigram table on the
# bigram key. The vocabulary-sized top table carries NO broadcast hint
# (Heaps' law — the tfidf lesson); AQE may still broadcast it when
# measured small.
#
# Numerics: everything is exact BIGINT until one final division of two
# exactly-represented integers — identical doubles on both engines, no
# rounding step needed.

def self_bleu_df(docs: DataFrame, *, _checkpoint: bool = True) -> DataFrame:
    from pyspark.sql.window import Window

    toks = docs.select("doc_id", tok_array(F.col("text")).alias("toks"))
    c = (word_ngrams(toks, "toks", 2, "_bg")
         .select("doc_id", F.explode("_bg").alias("bg"))
         .groupBy("doc_id", "bg").agg(F.count("*").alias("c")))
    c.persist()  # feeds the top-2 window AND the clip join
    try:
        w = Window.partitionBy("bg").orderBy(F.col("c").desc(), "doc_id")
        top = (c.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= 2)
               .groupBy("bg")
               .agg(F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("c1"),
                    F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
                     .alias("d1"),
                    F.coalesce(
                        F.max(F.when(F.col("rn") == 2, F.col("c"))),
                        F.lit(0)).alias("c2")))
        clip_ceiling = F.when(F.col("d1") == F.col("doc_id"), F.col("c2")) \
            .otherwise(F.col("c1"))
        out = (c.join(top, "bg")
               .groupBy("doc_id")
               .agg(F.sum("c").alias("n_bigrams"),
                    F.sum(F.least(F.col("c"), clip_ceiling))
                     .alias("clipped_bigrams"))
               .select("doc_id", "n_bigrams", "clipped_bigrams",
                       (F.col("clipped_bigrams").cast("double")
                        / F.col("n_bigrams")).alias("self_bleu2")))
        # _checkpoint=False is the plan-inspection seam (localCheckpoint
        # hides the upstream plan from .explain; the dsir precedent)
        if _checkpoint:
            out = out.localCheckpoint()
    finally:
        c.unpersist()
    return out


def self_bleu(spark, sf_dir):
    return self_bleu_df(spread_input(_docs(spark, sf_dir))).orderBy("doc_id")


SELF_BLEU_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, array_to_string(toks[r.i+1 : r.i+2], ' ') AS bg
  FROM t, unnest(range(0, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 2
), c AS (
  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
  FROM g GROUP BY doc_id, bg
), r AS (
  SELECT *, row_number() OVER (PARTITION BY bg
                               ORDER BY c DESC, doc_id) AS rn
  FROM c
), top AS (
  SELECT bg,
         max(CASE WHEN rn = 1 THEN c END) AS c1,
         max(CASE WHEN rn = 1 THEN doc_id END) AS d1,
         coalesce(max(CASE WHEN rn = 2 THEN c END), 0) AS c2
  FROM r WHERE rn <= 2 GROUP BY bg
)
SELECT c.doc_id,
       CAST(sum(c.c) AS BIGINT) AS n_bigrams,
       CAST(sum(least(c.c, CASE WHEN top.d1 = c.doc_id THEN top.c2
                                ELSE top.c1 END)) AS BIGINT)
         AS clipped_bigrams,
       CAST(sum(least(c.c, CASE WHEN top.d1 = c.doc_id THEN top.c2
                                ELSE top.c1 END)) AS DOUBLE)
         / sum(c.c) AS self_bleu2
FROM c JOIN top USING (bg)
GROUP BY c.doc_id ORDER BY c.doc_id
"""

QUERIES["self_bleu"] = self_bleu
ORACLES["self_bleu"] = SELF_BLEU_SQL


# -- Trained multinomial Naive Bayes language classifier ----------------------
#
# The train-from-labels / apply / evaluate ML shape the registry's other
# classifiers deliberately avoid (quality_classifier scores with FIXED
# hashed weights; dsir_weights fits target-vs-raw importance ratios):
# here the class-conditional distributions are LEARNED from the corpus's
# own lang labels — multinomial NB with add-1 smoothing over hashed
# unigram buckets — then every document is scored against each class and
# the confusion matrix of argmax predictions vs true labels is reported.
# Self-training on the corpus is the standard sanity readout (can the
# lexical signal separate the classes at all); a held-out variant is the
# same plan with a split_assign filter on the training side.
#
# Scale shape: one scan + one explode to per-(doc, bucket) counts
# (persisted — feeds the class table and the scoring join); the learned
# model is BOUNDED at (langs × NB_BUCKETS) rows and broadcasts (a fixed
# bucket budget, unlike a Heaps-law vocabulary); scoring explodes each
# doc-bucket row by the ≤|langs| candidate classes; argmax is a
# row_number over ≤|langs| rows per doc (WindowGroupLimit). The output
# confusion matrix is ALL integers — the only floats live inside the
# per-(doc, lang) scores, which fold in bucket-sorted order on both
# engines (the dsir/lm_nll discipline), so the argmax — and therefore
# every output — is engine-exact.
#
# NB on the synthetic sf tables: the documents text is drawn from ONE
# shared vocabulary regardless of the lang label, so the label carries
# no lexical signal and the learned model correctly collapses to the
# prior argmax ('en' for every doc — accuracy == the en prior). That is
# the Bayes-honest answer on label-uninformative data, not a defect;
# the fixture test shows real class recovery on a separable corpus.

NB_BUCKETS = 1024


def nb_lang_confusion_df(docs: DataFrame, *,
                         _checkpoint: bool = True) -> DataFrame:
    from pyspark.sql.window import Window

    occ = (docs.select("doc_id", "lang",
                       F.explode(tok_array(F.col("text"))).alias("tok"))
           .select("doc_id", "lang",
                   (md5_long(F.col("tok")) % NB_BUCKETS).alias("b"))
           .groupBy("doc_id", "lang", "b").agg(F.count("*").alias("n"))
           .persist())
    try:
        # the learned model: cls is ≤ langs × NB_BUCKETS rows
        cls = occ.groupBy("lang", "b").agg(F.sum("n").alias("cb"))
        tot = occ.groupBy("lang").agg(F.sum("n").alias("t"))
        pri = docs.groupBy("lang").agg(F.count("*").alias("dl"))
        # one tiny collect of the bounded prior frame yields both
        # scalar constants (a docs.count() action would re-scan the
        # corpus just to re-derive sum(dl))
        pri_rows = pri.collect()
        n_docs = sum(r["dl"] for r in pri_rows)
        n_langs = len(pri_rows)

        # every (doc bucket) × every candidate class; absent (lang, b)
        # pairs score with cb = 0 (the add-1 smoothing floor)
        cand = (occ.select("doc_id", "b", "n")
                .join(F.broadcast(tot.select("lang", "t")
                                  .withColumnRenamed("lang", "cand")),
                      how="cross")
                .join(F.broadcast(cls.select(
                    F.col("lang").alias("cand"), "b", "cb")),
                    ["cand", "b"], "left")
                .fillna({"cb": 0}))
        term = F.col("n") * F.log(
            (F.col("cb") + 1) / (F.col("t") + F.lit(NB_BUCKETS)))
        prior = F.log((F.col("dl") + 1)
                      / F.lit(float(n_docs + n_langs)))
        # bucket-sorted fold — (doc, cand, b) is unique, so sorting the
        # struct list by b fixes one accumulation order on both engines
        scores = (cand.select("doc_id", "cand", "b", term.alias("term"))
                  .groupBy("doc_id", "cand")
                  .agg(F.aggregate(
                      F.array_sort(F.collect_list(F.struct("b", "term"))),
                      F.lit(0.0), lambda a, x: a + x["term"])
                      .alias("ll")))
        scores = (scores.join(
            F.broadcast(pri.select(F.col("lang").alias("cand"), "dl")),
            "cand")
            .select("doc_id", "cand",
                    (F.col("ll") + prior).alias("score")))
        w = Window.partitionBy("doc_id") \
            .orderBy(F.col("score").desc(), "cand")
        pred = (scores.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("doc_id", F.col("cand").alias("pred_lang")))
        # token-less docs never reach `occ`; they predict the prior
        # argmax (most docs, tie -> lowest lang)
        wp = Window.orderBy(F.col("dl").desc(), "lang")
        pa = (pri.withColumn("rn", F.row_number().over(wp))
              .filter(F.col("rn") == 1)
              .select(F.col("lang").alias("prior_pick")))
        out = (docs.select("doc_id", "lang")
               .join(pred, "doc_id", "left")
               .crossJoin(F.broadcast(pa))
               .select("lang",
                       F.coalesce("pred_lang", "prior_pick")
                       .alias("pred_lang"))
               .groupBy("lang", "pred_lang")
               .agg(F.count("*").alias("n_docs"))
               .orderBy("lang", "pred_lang"))
        # _checkpoint=False is the plan-inspection seam (localCheckpoint
        # hides the upstream plan from .explain; the dsir precedent)
        if _checkpoint:
            out = out.localCheckpoint()
    finally:
        occ.unpersist()
    return out


def nb_lang_confusion(spark, sf_dir):
    return nb_lang_confusion_df(spread_input(_docs(spark, sf_dir)))


NB_LANG_CONFUSION_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '{WS_RE}+'),
                     x -> x <> '') AS toks
  FROM documents
), occ AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(tok), 1, 15))::BIGINT % {NB_BUCKETS} AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM t, unnest(toks) AS u(tok)
  GROUP BY doc_id, lang, b
), cls AS (
  SELECT lang, b, CAST(sum(n) AS BIGINT) AS cb FROM occ GROUP BY lang, b
), tot AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM occ GROUP BY lang
), pri AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS dl FROM documents GROUP BY lang
), consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM pri) AS n_langs
), cand AS (
  SELECT o.doc_id, tot.lang AS cand, tot.t, o.b, o.n,
         coalesce(cls.cb, 0) AS cb
  FROM occ o CROSS JOIN tot
  LEFT JOIN cls ON cls.lang = tot.lang AND cls.b = o.b
), scores AS (
  SELECT doc_id, cand,
         list_reduce(list_prepend(0.0, list(
             n * ln((cb + 1.0) / (t + {NB_BUCKETS})) ORDER BY b)),
             (a, x) -> a + x) AS ll
  FROM cand GROUP BY doc_id, cand
), scored AS (
  SELECT s.doc_id, s.cand,
         s.ll + ln((pri.dl + 1.0)
                   / CAST(consts.n_docs + consts.n_langs AS DOUBLE))
           AS score
  FROM scores s JOIN pri ON pri.lang = s.cand CROSS JOIN consts
), pred AS (
  SELECT doc_id, cand AS pred_lang
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, cand) AS rn
        FROM scored)
  WHERE rn = 1
), pa AS (
  SELECT lang AS prior_pick
  FROM (SELECT *, row_number() OVER (ORDER BY dl DESC, lang) AS rn
        FROM pri)
  WHERE rn = 1
)
SELECT d.lang, coalesce(p.pred_lang, pa.prior_pick) AS pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id CROSS JOIN pa
GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["nb_lang_confusion"] = nb_lang_confusion
ORACLES["nb_lang_confusion"] = NB_LANG_CONFUSION_SQL
