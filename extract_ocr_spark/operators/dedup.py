"""Deduplication operators over the documents table.

Scale design notes (100 TB):

- **exact / normalized**: one shuffle on a 16-byte sha key; map-side
  partial aggregation; no data skew (sha keys are uniform).
- **n-gram Jaccard (exact)**: inverted index on shingles (explode →
  ``operators.key_pairs`` on shingle → ``shared`` = |intersection|).
  Never materializes the O(n²) pair space — only pairs sharing ≥1
  shingle — and hot "stop-shingles" (document frequency >
  ``SHINGLE_DF_CAP``) are dropped before the self-join: one boilerplate sentence shared by 10⁶ docs would
  otherwise fan out 10¹² join rows. The DuckDB oracle applies the same
  cap, so the check stays hash-exact; the (documented) cost is recall on
  pairs whose overlap is *only* hot shingles.
- **MinHash + LSH**: fixed-size signatures (128×4 B/doc regardless of doc
  length) → band keys → join on band key → candidates → exact verify with
  ``array_intersect`` on shingle sets. The scale path: shuffle volume is
  O(n·bands), not O(pairs). The signature UDF receives shingles but
  returns only (doc_id, bands) — shingle arrays never ride the Arrow
  channel back, and the band join carries only (doc_id, band).
- **SimHash**: fully JVM-native 60-bit fingerprint (md5-based token
  hashes → per-bit majority aggregation), Manku multi-block bucketing
  (5×12-bit blocks → C(5,2)=10 tables keyed on block *pairs*, 24-bit
  keys — exact recall for Hamming ≤ 3 by pigeonhole, with ~1.7e7
  buckets/table so expected candidates stay near-linear at 10⁹ docs,
  where single-block 15-bit keys would fan out ~10¹⁴ join rows). Blocks
  use mask extraction (``shiftrightunsigned`` + ``bitwiseAND`` — a
  signed ``%`` would produce negative band keys for high bit 59+ values
  and silently miss pairs); Hamming verification is native
  ``bit_count(a ^ b)``. Being native end-to-end also makes it exactly
  expressible in the DuckDB oracle.
- **embedding cosine**: exact pair scan for the oracle-checked variant —
  guarded by ``MAX_EXACT_PAIR_ROWS`` (it is a deliberate O(n²)
  correctness twin); LSH (random hyperplanes) bucketing is the scale
  path (operators/similarity.py).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import (WS_RE, fold_dot, fold_sq, iterate, key_pairs, md5_long,
               pair_sides, spread_input, word_ngrams)

from ..kernels.dedupkit import lsh_bands, minhash_signature

JACCARD_THRESHOLD = 0.5
MINHASH_THRESHOLD = 0.8
# Shingles present in more than this many documents are dropped before
# inverted-index self-joins (stop-shingle frequency cap).
SHINGLE_DF_CAP = 128
# Refuse the exact O(n²) embedding twin beyond this input size. At the
# guard its lazy pair checkpoint holds n²/2 = 2×10^8 rows × 28 B ≈ 5.6 GB
# of executor storage, without lineage: a lost block fails the job.
MAX_EXACT_PAIR_ROWS = 20_000

_SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed int64
# Manku-style multi-block LSH (WWW'07 "Detecting Near-Duplicates for Web
# Crawling"): split the fingerprint into 5 blocks of 12 bits; any ≤3 bit
# flips touch ≤3 blocks, so ≥2 blocks stay clean and the pair collides in
# the C(5,2)=10 table keyed on those two blocks. Keys are 24 bits wide
# (~1.7e7 buckets/table) instead of the naive 4×15-bit single-block scheme
# (32,768 buckets/table), whose expected candidate count 4·n²/2¹⁵ blows up
# at ≥10⁷ docs (~10¹⁰ join rows); here it is 10·n²/2²⁴ — 2,000× fewer.
_SIMHASH_BLOCKS = 5
_BLOCK_WIDTH = _SIMHASH_BITS // _SIMHASH_BLOCKS  # 12
_HAMMING_MAX = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_input(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _with_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Native (JVM-side) word k-shingling: lowercase, strip non-alnum,
    split, keep docs with >= k words, then the distinct k-grams of the
    shared ``word_ngrams`` builder."""
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " ")
    kept = docs.withColumn("_words", words).filter(F.size("_words") >= k)
    return (word_ngrams(kept, "_words", k, "shingles")
            .withColumn("shingles", F.array_distinct("shingles"))
            .drop("_words"))


def _drop_hot_shingles(inv: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Remove stop-shingles (document frequency > cap) from an inverted
    index before a self-join — bounds fan-out to cap² per shingle."""
    hot = (
        inv.groupBy("shingle").agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap).select("shingle")
    )
    return inv.join(hot, "shingle", "left_anti")


# -- exact dedup ----------------------------------------------------------------

def dedup_exact_norm(spark, sf_dir):
    """Exact dedup after whitespace/case normalization (hash-groupBy)."""
    docs = _docs(spark, sf_dir)
    norm_sha = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), WS_RE + "+", " ")), 256)
    return (
        docs.withColumn("sha", F.substring(norm_sha, 1, 16))
        .groupBy("sha")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") >= 1)
        .orderBy("sha")
    )


DEDUP_EXACT_NORM_SQL = rf"""
SELECT substring(sha256(trim(regexp_replace(lower(text), '{WS_RE}+', ' ', 'g'))), 1, 16) AS sha,
       count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 ORDER BY sha
"""


# -- exact n-gram Jaccard via inverted index --------------------------------------

def _capped_pair_intersections(docs: DataFrame) -> DataFrame:
    """(a_id, b_id, n_a, n_b, shared) for every doc pair sharing at least
    one non-hot word-3-gram shingle: ``key_pairs`` over the df-capped
    inverted shingle index, the candidate source of the jaccard,
    containment, estimate, P/R and leakage queries. ``n_a``/``n_b``
    denominators use the full (uncapped) shingle sets; ``shared`` counts
    only non-hot shingles — both choices mirrored in ``_PAIR_CTE``."""
    sh = _with_shingles(docs).select(
        F.col("doc_id"), "shingles", F.size("shingles").alias("n"))
    inv = _drop_hot_shingles(
        sh.select("doc_id", "n", F.explode("shingles").alias("shingle")))
    return key_pairs(inv, "shingle")


def ngram_jaccard_pairs(spark, sf_dir):
    """All pairs with word-3-gram Jaccard ≥ 0.5, computed via an inverted
    shingle index (no cross join) with the stop-shingle cap applied
    before ``key_pairs``. ``n_a``/``n_b`` denominators use the full
    (uncapped) shingle sets; the intersection counts only non-hot
    shingles — the oracle mirrors both choices exactly."""
    pairs = _capped_pair_intersections(_docs(spark, sf_dir))
    j = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.withColumn("jaccard", F.round(j, 6))
        .filter(j >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


_SHINGLE_CTE = r"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(words) - 1),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingles
  FROM w WHERE len(words) >= 3
)
"""

# the SQL twin of _capped_pair_intersections (shared by the jaccard and
# containment oracles exactly like the Spark helper)
_PAIR_CTE = _SHINGLE_CTE + f"""
, inv AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), inv2 AS (
  SELECT * FROM inv WHERE shingle NOT IN (
    SELECT shingle FROM inv GROUP BY shingle HAVING count(*) > {SHINGLE_DF_CAP})
), p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS na, b.n_sh AS nb,
         CAST(count(*) AS BIGINT) AS inter
  FROM inv2 a JOIN inv2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
"""

NGRAM_JACCARD_PAIRS_SQL = _PAIR_CTE + f"""
SELECT a_id, b_id, round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
FROM p WHERE inter * 1.0 / (na + nb - inter) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


# -- MinHash + LSH -----------------------------------------------------------------

_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bands", T.ArrayType(T.StringType())),
    ]
)


def _minhash_bands_df(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles) → (doc_id, bands): the shingle arrays enter the
    Python worker but only 32 short band keys come back over Arrow."""

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 "bands": [lsh_bands(minhash_signature(list(s)))
                           for s in pdf["shingles"]]})

    return sh.mapInPandas(sig, schema=_SIG_SCHEMA)


def minhash_lsh_pairs_df(docs: DataFrame) -> DataFrame:
    """Near-dup pairs (Jaccard ≥ 0.8) found via MinHash(128)+LSH(32 bands)
    candidate generation, exactly verified with array_intersect. With 32
    bands × 4 rows, P(miss | J=0.8) ≈ 4e-8, so the output equals the exact
    oracle in practice while shuffling only O(n·bands) rows. Composable
    df-level stage (the registry query below binds it to the sf tables)."""
    # Shingling runs once (persisted for the duration of candidate
    # generation); the band pairs (``key_pairs``) read the slim persisted
    # band table from both sides so the MinHash UDF executes exactly
    # once; the few candidate pairs — with shingles attached by
    # ``pair_sides`` — are checkpointed eagerly, after which every cached
    # input is released: nothing heavy leaks past this function and
    # nothing heavy computes twice.
    sh = _with_shingles(docs).select("doc_id", "shingles").persist()
    banded = _minhash_bands_df(sh).select(
        "doc_id", F.explode("bands").alias("band")).persist()
    try:
        cands = pair_sides(key_pairs(banded, "band"), sh,
                           "shingles").localCheckpoint(eager=True)
    finally:
        banded.unpersist()
        sh.unpersist()
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    j = inter / union
    return (
        cands.withColumn("jaccard", F.round(j, 6))
        .filter(j >= MINHASH_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


def minhash_lsh_pairs(spark, sf_dir):
    return minhash_lsh_pairs_df(_docs(spark, sf_dir))


MINHASH_LSH_PAIRS_SQL = _SHINGLE_CTE + f"""
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
      (len(a.shingles) + len(b.shingles)
       - len(list_intersect(a.shingles, b.shingles))) >= {MINHASH_THRESHOLD}
ORDER BY a_id, b_id
"""


# -- SimHash (fully native, oracle-checked) ------------------------------------------

def _simhash_sig(docs: DataFrame) -> DataFrame:
    """JVM-native 60-bit SimHash per doc: whitespace tokens (multiset),
    md5-based 60-bit token hashes, per-bit majority vote. Docs with no
    tokens get simhash 0 (matching the kernel's empty-input convention)."""
    tok = (
        docs.select("doc_id",
                    F.explode(F.split(F.lower(F.col("text")), WS_RE + "+")).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
                    .cast("long"))
    )
    acc = tok.groupBy("doc_id").agg(*[
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ])
    simhash = reduce(
        lambda x, y: x + y,
        [F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
         for j in range(_SIMHASH_BITS)],
    ).cast("long")
    return (
        docs.select("doc_id").join(acc, "doc_id", "left")
        .select("doc_id", F.coalesce(simhash, F.lit(0)).alias("simhash"))
    )


def _simhash_band_keys() -> "F.Column":
    """Manku multi-block band keys for a ``simhash`` column: one 24-bit
    key per block *pair* — C(5,2)=10 keys/doc. Any pair of fingerprints
    within Hamming distance ≤ 3 leaves ≥ 2 of the 5 blocks untouched and
    therefore shares the exact key of that block pair (pigeonhole — recall
    is exact, not probabilistic). Blocks use mask extraction
    (``shiftrightunsigned`` + ``bitwiseAND``), never signed ``%``.

    Join-compatible with ``kernels.dedupkit.simhash_bands``: both emit
    ``"<i>-<j>:<block_i>,<block_j>"`` decimal keys over the same
    60-bit/12-bit-block layout (the one band-key scheme in the repo —
    asserted by the cross-implementation equality test)."""
    mask = (1 << _BLOCK_WIDTH) - 1

    def block(i: int):
        return (F.shiftrightunsigned("simhash", _BLOCK_WIDTH * i)
                .bitwiseAND(F.lit(mask)))

    return F.array(*[
        F.concat(F.lit(f"{i}-{j}:"), block(i).cast("string"),
                 F.lit(","), block(j).cast("string"))
        for i in range(_SIMHASH_BLOCKS)
        for j in range(i + 1, _SIMHASH_BLOCKS)
    ])


def simhash_pairs(spark, sf_dir):
    """Near-dup pairs with SimHash Hamming distance ≤ 3, via Manku
    multi-block bucketing (5×12-bit blocks, 10 two-block 24-bit tables —
    any pair within distance 3 shares ≥1 exact two-block key, pigeonhole)
    and native bit_count verification."""
    # Materialize the slim signature table once: ``key_pairs`` reads it
    # from both sides and would otherwise run the 60-sum aggregation
    # twice over the full corpus.
    sigs = _simhash_sig(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    bands = sigs.select(
        "doc_id", "simhash",
        F.explode(_simhash_band_keys()).alias("band"),
    )
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        key_pairs(bands, "band")
        .select("a_id", "b_id", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .orderBy("a_id", "b_id")
    )


_SIMHASH_ACC_COLS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(_SIMHASH_BITS))
_SIMHASH_PACK = " + ".join(
    f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIMHASH_BITS))

SIMHASH_PAIRS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{WS_RE}+')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
  FROM toks WHERE tok != ''
), acc AS (
  SELECT doc_id,
         {_SIMHASH_ACC_COLS}
  FROM th GROUP BY doc_id
), sig AS (
  SELECT d.doc_id,
         coalesce(({_SIMHASH_PACK})::BIGINT, 0) AS simhash
  FROM documents d LEFT JOIN acc ON d.doc_id = acc.doc_id
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
ORDER BY a_id, b_id
"""


# -- embedding cosine near-dup -------------------------------------------------------

_EMB_DIM = 64  # the embeddings table's fixed dimensionality


def embedding_neardup_pairs(spark, sf_dir):
    """Exact cosine ≥ 0.4 pairs over the embeddings table (double math on
    both sides for bit-identical comparison). Deliberately O(n²) — the
    oracle-checked correctness twin — so it refuses inputs beyond
    ``MAX_EXACT_PAIR_ROWS``; the LSH variant
    (similarity.embedding_neardup_lsh) is the scale path.

    r6: each vector's norm is computed once on the 2n-row side frames
    instead of once per pair (n² times), and the dot is the unrolled
    codegen fold — together 118.8 s → ~4 s at sf0.1 with bit-identical
    output (norms are per-vector values; the pair expression
    dot / (na * nb) is unchanged)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    n = emb.count()
    if n > MAX_EXACT_PAIR_ROWS:
        raise ValueError(
            f"embedding_neardup_pairs is the exact O(n²) twin; refusing "
            f"{n} rows (> {MAX_EXACT_PAIR_ROWS}). Use "
            f"similarity.embedding_neardup_lsh (bucketed) at scale.")
    emb = emb.withColumn("nrm", F.sqrt(fold_sq(F.col("emb"), _EMB_DIM)))
    a = emb.alias("a")
    b = emb.alias("b")
    c = (fold_dot(F.col("a.emb"), F.col("b.emb"), _EMB_DIM)
         / (F.col("a.nrm") * F.col("b.nrm")))
    # Materialize the slim (a_id, b_id, c) pair frame once (lazy local
    # checkpoint): the filter and the round both reference c, and the
    # pushed-down predicate would otherwise re-evaluate the 64-term dot
    # per reference (measured 19 s vs 3.5 s at sf0.1). Bounded by
    # MAX_EXACT_PAIR_ROWS (worst case stated there).
    slim = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"),
                c.alias("c"))
        .localCheckpoint(eager=False)
    )
    return (
        slim.filter(F.col("c") >= 0.4)
        .select("a_id", "b_id", F.round("c", 6).alias("cosine"))
        .orderBy("a_id", "b_id")
    )


EMBEDDING_NEARDUP_PAIRS_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
ORDER BY a_id, b_id
"""


# -- near-dup clusters (connected components) ----------------------------------------

def connected_components(labels: DataFrame, edges: DataFrame,
                         max_iters: int = 64) -> DataFrame:
    """Min-label connected components: ``labels(id, comp)`` (initially
    comp = id) + symmetric ``edges(src, dst)`` → converged labels where
    comp = min id reachable from id.

    Each iteration combines neighbor-min propagation (labels ⋈ edges →
    min) with a pointer-jumping step (comp ← comp of comp — valid because
    every comp value is itself an id in ``labels``), so convergence takes
    O(log diameter) iterations, not O(diameter): a 10⁶-long drift chain
    converges in ~20 steps where plain propagation needs 10⁶. Shuffle
    volume per iteration is O(edges) + O(nodes). ``iterate`` runs it to
    fixpoint (labels never increase, so a row moved iff its comp dropped)
    and raises ``RuntimeError`` past ``max_iters`` (with jumping, 64
    covers any diameter ≤ 2⁶⁴) — never returns partial labels."""
    def hop(labels):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = (
            labels.join(neighbor_min, "id", "left")
            .select("id", F.col("comp").alias("old"),
                    F.least("comp", F.coalesce("ncomp", "comp"))
                    .alias("comp"))
            # materialize: both sides of the pointer-jump join read this;
            # unmaterialized, the O(edges) neighbor-min join runs twice
            .localCheckpoint(eager=True)
        )
        # pointer jump: comp ← label of comp (path halving)
        parent = stepped.select(F.col("id").alias("pid"),
                                F.col("comp").alias("pcomp"))
        jumped = F.least("comp", F.coalesce("pcomp", "comp"))
        return (
            stepped.join(parent, stepped.comp == parent.pid, "left")
            .select("id", jumped.alias("comp"),
                    (jumped < F.col("old")).alias("moved"))
        )

    return iterate(hop, labels, rounds=max_iters,
                   fixpoint="connected_components")


def neardup_clusters(spark, sf_dir):
    """Connected components over the MinHash near-dup pair graph: every
    document gets a cluster id = the minimum doc_id reachable through
    Jaccard ≥ 0.8 edges (singletons cluster with themselves). This is the
    operator a curation pipeline actually applies — "keep one doc per
    near-dup *cluster*", not per pair.

    Spark: iterative min-label propagation + pointer jumping (see
    ``connected_components``) — converges in O(log diameter) driver-loop
    steps and raises rather than ever returning non-converged labels.
    The DuckDB oracle is the same fixpoint as a recursive CTE."""
    return neardup_clusters_df(_docs(spark, sf_dir))


def neardup_clusters_df(docs: DataFrame) -> DataFrame:
    """df-level variant of ``neardup_clusters`` (see its docstring): the
    composable stage `curate_job --fuzzy-dedup` applies."""
    pairs = minhash_lsh_pairs_df(docs).select("a_id", "b_id")
    # symmetric edge list
    edges = pairs.union(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).withColumnRenamed("a_id", "src").withColumnRenamed("b_id", "dst") \
     .localCheckpoint(eager=True)
    labels = docs.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("comp"))
    return (
        connected_components(labels, edges)
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster"))
        .orderBy("doc_id")
    )


NEARDUP_CLUSTERS_SQL = _SHINGLE_CTE + f"""
, pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
        (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= {MINHASH_THRESHOLD}
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
), walk AS (
  WITH RECURSIVE prop(id, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, prop.comp FROM prop JOIN edges e ON e.src = prop.id
  )
  SELECT id, min(comp) AS comp FROM prop GROUP BY id
)
SELECT id AS doc_id, comp AS cluster FROM walk ORDER BY doc_id
"""


# -- duplicate-substring spans (exact substring dedup) --------------------------------

DUP_GRAM_K = 5  # word-gram width for duplicate-substring detection


def dup_ngram_spans(spark, sf_dir):
    """Exact duplicate-substring detection (the operator behind
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — there via suffix arrays): per document, the merged spans
    of word positions covered by ``DUP_GRAM_K``-grams that also occur in
    at least one OTHER document. A curation pipeline cuts these spans
    (boilerplate, licenses, quoted chunks) instead of dropping whole docs.

    Scale shape — deliberately NOT a suffix array (driver-bound) and NOT
    a pair join: (1) positional k-gram explosion (rows = total words);
    (2) duplicated-gram detection is an aggregation (distinct doc count
    per gram > 1), so a boilerplate gram in 10⁶ docs costs one counter,
    never a fan-out; (3) a semi-join marks duplicated positions; (4)
    per-doc gaps-and-islands window merges overlapping [pos, pos+k)
    intervals. Two shuffles total (gram agg, per-doc window), each
    map-side combinable / doc-partitioned."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " ")
    k = DUP_GRAM_K
    grams = word_ngrams(docs.withColumn("_w", words), "_w", k, "_g").select(
        "doc_id", F.posexplode("_g").alias("pos", "gram"))
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2).select("gram")
    )
    hits = grams.join(dup_grams, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        hits.withColumn(
            "brk",
            F.when(F.col("pos") - F.lag("pos", 1).over(w) > k, 1)
            .otherwise(0))
        .withColumn("island", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + k).alias("span_end"),
             F.count("*").alias("n_dup_grams"))
        .select("doc_id", "span_start", "span_end", "n_dup_grams")
        .orderBy("doc_id", "span_start")
    )


DUP_NGRAM_SPANS_SQL = rf"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
), g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
           || words[i+3] || ' ' || words[i+4] AS gram
  FROM w, unnest(range(1, len(words) - {DUP_GRAM_K} + 2)) AS t(i)
  WHERE len(words) >= {DUP_GRAM_K}
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup ON g.gram = dup.gram
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {DUP_GRAM_K} THEN 1 ELSE 0 END AS b
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id, min(pos) AS span_start, max(pos) + {DUP_GRAM_K} AS span_end,
       count(*) AS n_dup_grams
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


QUERIES = {
    "dedup_exact_norm": dedup_exact_norm,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_pairs": simhash_pairs,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "neardup_clusters": neardup_clusters,
    "dup_ngram_spans": dup_ngram_spans,
}

ORACLES = {
    "dedup_exact_norm": DEDUP_EXACT_NORM_SQL,
    "ngram_jaccard_pairs": NGRAM_JACCARD_PAIRS_SQL,
    "minhash_lsh_pairs": MINHASH_LSH_PAIRS_SQL,
    "simhash_pairs": SIMHASH_PAIRS_SQL,
    "embedding_neardup_pairs": EMBEDDING_NEARDUP_PAIRS_SQL,
    "neardup_clusters": NEARDUP_CLUSTERS_SQL,
    "dup_ngram_spans": DUP_NGRAM_SPANS_SQL,
}


# -- Overlap-coefficient containment pairs ----------------------------------

OVERLAP_THRESHOLD = 0.8


def containment_pairs(spark, sf_dir):
    """Asymmetric near-dup detection: overlap coefficient
    |Sa ∩ Sb| / min(|Sa|, |Sb|) over word-3-gram shingle sets. Catches a
    short document embedded inside a long one — the case Jaccard
    structurally dilutes (the union grows with the long doc, so the
    pair never crosses the Jaccard threshold no matter how complete the
    containment is).

    Shares ``_capped_pair_intersections`` (and its ``_PAIR_CTE`` SQL
    twin) with ngram_jaccard_pairs — inverted shingle index, stop-
    shingle cap, ``key_pairs``; only the coefficient differs, so the
    scale argument is the one already made there."""
    pairs = _capped_pair_intersections(_docs(spark, sf_dir))
    ov = F.col("shared") / F.least("n_a", "n_b")
    return (
        pairs.withColumn("overlap", F.round(ov, 6))
        .filter(ov >= OVERLAP_THRESHOLD)
        .select("a_id", "b_id", F.col("shared").alias("inter"), "overlap")
        .orderBy("a_id", "b_id")
    )


CONTAINMENT_PAIRS_SQL = _PAIR_CTE + f"""
SELECT a_id, b_id, inter,
       round(CAST(inter AS DOUBLE) / least(na, nb), 6) AS overlap
FROM p WHERE CAST(inter AS DOUBLE) / least(na, nb) >= {OVERLAP_THRESHOLD}
ORDER BY a_id, b_id
"""

QUERIES["containment_pairs"] = containment_pairs
ORACLES["containment_pairs"] = CONTAINMENT_PAIRS_SQL


# -- MinHash signature-estimate verification ----------------------------------

EST_N_PERM = 128
EST_PRIME = (1 << 61) - 1   # Mersenne modulus for the universal family
EST_HASH_MOD = 1 << 32      # signatures live in 32-bit space
EST_BASE_MOD = 1 << 31      # shingle base hash < 2^31 keeps a*base+b < 2^62
EST_THRESHOLD = 0.5


def _est_family() -> tuple[list[int], list[int]]:
    """Deterministic (a, b) universal-hash coefficients derived from md5
    of fixed labels — no RNG, reproducible in SQL as inline literals.
    a ∈ [1, 2^31-1], b ∈ [0, 2^31): with base < 2^31 every a*base+b
    stays under 2^62, exact in BIGINT on both engines."""
    import hashlib as _hashlib

    def h(s: str) -> int:
        return int(_hashlib.md5(s.encode()).hexdigest()[:15], 16)

    a = [h(f"mh-est-a-{i}") % (EST_BASE_MOD - 1) + 1 for i in range(EST_N_PERM)]
    b = [h(f"mh-est-b-{i}") % EST_BASE_MOD for i in range(EST_N_PERM)]
    return a, b


_EST_A, _EST_B = _est_family()


def _est_signatures_df(docs: DataFrame) -> DataFrame:
    """(doc_id, sig[EST_N_PERM]) signature table: explode(shingles) →
    ONE aggregation with 128 ``min((a_i*base + b_i) % P % M)`` columns
    (the (a_i, b_i) literals are inlined into the expressions), packed
    into the ordered array. r6 rewrite: the previous build crossJoined
    every shingle row with a broadcast 128-row perm table — a 128×
    row explosion (33M rows at sf0.1) shuffled through TWO aggregations
    (min per (doc, i), then collect_list per doc). The inlined-literal
    form computes the identical integers with zero row expansion, one
    map-side-combined aggregation, and no BroadcastNestedLoopJoin in
    the plan (measured 13.5 s → well under half on dedup_pr_eval's
    sweep row). Kept un-checkpointed so callers (and the plan-pin test)
    can see the build plan; minhash_est_pairs_df checkpoints the slim
    result once before its two joins."""
    sh = _with_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle"))
    base = (md5_long(F.col("shingle")) % EST_BASE_MOD).alias("base")
    mins = [
        F.min((F.col("base") * F.lit(_EST_A[i]) + F.lit(_EST_B[i]))
              % EST_PRIME % EST_HASH_MOD).alias(f"h{i}")
        for i in range(EST_N_PERM)
    ]
    return (sh.select("doc_id", base)
            .groupBy("doc_id").agg(*mins)
            .select("doc_id",
                    F.array(*[f"h{i}" for i in range(EST_N_PERM)])
                    .alias("sig")))


def minhash_est_pairs_df(docs: DataFrame) -> DataFrame:
    """MinHash *signature-estimate* verification — the production filter
    stage of the canonical LSH dedup pipeline: once banding has proposed
    candidates, each pair is accepted by comparing two K-int signatures
    (est_jaccard = matching components / K, O(K) per pair) instead of
    intersecting full shingle sets (O(|shingles|), which at 100 TB means
    re-shuffling every document's shingle array to every candidate —
    the cost ``minhash_lsh_pairs`` pays for exactness). The exact
    jaccard is emitted alongside, so the query doubles as an
    estimator-quality report (|est - exact| <= ~0.09 at K=128, 95%).

    Unlike ``minhash_signature`` (numpy/crc32/blake2b — not expressible
    in SQL), this signature family is engine-invariant by construction:
    base = md5-60bit(shingle) % 2^31, sig_i = min over shingles of
    (a_i*base + b_i) % (2^61-1) % 2^32, with (a_i, b_i) md5-derived
    literals inlined into the oracle. est_jaccard = matches/128 is an
    exact binary fraction — no rounding, no float-order concern; the
    only float op is the final division on both engines.

    Candidates come from ``_capped_pair_intersections`` (``key_pairs``
    over the capped shingle index) rather than blake2b band keys so the
    oracle can reproduce them; composing with banded candidates is
    exactly ``minhash_lsh_pairs``'s front half. Scale shape: the
    signature build is one map-side-combined aggregation
    (``_est_signatures_df``); the slim (doc_id, sig[128]) table is
    checkpointed once and attached to both members by ``pair_sides``."""
    sigarr = _est_signatures_df(docs).localCheckpoint(eager=True)
    pairs = _capped_pair_intersections(docs)
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return (pair_sides(pairs, sigarr, "sig")
            .withColumn("est_jaccard",
                        matches.cast("double") / EST_N_PERM)
            .filter(F.col("est_jaccard") >= EST_THRESHOLD)
            .withColumn("jaccard",
                        F.round(F.col("shared")
                                / (F.col("n_a") + F.col("n_b")
                                   - F.col("shared")), 6))
            .select("a_id", "b_id", "est_jaccard", "jaccard")
            .orderBy("a_id", "b_id"))


def minhash_est_pairs(spark, sf_dir):
    return minhash_est_pairs_df(_docs(spark, sf_dir))


_EST_PERMS_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(_EST_A, _EST_B)))

# the engine-invariant signature-build CTE block (shared by the est
# verification query and the dedup P/R eval)
_EST_SIG_CTES = f"""
, perms(i, a, b) AS (VALUES {_EST_PERMS_VALUES})
, bh AS (
  SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT
                 % {EST_BASE_MOD} AS base
  FROM inv
), sig AS (
  SELECT doc_id, i,
         min((a * base + b) % {EST_PRIME} % {EST_HASH_MOD}) AS h
  FROM bh CROSS JOIN perms GROUP BY doc_id, i
), sigarr AS (
  SELECT doc_id, list(h ORDER BY i) AS sig FROM sig GROUP BY doc_id
)"""

MINHASH_EST_PAIRS_SQL = _PAIR_CTE + _EST_SIG_CTES + f"""
, est AS (
  SELECT p.a_id, p.b_id,
         CAST(list_sum(list_transform(range(1, {EST_N_PERM} + 1),
              k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END))
              AS DOUBLE) / {EST_N_PERM} AS est_jaccard,
         round(CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter), 6)
           AS jaccard
  FROM p JOIN sigarr sa ON sa.doc_id = p.a_id
         JOIN sigarr sb ON sb.doc_id = p.b_id
)
SELECT a_id, b_id, est_jaccard, jaccard
FROM est WHERE est_jaccard >= {EST_THRESHOLD}
ORDER BY a_id, b_id
"""

QUERIES["minhash_est_pairs"] = minhash_est_pairs
ORACLES["minhash_est_pairs"] = MINHASH_EST_PAIRS_SQL


# -- Dedup-screen precision/recall eval ----------------------------------------
#
# The dedup analog of the retrieval evals: how good is the O(K)
# signature screen (``minhash_est_pairs``'s acceptance rule) as a
# replacement for exact verification? Over the shared capped candidate
# space, every pair is labeled by BOTH rules — est accept (>= 64 of 128
# signature components match) vs exact FULL-UNIVERSE truth (shingle
# arrays re-attached to the bounded candidates and intersected exactly;
# Jaccard >= 1/2 by integer cross-multiplication — the capped engine's
# hot-dropped `inter` would understate J for boilerplate-sharing pairs
# while the signatures see all shingles, biasing the matrix) — and the
# confusion counts + precision/recall
# roll up in exact ppm integers. FP/FN are the pairs whose +-0.09
# estimator noise (K=128, 95%) crosses the threshold; a pipeline sizing
# K trades this table against the O(|shingles|) exact-verify shuffle.
#
# Everything is integer end-to-end (the est accept is a component
# count, the truth is a cross-multiplied inequality, ppm are truncating
# divisions) — hash-exact by construction. Scale: the heavy frames are
# the shared signature build and capped pair engine; the rollup is one
# single-row aggregate.

import math as _math

_EST_MIN_MATCHES = _math.ceil(EST_THRESHOLD * EST_N_PERM)  # 64 of 128
# the truth threshold as an exact fraction — tied to EST_THRESHOLD so
# the two rules can never silently diverge
_TAU_NUM, _TAU_DEN = 1, 2
assert _TAU_NUM / _TAU_DEN == EST_THRESHOLD


def dedup_pr_eval_df(docs: DataFrame) -> DataFrame:
    # truth must be the EXACT full-universe Jaccard: the signatures are
    # built over ALL shingles, while _capped_pair_intersections' `shared`
    # drops hot shingles — labeling truth with capped-inter/full-union
    # would understate J for boilerplate-sharing pairs and bias the
    # confusion matrix the eval exists to report. So ``pair_sides``
    # attaches full shingle arrays (and signatures) to the bounded
    # candidate set, intersected exactly (the minhash_lsh_pairs verify
    # shape); only candidate GENERATION keeps the cap (pairs sharing
    # nothing but boilerplate are not candidates — same as production).
    shf = _with_shingles(docs).select("doc_id", "shingles")
    sigarr = _est_signatures_df(docs).localCheckpoint(eager=True)
    cand_ids = (_capped_pair_intersections(docs)
                .select("a_id", "b_id").localCheckpoint(eager=True))
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    sc = (pair_sides(pair_sides(cand_ids, shf, "shingles"), sigarr, "sig")
          .select(inter.alias("inter"), union.alias("un"),
                  matches.alias("m")))
    est_pos = F.col("m") >= _EST_MIN_MATCHES
    tru_pos = F.col("inter") * _TAU_DEN >= F.col("un") * _TAU_NUM

    def cnt(cond):
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long")

    agg = sc.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        cnt(est_pos & tru_pos).alias("tp"),
        cnt(est_pos & ~tru_pos).alias("fp"),
        cnt(~est_pos & tru_pos).alias("fn"),
        cnt(~est_pos & ~tru_pos).alias("tn"))
    return agg.select(
        "n_pairs", "tp", "fp", "fn", "tn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.expr("(tp * 1000000) div (tp + fp)")).alias(
                   "precision_ppm"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.expr("(tp * 1000000) div (tp + fn)")).alias(
                   "recall_ppm"))


def dedup_pr_eval(spark, sf_dir):
    return dedup_pr_eval_df(_docs(spark, sf_dir))


DEDUP_PR_EVAL_SQL = _PAIR_CTE + _EST_SIG_CTES + f"""
, m AS (
  SELECT len(list_intersect(fa.shingles, fb.shingles)) AS inter,
         len(fa.shingles) + len(fb.shingles)
           - len(list_intersect(fa.shingles, fb.shingles)) AS un,
         list_sum(list_transform(range(1, {EST_N_PERM} + 1),
              k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) AS m
  FROM p JOIN sigarr sa ON sa.doc_id = p.a_id
         JOIN sigarr sb ON sb.doc_id = p.b_id
         JOIN sh fa ON fa.doc_id = p.a_id
         JOIN sh fb ON fb.doc_id = p.b_id
), conf AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(coalesce(sum(CASE WHEN m >= {_EST_MIN_MATCHES}
                 AND inter * {_TAU_DEN} >= un * {_TAU_NUM}
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
         CAST(coalesce(sum(CASE WHEN m >= {_EST_MIN_MATCHES}
                 AND inter * {_TAU_DEN} < un * {_TAU_NUM}
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
         CAST(coalesce(sum(CASE WHEN m < {_EST_MIN_MATCHES}
                 AND inter * {_TAU_DEN} >= un * {_TAU_NUM}
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
         CAST(coalesce(sum(CASE WHEN m < {_EST_MIN_MATCHES}
                 AND inter * {_TAU_DEN} < un * {_TAU_NUM}
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
  FROM m
)
SELECT n_pairs, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END
         AS precision_ppm,
       CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END
         AS recall_ppm
FROM conf
"""

QUERIES["dedup_pr_eval"] = dedup_pr_eval
ORACLES["dedup_pr_eval"] = DEDUP_PR_EVAL_SQL


# -- Per-doc n-gram novelty --------------------------------------------------------

def ngram_novelty_df(docs: DataFrame) -> DataFrame:
    """Ingestion-order novelty: for each document, the fraction of its
    distinct word-3-gram shingles whose FIRST corpus appearance (min
    doc_id) is this document — the memorization/freshness signal a
    curriculum or dedup-audit pass reads per shard (1.0 = all-new
    content, ~0 = fully boilerplate). Reuses the exact shingle
    machinery of the pair-dedup operators (``_with_shingles`` /
    ``_SHINGLE_CTE``), so 'novel' means the same thing everywhere.

    Scale shape: one explode → min-agg keyed on gram (partial combine —
    a boilerplate gram collapses map-side, the classic hot key never
    fans out because min is the only payload), one join carrying |doc
    grams| rows, one doc-keyed count agg. All-integer until the final
    division of two exact counts."""
    sh = _with_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("gram"))
    fs = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).cast("long")
    return (sh.join(fs, "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"), novel.alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    F.round(F.col("n_novel").cast("double")
                            / F.col("n_grams"), 6).alias("novelty"))
            .orderBy("doc_id"))


def ngram_novelty(spark, sf_dir):
    return ngram_novelty_df(_docs(spark, sf_dir))


NGRAM_NOVELTY_SQL = _SHINGLE_CTE + """
, d AS (
  SELECT doc_id, unnest(shingles) AS gram FROM sh
), fs AS (
  SELECT gram, min(doc_id) AS first_doc FROM d GROUP BY gram
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN fs.first_doc = d.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN fs.first_doc = d.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM d JOIN fs USING (gram)
GROUP BY d.doc_id ORDER BY d.doc_id
"""

QUERIES["ngram_novelty"] = ngram_novelty
ORACLES["ngram_novelty"] = NGRAM_NOVELTY_SQL


# -- Cross-source content overlap ----------------------------------------------

# Shingles present in more than this many SOURCES are dropped before pair
# generation (the source-level twin of SHINGLE_DF_CAP): ubiquitous
# boilerplate would otherwise contribute cap-free O(|sources|^2) pair rows
# per shingle. Mirrored in the oracle; the (documented) recall cost is
# overlap carried ONLY by such ubiquitous shingles.
SRC_OVERLAP_CAP = 16


def source_overlap_df(docs: DataFrame) -> DataFrame:
    """Cross-source duplication audit: for every source pair, how many
    distinct word-3-gram shingles they share, plus the overlap
    coefficient vs the smaller source — the mirror/syndication detector
    a corpus-governance pass runs before mixing sources (a pair at
    overlap ~1.0 is the same feed twice; weighting both up double-counts
    the content). Shingles via the shared ``_with_shingles``.

    Scale shape: aggregation-only — NO self-join. The (source, shingle)
    distinct table groups by shingle into a sorted source list (capped
    at SRC_OVERLAP_CAP, so local pair generation is ≤ cap²/2 rows per
    shingle), pairs explode from the list, and one groupBy counts them.
    All integers until the final coefficient division."""
    sh = _with_shingles(docs).select(
        "source", F.explode("shingles").alias("shingle")).distinct()
    tot = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    grp = (sh.groupBy("shingle")
           .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
           .filter((F.size("srcs") >= 2)
                   & (F.size("srcs") <= SRC_OVERLAP_CAP)))
    pairs = (grp.select(F.explode(F.expr(
        "flatten(transform(srcs, (a, i) -> transform("
        "slice(srcs, i + 2, size(srcs)), "
        "b -> named_struct('src_a', a, 'src_b', b))))")).alias("p"))
        .select("p.src_a", "p.src_b"))
    agg = pairs.groupBy("src_a", "src_b").agg(F.count("*").alias("shared"))
    ta = tot.select(F.col("source").alias("src_a"),
                    F.col("n_sh").alias("na"))
    tb = tot.select(F.col("source").alias("src_b"),
                    F.col("n_sh").alias("nb"))
    return (agg.join(ta, "src_a").join(tb, "src_b")
            .select("src_a", "src_b", "shared",
                    F.round(F.col("shared").cast("double")
                            / F.least("na", "nb"), 6).alias("overlap"))
            .orderBy("src_a", "src_b"))


def source_overlap(spark, sf_dir):
    return source_overlap_df(_docs(spark, sf_dir))


SOURCE_OVERLAP_SQL = rf"""
WITH w AS (
  SELECT source,
         regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT DISTINCT source,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM w, unnest(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source
), grp AS (
  SELECT shingle, list_sort(list(DISTINCT source)) AS srcs
  FROM sh GROUP BY shingle
  HAVING count(DISTINCT source) BETWEEN 2 AND {SRC_OVERLAP_CAP}
), pairs AS (
  SELECT srcs[i] AS src_a, srcs[j] AS src_b
  FROM grp,
       unnest(range(1, len(srcs) + 1)) AS t(i),
       unnest(range(1, len(srcs) + 1)) AS u(j)
  WHERE i < j
), agg AS (
  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS shared
  FROM pairs GROUP BY src_a, src_b
)
SELECT agg.src_a, agg.src_b, agg.shared,
       round(CAST(agg.shared AS DOUBLE) / least(ta.n_sh, tb.n_sh), 6)
         AS overlap
FROM agg JOIN tot ta ON ta.source = agg.src_a
         JOIN tot tb ON tb.source = agg.src_b
ORDER BY src_a, src_b
"""

QUERIES["source_overlap"] = source_overlap
ORACLES["source_overlap"] = SOURCE_OVERLAP_SQL


# -- Near-dup survivorship ------------------------------------------------------

def cluster_canonical_from(clusters: DataFrame,
                           docs: DataFrame) -> DataFrame:
    """Survivorship policy over precomputed near-dup ``clusters``
    ((doc_id, cluster) rows): for every multi-member cluster, pick the
    canonical copy to KEEP — longest document (whitespace tokens)
    first, doc_id as the deterministic tie-break. This is the step
    between clustering and deletion in a production dedup pipeline
    (keeping an arbitrary member throws away the best extraction when
    mirrors differ in truncation/boilerplate; CCNet and RefinedWeb both
    keep by quality, not by chance). Factored over the cluster frame so
    ``curate_job --fuzzy-dedup`` applies the policy without running the
    LSH clustering twice.

    Scale shape: the policy adds one doc_id-keyed join against a
    two-column token-count projection and one cluster-partitioned
    window (rank + member count ride the same partitioning, one
    shuffle). Singleton clusters are dropped AFTER the window — no
    second aggregation pass."""
    from pyspark.sql.window import Window

    from . import tok_array

    toks = docs.select(
        "doc_id",
        F.size(tok_array(F.col("text"))).cast("long").alias("n_tokens"))
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_tokens"), "doc_id")
    wc = Window.partitionBy("cluster")
    return (clusters.join(toks, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_members", F.count("*").over(wc))
            .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
            .select("cluster",
                    F.col("doc_id").alias("keep_doc_id"),
                    F.col("n_tokens").alias("keep_tokens"),
                    F.col("n_members").cast("long").alias("n_members"))
            .orderBy("cluster"))


def cluster_canonical_df(docs: DataFrame) -> DataFrame:
    """Registry composition: ``neardup_clusters_df`` (pointer-jumping
    components, characterized there) + the survivorship policy."""
    return cluster_canonical_from(neardup_clusters_df(docs), docs)


def cluster_canonical(spark, sf_dir):
    return cluster_canonical_df(_docs(spark, sf_dir))


CLUSTER_CANONICAL_SQL = rf"""
WITH cl AS ({NEARDUP_CLUSTERS_SQL}),
t AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
              '{WS_RE}+'), x -> x != '')) AS BIGINT) AS n_tokens
  FROM documents
), j AS (
  SELECT cl.cluster, cl.doc_id, t.n_tokens FROM cl JOIN t USING (doc_id)
), r AS (
  SELECT cluster, doc_id, n_tokens,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_tokens DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster) AS n_members
  FROM j
)
SELECT cluster, doc_id AS keep_doc_id, n_tokens AS keep_tokens,
       CAST(n_members AS BIGINT) AS n_members
FROM r WHERE rn = 1 AND n_members >= 2
ORDER BY cluster
"""

QUERIES["cluster_canonical"] = cluster_canonical
ORACLES["cluster_canonical"] = CLUSTER_CANONICAL_SQL


# --- Prefix-filtering set-similarity join (PPJoin-style) --------------------

PFX_NUM = 3   # jaccard threshold tau = PFX_NUM / PFX_DEN = 0.6
PFX_DEN = 5


def prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (Chaudhuri et
    al. 2006 / PPJoin) — the third pair-pruning mechanism next to
    MinHash banding (probabilistic) and the df-cap inverted index
    (heuristic), and unlike both it is LOSSLESS: order every doc's
    shingles by one global rarity order (df asc, shingle asc); two sets
    with jaccard >= tau MUST share a token inside their first
    s - ceil(tau*s) + 1 tokens, so the candidate join only touches
    prefixes. Survivors are verified with an exact per-pair
    array_intersect, all in integers (5*inter >= 3*union).

    The oracle is the INDEPENDENT brute force (all-pairs inverted-index
    jaccard, no prefix, no cap) — so the driver check also re-proves the
    prefix theorem end-to-end on this corpus rather than mirroring the
    optimization.

    Scale shape: the df table is vocabulary-sized (NO broadcast hint —
    the tfidf lesson; AQE may still choose broadcast when small), the
    per-doc rarity window carries |shingles| rows per doc, and
    ``key_pairs`` over the prefix tokens touches only the RAREST tokens
    by construction, so the hot-shingle fan-out that forces the df-cap
    elsewhere cannot happen here. Verification attaches the shingle
    arrays to the bounded candidate set with ``pair_sides`` (O(cand * s)
    map work)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = _with_shingles(docs).select("doc_id", "shingles").persist()
    # the prefix table feeds BOTH sides of ``key_pairs``: an
    # unpersisted frame would run the explode + df-count + rarity window
    # twice (the re-execution trap — pushed-projection diffs defeat
    # ReusedExchange)
    pref = _prefix_tokens_df(sh).persist()
    try:
        inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
        out = (pair_sides(key_pairs(pref, "sh"), sh, "shingles")
               .select(F.col("a_id").alias("a"), F.col("b_id").alias("b"),
                       inter.alias("inter_size"),
                       (F.size("shingles_a") + F.size("shingles_b") - inter)
                       .alias("union_size"))
               .filter(F.col("inter_size") * PFX_DEN
                       >= F.col("union_size") * PFX_NUM)
               .orderBy("a", "b")
               .localCheckpoint(eager=True))
    finally:
        pref.unpersist()
        sh.unpersist()
    return out


def _prefix_tokens_df(sh: DataFrame) -> DataFrame:
    """The rarity-ordered prefix tokens of each doc's shingle set (the
    lossless candidate source; split out so the plan is pin-testable on
    the production code path)."""
    from pyspark.sql.window import Window

    inv = sh.select("doc_id", F.size("shingles").alias("s"),
                    F.explode("shingles").alias("sh"))
    df_tab = inv.groupBy("sh").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    plen = (F.col("s")
            - F.expr(f"({PFX_NUM}*s + {PFX_DEN - 1}) div {PFX_DEN}") + 1)
    return (inv.join(df_tab, "sh")
            .withColumn("pos", F.row_number().over(w))
            .filter(F.col("pos") <= plen)
            .select("doc_id", "sh"))


PREFIX_FILTER_PAIRS_SQL = _SHINGLE_CTE + f"""
, inv AS (
  SELECT doc_id, len(shingles) AS s, unnest(shingles) AS shingle FROM sh
), p AS (
  SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter_size
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sz AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS s FROM sh)
SELECT p.a, p.b, p.inter_size,
       sa.s + sb.s - p.inter_size AS union_size
FROM p JOIN sz sa ON sa.doc_id = p.a JOIN sz sb ON sb.doc_id = p.b
WHERE p.inter_size * {PFX_DEN} >= (sa.s + sb.s - p.inter_size) * {PFX_NUM}
ORDER BY p.a, p.b
"""

QUERIES["prefix_filter_pairs"] = prefix_filter_pairs
ORACLES["prefix_filter_pairs"] = PREFIX_FILTER_PAIRS_SQL


# --- Incremental (new-batch vs corpus-index) dedup ---------------------------

INC_NEW_MOD = 10    # tonight's batch = doc_id % 10 == 0
INC_REPOST = 20     # every 20th doc is an exact repost of its old neighbor
INC_TAU_NUM = 1     # near-dup iff jaccard >= 1/2
INC_TAU_DEN = 2


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NIGHTLY dedup shape: screen a small new batch against the
    big existing corpus index instead of re-deduping everything — the
    incremental form every production pipeline actually runs. The batch
    derives deterministically (doc_id % 10 == 0 is new; every 20th new
    doc carries its old neighbor's exact text, simulating a repost) so
    all three outcomes occur and are oracle-checkable: 'exact_dup'
    (md5 match against the index, lowest old id wins), 'near_dup'
    (capped-shingle jaccard >= 1/2 against old docs only, best match by
    (intersection desc, union asc, old id asc)), else 'unique' —
    25/4/21 at both test scales.

    Scale shape: the exact channel is a sha equi-join where the NEW
    side is batch-sized (broadcastable in production); the near channel
    joins the new batch's inverted index against the corpus index on
    shingle with the standard SHINGLE_DF_CAP stop-shingle drop bounding
    hot-key fan-out, and crucially produces only new x old pairs — no
    old x old pair space, which is what makes incremental dedup
    O(batch) instead of O(corpus^2). The effective-text frame is
    persisted: it feeds both channels (the re-execution trap
    otherwise). The inverted index is persisted AND materialized before
    use: the hot-shingle aggregate and the anti-join both read it, and
    their stages are submitted together, so a lazy persist would still
    let both shingle the corpus. The capped index is materialized too:
    both near-channel sides read it, and left lazy each side re-ran the
    hot-shingle aggregate and its shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    repl = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                       F.col("text").alias("rtext"))
    eff = (docs.join(repl, "doc_id", "left")
           .select("doc_id",
                   F.when(F.col("doc_id") % INC_REPOST == 0,
                          F.col("rtext")).otherwise(F.col("text"))
                   .alias("text"),
                   (F.col("doc_id") % INC_NEW_MOD == 0).alias("is_new"))
           .persist())
    inv = _with_shingles(eff).select(
        "doc_id", "is_new", F.size("shingles").alias("s"),
        F.explode("shingles").alias("shingle")).persist()
    inv2 = _drop_hot_shingles(inv).persist()
    try:
        inv.count()
        inv2.count()
        news = eff.filter(F.col("is_new")).select("doc_id", "text")
        olds = eff.filter(~F.col("is_new")).select("doc_id", "text")
        # broadcast the batch, not the corpus (size estimates ignore filters)
        ex = (F.broadcast(news.select("doc_id", F.md5("text").alias("h")))
              .join(olds.select(F.col("doc_id").alias("o"),
                                F.md5("text").alias("h")), "h")
              .groupBy("doc_id").agg(F.min("o").alias("ex_match")))
        n_side = F.broadcast(inv2.filter(F.col("is_new")).select(
            F.col("doc_id").alias("new_id"), F.col("s").alias("sn"),
            "shingle"))
        o_side = inv2.filter(~F.col("is_new")).select(
            F.col("doc_id").alias("old_id"), F.col("s").alias("so"),
            "shingle")
        p = (n_side.join(o_side, "shingle")
             .groupBy("new_id", "old_id")
             .agg(F.count("*").alias("i"),
                  (F.first("sn") + F.first("so") - F.count("*"))
                  .alias("u")))
        near = (p.filter(F.col("i") * INC_TAU_DEN
                         >= F.col("u") * INC_TAU_NUM)
                .groupBy("new_id")
                .agg(F.min(F.struct((-F.col("i")).alias("ni"),
                                    F.col("u").alias("u"),
                                    F.col("old_id").alias("o")))
                     .alias("b")))
        status = (F.when(F.col("ex_match").isNotNull(), "exact_dup")
                  .when(F.col("b").isNotNull(), "near_dup")
                  .otherwise("unique"))
        out = (news.select("doc_id")
               .join(ex, "doc_id", "left")
               .join(near, news["doc_id"] == near["new_id"], "left")
               .select("doc_id", status.alias("status"),
                       F.coalesce("ex_match", F.col("b.o"))
                       .alias("match_doc"),
                       F.when(F.col("ex_match").isNull(), -F.col("b.ni"))
                       .alias("inter_size"),
                       F.when(F.col("ex_match").isNull(), F.col("b.u"))
                       .alias("union_size"))
               .orderBy("doc_id")
               .localCheckpoint(eager=True))
    finally:
        inv2.unpersist()
        inv.unpersist()
        eff.unpersist()
    return out


INCREMENTAL_DEDUP_SQL = f"""
WITH eff AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % {INC_REPOST} = 0 THEN r.text
              ELSE d.text END AS text,
         d.doc_id % {INC_NEW_MOD} = 0 AS is_new
  FROM documents d LEFT JOIN documents r ON r.doc_id = d.doc_id + 1
), news AS (SELECT doc_id, text FROM eff WHERE is_new),
olds AS (SELECT doc_id, text FROM eff WHERE NOT is_new),
ex AS (
  SELECT n.doc_id, min(o.doc_id) AS match_doc
  FROM news n JOIN olds o ON md5(n.text) = md5(o.text)
  GROUP BY n.doc_id
), w AS (
  SELECT doc_id, is_new,
         regexp_split_to_array(trim(regexp_replace(lower(text),
           '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM eff
), sh AS (
  SELECT doc_id, is_new,
         list_distinct(list_transform(range(1, len(words) - 1),
           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
           AS shingles
  FROM w WHERE len(words) >= 3
), inv AS (
  SELECT doc_id, is_new, len(shingles) AS s, unnest(shingles) AS g FROM sh
), inv2 AS (
  SELECT * FROM inv WHERE g NOT IN (
    SELECT g FROM inv GROUP BY g HAVING count(*) > {SHINGLE_DF_CAP})
), p AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         CAST(count(*) AS BIGINT) AS i,
         CAST(any_value(n.s) + any_value(o.s) - count(*) AS BIGINT) AS u
  FROM inv2 n JOIN inv2 o ON n.g = o.g AND o.is_new = FALSE
  WHERE n.is_new GROUP BY n.doc_id, o.doc_id
), near AS (
  SELECT new_id, min(struct_pack(ni := -i, u := u, o := old_id)) AS b
  FROM p WHERE i * {INC_TAU_DEN} >= u * {INC_TAU_NUM} GROUP BY new_id
)
SELECT n.doc_id AS doc_id,
       CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.new_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       coalesce(ex.match_doc, (nr.b).o) AS match_doc,
       CASE WHEN ex.doc_id IS NULL THEN -((nr.b).ni) END AS inter_size,
       CASE WHEN ex.doc_id IS NULL THEN (nr.b).u END AS union_size
FROM news n
LEFT JOIN ex ON ex.doc_id = n.doc_id
LEFT JOIN near nr ON nr.new_id = n.doc_id
ORDER BY n.doc_id
"""

QUERIES["incremental_dedup"] = incremental_dedup
ORACLES["incremental_dedup"] = INCREMENTAL_DEDUP_SQL


# -- Edit-distance screening over blocked candidate pairs ----------------------

EDIT_PREFIX_CHARS = 80
EDIT_LEN_BUCKET = 100


def edit_distance_pairs_df(docs: DataFrame) -> DataFrame:
    """Levenshtein screening with blocking: candidate pairs are ADJACENT
    docs (by doc_id) within a (source, length-bucket) block — the
    classic sorted-neighborhood form, O(n) pairs instead of O(n²) — and
    each pair gets the exact edit distance of its ASCII-normalized
    80-char prefixes. The ASCII fold is load-bearing for the oracle:
    Spark's levenshtein counts CODEPOINTS while DuckDB's counts UTF-8
    bytes, so the compared strings are restricted to printable ASCII
    where the two definitions coincide (and where the synthetic corpus
    lives anyway).

    Scale shape: one window (the block-partitioned lead), one codegen
    levenshtein per pair — the DP is O(80²) per row, JVM-side, no
    Python; blocks are hash-partitioned so the shuffle carries slim
    (ids, prefix) rows only."""
    from pyspark.sql import Window

    pfx = F.regexp_replace(
        F.substring("text", 1, EDIT_PREFIX_CHARS), "[^ -~]", "")
    slim = docs.select(
        "doc_id", "source", pfx.alias("pfx"),
        (F.col("n_chars") / EDIT_LEN_BUCKET).cast("long").alias("bucket"))
    w = Window.partitionBy("source", "bucket").orderBy("doc_id")
    return (slim
            .withColumn("next_id", F.lead("doc_id").over(w))
            .withColumn("next_pfx", F.lead("pfx").over(w))
            .filter(F.col("next_id").isNotNull())
            .select("source", "bucket",
                    F.col("doc_id").alias("doc_id_a"),
                    F.col("next_id").alias("doc_id_b"),
                    F.levenshtein("pfx", "next_pfx").alias("edit_dist"))
            .orderBy("source", "bucket", "doc_id_a"))


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_distance_pairs_df(_docs(spark, sf_dir))


EDIT_DISTANCE_PAIRS_SQL = f"""
WITH slim AS (
  SELECT doc_id, source,
         regexp_replace(substring(text, 1, {EDIT_PREFIX_CHARS}),
                        '[^ -~]', '', 'g') AS pfx,
         n_chars // {EDIT_LEN_BUCKET} AS bucket
  FROM documents
), nbr AS (
  SELECT source, bucket, doc_id AS doc_id_a,
         lead(doc_id) OVER w AS doc_id_b,
         pfx, lead(pfx) OVER w AS next_pfx
  FROM slim
  WINDOW w AS (PARTITION BY source, bucket ORDER BY doc_id)
)
SELECT source, bucket, doc_id_a, doc_id_b,
       levenshtein(pfx, next_pfx) AS edit_dist
FROM nbr WHERE doc_id_b IS NOT NULL
ORDER BY source, bucket, doc_id_a
"""

QUERIES["edit_distance_pairs"] = edit_distance_pairs
ORACLES["edit_distance_pairs"] = EDIT_DISTANCE_PAIRS_SQL
