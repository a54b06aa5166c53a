"""Similarity search over the embeddings table.

- ``ann_topk``: brute-force exact cosine top-k — the correctness baseline,
  fully native (zip_with/aggregate inside whole-stage codegen; the query
  vector is a literal broadcast into the plan, no driver loop). Guarded by
  ``MAX_BRUTE_ROWS``: it is a deliberate full-scan-per-query twin.
- ``ann_topk_lsh``: random-hyperplane LSH bucketing — the scale path. At
  10^9+ vectors the brute force scans everything per query; LSH probes only
  the query's bucket (plus multiprobe neighbors). Buckets are computed
  natively from literal hyperplanes (seeded, deterministic) — and because
  the hyperplanes are plan literals, the *same* literals are inlined into
  the DuckDB oracle SQL, giving every approximate path a hash-exact oracle
  instead of a rows-only check.
- ``ann_topk_ivf``: coarse-quantize to 16 literal centroids, probe the 2
  nearest cells. Same literal-inlining trick for the oracle.
- ``ann_topk_pq``: product quantization + ADC — vectors stored as M=4
  codeword ids (64× smaller working set), distances are M integer table
  lookups; codebooks/LUTs are plan literals and the whole encode+scan is
  one map-only projection. Composes with IVF the faiss-IVF-PQ way.
- ``embedding_neardup_lsh``: bucket + single-bit multiprobe near-dup join;
  a pair collides iff their buckets differ by ≤ 2 bits, which is exactly
  the oracle's ``bit_count(xor(...)) <= 2`` condition.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import WS_RE, _hof_dot, _hof_sq

TOP_K = 10
QUERY_VEC_ID = 0
_N_PLANES = 8
_DIM = 64
_N_CELLS = 16
_IVF_PROBES = 2
# Refuse brute-force beyond this many vectors (pointer to the LSH/IVF path).
MAX_BRUTE_ROWS = 10_000_000
# Refuse embedding_neardup_lsh when its probe-key join can emit more pair
# rows than this: the lazy pair checkpoint's budget, the 2×10^8 rows
# (~5.6 GB) stated at dedup.MAX_EXACT_PAIR_ROWS.
MAX_LSH_PAIR_ROWS = 200_000_000


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label")


def _cosine_to_lit(emb_col, qvec: list[float]):
    # NOTE(r6): HOF folds kept deliberately. An unrolled 64-term codegen
    # chain was measured SLOWER here (ann_topk 0.69 s → 1.36 s): these
    # queries touch few rows, and the big generated method recompiles on
    # every invocation (fresh expression ids defeat the codegen cache),
    # costing more than the interpreted fold saves. Unrolled folds only
    # pay on large pair frames — see dedup.embedding_neardup_pairs.
    q = F.array(*[F.lit(float(v)) for v in qvec])
    dot = F.aggregate(F.zip_with(emb_col, q, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    ne = F.sqrt(F.aggregate(F.transform(emb_col, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    # Sequential left fold, NOT np.dot: numpy sums pairwise, the SQL
    # twin (_FOLD_NORM) folds left-to-right — the same order here makes
    # the query norm bit-identical across engines instead of
    # last-ulp-close (a rel at a round(6) boundary must not flip).
    acc = 0.0
    for v in qvec:
        acc += float(v) * float(v)
    nq = math.sqrt(acc)
    return dot / (ne * F.lit(nq))


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _emb(spark, sf_dir).filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("emb").first()
    )
    return list(row["emb"])


def _guard_brute(emb: DataFrame, caller: str) -> None:
    n = emb.count()
    if n > MAX_BRUTE_ROWS:
        raise ValueError(
            f"{caller} is the exact full-scan twin; refusing {n} rows "
            f"(> {MAX_BRUTE_ROWS}). Use ann_topk_lsh / ann_topk_ivf "
            f"(bucket-pruned) at scale.")


def ann_topk(spark, sf_dir):
    """Exact cosine top-10 neighbors of vec_id=0 (excluded)."""
    emb = _emb(spark, sf_dir)
    _guard_brute(emb, "ann_topk")
    qvec = _query_vector(spark, sf_dir)
    c = _cosine_to_lit(F.col("emb"), qvec)
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(c, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


ANN_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb FROM e WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.emb, q.emb), 6) AS cosine
FROM e, q WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, e.vec_id
LIMIT {TOP_K}
"""


def _hyperplanes(seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(_N_PLANES, _DIM)


def _centroids(seed: int = 11) -> np.ndarray:
    rng = np.random.RandomState(seed)
    cents = rng.randn(_N_CELLS, _DIM)
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def _vec_sql(v: np.ndarray) -> str:
    """A numpy vector as a DuckDB DOUBLE[] literal (repr round-trips)."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


def _bucket_expr(emb_col):
    """Native LSH bucket id: sign bits of dot products with literal
    hyperplanes, packed into an int."""
    # NOTE(r6): HOF folds kept — unrolling the 8 plane dots (512 terms)
    # regressed every bucket-deriving query (mrr_eval 1.5 s → 5 s) via
    # per-invocation codegen compilation; see the _cosine_to_lit note.
    planes = _hyperplanes()
    bits = []
    for p in range(_N_PLANES):
        plane = F.array(*[F.lit(float(v)) for v in planes[p]])
        dot = F.aggregate(F.zip_with(emb_col, plane, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _bucket_sql(emb_expr: str) -> str:
    """The same bucket id in DuckDB SQL, from the same literal planes."""
    planes = _hyperplanes()
    terms = [
        f"(CASE WHEN list_dot_product({emb_expr}, {_vec_sql(planes[p])}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(_N_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


def ann_topk_lsh(spark, sf_dir):
    """Approximate top-10: probe only vectors in the query's LSH bucket or
    any bucket within Hamming distance 1 (multiprobe), then exact-rank the
    bucket. At 100 TB this turns a full scan into a partition-pruned probe
    (bucket as a partition column of the vectors table)."""
    qvec = _query_vector(spark, sf_dir)
    planes = _hyperplanes()
    qbits = sum((1 << p) for p in range(_N_PLANES)
                if float(np.dot(planes[p], qvec)) > 0)
    probe = [qbits] + [qbits ^ (1 << p) for p in range(_N_PLANES)]
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr(F.col("emb")))
    c = _cosine_to_lit(F.col("emb"), qvec)
    return (
        emb.filter(F.col("bucket").isin(probe))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(c, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


ANN_TOPK_LSH_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (SELECT vec_id, label, emb, {_bucket_sql('emb')} AS bucket FROM e),
q AS (SELECT emb, bucket FROM b WHERE vec_id = {QUERY_VEC_ID})
SELECT b.vec_id, b.label,
       round(list_cosine_similarity(b.emb, q.emb), 6) AS cosine
FROM b, q
WHERE bit_count(xor(b.bucket::BIGINT, q.bucket::BIGINT)) <= 1
  AND b.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, b.vec_id
LIMIT {TOP_K}
"""


def embedding_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: candidate pairs share an LSH
    bucket (8 hyperplanes) or collide via single-bit multiprobe — i.e.
    exactly the pairs whose buckets differ in ≤ 2 bits — verified exactly
    by cosine ≥ 0.4. At 10^9 vectors this joins within buckets instead of
    the O(n²) pair space.

    r6 restructure (guide §8: decide with small rows, move heavy rows
    once): the probe pairs (``key_pairs``) carry only (vec_id, probe) —
    not the 64-double payload — and are DEDUPLICATED before any cosine
    is computed (multiprobe collides each near pair ~2× on average:
    662k collision rows → 299k unique pairs at sf0.1). ``pair_sides``
    attaches embeddings and per-vector norms (computed once on the side
    frame) to the unique pairs, the dot is the unrolled codegen fold
    (bit-identical — operators.fold_dot), and the slim scored frame is
    lazily checkpointed so the threshold filter cannot re-evaluate it;
    the probe-key join's row count is bounded first and refused above
    ``MAX_LSH_PAIR_ROWS``. Same rows out (a pair's cosine is the same
    wherever computed); measured 12.8 s → ~2 s at sf0.1."""
    from . import fold_dot, fold_sq, key_pairs, pair_sides

    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr(F.col("emb")))
    # multiprobe: each vector lands in its bucket plus the 8 single-bit
    # neighbors → any pair within bucket-Hamming distance 2 collides.
    probes = F.array(
        F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(_N_PLANES)
        ])
    banded = emb.select("vec_id", F.explode(probes).alias("probe"))
    # a vector's 9 probes are distinct, so the join emits exactly
    # Σ n_k(n_k−1)/2 rows over the ≤ 2^8 probe keys
    bound = sum(r["count"] * (r["count"] - 1) // 2
                for r in banded.groupBy("probe").count().collect())
    if bound > MAX_LSH_PAIR_ROWS:
        raise ValueError(
            f"embedding_neardup_lsh: the probe-key join would emit {bound} "
            f"pair rows (> {MAX_LSH_PAIR_ROWS}), past the pair "
            f"checkpoint's storage budget.")
    side = emb.select("vec_id", "emb").withColumn(
        "nrm", F.sqrt(fold_sq(F.col("emb"), _DIM)))
    cands = pair_sides(key_pairs(banded, "probe", id_col="vec_id"),
                       side, "emb", "nrm", id_col="vec_id")
    c = (fold_dot(F.col("emb_a"), F.col("emb_b"), _DIM)
         / (F.col("nrm_a") * F.col("nrm_b")))
    slim = cands.select("a_id", "b_id", c.alias("cosine")) \
                .localCheckpoint(eager=False)
    return (
        slim.filter(F.col("cosine") >= 0.4)
        .select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("a_id", "b_id")
    )


EMBEDDING_NEARDUP_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (SELECT vec_id, emb, {_bucket_sql('emb')} AS bucket FROM e)
SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
       round(list_cosine_similarity(a.emb, b2.emb), 6) AS cosine
FROM b a JOIN b b2
  ON a.vec_id < b2.vec_id
 AND bit_count(xor(a.bucket::BIGINT, b2.bucket::BIGINT)) <= 2
WHERE list_cosine_similarity(a.emb, b2.emb) >= 0.4
ORDER BY a_id, b_id
"""


# The ONE SQL twin of the ordered cosine fold (_cosine_to_lit /
# _pair_cosine): dot and norms fold in ascending dimension order with a
# 0.0 seed. Every fold-mirroring oracle interpolates these — a second
# hand-rolled copy could drift by seed or zip order and reintroduce the
# last-ulp rank-flip these folds exist to prevent.
_FOLD_DOT = ("list_reduce(list_prepend(0.0, list_transform("
             "list_zip({a}, {b}), s -> s[1] * s[2])), (x, y) -> x + y)")
_FOLD_NORM = ("sqrt(list_reduce(list_prepend(0.0, list_transform("
              "{a}, x -> x * x)), (x, y) -> x + y))")


# Their column twins: the HOF folds ``fold_dot``/``fold_sq`` fall back to.
_fold_dot = _hof_dot


def _fold_norm(a):
    return F.sqrt(_hof_sq(a))


def _pair_cosine(a, b):
    # NOTE(r6): HOF folds kept — the unrolled form measured slower (see
    # _cosine_to_lit note). A self-join over one vector set should fold
    # each norm once per vector instead (semdedup_df's ``nrm``).
    return _fold_dot(a, b) / (_fold_norm(a) * _fold_norm(b))


def _cell_expr(emb_col):
    """Nearest-centroid cell id (argmax dot over the 16 seeded literal
    centroids), as one linear native expression: 16 dot products into an
    array, argmax via array_position(max). (A chained when/otherwise would
    nest the running best twice per step → exponential plan size.)"""
    # NOTE(r6): kept as HOF folds deliberately — unrolling all 16
    # centroid dots (16 × 64 terms) bloats the plan past the codegen
    # method limits and measured ~2× SLOWER (semdedup 4.2 s → 9.9 s).
    # Unrolled folds only pay when a plan carries a handful of them.
    cents = _centroids()
    dots = F.array(*[
        F.aggregate(
            F.zip_with(emb_col,
                       F.array(*[F.lit(float(v)) for v in cents[i]]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        for i in range(_N_CELLS)
    ])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _probe_cells(qvec: list[float], probes: int = _IVF_PROBES) -> list[int]:
    """The query's nearest cells by centroid dot product — the ONE probe
    rule every IVF-family query and the serving job share. Sums are a
    sequential left fold (the order ``_cell_expr``'s ``F.aggregate`` and
    ``_cosine_to_lit`` already canonicalized — numpy's pairwise ``@``
    could drift a near-tie by an ulp vs the oracle's list_dot_product)
    and the sort carries the oracle's exact ``DESC, cell`` tie-break
    (``np.argsort`` is unstable and has no cell tie-break)."""
    cents = _centroids()
    sims = []
    for i in range(_N_CELLS):
        acc = 0.0
        for a, b in zip(cents[i], qvec):
            acc += float(a) * float(b)
        sims.append(acc)
    return sorted(range(_N_CELLS), key=lambda i: (-sims[i], i))[:probes]


def ann_topk_ivf(spark, sf_dir):
    """IVF-style ANN: coarse-quantize vectors to the nearest of 16 seeded
    random centroids (a stand-in for trained k-means — deterministic, no
    training dependency), probe the query's 2 nearest cells, exact-rank
    within them. The cell id becomes a partition column at scale."""
    qvec = _query_vector(spark, sf_dir)
    probe_cells = _probe_cells(qvec)

    emb = _emb(spark, sf_dir).withColumn("cell", _cell_expr(F.col("emb")))
    c = _cosine_to_lit(F.col("emb"), qvec)
    return (
        emb.filter(F.col("cell").isin(probe_cells))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(c, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


def _ivf_sql() -> str:
    cents = _centroids()
    values = ",\n       ".join(
        f"({i}, {_vec_sql(cents[i])})" for i in range(_N_CELLS))
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
cents(cell, c) AS (VALUES
       {values}),
assigned AS (
  SELECT e.vec_id, e.label, e.emb,
         (SELECT cell FROM cents
          ORDER BY list_dot_product(e.emb, c) DESC, cell LIMIT 1) AS cell
  FROM e),
q AS (SELECT emb FROM e WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cell FROM cents, q
  ORDER BY list_dot_product(q.emb, c) DESC, cell LIMIT {_IVF_PROBES})
SELECT a.vec_id, a.label,
       round(list_cosine_similarity(a.emb, q.emb), 6) AS cosine
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
"""


ANN_TOPK_IVF_SQL = _ivf_sql()


# --- SemDeDup: semantic dedup via cluster-then-pairwise-cosine ----------

SEMDEDUP_TAU = 0.35


# Refuse when the fixed 16-cell quantizer would make average cells this
# large (the pair join inside a cell is quadratic in the cell size).
MAX_SEMDEDUP_CELL_ROWS = 10_000


def semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embeddings (the 16 seeded literal centroids stand in for trained
    k-means, same as ``ann_topk_ivf``), then compare pairs ONLY within a
    cluster; a vector is removed when any lower-id cluster-mate has
    cosine ≥ tau. That is exactly the paper implementation's
    lower-triangle rule (zero the upper triangle of the cluster's sim
    matrix, drop rows whose max survives the threshold) — deterministic,
    no RNG. ``dup_of`` is the removal *witness* (the smallest-id such
    mate); a witness can itself be removed — the rule is not a maximal
    independent set, matching the paper.

    Scale path: the published recipe grows the cluster count with the
    corpus (~sqrt(n)), bounding per-cluster pair blocks, and the join is
    a cell-equi join (shuffle keyed on cell), never the O(n²) all-pairs
    space. The cell id doubles as a partition column for the embeddings
    table at 100 TB. Because THIS query pins 16 literal cells for oracle
    parity, it guards average cell size and refuses oversized inputs
    instead of degrading into a quadratic join (see
    ``MAX_SEMDEDUP_CELL_ROWS``).

    Reference analog: the content-sha dedupe of raw pages
    (/root/reference/src/extract_ocr/crawl.py:712) lifted from exact
    bytes to embedding space."""
    return semdedup_df(_emb(spark, sf_dir))


def semdedup_df(emb: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup over any (vec_id, emb: array<double>) frame — see
    ``semdedup`` for semantics and the scale argument."""
    # The slim (vec_id, emb, cell, nrm) table is persisted so the parquet
    # scan, the 16×64-dim centroid fold and the norm fold run ONCE per
    # vector, not once per join side or per pair (the r2
    # self-join-over-unmaterialized-frame lesson); the result is
    # localCheckpointed eagerly so unpersist below is safe.
    assigned = emb.select(
        "vec_id", "emb", _cell_expr(F.col("emb")).alias("cell"),
        _fold_norm(F.col("emb")).alias("nrm")).persist()
    try:
        n = assigned.count()
        if n > MAX_SEMDEDUP_CELL_ROWS * _N_CELLS:
            raise ValueError(
                f"semdedup with {_N_CELLS} fixed cells would average "
                f"{n // _N_CELLS} rows/cell (> {MAX_SEMDEDUP_CELL_ROWS}); "
                f"the within-cell pair join is quadratic in cell size. "
                f"Scale the cluster count ~sqrt(n) per the SemDeDup "
                f"recipe (re-seed _centroids with more cells) instead.")
        a = assigned.alias("a")
        b = assigned.alias("b")
        c = (_fold_dot(F.col("a.emb"), F.col("b.emb"))
             / (F.col("a.nrm") * F.col("b.nrm")))
        pairs = (
            a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("b.vec_id").alias("vec_id"),
                    F.col("b.cell").alias("cell"),
                    F.col("a.vec_id").alias("partner"),
                    c.alias("cosine"))
            .filter(F.col("cosine") >= tau)
        )
        return (
            pairs.groupBy("vec_id")
            .agg(F.max("cell").alias("cell"),
                 F.min("partner").alias("dup_of"),
                 F.round(F.min_by("cosine", "partner"), 6).alias("cosine"))
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        assigned.unpersist()


def _semdedup_sql() -> str:
    cents = _centroids()
    values = ",\n       ".join(
        f"({i}, {_vec_sql(cents[i])})" for i in range(_N_CELLS))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cents(cell, c) AS (VALUES
       {values}),
assigned AS (
  SELECT e.vec_id, e.emb,
         (SELECT cell FROM cents
          ORDER BY list_dot_product(e.emb, c) DESC, cell LIMIT 1) AS cell
  FROM e),
pairs AS (
  SELECT b.vec_id, b.cell, a.vec_id AS partner,
         list_cosine_similarity(a.emb, b.emb) AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= {SEMDEDUP_TAU})
SELECT vec_id, max(cell) AS cell, min(partner) AS dup_of,
       round(arg_min(cosine, partner), 6) AS cosine
FROM pairs GROUP BY vec_id ORDER BY vec_id
"""


SEMDEDUP_SQL = _semdedup_sql()


QUERIES = {
    "ann_topk": ann_topk,
    "ann_topk_lsh": ann_topk_lsh,
    "embedding_neardup_lsh": embedding_neardup_lsh,
    "ann_topk_ivf": ann_topk_ivf,
    "semdedup": semdedup,
}

ORACLES = {
    "ann_topk": ANN_TOPK_SQL,
    "ann_topk_lsh": ANN_TOPK_LSH_SQL,
    "embedding_neardup_lsh": EMBEDDING_NEARDUP_LSH_SQL,
    "ann_topk_ivf": ANN_TOPK_IVF_SQL,
    "semdedup": SEMDEDUP_SQL,
}


# --- BM25 keyword retrieval (lexical twin of the ANN queries) ----------

BM25_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 25


def bm25_search_df(docs: DataFrame, terms=BM25_TERMS, k1: float = BM25_K1,
                   b: float = BM25_B, topk: int = BM25_TOPK) -> DataFrame:
    """Okapi BM25 retrieval over the documents table for a literal query
    (idf = ln(1 + (N-df+0.5)/(df+0.5)), the Lucene non-negative form).

    Scale: SINGLE corpus pass — one explode feeding a per-doc
    conditional aggregate (dl = exploded-token count, one tf counter
    per query term). Map-side combine collapses each document to one
    slim row before the only corpus-wide shuffle (the naive shape —
    separate tf / df / stats branches — re-scans and re-explodes the
    corpus three times; ``.explain`` showed exactly that before this
    rewrite). Corpus stats (N, avgdl, per-term df) are ONE single-row
    aggregate over the cached slim table, broadcast back; the contained
    persist + eager-localCheckpoint lifecycle mirrors lm_nll_scores.
    Per-term score contributions are summed in a FIXED written order
    (``0.0 + c_t1 + c_t2 + ...``) so Spark and the oracle add the
    identical float terms in the identical order — no summation-order
    flakiness at the round() boundary (the lm_nll lesson). Top-k orders
    by the *rounded* score with a doc_id tie-break, deterministic on
    both sides."""
    words = F.split(F.trim(F.lower(F.col("text"))), WS_RE + "+")
    wl = docs.select("doc_id", F.explode(words).alias("w"))
    per_doc = wl.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[F.count(F.when(F.col("w") == t, 1)).alias(f"tf_{t}")
          for t in terms]).persist()
    try:
        stats = per_doc.agg(
            F.count("*").cast("double").alias("n"),
            F.avg("dl").alias("avgdl"),
            *[F.count(F.when(F.col(f"tf_{t}") > 0, 1)).cast("double")
              .alias(f"df_{t}") for t in terms])

        def _contrib(t: str):
            tf = F.col(f"tf_{t}")
            dfc = F.col(f"df_{t}")
            idf = F.log(
                F.lit(1.0) + (F.col("n") - dfc + 0.5) / (dfc + 0.5))
            return F.when(
                tf > 0,
                idf * (tf * (k1 + 1.0))
                / (tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).otherwise(F.lit(0.0))

        score = F.lit(0.0)
        hits = F.lit(0).cast("long")
        for t in terms:
            score = score + _contrib(t)
            hits = hits + (F.col(f"tf_{t}") > 0).cast("long")
        result = (
            per_doc.crossJoin(F.broadcast(stats))
            .select("doc_id", hits.alias("n_terms_hit"),
                    F.round(score, 6).alias("score"))
            .where(F.col("n_terms_hit") > 0)
            .orderBy(F.desc("score"), "doc_id").limit(topk)
            .localCheckpoint(eager=True))
    finally:
        per_doc.unpersist()
    return result


def bm25_search(spark, sf_dir):
    return bm25_search_df(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    # identical fixed-order sum: 0.0 + c_t1 + c_t2 + ... (matches the
    # Spark fold above term-for-term)
    parts = " ".join(
        f"+ coalesce(sum(c) FILTER (w = '{t}'), 0.0)" for t in BM25_TERMS)
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    return rf"""
WITH w AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '{WS_RE}+')) AS dl,
         unnest(regexp_split_to_array(trim(lower(text)), '{WS_RE}+')) AS w
  FROM documents
), tf AS (
  SELECT doc_id, dl, w, count(*) AS tf FROM w
  WHERE w IN ({terms}) GROUP BY doc_id, dl, w
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg(len(regexp_split_to_array(trim(lower(text)), '{WS_RE}+'))) AS avgdl
  FROM documents
), dfreq AS (
  SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
), contrib AS (
  SELECT t.doc_id, t.w,
         ln(1.0 + (s.n - d.df + 0.5)/(d.df + 0.5)) *
         (CAST(t.tf AS DOUBLE) * {k1p1!r}) /
         (t.tf + {BM25_K1!r}*({one_minus_b!r} + {BM25_B!r}*t.dl/s.avgdl)) AS c
  FROM tf t JOIN dfreq d ON t.w = d.w CROSS JOIN stats s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       round(0.0 {parts}, 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
"""


BM25_SEARCH_SQL = _bm25_sql()

QUERIES["bm25_search"] = bm25_search
ORACLES["bm25_search"] = BM25_SEARCH_SQL


# -- int8-quantized ANN ----------------------------------------------------------

INT8_LEVELS = 127


def _quantize_py(vec: list[float]) -> tuple[list[int], int]:
    """Driver-side twin of the in-engine quantizer (query vector only):
    symmetric per-vector int8, q_i = floor(v_i / (max|v|/127) + 0.5).
    Returns (q, sum of q_i^2) — both exact integers."""
    import math

    m = max(abs(x) for x in vec)
    if m == 0:
        q = [0] * len(vec)
    else:
        s = m / float(INT8_LEVELS)
        q = [math.floor(x / s + 0.5) for x in vec]
    return q, sum(v * v for v in q)


def ann_topk_int8(spark, sf_dir):
    """Exact-arithmetic int8-quantized cosine top-10 — the memory-
    bandwidth scale path for brute scans: at 10^9+ vectors the working
    set is 4× smaller than float32 (16× vs the float64 compute type)
    and the inner loop is integer multiply-accumulate, which is how
    production vector engines (faiss SQ8 et al.) run exhaustive and
    IVF-refine scans. Quantization is symmetric per-vector
    (q = floor(v/(max|v|/127) + 0.5)), so the two scale factors cancel
    in the cosine and the score needs NO dequantization:
    cos_q = int_dot(qa, qb) / (sqrt(int |qa|²) · sqrt(int |qb|²)).

    Parity by construction: every quantity up to the final expression
    is an exact integer; the only float ops are the quantizer's
    fixed-order scalar chain and two sqrts + one divide, identical on
    both engines — ranking uses the UNROUNDED double, ties broken by
    vec_id, rounding once after the top-K cut. recall@10 vs the exact
    float scan is 10/10 at sf0.01 (pinned by test at small scale).

    Scale shape: one scan, per-row constant work against a literal
    query vector, TakeOrdered top-K (per-partition heaps). Composes
    with the IVF cells (``ann_topk_ivf``) the way faiss composes
    IVF+SQ8: probe pruning is orthogonal to scan quantization."""
    emb = _emb(spark, sf_dir)
    _guard_brute(emb, "ann_topk_int8")
    qv, nq2 = _quantize_py(_query_vector(spark, sf_dir))

    # the scale denominator is STAGED as its own column: referenced once
    # per element inside the transform lambda, an inline array_max would
    # re-scan the vector per component (O(dim^2)/row — the gopher
    # staged-projection lesson)
    s = (F.array_max(F.transform("emb", lambda x: F.abs(x)))
         / INT8_LEVELS)
    quant = F.when(
        F.col("s") == 0,
        F.transform("emb", lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(
            "emb",
            lambda x: F.floor(x / F.col("s") + F.lit(0.5)).cast("long")))
    qlit = F.array(*[F.lit(int(v)) for v in qv])
    dot = F.aggregate(F.zip_with("q", qlit, lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda a, v: a + v)
    n2 = F.aggregate(F.transform("q", lambda x: x * x),
                     F.lit(0).cast("long"), lambda a, v: a + v)
    cos_q = (dot.cast("double")
             / (F.sqrt(n2.cast("double"))
                * F.sqrt(F.lit(float(nq2)))))
    return (emb.filter(F.col("vec_id") != QUERY_VEC_ID)
            .withColumn("s", s)
            .withColumn("q", quant)
            .withColumn("cos_q", cos_q)
            .orderBy(F.desc("cos_q"), "vec_id").limit(TOP_K)
            .select("vec_id", "label",
                    F.round("cos_q", 6).alias("cosine_q"))
            .orderBy(F.desc("cos_q"), "vec_id"))


ANN_TOPK_INT8_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
), mm AS (
  SELECT vec_id, label, emb,
         list_max(list_transform(emb, x -> abs(x))) AS m
  FROM e
), qz AS (
  SELECT vec_id, label,
         CASE WHEN m = 0
              THEN list_transform(emb, x -> CAST(0 AS BIGINT))
              ELSE list_transform(emb,
                   x -> CAST(floor(x / (m / {INT8_LEVELS}.0) + 0.5)
                             AS BIGINT))
         END AS q
  FROM mm
), qq AS (
  SELECT q FROM qz WHERE vec_id = {QUERY_VEC_ID}
), scored AS (
  SELECT z.vec_id, z.label,
         CAST(list_dot_product(z.q, qq.q) AS DOUBLE)
         / (sqrt(CAST(list_dot_product(z.q, z.q) AS DOUBLE))
            * sqrt(CAST(list_dot_product(qq.q, qq.q) AS DOUBLE))) AS cos_q
  FROM qz z, qq WHERE z.vec_id != {QUERY_VEC_ID}
), top AS (
  SELECT * FROM scored ORDER BY cos_q DESC, vec_id LIMIT {TOP_K}
)
SELECT vec_id, label, round(cos_q, 6) AS cosine_q FROM top
ORDER BY cos_q DESC, vec_id
"""

QUERIES["ann_topk_int8"] = ann_topk_int8
ORACLES["ann_topk_int8"] = ANN_TOPK_INT8_SQL


# -- Embedding-norm outlier tagging -------------------------------------------

# Exact rank-based tails per label group: the bottom/top ceil(n/10) by L2
# norm. Degenerate embeddings (truncated vectors, all-zero rows, scale
# blow-ups from a bad encoder shard) land in the tails; at curation time
# these rows are quarantined before any cosine-based stage trusts them.
NORM_TAIL_PCT = 10


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag each vector 'low' / 'high' / 'mid' by exact per-label norm rank.

    The norm is an ORDERED left fold over the element array (the
    char_entropy pattern), so Spark and the oracle sum the identical
    float sequence and the rank order — ties broken by vec_id — is
    engine-invariant with no tolerance needed.

    Scale shape: one window partitioned by label (the embarrassingly
    parallel axis — labels/shards are many and balanced); rank-in-group
    over a numeric, no global sort, no self-join. The exact-rank tail is
    the oracle-checkable twin of an approx-quantile gate (the
    length_quantiles precedent)."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = F.sqrt(F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double")))
    w = Window.partitionBy("label").orderBy("norm", "vec_id")
    wn = Window.partitionBy("label")
    # ceil(n/10) — Column `/` is DOUBLE division, so floor it back to an
    # exact integer (operands are small positive ints; floor(a/b) == a//b)
    tail = F.floor((F.col("n") + NORM_TAIL_PCT - 1) / NORM_TAIL_PCT)
    return (emb.select("vec_id", "label", norm.alias("norm"))
            .select("vec_id", "label", "norm",
                    F.row_number().over(w).alias("rk"),
                    F.count("*").over(wn).alias("n"))
            .select(
                "vec_id", "label", F.round("norm", 6).alias("norm"),
                F.when(F.col("rk") <= tail, "low")
                .when(F.col("rk") > F.col("n") - tail, "high")
                .otherwise("mid").alias("tag"))
            .orderBy("vec_id"))


EMBEDDING_NORM_OUTLIERS_SQL = f"""
WITH n AS (
  SELECT vec_id, label,
    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      (a, b) -> a + b)) AS norm
  FROM embeddings
), r AS (
  SELECT vec_id, label, norm,
    row_number() OVER (PARTITION BY label ORDER BY norm, vec_id) AS rk,
    count(*) OVER (PARTITION BY label) AS cnt
  FROM n
)
SELECT vec_id, label, round(norm, 6) AS norm,
  CASE WHEN rk <= (cnt + {NORM_TAIL_PCT} - 1) // {NORM_TAIL_PCT} THEN 'low'
       WHEN rk > cnt - (cnt + {NORM_TAIL_PCT} - 1) // {NORM_TAIL_PCT}
       THEN 'high'
       ELSE 'mid' END AS tag
FROM r ORDER BY vec_id
"""

QUERIES["embedding_norm_outliers"] = embedding_norm_outliers
ORACLES["embedding_norm_outliers"] = EMBEDDING_NORM_OUTLIERS_SQL


# -- trained k-means (Lloyd's) over exact integer arithmetic ---------------------

_KMEANS_K = 8
_KMEANS_ITERS = 2
_KMEANS_SCALE = 1_000_000


def _quantize_expr(col):
    """The ONE engine-invariant embedding quantizer (q = floor(x*scale
    + 0.5) computed in DOUBLE, then BIGINT) shared by kmeans_clusters
    and pca_top_component — a second hand-rolled copy is exactly the
    lockstep-edit drift a single shared builder (like word_ngrams)
    exists to prevent."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(float(_KMEANS_SCALE))
                               + F.lit(0.5)).cast("long"))


# the SQL twin of _quantize_expr, shared by both oracles
_QUANTIZE_CTE = f"""qv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(
    CAST(x AS DOUBLE) * {_KMEANS_SCALE} + CAST('0.5' AS DOUBLE)
  ) AS BIGINT)) AS q
  FROM embeddings
)"""


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the semantics BOTH engines
    share for BIGINT (Spark `div`, DuckDB `//`); python's // floors, so
    negatives need the sign dance."""
    return s // n if s >= 0 else -((-s) // n)


def _nearest_codeword(col, codebook: list[list[int]]):
    """``struct(d, cid)`` of the ``codebook`` row nearest to the integer
    array column ``col``: exact BIGINT d² folded from a 0 seed in
    dimension order, ties → lowest cid (``array_min`` over the structs).
    The one literal-codebook scorer of k-means assignment and PQ encode."""
    # NOTE(r6): HOF folds kept — K codewords of unrolled distance chains
    # bloat the plan (k-means measured slower, ann_topk_pq 3× slower).
    structs = []
    for cid, c in enumerate(codebook):
        lit = F.array(*[F.lit(v).cast("long") for v in c])
        d2 = F.aggregate(
            F.zip_with(col, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        # named_struct: .alias inside F.struct does not survive
        # complex (higher-order-function) children in Spark 4
        structs.append(F.named_struct(
            F.lit("d"), d2, F.lit("cid"), F.lit(cid)))
    return F.array_min(F.array(*structs))


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained k-means (Lloyd's algorithm, K=8, 2 iterations) over the
    embeddings table — the real version of the seeded-random centroids the
    IVF index stands in for (``ann_topk_ivf``). Returns each vector's
    final cluster and exact squared distance to its centroid.

    Every number is EXACT BIGINT: vectors are quantized once
    (q = floor(x·1e6 + 0.5), computed in DOUBLE — engine-invariant), so
    distances, centroid sums, and the truncating centroid mean are all
    integer arithmetic. That makes an iterative, float-native algorithm
    hash-exact-oracle-checkable AND partitioning-independent: integer
    sums commute, so the result cannot depend on task order — the
    property float k-means loses at scale.

    Scale shape (the canonical Lloyd-on-Spark pattern): each assignment
    is MAP-ONLY — the K centroids are plan literals (K·dim ≈ 512 values),
    so no join and no shuffle; the centroid update is ONE partial-agg
    shuffle carrying at most K·dim cells per task; driver traffic is
    K·(dim+1) numbers per iteration. Empty clusters keep their previous
    centroid (mirrored by the oracle's coalesce). Init = the K lowest
    vec_ids' vectors, deterministic and SQL-expressible."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.select(
        "vec_id", _quantize_expr("embedding").alias("q")).persist()
    try:
        # init = the K lowest vec_ids' vectors, renumbered 0..K-1 in
        # vec_id order — robust to id gaps (a `vec_id < K` filter would
        # under-fill on a gapped table); TakeOrdered, never a full sort
        cents = [[int(v) for v in r["q"]]
                 for r in qv.orderBy("vec_id").limit(_KMEANS_K).collect()]
        dim = len(cents[0])

        for _ in range(_KMEANS_ITERS - 1):
            # score in its own projection: beside the posexplode, the
            # scorer would be evaluated above the Generate, once per
            # exploded element (dim× per vector)
            sums = (qv.select(_nearest_codeword("q", cents)["cid"]
                              .alias("cid"), "q")
                    .select("cid", F.posexplode("q").alias("dim", "v"))
                    .groupBy("cid", "dim")
                    .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                    .collect())  # bounded: K*dim rows
            newc: dict[int, list[int]] = {}
            for r in sums:
                newc.setdefault(int(r["cid"]), [0] * dim)[int(r["dim"])] = \
                    _trunc_div(int(r["s"]), int(r["n"]))
            cents = [newc.get(i, cents[i]) for i in range(_KMEANS_K)]

        return qv.select("vec_id",
                         _nearest_codeword("q", cents).alias("b")).select(
            "vec_id", F.col("b.cid").alias("cluster"),
            F.col("b.d").alias("dist2")).orderBy("vec_id")
    finally:
        # the persist only serves the per-iteration jobs above; the final
        # (lazy) assignment recomputes the map-only scan+quantize, which
        # keeps the returned plan honest and leaks no cache
        qv.unpersist()


_KM_DIST = ("CAST(list_sum(list_transform(list_zip({a}, {b}), "
            "s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)")

KMEANS_CLUSTERS_SQL = f"""
WITH {_QUANTIZE_CTE},
cent0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {_KMEANS_K})
),
asg1 AS (
  SELECT v.vec_id, v.q,
    min(struct_pack(d := {_KM_DIST.format(a='v.q', b='c.c')},
                    cid := c.cid)).cid AS cid
  FROM qv v, cent0 c GROUP BY v.vec_id, v.q
),
sums1 AS (
  SELECT a.cid, t.i AS dim,
    CAST(sum(a.q[t.i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS val
  FROM asg1 a, generate_series(1, {_DIM}) t(i)
  GROUP BY a.cid, t.i
),
cent1 AS (
  SELECT c0.cid, coalesce(n.c, c0.c) AS c
  FROM cent0 c0 LEFT JOIN
    (SELECT cid, list(val ORDER BY dim) AS c FROM sums1 GROUP BY cid) n
    USING (cid)
),
asg2 AS (
  SELECT v.vec_id,
    min(struct_pack(d := {_KM_DIST.format(a='v.q', b='c.c')},
                    cid := c.cid)) AS b
  FROM qv v, cent1 c GROUP BY v.vec_id
)
SELECT vec_id, CAST(b.cid AS INT) AS cluster, b.d AS dist2
FROM asg2 ORDER BY vec_id
"""

QUERIES["kmeans_clusters"] = kmeans_clusters
ORACLES["kmeans_clusters"] = KMEANS_CLUSTERS_SQL


# --- Top principal component via power iteration -----------------------------

_PCA_ITERS = 40   # the gram spectrum of near-random embeddings is flat
#                  (lam1/lam2 ~ 1.02-1.07 on the testdata), so convergence
#                  needs tens of iterations; 40 reaches >=0.92 alignment
#                  with the true eigenvector at both test scales
_PCA_SCALE = _KMEANS_SCALE


def pca_gram_df(emb: DataFrame) -> DataFrame:
    """Lazy exact-BIGINT gram matrix (i, j, s) of the quantized
    embedding column — the corpus-sized stage of pca_top_component,
    split out so the physical plan is pin-testable on the production
    code path."""
    qv = emb.select(_quantize_expr("embedding").alias("q"))
    ex = qv.select(F.posexplode("q").alias("i", "qi"), F.col("q"))
    cells = ex.select("i", "qi", F.posexplode("q").alias("j", "qj"))
    return (cells.groupBy("i", "j")
            .agg(F.sum(F.col("qi") * F.col("qj")).alias("s")))


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding gram matrix
    X^T X by power iteration — the spectral core of PCA whitening /
    dimensionality-reduction passes over an embedding corpus. Returns
    one row per dimension: the unit top-eigenvector loading and the
    eigenvalue estimate ||A v_{k-1}|| (v normalized each step, v0 = 1).

    Exactness: vectors quantize once to BIGINT (the kmeans rule), so the
    gram matrix is EXACT integer arithmetic — commutative, partition-
    order-independent — and its int64->double cast is IEEE-identical in
    both engines. Each matvec then folds a_ij * v_j in ascending-j order
    and the norm folds m_i^2 in ascending-i order (the char_entropy
    ordered-fold discipline), with sqrt and division exactly rounded per
    IEEE 754 — so 40 iterations stay bit-identical by induction, and the
    oracle (40 unrolled MATERIALIZED CTEs) matches hash-exact.

    Scale shape: the corpus-sized work is the gram matrix — a
    posexplode^2 to (i, j, q_i*q_j) cells whose groupBy partial-aggregate
    compresses every task to at most dim^2 = 4096 partial rows before the
    one shuffle (symmetry could halve this; kept full for the SQL twin).
    The 64x64 result is driver-bounded (the kmeans K*dim collect
    precedent), so the 40 matvec iterations are driver float work —
    exactly how a production job should treat a dense matrix ~10^6x
    smaller than the corpus. Uncentered by design: exact centering would
    need (n*q - S) products overflowing int64; for ~zero-mean embedding
    corpora the top singular direction is the PCA direction."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # overflow guard with the table's ACTUAL extremes (one tiny
    # aggregate), not an assumed |x| <= 1: a too-large corpus would
    # wrap the BIGINT gram sums silently on non-ANSI deployments, and
    # die mid-job with an opaque ARITHMETIC_OVERFLOW under ANSI —
    # refuse up front with a message either way
    ext = emb.select(_quantize_expr("embedding").alias("q")).agg(
        F.count("*").alias("n"),
        F.max(F.array_max(F.transform("q", F.abs))).alias("qmax")).first()
    if int(ext["n"]) == 0:
        raise ValueError("pca_top_component: embeddings table is empty.")
    if int(ext["n"]) * int(ext["qmax"]) ** 2 >= 2 ** 63:
        raise ValueError(
            f"pca_top_component gram cells would overflow int64 "
            f"(n={ext['n']}, max|q|={ext['qmax']}); lower the quantize "
            f"scale or pre-aggregate per shard.")
    if int(ext["qmax"]) == 0:
        raise ValueError(
            "pca_top_component: every embedding quantizes to zero "
            "(all-zero corpus or scale far too small) — the gram matrix "
            "is degenerate and power iteration cannot normalize.")
    gram = pca_gram_df(emb)
    af = [[0.0] * _DIM for _ in range(_DIM)]
    for r in gram.collect():  # bounded: dim^2 = 4096 rows
        af[int(r["i"])][int(r["j"])] = float(int(r["s"]))
    v = [1.0] * _DIM
    nrm = 0.0
    for _ in range(_PCA_ITERS):
        m = []
        for i in range(_DIM):
            acc = 0.0
            row = af[i]
            for j in range(_DIM):       # ascending j: the oracle's order
                acc += row[j] * v[j]
            m.append(acc)
        s = 0.0
        for x in m:                      # ascending i
            s += x * x
        nrm = math.sqrt(s)
        if nrm == 0.0:                   # A v vanished (exact cancellation)
            raise ValueError(
                "pca_top_component: power iteration hit a zero vector "
                "(A v = 0); the all-ones start lies in the null space — "
                "perturb the start vector or center the data.")
        v = [x / nrm for x in m]
    out = spark.createDataFrame(
        [(i, v[i], nrm) for i in range(_DIM)],
        "dim int, loading double, eigenvalue double")
    # round in Spark (HALF_UP, matching DuckDB round), never python round
    return out.select("dim", F.round("loading", 6).alias("loading"),
                      F.round("eigenvalue", 6).alias("eigenvalue")) \
        .orderBy("dim")


def _pca_iter_sql(prev_v: str, m: str, n: str, v: str) -> str:
    return f"""{m} AS MATERIALIZED (
  SELECT a.i, list_reduce(list_prepend(0.0, list(a.a * p.val ORDER BY a.j)),
                          (x, y) -> x + y) AS m
  FROM a JOIN {prev_v} p ON p.j = a.j GROUP BY a.i
), {n} AS MATERIALIZED (
  SELECT sqrt(list_reduce(list_prepend(0.0, list(m * m ORDER BY i)),
                          (x, y) -> x + y)) AS nrm FROM {m}
), {v} AS MATERIALIZED (
  SELECT {m}.i AS j, {m}.m / n.nrm AS val FROM {m}, {n} n
)"""


# MATERIALIZED is load-bearing twice over: DuckDB otherwise re-inlines
# the parquet scan once per CTE reference (40 iterations -> 'Too many
# open files') and re-evaluates the whole prefix chain per iteration.
PCA_TOP_COMPONENT_SQL = f"""
WITH {_QUANTIZE_CTE},
cell AS (
  SELECT ti.i - 1 AS i, tj.j - 1 AS j,
         CAST(sum(q[ti.i] * q[tj.j]) AS BIGINT) AS s
  FROM qv, generate_series(1, {_DIM}) ti(i), generate_series(1, {_DIM}) tj(j)
  GROUP BY ti.i, tj.j
),
a AS MATERIALIZED (SELECT i, j, CAST(s AS DOUBLE) AS a FROM cell),
v0 AS (SELECT i - 1 AS j, 1.0 AS val FROM generate_series(1, {_DIM}) t(i)),
""" + ",\n".join(
    _pca_iter_sql(f"v{k}", f"m{k+1}", f"n{k+1}", f"v{k+1}")
    for k in range(_PCA_ITERS)
) + f"""
SELECT v{_PCA_ITERS}.j AS dim, round(v{_PCA_ITERS}.val, 6) AS loading,
       round(n{_PCA_ITERS}.nrm, 6) AS eigenvalue
FROM v{_PCA_ITERS}, n{_PCA_ITERS} ORDER BY dim
"""

QUERIES["pca_top_component"] = pca_top_component
ORACLES["pca_top_component"] = PCA_TOP_COMPONENT_SQL


# --- Embedding-space eval-set decontamination --------------------------------

CONTAM_EVAL_MOD = 100   # eval set = vec_id % 100 == 0 (deterministic twin
#                         of contamination_check's doc-id eval window)
CONTAM_TAU = 0.35       # flag threshold (max corpus-vs-eval cosine ~0.45
#                         on testdata, so both flag values occur)
MAX_EVAL_LITERALS = 512


def contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every corpus vector scored by its
    best cosine against the eval/benchmark set, flagged when it clears
    CONTAM_TAU — the semantic complement of contamination_check (n-gram
    overlap misses paraphrased eval leakage; embedding similarity
    catches it). Emits ALL corpus rows with (best eval id, cosine, flag)
    so the decision margin is auditable, not just the positives.

    Parity: the cosine is the SAME ordered fold on both sides (dot and
    norms fold in dimension order; the oracle mirrors the fold rather
    than using list_cosine_similarity so the argmax over near-ties can
    never split on a last-ulp difference), and the best-eval pick is a
    max over struct(cosine, -eval_id).

    Scale shape: the eval set is tiny by nature (a benchmark), so it
    rides into the plan as LITERALS — the scan is MAP-ONLY: no join, no
    shuffle beyond the presentation sort, each corpus partition scored
    independently (the broadcast-eval-side discipline of
    contamination_check). Guarded at MAX_EVAL_LITERALS: a larger eval
    set should switch to a broadcast join, not a longer plan."""
    import math

    emb = _emb(spark, sf_dir)
    evs = (emb.filter(F.col("vec_id") % CONTAM_EVAL_MOD == 0)
           .select("vec_id", "emb").collect())
    if not evs:
        raise ValueError(
            "contamination_embedding: eval set is empty (no vec_id "
            f"divisible by {CONTAM_EVAL_MOD}); nothing to screen against.")
    if len(evs) > MAX_EVAL_LITERALS:
        raise ValueError(
            f"contamination_embedding inlines the eval set as literals; "
            f"refusing {len(evs)} eval vectors (> {MAX_EVAL_LITERALS}). "
            f"Use a broadcast join for large eval sets.")
    corpus = emb.filter(F.col("vec_id") % CONTAM_EVAL_MOD != 0)
    # zero-norm refusal: under ANSI mode a zero na would kill the job
    # with an opaque DIVIDE_BY_ZERO deep in a task (and return NULLs on
    # non-ANSI) — assert per-row with a message instead; the eval side
    # is checked driver-side below
    raw_na = F.aggregate(F.transform("emb", lambda x: x * x),
                         F.lit(0.0), lambda a, x: a + x)
    na = (F.when(raw_na > 0, F.sqrt(raw_na))
          .otherwise(F.raise_error(F.lit(
              "contamination_embedding: zero-norm corpus vector — "
              "quarantine degenerate embeddings first "
              "(see embedding_norm_outliers)"))))
    structs = []
    for r in evs:
        ev = [float(x) for x in r["emb"]]
        nb_acc = 0.0
        for y in ev:                    # ascending dim: the oracle's order
            nb_acc += y * y
        nb = math.sqrt(nb_acc)
        if nb == 0.0:
            raise ValueError(
                f"contamination_embedding: eval vector "
                f"{int(r['vec_id'])} has zero norm — fix the eval set.")
        lit = F.array(*[F.lit(x) for x in ev])
        dot = F.aggregate(F.zip_with("emb", lit, lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        c = dot / (na * F.lit(nb))
        structs.append(F.named_struct(
            F.lit("c"), c, F.lit("ni"), F.lit(-int(r["vec_id"])).cast("long")))
    best = F.array_max(F.array(*structs))
    return (corpus.select("vec_id", best.alias("b"))
            .select("vec_id",
                    (-F.col("b.ni")).alias("best_eval_id"),
                    F.round("b.c", 6).alias("cosine"),
                    (F.col("b.c") >= F.lit(CONTAM_TAU)).alias("contaminated"))
            .orderBy("vec_id"))


CONTAMINATION_EMBEDDING_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
ev AS (SELECT vec_id AS eval_id, emb FROM e WHERE vec_id % {CONTAM_EVAL_MOD} = 0),
co AS (SELECT vec_id, emb FROM e WHERE vec_id % {CONTAM_EVAL_MOD} <> 0),
pairs AS (
  SELECT co.vec_id, ev.eval_id,
    {_FOLD_DOT.format(a="co.emb", b="ev.emb")}
    / ({_FOLD_NORM.format(a="co.emb")}
       * {_FOLD_NORM.format(a="ev.emb")}) AS c
  FROM co, ev
),
best AS (
  SELECT vec_id, max(struct_pack(c := c, ni := -eval_id)) AS b
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, CAST(-(b.ni) AS BIGINT) AS best_eval_id,
       round(b.c, 6) AS cosine,
       b.c >= CAST('{CONTAM_TAU!r}' AS DOUBLE) AS contaminated
FROM best ORDER BY vec_id
"""

QUERIES["contamination_embedding"] = contamination_embedding
ORACLES["contamination_embedding"] = CONTAMINATION_EMBEDDING_SQL


# -- Hard-negative mining for retrieval training -------------------------------

HN_QUERY_MOD = 50
HN_K = 5


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive retrieval training prep): for
    each query vector, the top-K most-similar vectors with a DIFFERENT
    label — the near-misses a bi-encoder learns most from (positives
    are same-label; the self row is excluded by the label test itself).

    Parity: cosine is the ordered dimension fold on BOTH sides (the
    contamination_embedding discipline — never list_cosine_similarity,
    so a last-ulp difference can't flip a rank at the K boundary).

    Scale shape: the query set broadcasts (mining always batches a
    bounded query set — here vec_id % 50); the label-mismatch predicate
    makes this a BroadcastNestedLoopJoin, ONE corpus scan regardless of
    query count; the per-query top-K is a window over slim
    (q_id, cand, cosine) rows keyed by q_id. With a big query batch the
    q_id shuffle spreads; with few queries the reducer count is the
    query count — chunk query batches upstream, never widen K."""
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") % HN_QUERY_MOD == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("emb").alias("q_emb"),
                 F.col("label").alias("q_label")))
    c = _pair_cosine(F.col("q_emb"), F.col("emb"))
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.desc("c"), "neg_id")
    return (emb.join(F.broadcast(q), emb["label"] != q["q_label"])
            .select("q_id",
                    F.col("vec_id").alias("neg_id"),
                    F.col("label").alias("neg_label"),
                    c.alias("c"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= HN_K)
            .select("q_id", F.col("rank").cast("long").alias("rank"),
                    "neg_id", "neg_label",
                    F.round("c", 6).alias("cosine"))
            .orderBy("q_id", "rank"))


_HN_DOT = _FOLD_DOT.format(a="q.emb", b="c.emb")
_HN_NQ = _FOLD_NORM.format(a="q.emb")
_HN_NC = _FOLD_NORM.format(a="c.emb")

HARD_NEGATIVES_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
           FROM embeddings),
q AS (SELECT vec_id AS q_id, emb, label AS q_label FROM e
      WHERE vec_id % {HN_QUERY_MOD} = 0),
pairs AS (
  SELECT q.q_id, c.vec_id AS neg_id, c.label AS neg_label,
         {_HN_DOT} / ({_HN_NQ} * {_HN_NC}) AS c
  FROM q JOIN e c ON c.label <> q.q_label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY c DESC, neg_id) AS rank
  FROM pairs
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, neg_id, neg_label,
       round(c, 6) AS cosine
FROM ranked WHERE rank <= {HN_K}
ORDER BY q_id, rank
"""

QUERIES["hard_negatives"] = hard_negatives
ORACLES["hard_negatives"] = HARD_NEGATIVES_SQL


# -- mmr_rerank: maximal-marginal-relevance diversification --------------------

MMR_K = 5
MMR_C = 16
# 0.3 is a SEPARATE constant, not 1-0.7: float64(1-0.7) is
# 0.30000000000000004, one ulp off the 0.3 literal both engines parse.
MMR_LAM = "0.7"
MMR_OML = "0.3"


def _fold_dot_py(a, b) -> float:
    """Python twin of the ordered fold (_cosine_to_lit / _FOLD_DOT):
    0.0 seed, products added in ascending dimension order — the same
    IEEE addition sequence, so the driver-side MMR arithmetic is
    bit-identical to the SQL oracle's."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) of
    the query's top-MMR_C cosine candidates: greedily pick MMR_K
    results maximizing lam·rel − (1−lam)·max_sim_to_selected — the
    diversification stage retrieval pipelines run between ANN recall
    and the consumer. Relevance is quantized to 1e-6 (the ann_topk
    rounding contract) before the cut so the candidate set is stable;
    MMR arithmetic runs on those quantized rels and unrounded
    fold-ordered pairwise sims.

    Scale shape: the corpus-side stage is the candidate generation (the
    guarded brute twin here; ann_topk_lsh/_ivf are the 10^9-vector
    path — same contract, bucket-pruned). The rerank itself touches a
    BOUNDED set (MMR_C rows) — that boundedness is the algorithm's
    whole point, so the greedy selection runs driver-side on the
    collected candidates (the pca_top_component precedent) with
    fold-order-exact python arithmetic; the oracle re-derives the
    selection with MMR_K unrolled argmax CTEs."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    emb = _emb(spark, sf_dir)
    _guard_brute(emb, "mmr_rerank")
    qvec = _query_vector(spark, sf_dir)
    c = _cosine_to_lit(F.col("emb"), qvec)
    cands = (emb.filter(F.col("vec_id") != QUERY_VEC_ID)
             .select("vec_id", "label", F.round(c, 6).alias("rel"), "emb")
             .orderBy(F.desc("rel"), "vec_id")
             .limit(MMR_C)
             .collect())

    def norm(a) -> float:
        acc = 0.0
        for x in a:
            acc += x * x
        return math.sqrt(acc)

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                                rounding=ROUND_HALF_UP))

    lam, oml = float(MMR_LAM), float(MMR_OML)
    embs = {r["vec_id"]: list(r["emb"]) for r in cands}
    norms = {v: norm(e) for v, e in embs.items()}

    def sim(i: int, j: int) -> float:
        return (_fold_dot_py(embs[i], embs[j])
                / (norms[i] * norms[j]))

    remaining = [(r["vec_id"], r["label"], float(r["rel"])) for r in cands]
    out, selected = [], []
    for rank in range(1, MMR_K + 1):
        if not remaining:
            break
        if rank == 1:
            scored = [(rel, vid, lab, rel) for vid, lab, rel in remaining]
        else:
            scored = [
                (lam * rel - oml * max(sim(vid, s) for s in selected),
                 vid, lab, rel)
                for vid, lab, rel in remaining]
        score, vid, lab, rel = max(scored, key=lambda t: (t[0], -t[1]))
        selected.append(vid)
        remaining = [r for r in remaining if r[0] != vid]
        out.append((rank, vid, lab, rel, r6(score)))
    return spark.createDataFrame(
        out, "rank int, vec_id long, label int, rel double,"
             " mmr_score double")


def _mmr_step_sql(t: int) -> str:
    prev_union = " UNION ALL ".join(
        f"SELECT vec_id, emb FROM s{i}" for i in range(1, t))
    prev_ids = " UNION ALL ".join(
        f"SELECT vec_id FROM s{i}" for i in range(1, t))
    sim = (_FOLD_DOT.format(a="c.emb", b="s.emb")
           + " / (" + _FOLD_NORM.format(a="c.emb") + " * "
           + _FOLD_NORM.format(a="s.emb") + ")")
    return f"""r{t} AS (
  SELECT c.vec_id, c.label, c.rel, c.emb,
         CAST('{MMR_LAM}' AS DOUBLE) * c.rel
           - CAST('{MMR_OML}' AS DOUBLE) * max({sim}) AS score
  FROM ce c, ({prev_union}) s
  WHERE c.vec_id NOT IN ({prev_ids})
  GROUP BY c.vec_id, c.label, c.rel, c.emb
),
s{t} AS MATERIALIZED (
  SELECT vec_id, label, rel, emb, {t} AS rank, score
  FROM r{t} ORDER BY score DESC, vec_id LIMIT 1
)"""


_MMR_REL = (_FOLD_DOT.format(a="e.emb", b="q.emb")
            + " / (" + _FOLD_NORM.format(a="e.emb") + " * "
            + _FOLD_NORM.format(a="q.emb") + ")")

MMR_RERANK_SQL = (f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
           FROM embeddings),
q AS (SELECT emb FROM e WHERE vec_id = {QUERY_VEC_ID}),
cand AS MATERIALIZED (
  SELECT e.vec_id, e.label, round({_MMR_REL}, 6) AS rel
  FROM e, q WHERE e.vec_id != {QUERY_VEC_ID}
  ORDER BY rel DESC, e.vec_id LIMIT {MMR_C}
),
ce AS MATERIALIZED (
  SELECT c.vec_id, c.label, c.rel, e.emb
  FROM cand c JOIN e USING (vec_id)
),
s1 AS MATERIALIZED (
  SELECT vec_id, label, rel, emb, 1 AS rank, rel AS score
  FROM ce ORDER BY rel DESC, vec_id LIMIT 1
),
""" + ",\n".join(_mmr_step_sql(t) for t in range(2, MMR_K + 1)) + f"""
SELECT rank, vec_id, label, rel, round(score, 6) AS mmr_score
FROM ({" UNION ALL ".join(f"SELECT * FROM s{t}"
                          for t in range(1, MMR_K + 1))})
ORDER BY rank
""")

QUERIES["mmr_rerank"] = mmr_rerank
ORACLES["mmr_rerank"] = MMR_RERANK_SQL


# --- NDCG evaluation of the LSH ANN path vs the exact ranking ------------

NDCG_NQ = 8  # bounded query batch (vec_id 0..7)
# ppm discount table: D[pos] = round(1e6 / log2(pos+1)). Shipping the
# discounts as exact integers (fixed-point NDCG) makes DCG an
# order-free BIGINT sum — the alternative (float 1/log2 terms) would
# need an ordered fold AND a cross-engine-identical log2, neither of
# which integer ppm weights require. IDCG is the perfect-ranking
# constant over the same table.
_NDCG_DISC = [round(1_000_000 / math.log2(i + 1)) for i in range(1, TOP_K + 1)]
_NDCG_IDCG = sum((TOP_K + 1 - i) * _NDCG_DISC[i - 1]
                 for i in range(1, TOP_K + 1))


def _lsh_eval_frames(spark, sf_dir):
    """The ONE eval-frame construction ndcg_eval and mrr_eval share:
    the bounded query batch q(qid, qemb, qbucket), the exact cosine
    top-K per query with graded relevance (rel = K+1-rank), and the
    LSH-multiprobe candidate top-K with its position. Both ranking
    sides end in a WindowGroupLimit top-K per query — the corpus never
    sorts globally and never joins itself; the query batch is a bounded
    NDCG_NQ-row broadcast (the hard_negatives pattern)."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr(F.col("emb")))
    q = (emb.filter(F.col("vec_id") < NDCG_NQ)
         .select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"),
                 F.col("bucket").alias("qbucket")))
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cosine", _pair_cosine(F.col("emb"), F.col("qemb")))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    exact = (
        pairs.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "vec_id",
                (F.lit(TOP_K + 1) - F.col("rnk")).alias("rel"))
    )
    probed = pairs.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1)
    cand = (
        probed
        .withColumn("pos", F.row_number().over(wq))
        .filter(F.col("pos") <= TOP_K)
        .select("qid", "vec_id", "pos")
    )
    # probed keeps emb/qemb so callers can rank the candidate set by an
    # APPROXIMATE scorer (mrr_eval) instead of the exact cosine
    return q, exact, cand, probed


def ndcg_eval(spark, sf_dir):
    """NDCG@10 of the LSH ANN ranking against the exact cosine ranking,
    per query vector — the retrieval-quality eval loop the ANN family
    needs (ann_topk_lsh answers queries; this measures how well).
    Relevance is graded from the exact ranking: the true best neighbor
    carries rel=10 down to rel=1 for the 10th; items outside the exact
    top-10 carry 0. DCG = Σ rel·D[pos] in exact ppm integers (see
    _NDCG_DISC); ndcg = dcg_ppm / IDCG is the single float operation.

    The candidate rule is exactly ann_topk_lsh's probe: the query's
    bucket plus all 8 single-bit neighbors (bucket-Hamming ≤ 1
    multiprobe). Low absolute values on the synthetic corpus are the
    honest readout: random gaussian embeddings have near-zero cosine
    structure, so 8 planes even with 1-bit multiprobe recover little of
    the exact top-10 — the production response is more planes and/or a
    wider (≥2-bit) multiprobe, and this operator is what would measure
    that tuning.

    Scale: two corpus passes (one per ranking side), each ending in a
    WindowGroupLimit top-10 per query — the corpus never sorts globally
    and never joins itself; the query batch is a bounded 8-row
    broadcast (the hard_negatives pattern). All joins after the
    window limits carry ≤ NQ·K rows."""
    q, exact, cand, _ = _lsh_eval_frames(spark, sf_dir)
    disc = F.element_at(F.array(*[F.lit(d) for d in _NDCG_DISC]),
                        F.col("pos"))
    # both sides of the post-limit joins are provably bounded at
    # NQ*TOP_K rows (the window limits above) — broadcast them so the
    # 80-row assembly can never pick a sort-merge exchange
    scored = (
        cand.join(F.broadcast(exact), ["qid", "vec_id"], "left")
        .select("qid", F.coalesce("rel", F.lit(0)).alias("rel"),
                disc.alias("disc"))
    )
    agg = (
        scored.groupBy("qid")
        .agg(F.sum((F.col("rel") > 0).cast("long")).alias("hits"),
             F.sum(F.col("rel").cast("long") * F.col("disc")).alias("dcg_ppm"))
    )
    return (
        q.select("qid").join(F.broadcast(agg), "qid", "left")
        .select("qid",
                F.coalesce("hits", F.lit(0)).alias("hits"),
                F.coalesce("dcg_ppm", F.lit(0)).alias("dcg_ppm"))
        .withColumn("ndcg", F.round(
            F.col("dcg_ppm").cast("double") / F.lit(float(_NDCG_IDCG)), 6))
        .orderBy("qid")
    )


def _lsh_eval_ctes() -> str:
    """SQL twin of _lsh_eval_frames — the shared CTE prefix (through
    the top-K-limited `exact` and `ap` frames) ndcg/mrr oracles build
    on."""
    cos = _FOLD_DOT.format(a="p.emb", b="p.qemb")
    nrm_a = _FOLD_NORM.format(a="p.emb")
    nrm_b = _FOLD_NORM.format(a="p.qemb")
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (SELECT vec_id, emb, {_bucket_sql('emb')} AS bucket FROM e),
q AS (SELECT vec_id AS qid, emb AS qemb, bucket AS qbucket FROM b
      WHERE vec_id < {NDCG_NQ}),
p AS (SELECT q.qid, b.vec_id, b.bucket, q.qbucket, b.emb, q.qemb
      FROM b, q WHERE b.vec_id != q.qid),
pairs AS (SELECT qid, vec_id, bucket, qbucket,
                 {cos} / ({nrm_a} * {nrm_b}) AS cosine
          FROM p),
exact AS (
  SELECT qid, vec_id, ({TOP_K} + 1 - rnk) AS rel FROM (
    SELECT qid, vec_id, row_number() OVER (
      PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
    FROM pairs) WHERE rnk <= {TOP_K}),
cand AS (
  SELECT qid, vec_id, row_number() OVER (
    PARTITION BY qid ORDER BY cosine DESC, vec_id) AS pos
  FROM pairs
  WHERE bit_count(xor(bucket::BIGINT, qbucket::BIGINT)) <= 1),
ap AS (SELECT qid, vec_id, pos FROM cand WHERE pos <= {TOP_K})"""


def _ndcg_sql() -> str:
    disc_case = "CASE pos " + " ".join(
        f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_NDCG_DISC)) + " END"
    return f"""
WITH {_lsh_eval_ctes()},
scored AS (
  SELECT ap.qid, coalesce(exact.rel, 0) AS rel, {disc_case} AS disc
  FROM ap LEFT JOIN exact USING (qid, vec_id)),
agg AS (
  SELECT qid, CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS hits,
         CAST(sum(rel * disc) AS BIGINT) AS dcg_ppm
  FROM scored GROUP BY qid)
SELECT q.qid, coalesce(hits, 0) AS hits, coalesce(dcg_ppm, 0) AS dcg_ppm,
       round(CAST(coalesce(dcg_ppm, 0) AS DOUBLE) / {_NDCG_IDCG}, 6)
         AS ndcg
FROM q LEFT JOIN agg USING (qid) ORDER BY q.qid
"""


NDCG_EVAL_SQL = _ndcg_sql()

QUERIES["ndcg_eval"] = ndcg_eval
ORACLES["ndcg_eval"] = NDCG_EVAL_SQL


# --- MRR of the LSH ANN path (rank of the true nearest neighbor) ---------

# ppm reciprocal-rank table: RR[pos] = round(1e6 / pos) — the ndcg
# fixed-point trick, so the only numbers in the output are exact BIGINTs
_MRR_RR = [round(1_000_000 / i) for i in range(1, TOP_K + 1)]


def _int8_quant(col):
    """Per-vector symmetric int8 quantization (the ann_topk_int8 chain,
    verbatim: s = max|v|/127, q = floor(v/s + 0.5)) as an expression
    over any array<double> column — the approximate scorer mrr_eval
    ranks candidates with."""
    m = F.array_max(F.transform(col, lambda x: F.abs(x)))
    sc = m / INT8_LEVELS
    return F.when(
        m == 0, F.transform(col, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(col, lambda x: F.floor(x / sc + F.lit(0.5))
                    .cast("long")))


def mrr_eval(spark, sf_dir):
    """Reciprocal rank of the TRUE nearest neighbor (the exact cosine
    top-1) inside the APPROXIMATELY-ranked LSH candidate list, per
    query — the eval that completes the retrieval triple: recall@k
    counts overlap, NDCG grades the probe's candidate recovery, MRR
    isolates the single-answer case (known-item search /
    nearest-duplicate lookup, where only the best hit matters).

    The candidate list is the two-stage production shape: LSH probe
    (bucket-Hamming ≤ 1, shared with ndcg_eval via _lsh_eval_frames)
    restricts the scan, then the int8-quantized cosine — the
    ann_topk_int8 compressed-domain scorer, verbatim — RANKS the
    survivors. Ranking by the exact cosine here would be degenerate
    (the true NN sorts first whenever probed, collapsing MRR to a hit
    rate); int8 distortion is exactly what can push the true neighbor
    below position 1, which is what MRR measures. rr_ppm =
    round(1e6 / pos) when the true neighbor appears in the approximate
    top-K; 0 (found = false) when the probe misses or the quantized
    ranking pushes it out.

    Everything after the window limits is ≤ NDCG_NQ rows,
    broadcast-joined. Integer-only output ⇒ hash-exact by
    construction."""
    from pyspark.sql.window import Window

    q, exact, _, probed = _lsh_eval_frames(spark, sf_dir)
    best = exact.filter(F.col("rel") == TOP_K).select("qid", "vec_id")
    scored = (probed
              .withColumn("qa", _int8_quant(F.col("emb")))
              .withColumn("qb", _int8_quant(F.col("qemb"))))
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda a, v: a + v)
    na2 = F.aggregate(F.transform("qa", lambda x: x * x),
                      F.lit(0).cast("long"), lambda a, v: a + v)
    nb2 = F.aggregate(F.transform("qb", lambda x: x * x),
                      F.lit(0).cast("long"), lambda a, v: a + v)
    cos8 = (dot.cast("double")
            / (F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double"))))
    w8 = Window.partitionBy("qid").orderBy(F.desc("cos8"), "vec_id")
    cand8 = (scored.withColumn("cos8", cos8)
             .withColumn("pos", F.row_number().over(w8))
             .filter(F.col("pos") <= TOP_K)
             .select("qid", "vec_id", "pos"))
    # GOTCHA: under ANSI mode (this repo's session default),
    # element_at(arr, NULL) returns the LAST element — a NULL index
    # behaves like -1 (with ANSI off it returns NULL). The miss branch
    # must therefore be an explicit isNotNull guard; a coalesce around
    # element_at would silently score every miss as RR[K].
    rr = F.when(
        F.col("pos").isNotNull(),
        F.element_at(F.array(*[F.lit(r) for r in _MRR_RR]), F.col("pos"))
    ).otherwise(F.lit(0))
    return (q.select("qid")
            .join(F.broadcast(best), "qid", "left")
            .join(F.broadcast(cand8), ["qid", "vec_id"], "left")
            .select("qid", F.col("vec_id").alias("best_vec"),
                    F.col("pos").isNotNull().alias("found"),
                    rr.cast("long").alias("rr_ppm"))
            .orderBy("qid"))


def _mrr_sql() -> str:
    rr_case = "CASE pos " + " ".join(
        f"WHEN {i + 1} THEN {r}" for i, r in enumerate(_MRR_RR)) + " END"
    quant = (
        "CASE WHEN list_max(list_transform({v}, x -> abs(x))) = 0 "
        "THEN list_transform({v}, x -> CAST(0 AS BIGINT)) "
        "ELSE list_transform({v}, x -> CAST(floor(x / "
        "(list_max(list_transform({v}, x -> abs(x))) / "
        f"{INT8_LEVELS}.0) + 0.5) AS BIGINT)) END")
    qa, qb = quant.format(v="emb"), quant.format(v="qemb")
    return f"""
WITH {_lsh_eval_ctes()},
best AS (SELECT qid, vec_id FROM exact WHERE rel = {TOP_K}),
probed AS (
  SELECT qid, vec_id, emb, qemb FROM p
  WHERE bit_count(xor(bucket::BIGINT, qbucket::BIGINT)) <= 1),
z AS (SELECT qid, vec_id, {qa} AS qa, {qb} AS qb FROM probed),
s8 AS (
  SELECT qid, vec_id,
         CAST(list_dot_product(qa, qb) AS DOUBLE)
         / (sqrt(CAST(list_dot_product(qa, qa) AS DOUBLE))
            * sqrt(CAST(list_dot_product(qb, qb) AS DOUBLE))) AS cos8
  FROM z),
c8 AS (
  SELECT qid, vec_id, row_number() OVER (
    PARTITION BY qid ORDER BY cos8 DESC, vec_id) AS pos
  FROM s8),
a8 AS (SELECT qid, vec_id, pos FROM c8 WHERE pos <= {TOP_K})
SELECT q.qid, best.vec_id AS best_vec,
       a8.pos IS NOT NULL AS found,
       CAST(coalesce({rr_case}, 0) AS BIGINT) AS rr_ppm
FROM q LEFT JOIN best USING (qid)
LEFT JOIN a8 ON a8.qid = q.qid AND a8.vec_id = best.vec_id
ORDER BY q.qid
"""


MRR_EVAL_SQL = _mrr_sql()

QUERIES["mrr_eval"] = mrr_eval
ORACLES["mrr_eval"] = MRR_EVAL_SQL


# --- Reciprocal-rank fusion of the lexical and vector rankings -----------

RRF_K = 60      # the standard RRF damping constant (Cormack et al. 2009)
RRF_TOPK = 10
# ppm fusion weights: round(1e6/(K+rank)) — the ndcg_eval fixed-point
# trick again: integer weights make the fused score an order-free BIGINT
# sum instead of a float 1/(K+r) accumulation.
_RRF_PPM = [round(1_000_000 / (RRF_K + r)) for r in range(1, BM25_TOPK + 1)]


def rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    top-25 and the exact-cosine vector top-25 (vec_id aligns 1:1 with
    doc_id in this corpus — per-document embeddings), the standard way
    multi-signal retrieval stacks combine rankers without score
    calibration. rrf = Σ 1/(60+rank) over the rankings a doc appears
    in, shipped as exact ppm integers (see _RRF_PPM); a doc absent from
    one ranking contributes 0 for it and keeps a NULL rank column.

    Scale: both inputs are top-K-bounded (≤25 rows) before fusion — the
    single-partition rank windows and the full-outer join run on
    ≤25-row frames; the corpus-heavy work lives in the two rankers,
    whose plans are argued at their own entries (bm25_search single
    corpus pass; the exact scan is the guarded brute twin — swap in
    ann_topk_lsh at scale)."""
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = bm25_search_df(docs)
    lexr = lex.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("score"), "doc_id")).alias("rank_lex"))

    emb = _emb(spark, sf_dir)
    qvec = _query_vector(spark, sf_dir)
    c = _cosine_to_lit(F.col("emb"), qvec)
    vec = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(F.col("vec_id").alias("doc_id"),
                F.round(c, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id").limit(BM25_TOPK)
    )
    vecr = vec.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("cosine"), "doc_id")).alias("rank_vec"))

    ppm = F.array(*[F.lit(p) for p in _RRF_PPM])

    def _w(rank_col):
        return F.when(rank_col.isNull(), F.lit(0)).otherwise(
            F.element_at(ppm, rank_col))

    return (
        lexr.join(vecr, "doc_id", "full")
        .select("doc_id", "rank_lex", "rank_vec",
                (_w(F.col("rank_lex")).cast("long")
                 + _w(F.col("rank_vec")).cast("long")).alias("rrf_ppm"))
        .orderBy(F.desc("rrf_ppm"), "doc_id").limit(RRF_TOPK)
    )


def _rrf_sql() -> str:
    ppm_list = "[" + ", ".join(str(p) for p in _RRF_PPM) + "]"
    bm25_body = BM25_SEARCH_SQL.strip()
    assert bm25_body.startswith("WITH ")
    # reuse the bm25 oracle verbatim as CTEs (ONE lexical definition)
    bm25_ctes, bm25_final = bm25_body[5:].rsplit("\nSELECT", 1)
    cos = _FOLD_DOT.format(a="e.emb", b="q.emb")
    na = _FOLD_NORM.format(a="e.emb")
    nb = _FOLD_NORM.format(a="q.emb")
    return f"""
WITH {bm25_ctes},
lex AS (SELECT{bm25_final}),
lexr AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
           AS rank_lex
  FROM lex),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb FROM e WHERE vec_id = {QUERY_VEC_ID}),
vec AS (
  SELECT e.vec_id AS doc_id,
         round({cos} / ({na} * {nb}), 6) AS cosine
  FROM e, q WHERE e.vec_id != {QUERY_VEC_ID}
  ORDER BY cosine DESC, doc_id LIMIT {BM25_TOPK}),
vecr AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
           AS rank_vec
  FROM vec),
f AS (
  SELECT coalesce(lexr.doc_id, vecr.doc_id) AS doc_id,
         lexr.rank_lex, vecr.rank_vec,
         coalesce({ppm_list}[lexr.rank_lex], 0)
           + coalesce({ppm_list}[vecr.rank_vec], 0) AS rrf_ppm
  FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_vec AS BIGINT) AS rank_vec,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm
FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT {RRF_TOPK}
"""


RRF_FUSION_SQL = _rrf_sql()

QUERIES["rrf_fusion"] = rrf_fusion
ORACLES["rrf_fusion"] = RRF_FUSION_SQL


# -- product-quantization ANN (ADC) ----------------------------------------------

_PQ_M = 4                      # subspaces
_PQ_SUBDIM = _DIM // _PQ_M     # dims per subspace
_PQ_K = 16                     # codewords per subspace


def ann_topk_pq(spark, sf_dir):
    """Product-quantization top-10 via asymmetric distance computation
    (ADC) — the memory-compressed ANN scale path (Jégou et al., PAMI
    2011; faiss PQx): each vector is stored as M=4 codeword ids (4
    bytes/vector vs 256 for float32×64 — a 64× working-set reduction),
    and each query scans CODES, not vectors, summing M table lookups
    per candidate. At 10^12 vectors this is the difference between a
    scan that fits in cluster RAM and one that doesn't; it composes
    with IVF cells (``ann_topk_ivf``) exactly the way faiss IVF-PQ
    does (probe pruning × code compression).

    Codebooks are the ``_PQ_K`` lowest vec_ids' subvectors — the same
    deterministic trained-codebook stand-in as ``ann_topk_ivf``'s
    seeded centroids (``kmeans_clusters`` is the real trainer; wiring
    its output in changes only the literals). Everything is EXACT
    BIGINT on the ``kmeans_clusters`` integer-quantization lattice
    (q = floor(x·1e6 + 0.5)): encode = argmin of integer subspace d²
    (ties → lowest codeword id), ADC lookup tables are integer d²
    from the query's subvectors to every codeword, and the returned
    ``approx_d2`` is a BIGINT sum of M lookups — hash-exact against
    the oracle with no float discipline needed.

    Scale shape: codebooks + LUTs are driver-side literals (M·K·subdim
    = 1,024 ints); encode and ADC are ONE map-only projection over the
    scan (no join, no shuffle); top-10 is TakeOrdered (per-partition
    heaps). In production the codes are materialized once and reused
    per query; this query folds encode+scan into one pass so the
    oracle can see the whole path."""
    return (_pq_scored(spark, sf_dir)
            .orderBy("approx_d2", "vec_id").limit(TOP_K)
            .orderBy("approx_d2", "vec_id"))


def _pq_codebooks(qv: DataFrame) -> list[list[list[int]]]:
    """Codebooks from the ``_PQ_K`` lowest vec_ids' quantized subvectors
    (TakeOrdered, never a full sort); ``cb[m][j]`` is a subdim-long int
    list. Shared by the inline queries and ``jobs/ann_index_job.py`` so
    the materialized index can never drift from the query path."""
    seed_rows = qv.orderBy("vec_id").limit(_PQ_K).select("q").collect()
    return [[[int(v) for v in r["q"][m * _PQ_SUBDIM:(m + 1) * _PQ_SUBDIM]]
             for r in seed_rows] for m in range(_PQ_M)]


def _pq_encode(df: DataFrame, cb: list[list[list[int]]]) -> DataFrame:
    """Add PQ code columns ``c0..c{M-1}`` (``_nearest_codeword`` of each
    subvector in its literal codebook) to a frame carrying the quantized
    vector column ``q``. Map-only."""
    # stage each subvector once (an inline slice inside the K-way argmin
    # would re-slice per codeword — the gopher staged-projection lesson)
    for m in range(_PQ_M):
        df = df.withColumn(f"s{m}",
                           F.slice("q", m * _PQ_SUBDIM + 1, _PQ_SUBDIM))
    for m in range(_PQ_M):
        df = df.withColumn(f"c{m}", _nearest_codeword(f"s{m}", cb[m])["cid"])
    return df.drop(*[f"s{m}" for m in range(_PQ_M)])


def _pq_lut(qq: list[int], cb: list[list[list[int]]]) -> list[list[int]]:
    """ADC lookup tables: integer d² from the query's subvectors to every
    codeword — ``lut[m][j]``, bounded M·K values."""
    return [[sum((a - b) * (a - b)
                 for a, b in zip(qq[m * _PQ_SUBDIM:(m + 1) * _PQ_SUBDIM],
                                 cb[m][j]))
             for j in range(_PQ_K)] for m in range(_PQ_M)]


def _adc_expr(lut: list[list[int]]):
    """approx_d2 = Σ_m lut[m][c_m] as one literal-lookup expression over
    the code columns ``c0..c{M-1}``."""
    luts = [F.array(*[F.lit(v).cast("long") for v in lut[m]])
            for m in range(_PQ_M)]
    approx = F.element_at(luts[0], F.col("c0") + 1)
    for m in range(1, _PQ_M):
        approx = approx + F.element_at(luts[m], F.col(f"c{m}") + 1)
    return approx


def _pq_scored(spark, sf_dir, cells: list[int] | None = None) -> DataFrame:
    """The full PQ-ADC scored frame (vec_id, label, approx_d2) behind
    ``ann_topk_pq`` — exposed so tests can pin the seed-exactness
    property (a codebook member's ADC distance is EXACT) on rows the
    top-10 cut would hide. ``cells`` restricts the SCAN side to those
    IVF cells (``ann_topk_ivfpq``'s probe pruning); codebooks and the
    query stay corpus-global — pruning candidates must never change
    how any surviving candidate is scored."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.select("vec_id", "label",
                    _quantize_expr("embedding").alias("q"))

    cb = _pq_codebooks(qv)
    # the query's quantized vector, via the SAME engine expression the
    # scan uses (never a python re-quantization that could drift)
    qq = [int(v) for v in
          qv.filter(F.col("vec_id") == QUERY_VEC_ID).select("q").first()["q"]]
    lut = _pq_lut(qq, cb)

    if cells is not None:
        kept = (emb
                .withColumn("cell", _cell_expr(
                    F.col("embedding").cast("array<double>")))
                .filter(F.col("cell").isin([int(c) for c in cells]))
                .select("vec_id", "label",
                        _quantize_expr("embedding").alias("q")))
    else:
        kept = qv
    df = _pq_encode(kept.filter(F.col("vec_id") != QUERY_VEC_ID), cb)
    return df.select("vec_id", "label", _adc_expr(lut).alias("approx_d2"))


ANN_TOPK_PQ_SQL = f"""
WITH {_QUANTIZE_CTE},
seed AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, q
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {_PQ_K})
),
cb AS (
  SELECT t.m, seed.sid AS j,
         list_slice(seed.q, t.m * {_PQ_SUBDIM} + 1,
                    t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS c
  FROM seed, generate_series(0, {_PQ_M - 1}) t(m)
),
sub AS (
  SELECT vec_id, t.m,
         list_slice(q, t.m * {_PQ_SUBDIM} + 1,
                    t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS s
  FROM qv, generate_series(0, {_PQ_M - 1}) t(m)
),
codes AS (
  SELECT sub.vec_id, sub.m,
         min(struct_pack(
           d := {_KM_DIST.format(a='sub.s', b='cb.c')},
           j := cb.j)).j AS j
  FROM sub JOIN cb USING (m)
  WHERE sub.vec_id != {QUERY_VEC_ID}
  GROUP BY sub.vec_id, sub.m
),
qsub AS (SELECT m, s FROM sub WHERE vec_id = {QUERY_VEC_ID}),
lut AS (
  SELECT cb.m, cb.j, {_KM_DIST.format(a='qsub.s', b='cb.c')} AS d
  FROM cb JOIN qsub USING (m)
),
scored AS (
  SELECT codes.vec_id, CAST(sum(lut.d) AS BIGINT) AS approx_d2
  FROM codes JOIN lut ON lut.m = codes.m AND lut.j = codes.j
  GROUP BY codes.vec_id
)
SELECT e.vec_id, e.label, s.approx_d2
FROM scored s JOIN embeddings e USING (vec_id)
ORDER BY s.approx_d2, s.vec_id
LIMIT {TOP_K}
"""

QUERIES["ann_topk_pq"] = ann_topk_pq
ORACLES["ann_topk_pq"] = ANN_TOPK_PQ_SQL


def ann_topk_ivfpq(spark, sf_dir):
    """IVF-PQ: the two orthogonal ANN scale levers COMPOSED, the way
    faiss IVF-PQ serves billion-vector search — IVF probe pruning
    decides WHICH candidates are scanned (here: the query's 2 nearest
    of the 16 literal cells, the ``ann_topk_ivf`` machinery verbatim),
    PQ-ADC decides what each candidate COSTS (4 codeword ids + 4 BIGINT
    LUT lookups, the ``ann_topk_pq`` machinery verbatim). At 10^12
    vectors the cell is a partition column, so probing reads 2/16ths of
    the files and the scan inside touches codes, not vectors.

    Codebooks and LUTs stay corpus-global — pruning candidates must
    never change how a surviving candidate is scored, so this query's
    results are EXACTLY ``ann_topk_pq``'s restricted to the probed
    cells (production IVF-PQ usually encodes per-cell residuals, which
    trades that invariant for accuracy; the stand-in codebooks make the
    global variant the honest choice here). All-BIGINT scoring ⇒
    hash-exact oracle."""
    probe_cells = _probe_cells(_query_vector(spark, sf_dir))
    return (_pq_scored(spark, sf_dir, cells=probe_cells)
            .orderBy("approx_d2", "vec_id").limit(TOP_K)
            .orderBy("approx_d2", "vec_id"))


def _ivfpq_sql() -> str:
    cents = _centroids()
    values = ",\n       ".join(
        f"({i}, {_vec_sql(cents[i])})" for i in range(_N_CELLS))
    return f"""
WITH {_QUANTIZE_CTE},
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cents(cell, c) AS (VALUES
       {values}),
fq AS (SELECT emb FROM e WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cell FROM cents, fq
  ORDER BY list_dot_product(fq.emb, c) DESC, cell LIMIT {_IVF_PROBES}),
kept AS (
  SELECT e.vec_id FROM e
  WHERE (SELECT cell FROM cents
         ORDER BY list_dot_product(e.emb, c) DESC, cell LIMIT 1)
        IN (SELECT cell FROM probe)),
seed AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, q
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {_PQ_K})
),
cb AS (
  SELECT t.m, seed.sid AS j,
         list_slice(seed.q, t.m * {_PQ_SUBDIM} + 1,
                    t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS c
  FROM seed, generate_series(0, {_PQ_M - 1}) t(m)
),
sub AS (
  SELECT vec_id, t.m,
         list_slice(q, t.m * {_PQ_SUBDIM} + 1,
                    t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS s
  FROM qv, generate_series(0, {_PQ_M - 1}) t(m)
),
codes AS (
  SELECT sub.vec_id, sub.m,
         min(struct_pack(
           d := {_KM_DIST.format(a='sub.s', b='cb.c')},
           j := cb.j)).j AS j
  FROM sub JOIN cb USING (m)
  WHERE sub.vec_id != {QUERY_VEC_ID}
    AND sub.vec_id IN (SELECT vec_id FROM kept)
  GROUP BY sub.vec_id, sub.m
),
qsub AS (SELECT m, s FROM sub WHERE vec_id = {QUERY_VEC_ID}),
lut AS (
  SELECT cb.m, cb.j, {_KM_DIST.format(a='qsub.s', b='cb.c')} AS d
  FROM cb JOIN qsub USING (m)
),
scored AS (
  SELECT codes.vec_id, CAST(sum(lut.d) AS BIGINT) AS approx_d2
  FROM codes JOIN lut ON lut.m = codes.m AND lut.j = codes.j
  GROUP BY codes.vec_id
)
SELECT emb2.vec_id, emb2.label, s.approx_d2
FROM scored s JOIN embeddings emb2 USING (vec_id)
ORDER BY s.approx_d2, s.vec_id
LIMIT {TOP_K}
"""


ANN_TOPK_IVFPQ_SQL = _ivfpq_sql()

QUERIES["ann_topk_ivfpq"] = ann_topk_ivfpq
ORACLES["ann_topk_ivfpq"] = ANN_TOPK_IVFPQ_SQL
