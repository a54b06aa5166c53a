"""Near-dup clustering (connected components) and quality-filter gates."""

from __future__ import annotations

from extract_ocr_spark.operators.curation import quality_filter_apply
from extract_ocr_spark.operators.dedup import neardup_clusters


def _write_documents(spark, tmp_path, rows):
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d))
    return str(tmp_path)


def test_neardup_clusters_transitive(spark, tmp_path):
    # a≈b and b≈c but a,c share less — transitivity must still cluster all
    # three to min id; d/e form a second cluster; f is a singleton.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base + " one", "en", "s", 40),
        (11, base + " one", "en", "s", 40),          # = 10
        (12, base + " one extra", "en", "s", 40),    # ≈ 10/11
        (20, "foo bar baz qux quux corge grault garply", "en", "s", 40),
        (21, "foo bar baz qux quux corge grault waldo", "en", "s", 40),
        (30, "completely different text with nothing shared here at all",
         "en", "s", 40),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = {r["doc_id"]: r["cluster"] for r in neardup_clusters(spark, sf).collect()}
    assert got[10] == got[11] == 10
    # 12 clusters with 10 iff its jaccard >= 0.8 against either; whatever
    # the pair graph says, the component label must be the component min
    # and the singleton must self-label.
    assert got[30] == 30
    assert got[20] == got[21] == 20 or (got[20] == 20 and got[21] == 21)


def test_quality_filter_gates(spark, tmp_path):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4, "en", "s", 0),
        (2, "xx", "en", "s", 0),                       # too short
        (3, "!!! ??? ;;; ::: ,,, " * 10, "en", "s", 0),  # punct-heavy
        (4, ("a " * 100).strip(), "en", "s", 0),       # mean word len 1 < 3
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in quality_filter_apply(spark, sf).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["ok_len"] is False
    assert got[3]["keep"] is False and got[3]["ok_punct"] is False
    assert got[4]["keep"] is False and got[4]["ok_words"] is False


def test_connected_components_long_path_converges(spark):
    # A 25-node path graph (diameter 24 > the old 20-iteration cap, which
    # silently returned partial labels) must fully converge to comp=0 for
    # every node — pointer jumping makes this take O(log n) iterations.
    import pyspark.sql.functions as F

    from extract_ocr_spark.operators.dedup import connected_components

    n = 25
    fwd = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        fwd + [(b, a) for a, b in fwd], "src long, dst long")
    labels = spark.range(n).select(
        F.col("id"), F.col("id").alias("comp"))
    got = {r["id"]: r["comp"]
           for r in connected_components(labels, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_raises_when_capped(spark):
    import pyspark.sql.functions as F
    import pytest

    from extract_ocr_spark.operators.dedup import connected_components

    n = 25
    fwd = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        fwd + [(b, a) for a, b in fwd], "src long, dst long")
    labels = spark.range(n).select(F.col("id"), F.col("id").alias("comp"))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(labels, edges, max_iters=2)


def test_pack_sequences_budget_property(spark, tmp_path):
    """Packed sequences respect the budget up to one straddling doc
    (cumsum chunking), and every doc is assigned exactly once."""
    from extract_ocr_spark.operators.curation import PACK_BUDGET, pack_sequences

    rows = [(i, ("tok " * (50 + (i * 37) % 400)).strip(), "en", "s", 0)
            for i in range(200)]
    sf = _write_documents(spark, tmp_path, rows)
    out = pack_sequences(spark, sf).collect()
    assert len(out) == 200
    by_seq = {}
    for r in out:
        by_seq.setdefault((r["shard"], r["seq_id"]), []).append(r["n_tokens"])
    max_doc = max(r["n_tokens"] for r in out)
    for toks in by_seq.values():
        assert sum(toks) <= PACK_BUDGET + max_doc
    # sequences are dense per shard: 0..max with no gaps
    import collections
    per_shard = collections.defaultdict(set)
    for (shard, seq), _ in by_seq.items():
        per_shard[shard].add(seq)
    for seqs in per_shard.values():
        assert seqs == set(range(max(seqs) + 1))


def test_stratified_sample_rates(spark, tmp_path):
    """Per-source keep rates land near their targets; the decision is a
    pure function of doc_id (re-running gives the identical sample)."""
    from extract_ocr_spark.operators.curation import stratified_sample

    rows = [(i, f"text {i}", "en",
             ["web", "wiki", "books", "code", "other"][i % 5], 0)
            for i in range(5000)]
    sf = _write_documents(spark, tmp_path, rows)
    kept = stratified_sample(spark, sf).collect()
    import collections
    per_src = collections.Counter(r["source"] for r in kept)
    assert per_src["wiki"] == 1000 and per_src["books"] == 1000  # rate 1.0
    assert 380 <= per_src["web"] <= 620        # rate 0.5 of 1000
    assert 180 <= per_src["code"] <= 320       # rate 0.25
    assert 50 <= per_src["other"] <= 160       # default 0.1
    again = {r["doc_id"] for r in stratified_sample(spark, sf).collect()}
    assert again == {r["doc_id"] for r in kept}


def test_repetition_metrics_flags_repetitive_docs(spark, tmp_path):
    from extract_ocr_spark.operators.textanalysis import repetition_metrics

    rows = [
        (1, "same line\nsame line\nsame line\nsame line", "en", "s", 0),
        (2, "alpha beta\ngamma delta\nepsilon zeta", "en", "s", 0),
        (3, "spam spam spam spam spam spam spam spam", "en", "s", 0),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in repetition_metrics(spark, sf).collect()}
    assert got[1]["dup_line_frac"] == 0.75       # 4 lines, 1 unique
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["top_2gram_frac"] == 1.0       # all 2-grams 'spam spam'
    assert got[2]["top_2gram_frac"] < 0.5


def test_curate_run_fuzzy_dedup_drops_near_dups(spark, tmp_path):
    """--fuzzy-dedup composes MinHash clustering into the job: a pair of
    near-identical (but not byte-identical) docs collapses to the
    SURVIVORSHIP pick — the longest member, not the min doc_id (the
    mirror with more complete text wins); unique docs survive; stats
    record the fuzzy drop."""
    from jobs.curate_job import run

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    rows = [(i, f"distinct document number {i} with its own unique "
                f"content words alpha{i} beta{i} gamma{i} delta{i} "
                f"epsilon{i} zeta{i} eta{i} theta{i}", "en", "s", 120)
            for i in range(10, 30)]
    # 51 is the LONGER near-dup (J = 18/21 ≈ 0.857): survivorship must
    # keep it over the lower-id 50
    rows += [(50, base + " end", "en", "s", 120),
             (51, base + " fin extra", "en", "s", 120)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    stats = run(spark, docs, str(tmp_path / "fz"), eval_ids=[],
                fuzzy_dedup=True)
    assert stats["fuzzy_dropped"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "fz" / "corpus")).select("doc_id").collect()}
    assert 51 in kept and 50 not in kept  # longest wins, not min id

    # without the flag both survive (exact dedup does not catch them)
    stats2 = run(spark, docs, str(tmp_path / "nz"), eval_ids=[])
    assert stats2["fuzzy_dropped"] == 0
    kept2 = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "nz" / "corpus")).select("doc_id").collect()}
    assert {50, 51} <= kept2


def test_curate_write_spreads_splits_over_range_partitions(spark, tmp_path):
    """The final write must NOT funnel each split through one task (the
    old `repartition("split")` hashed a 3-value column → the whole train
    split sorted+written by a single task at any scale). With
    repartitionByRange(N, split, shuffle_key): (1) a split's rows span
    multiple output files, (2) file key ranges within a split are
    disjoint and ordered — a per-split TOTAL order across files."""
    import glob
    import os

    from jobs.curate_job import run

    rows = [(i, f"document number {i} with plenty of its own unique "
                f"content words alpha{i} beta{i} gamma{i} delta{i} "
                f"epsilon{i} zeta{i} eta{i} theta{i} iota{i}", "en", "s", 120)
            for i in range(300)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    run(spark, docs, str(tmp_path / "o"), eval_ids=[], write_partitions=8)

    train_files = sorted(glob.glob(
        str(tmp_path / "o" / "corpus" / "split=train" / "part-*.parquet")))
    assert len(train_files) > 1, "train split collapsed to one writer task"
    ranges = []
    for f in train_files:
        keys = [r["shuffle_key"] for r in
                spark.read.parquet(f"file://{os.path.abspath(f)}")
                .select("shuffle_key").collect()]
        assert keys == sorted(keys)          # sorted within each file
        ranges.append((keys[0], keys[-1]))
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo                      # disjoint, ordered file ranges


def test_curate_run_lm_gate_drops_gibberish(spark, tmp_path):
    """--max-lm-nll composes the corpus-bigram-LM quality gate: the one
    gibberish doc (improbable word sequences) is dropped, common-phrase
    docs survive, and the stats record the LM drop."""
    from jobs.curate_job import run

    common = ("the quick brown fox jumps over the lazy dog and then "
              "runs far away into the deep green forest tonight again")
    rows = [(i, common + f" marker{i}", "en", "s", 130) for i in range(20)]
    rows.append((99, "zxq vbnk wqpolr ajsnd fkelwm qoxuzy breqm "
                     "vlwpot nskrje qmxbvo walpzu dkfnrw plomqe "
                     "xcvbnd qwerty asdfgh zxcvbn poiuyt", "en", "s", 120))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    probe = run(spark, docs, str(tmp_path / "probe"), eval_ids=[])
    assert probe["lm_dropped"] == 0  # gate off by default

    # measured: common docs score ~0.77, the gibberish doc ~2.37
    stats = run(spark, docs, str(tmp_path / "lm"), eval_ids=[],
                max_lm_nll=1.5)
    assert stats["lm_dropped"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "lm" / "corpus")).select("doc_id").collect()}
    assert 99 not in kept and 0 in kept


def test_mixture_weights_upweights_low_resource_sources(spark):
    """alpha=0.5 temperature: a source with 1% of tokens gets a weight
    ABOVE its share (upweighted), a dominant source below; weights sum
    to ~1."""
    from extract_ocr_spark.operators.curation import mixture_weights_df

    rows = [(i, "w " * 99, "big", 0) for i in range(99)]
    rows.append((999, "w " * 99, "small", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long")
    got = {r["source"]: r for r in mixture_weights_df(docs).collect()}
    assert got["small"]["share"] == 0.01 and got["big"]["share"] == 0.99
    assert got["small"]["weight"] > got["small"]["share"]
    assert got["big"]["weight"] < got["big"]["share"]
    assert abs(got["small"]["weight"] + got["big"]["weight"] - 1.0) < 1e-6


def test_curate_run_classifier_gate_drops_low_scorers(spark, tmp_path):
    """--min-classifier-score composes the hashed-linear-classifier gate:
    the lowest-scoring doc is dropped, the rest survive, and the stats
    record the drop under clf_dropped."""
    from jobs.curate_job import run

    common = ("the quick brown fox jumps over the lazy dog and then "
              "runs far away into the deep green forest tonight again")
    rows = [(i, common + f" marker{i}", "en", "s", 130) for i in range(12)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    probe = run(spark, docs, str(tmp_path / "probe"), eval_ids=[])
    assert probe["clf_dropped"] == 0  # gate off by default

    # measured: doc 1 scores 0.055, every other doc >= 0.082
    stats = run(spark, docs, str(tmp_path / "clf"), eval_ids=[],
                min_classifier_score=0.07)
    assert stats["clf_dropped"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "clf" / "corpus")).select("doc_id").collect()}
    assert 1 not in kept and 0 in kept and len(kept) == 11


def test_corpus_report_counts_dups_and_langs(spark):
    """Data-card aggregate: exact-dup counting is per normalized content
    (case/whitespace-insensitive), the language mix is sorted, and mean
    tokens divide exactly."""
    from extract_ocr_spark.operators.curation import corpus_report_df

    rows = [
        (1, "Hello   world", "en", "a", 13),
        (2, "hello world", "en", "a", 11),          # normalized dup of 1
        (3, "three more words here", "fr", "a", 21),
        (4, "unrelated text", "de", "b", 14),
        (5, "   ", "de", "b", 3),                   # whitespace-only: 0 tokens
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["source"]: r for r in corpus_report_df(docs).collect()}
    a, b = got["a"], got["b"]
    assert (a["docs"], a["dup_docs"], a["langs"]) == (3, 1, "en,fr")
    assert a["tokens"] == 2 + 2 + 4
    assert a["avg_doc_tokens"] == round(8 / 3.0, 6)
    assert (b["docs"], b["dup_docs"], b["langs"]) == (2, 0, "de")
    assert b["tokens"] == 2                          # the empty doc adds none
    assert b["avg_doc_tokens"] == 1.0


def test_dsir_weights_prefer_target_like_text(spark, tmp_path):
    """DSIR log-ratio must rank a non-target-language doc WRITTEN IN the
    target's vocabulary above one written in off-target vocabulary, and
    zero-token docs report (0, 0.0)."""
    from extract_ocr_spark.operators.curation import dsir_weights

    tgt_voc = "alpha beta gamma delta epsilon zeta eta theta"
    off_voc = "uno dos tres cuatro cinco seis siete ocho"
    rows = [
        # target slice (lang=en) — defines the target distribution
        *[(i, tgt_voc, "en") for i in range(5)],
        # off-target bulk — shifts the raw distribution away from target
        *[(10 + i, off_voc, "xx") for i in range(5)],
        # probes: same lang, different vocabulary
        (100, tgt_voc, "xx"),
        (101, off_voc, "xx"),
        (102, "", "xx"),
    ]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(i, t, lg, "s", len(t)) for i, t, lg in rows],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d))

    got = {r["doc_id"]: r.asDict()
           for r in dsir_weights(spark, str(tmp_path)).collect()}
    # relative ranking is the DSIR contract (absolute sign depends on
    # the smoothing mass — raw is a superset of target, so tiny corpora
    # skew every observed-bucket term negative)
    assert got[100]["log_ratio"] > got[101]["log_ratio"]
    assert got[100]["log_ratio"] > got[11]["log_ratio"]
    assert got[102] == {"doc_id": 102, "n_feats": 0, "log_ratio": 0.0}
    # unigrams + bigrams: 8 words -> 8 + 7 features
    assert got[100]["n_feats"] == 15


_FIFTY_WORDS = ("the quick brown fox and the lazy dog have decided to run "
                "off with a caravan of fifty other animals that wander the "
                "wide open plains looking for water food shelter and the "
                "company of friendly creatures under a warm evening sky "
                "while singing songs about distant tall mountain ranges")


def test_curate_run_gopher_gate_drops_short_docs(spark, tmp_path):
    """--gopher composes the MassiveText rule set: a doc that passes the
    generic quality gates (>=80 chars) but sits under Gopher's 50-word
    floor is dropped; 50+-word docs survive; stats record gopher_dropped."""
    from jobs.curate_job import run

    rows = [(3000 + i, _FIFTY_WORDS + f" marker{i}", "en", "s", 300)
            for i in range(10)]
    rows.append((3099, "the quick brown fox jumps over the lazy dog and "
                       "then runs far away into the deep green forest "
                       "tonight again", "en", "s", 109))  # 21 words
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    probe = run(spark, docs, str(tmp_path / "probe"), eval_ids=[])
    assert probe["gopher_dropped"] == 0  # gate off by default
    kept = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "probe" / "corpus")).select("doc_id").collect()}
    assert 3099 in kept

    stats = run(spark, docs, str(tmp_path / "gopher"), eval_ids=[],
                gopher=True)
    assert stats["gopher_dropped"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "gopher" / "corpus")).select("doc_id").collect()}
    assert 3099 not in kept and 3000 in kept and len(kept) == 10


def test_curate_run_dsir_gate_drops_off_target_docs(spark, tmp_path):
    """--min-dsir-logratio composes the DSIR importance gate: the doc
    least like the lang='en' target slice (off-vocabulary) is dropped at
    a threshold MEASURED from the operator (not guessed), target-like
    docs survive regardless of their own lang tag."""
    from extract_ocr_spark.operators.curation import dsir_weights_df
    from jobs.curate_job import run

    off_voc = ("cada manana los viajeros cruzan montanas verdes buscando "
               "rios claros mientras cantan canciones antiguas sobre "
               "pueblos lejanos y comparten historias alegres junto al "
               "fuego hasta que llega la noche estrellada trayendo "
               "suenos tranquilos para todos los caminantes cansados "
               "que descansan bajo cielos abiertos esperando un amanecer "
               "dorado nuevo")  # 50 words, no overlap with _FIFTY_WORDS
    rows = [(3000 + i, _FIFTY_WORDS + f" marker{i}", "en", "s", 300)
            for i in range(8)]
    rows.append((3100, _FIFTY_WORDS + " markerx", "xx", "s", 300))
    rows.append((3101, off_voc, "xx", "s", 300))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    scores = {r["doc_id"]: r["log_ratio"] for r in dsir_weights_df(
        docs.select("doc_id", "text", "lang")).collect()}
    ordered = sorted(scores.values())
    assert scores[3101] == ordered[0]          # off-vocab doc scores lowest
    threshold = (ordered[0] + ordered[1]) / 2

    stats = run(spark, docs, str(tmp_path / "dsir"), eval_ids=[],
                min_dsir_logratio=threshold)
    assert stats["dsir_dropped"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "dsir" / "corpus")).select("doc_id").collect()}
    assert 3101 not in kept and 3100 in kept and 3000 in kept


def test_dsir_weights_rejects_empty_target_slice(spark):
    """A wrong --dsir-target-lang (e.g. case mismatch) must raise, not
    silently degrade every log_ratio to smoothing noise."""
    import pytest

    from extract_ocr_spark.operators.curation import dsir_weights_df

    docs = spark.createDataFrame(
        [(1, "some words here", "en"), (2, "other words there", "en")],
        "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="matched no documents"):
        dsir_weights_df(docs, target_lang="EN").localCheckpoint()


def test_length_quantiles_exact_ranks(spark, tmp_path):
    """Quantiles are the values at rank ceil(q*n) under the (tokens,
    doc_id) total order — pinned against a hand-computed distribution."""
    import math

    from extract_ocr_spark.operators.curation import length_quantiles

    # one source, token counts 1..10 (doc i has i+1 tokens)
    rows = [(i, " ".join(f"w{j}" for j in range(i + 1)), "en", "s", 0)
            for i in range(10)]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d))

    got = {r["source"]: r for r in
           length_quantiles(spark, str(tmp_path)).collect()}
    r = got["s"]
    assert r["n_docs"] == 10
    assert r["p50_tokens"] == math.ceil(0.5 * 10)    # rank 5 -> 5 tokens
    assert r["p90_tokens"] == math.ceil(0.9 * 10)    # rank 9 -> 9 tokens
    assert r["p99_tokens"] == math.ceil(0.99 * 10)   # rank 10 -> 10 tokens


def test_token_budget_sample_matches_python_oracle(spark):
    """Kept set == the python replay: md5(doc_id)-ordered cumulative
    token counts per source, kept while the running total stays within
    TOKEN_BUDGET. Also pins the budget rule's two branches: a source
    whose total fits keeps every doc; an over-budget source truncates."""
    import hashlib

    from extract_ocr_spark.operators.curation import (
        TOKEN_BUDGET,
        token_budget_sample_df,
    )

    # small source: 10 docs x 50 tokens = 500 <= 1200, all kept;
    # big source: 30 docs x 100 tokens = 3000 > 1200, truncated
    rows = [(i, " ".join(f"w{j}" for j in range(50)), "en", "small", 0)
            for i in range(10)]
    rows += [(100 + i, " ".join(f"w{j}" for j in range(100)), "en", "big", 0)
             for i in range(30)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")

    got = {(r["doc_id"]): (r["source"], r["n_tokens"], r["cum_tokens"])
           for r in token_budget_sample_df(docs).collect()}

    expected = {}
    for src, ids, ntok in (("small", range(10), 50),
                           ("big", [100 + i for i in range(30)], 100)):
        order = sorted(ids, key=lambda d: (
            hashlib.md5(str(d).encode()).hexdigest(), d))
        cum = 0
        for d in order:
            cum += ntok
            if cum <= TOKEN_BUDGET:
                expected[d] = (src, ntok, cum)
    assert got == expected
    assert sum(1 for s, _, _ in got.values() if s == "small") == 10
    assert sum(1 for s, _, _ in got.values() if s == "big") == 12


def test_ccnet_buckets_tercile_counts_and_ordering(spark):
    """Per-language bucket sizes follow the integer tercile rule
    (head = floor(n/3), middle = floor(2n/3) - floor(n/3)) and the
    buckets are ordered: every head score <= every middle score <=
    every tail score within a language."""
    from extract_ocr_spark.operators.textanalysis import ccnet_buckets

    rows = ccnet_buckets(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        n = len(rs)
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            counts[r["bucket"]] += 1
        assert counts["head"] == n // 3, (lang, counts, n)
        assert counts["middle"] == 2 * n // 3 - n // 3, (lang, counts, n)
        assert counts["tail"] == n - 2 * n // 3, (lang, counts, n)
        if counts["head"] and counts["middle"]:
            assert max(r["avg_nll"] for r in rs if r["bucket"] == "head") \
                <= min(r["avg_nll"] for r in rs if r["bucket"] == "middle")
        if counts["middle"] and counts["tail"]:
            assert max(r["avg_nll"] for r in rs if r["bucket"] == "middle") \
                <= min(r["avg_nll"] for r in rs if r["bucket"] == "tail")


def test_k_core_reaches_true_fixpoint(spark):
    """k_core's bounded rounds must return the TRUE 3-core: compare
    against a python peeling loop run to convergence (not to
    K_CORE_ITERS). Both engines agreeing on a truncated iteration count
    is exactly the failure an internally-consistent oracle pair cannot
    see — this external reference can (it caught ITERS=5 stopping one
    round short, flagging 50 non-core nodes)."""
    from collections import defaultdict

    from extract_ocr_spark.operators.links import k_core_query, K_CORE_K

    rows = {r["doc_id"]: r["in_core"]
            for r in k_core_query(spark, "/root/testdata/sf0.001").collect()}
    n = len(rows)

    und = set()
    for i in range(n):
        for d in (i + 1, i + 2):
            if d < n and d // 10 == i // 10:
                und.add((i, d))
        if i % 10 == 0:
            d = (i * 7 + 3) % n
            if d != i:
                und.add((min(i, d), max(i, d)))
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    surv = set(adj)
    while True:
        nxt = {v for v in surv if len(adj[v] & surv) >= K_CORE_K}
        if nxt == surv:
            break
        surv = nxt
    assert rows == {i: (i in surv) for i in range(n)}
    assert 0 < len(surv) < n   # the flag channel is non-degenerate


def test_hdr_quantiles_known_values_and_error_bound(spark):
    """Crafted corpus: source 'a' has token counts 8..15 — at those
    magnitudes HDR buckets are exact singletons (shift 0), so the
    sketch must EQUAL the exact quantiles; source 'b' puts 5 docs of
    1000 tokens into one coarse bucket whose bounds are the analytic
    [960, 1023]."""
    from extract_ocr_spark.operators.curation import (
        HDR_SUB_BITS, hdr_quantiles_df)

    rows = ([(k, " ".join(["tok"] * k), "en", "a", 1) for k in range(8, 16)]
            + [(100 + i, " ".join(["tok"] * 1000), "en", "b", 1)
               for i in range(5)])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["source"]: r for r in hdr_quantiles_df(docs).collect()}
    a = got["a"]  # sorted counts 8..15; ceil ranks: p50→4th=11, p90/p99→8th=15
    assert a["n_docs"] == 8
    assert (a["p50_lo"], a["p50_hi"]) == (11, 11)
    assert (a["p90_lo"], a["p90_hi"]) == (15, 15)
    assert (a["p99_lo"], a["p99_hi"]) == (15, 15)
    b = got["b"]
    assert b["n_docs"] == 5
    for q in ("p50", "p90", "p99"):
        assert (b[f"{q}_lo"], b[f"{q}_hi"]) == (960, 1023)
    # the relative-error contract: bucket width ≤ max(1, lb >> HDR_SUB_BITS)
    for r in got.values():
        for q in ("p50", "p90", "p99"):
            assert r[f"{q}_hi"] - r[f"{q}_lo"] + 1 <= max(
                1, r[f"{q}_lo"] >> HDR_SUB_BITS)


def test_hdr_quantiles_contain_exact_at_sf(spark):
    """Containment against the exact sort-based query at sf0.001: every
    exact pXX must land inside the sketch's [lo, hi] for every source."""
    from extract_ocr_spark.operators.curation import (
        hdr_quantiles, length_quantiles)

    sf = "/root/testdata/sf0.001"
    exact = {r["source"]: r for r in length_quantiles(spark, sf).collect()}
    sketch = {r["source"]: r for r in hdr_quantiles(spark, sf).collect()}
    assert set(exact) == set(sketch) and len(exact) > 0
    for src, e in exact.items():
        s = sketch[src]
        assert s["n_docs"] == e["n_docs"]
        for q in ("p50", "p90", "p99"):
            assert s[f"{q}_lo"] <= e[f"{q}_tokens"] <= s[f"{q}_hi"], (src, q)


def test_hdr_cells_merge_additive(spark):
    """The sketch's merge property: cells computed on two disjoint doc
    shards sum per (source, lb, ub) to the whole-corpus cells — the
    invariant that lets shards sketch independently and combine."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.curation import hdr_cells_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {(r["source"], r["lb"], r["ub"]): r["cnt"]
            for r in hdr_cells_df(docs).collect()}
    even = hdr_cells_df(docs.filter(F.col("doc_id") % 2 == 0))
    odd = hdr_cells_df(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (even.unionByName(odd)
              .groupBy("source", "lb", "ub")
              .agg(F.sum("cnt").alias("cnt")))
    got = {(r["source"], r["lb"], r["ub"]): r["cnt"]
           for r in merged.collect()}
    assert got == full and len(full) > 0


def test_cube_report_rollup_consistency(spark):
    """Every rolled-up level must equal the sum of its children, and the
    '<all>' label must come from the grouping bit: gid 0 cells sum to
    gid 1 (per source), gid 2 (per lang), and gid 3 (corpus total)."""
    from extract_ocr_spark.operators.curation import cube_report_df

    rows = [
        (1, "one two", "en", "a", 7),
        (2, "three", "fr", "a", 5),
        (3, "four five six", "en", "b", 13),
        (4, "", "en", "b", 0),            # zero-token doc still counts
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = cube_report_df(docs).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], {})[(r["source"], r["lang"])] = (
            r["docs"], r["tokens"])
    cells = by_gid[0]
    assert cells[("a", "en")] == (1, 2) and cells[("b", "en")] == (2, 3)
    # per-source rollup (lang = '<all>')
    for src in ("a", "b"):
        want = (sum(d for (s, _), (d, _) in cells.items() if s == src),
                sum(t for (s, _), (_, t) in cells.items() if s == src))
        assert by_gid[1][(src, "<all>")] == want
    # per-lang rollup (source = '<all>')
    for lg in ("en", "fr"):
        want = (sum(d for (_, l), (d, _) in cells.items() if l == lg),
                sum(t for (_, l), (_, t) in cells.items() if l == lg))
        assert by_gid[2][("<all>", lg)] == want
    assert by_gid[3][("<all>", "<all>")] == (4, 6)


def test_cube_report_empty_corpus_is_empty(spark, tmp_path):
    """The documented empty-input convention: zero rows (the oracle's
    HAVING drops ANSI CUBE's docs=0 grand-total row there)."""
    import duckdb

    from extract_ocr_spark.operators.curation import (
        CUBE_REPORT_SQL, cube_report)

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long")
    empty.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    assert cube_report(spark, str(tmp_path)).count() == 0
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'")
    assert len(con.sql(CUBE_REPORT_SQL).df()) == 0


def test_hdr_bucket_bounds_full_64bit_property(spark):
    """The bucket math must hold across the FULL 64-bit value range no
    token-count fixture can reach: lb ≤ v ≤ ub, width ≤ max(1, v >> 3),
    and exact agreement with a pure-python mirror — pinning the
    BIGINT-width regression (an INT-literal shiftleft wraps at shift 31,
    giving ub < lb for every value of ≥ 35 bits)."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.curation import (
        HDR_SUB_BITS, hdr_bucket_bounds)

    vals = sorted({0, 1, 7, 8, 15, 16, 31, 1000,
                   2**31 - 1, 2**31, 2**34, 2**34 + 12345, 2**35,
                   2**40 + 9, 2**50 + 123456789, 2**62, 2**63 - 1}
                  | {3**k for k in range(1, 39)})
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    lb, ub = hdr_bucket_bounds()
    got = {r["v"]: (r["lb"], r["ub"])
           for r in df.select("v", lb.alias("lb"), ub.alias("ub")).collect()}

    for v in vals:
        sh = max(v.bit_length() - 1 - HDR_SUB_BITS, 0)
        want = ((v >> sh) << sh, ((v >> sh) << sh) + (1 << sh) - 1)
        assert got[v] == want, (v, got[v], want)
        assert want[0] <= v <= want[1]
        assert want[1] - want[0] + 1 <= max(1, want[0] >> HDR_SUB_BITS) \
            or want[0] == want[1]


def test_quantile_normalize_aligns_sources(spark, tmp_path):
    """The operator's whole point: docs at the SAME within-source
    percentile get the SAME global value bounds, regardless of how
    different their raw token counts are. Also pins the exact bp rank
    formula (single-doc source -> 0), the pct=0/10000 endpoints landing
    in the global bottom/top buckets, and within-source monotonicity."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.curation import quantile_normalize

    def doc(i, words, src):
        return (i, " ".join(f"w{j}" for j in range(words)), "en", src,
                words * 3)

    rows = (
        # short-form source: 2, 4, 6, 8, 10 tokens
        [doc(i, 2 * (i + 1), "chat") for i in range(5)]
        # long-form source: 100, 200, 300, 400, 500 tokens
        + [doc(10 + i, 100 * (i + 1), "books") for i in range(5)]
        # single-doc source -> pct_bp 0 by definition
        + [doc(99, 50, "solo")]
    )
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: r for r in
           quantile_normalize(spark, str(tmp_path)).collect()}
    assert len(got) == 11
    # exact bp grid over 5 docs: 0, 2500, 5000, 7500, 10000
    for base in (0, 10):
        assert [got[base + i]["pct_bp"] for i in range(5)] == \
            [0, 2500, 5000, 7500, 10000]
    assert got[99]["pct_bp"] == 0
    # same percentile -> SAME global bounds, though raw counts differ 50x
    for i in range(5):
        a, b = got[i], got[10 + i]
        assert (a["norm_lo"], a["norm_hi"]) == (b["norm_lo"], b["norm_hi"])
        assert a["n_tok"] != b["n_tok"]
    # endpoints: pct 0 -> the global bottom bucket (contains 2),
    # pct 10000 -> the top bucket (contains 500)
    assert got[0]["norm_lo"] <= 2 <= got[0]["norm_hi"]
    assert got[4]["norm_lo"] <= 500 <= got[4]["norm_hi"]
    # monotone within a source
    los = [got[10 + i]["norm_lo"] for i in range(5)]
    assert los == sorted(los)


def test_quantile_normalize_plan_bounded_broadcast_no_python(spark):
    """Scale pins: the global side is the bounded HDR sketch — the only
    nested-loop join is the ≤ ~512-cell broadcast range lookup (plus the
    1-row total), never a corpus-sized cartesian; the corpus itself
    exchanges once per window key; nothing drops to Python."""
    from extract_ocr_spark.operators.curation import quantile_normalize_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = quantile_normalize_df(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the bounded class


def test_split_leakage_check_fixture(spark, tmp_path):
    """A near-dup pair engineered (deterministic suffix search on the
    content-hash bucket) to straddle two splits is reported with its
    jaccard; an equally-near pair in the SAME split is not; disjoint
    docs never appear. Also pins the structural fact the docstring
    states: raw-identical texts always share a bucket, so exact-dup
    leakage cannot exist."""
    import hashlib

    from extract_ocr_spark.operators.curation import (
        split_assign_df, split_leakage_check)

    def split_of(text):
        b = int(hashlib.sha256(text.encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 90 else "val" if b < 95 else "test"

    # two DISJOINT base vocabularies: the cross-split pair and the
    # same-split pair must not be near-dups of each other
    base_x = " ".join(f"w{i}" for i in range(30))
    base_s = " ".join(f"v{i}" for i in range(30))

    def find_pair(base, want_cross):
        for t in range(500):
            a_txt = base + f" tail{t}"
            b_txt = base + f" vary{t}"
            if (split_of(a_txt) != split_of(b_txt)) == want_cross:
                return a_txt, b_txt
        raise AssertionError("no pair found in 500 variants")

    cross = find_pair(base_x, True)
    same = find_pair(base_s, False)
    rows = [
        (1, cross[0], "en", "s", 99), (2, cross[1], "en", "s", 99),
        (3, same[0], "en", "s", 99), (4, same[1], "en", "s", 99),
        (5, "entirely disjoint vocabulary about unrelated matters with "
            "no shared phrases anywhere at all", "en", "s", 99),
    ]
    assert split_of(rows[2][1]) == split_of(rows[3][1])

    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = [r.asDict() for r in
           split_leakage_check(spark, str(tmp_path)).collect()]
    lo, hi = sorted([split_of(cross[0]), split_of(cross[1])])
    assert len(got) == 1 and got[0]["split_lo"] == lo \
        and got[0]["split_hi"] == hi and got[0]["n_pairs"] == 1
    # near-dup: 29 of 31ish shingles shared -> J well above 1/2
    assert got[0]["max_jaccard"] > 0.8

    # structural pin: identical text == identical bucket == same split
    sp = {r["doc_id"]: r["split"]
          for r in split_assign_df(
              spark.createDataFrame(
                  [(10, cross[0], "en", "s", 9),
                   (11, cross[0], "en", "s", 9)],
                  "doc_id long, text string, lang string, source string, "
                  "n_chars long")).select("doc_id", "split").collect()}
    assert sp[10] == sp[11]


def test_synthetic_flat_documents_df_pinned(spark):
    """The native scale-corpus generator emits the driver's documents
    schema and a fixed, partitioning-independent row digest."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.datagen import synthetic_flat_documents_df

    def digest(df):
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.pmod(F.xxhash64(*df.columns),
                                F.lit(1_000_000_000))).alias("d")).first()
        return r["n"], r["d"]

    df = synthetic_flat_documents_df(spark, 200)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint")]
    assert df.count() == 200
    assert digest(df) == (200, 100960681816)
    assert digest(synthetic_flat_documents_df(spark, 200, partitions=3)) \
        == (200, 100960681816)
