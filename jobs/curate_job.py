#!/usr/bin/env python
"""Cluster training-data curation job — extracted corpus → training-ready
splits, composing the curation operators end-to-end:

    zip -r extract_ocr_spark.zip extract_ocr_spark
    spark-submit --py-files extract_ocr_spark.zip jobs/curate_job.py \
        --input  <documents(doc_id, text, ...) path or table> \
        --output <dir> [--eval-ids 0,1,2,3,4]

Stages (each one shuffle or less; see operators/curation.py scale notes):

1. exact dedup (normalized-content hash, canonical min-doc_id row)
   [+ optional --fuzzy-dedup: MinHash near-dup clustering over the
   survivors, keep one doc per cluster]
2. quality filter (length / alpha / punct / word-length gates)
   [+ optional --max-lm-nll: CCNet-style corpus-bigram-LM gate]
3. repetition gate (Gopher-style: duplicate-line fraction and top-2-gram
   fraction over thresholds -> dropped)
4. benchmark decontamination (inverted shingle index vs the eval set,
   hot-shingle df-cap on the corpus side, eval side broadcast)
   [+ optional --paragraph-dedup: CCNet-style sub-document rewrite —
   keep only the corpus-wide first occurrence of every paragraph
   block; fully-duplicated docs drop out]
5. optional per-source mixture sampling (--mixture-sampling;
   deterministic md5 buckets, no RNG)
6. deterministic 90/5/5 split assignment (content-hash buckets, no RNG)
7. reproducible training shuffle key (salted hash) + training sequence
   packing for the train split (shard-local cumsum at --pack-budget)
8. write partitioned by split, sorted within partitions by shuffle key

Output: ``<out>/corpus`` (partitioned by split) + ``<out>/stats.json``.
"""

from __future__ import annotations

import argparse
import json


def run(spark, docs, output: str, *, eval_ids=(0, 1, 2, 3, 4),
        min_shared_shingles: int = 5, max_dup_line_frac: float = 0.30,
        max_top_2gram_frac: float = 0.20, mixture_sampling: bool = False,
        fuzzy_dedup: bool = False, max_lm_nll: float | None = None,
        min_classifier_score: float | None = None,
        gopher: bool = False, min_dsir_logratio: float | None = None,
        dsir_target_lang: str = "en",
        paragraph_dedup: bool = False, para_tokens: int | None = None,
        chunk_tokens: int | None = None, chunk_stride: int | None = None,
        pack_budget: int = 2048, write_partitions: int | None = None) -> dict:
    """The composed curation pipeline as a callable (spark-submit `main`
    wraps it; tests/test_curation_graph.py calls it in-process):
    documents in → partitioned split corpus under ``<output>/corpus`` →
    stats dict.

    Execution shape (the r4 rewrite): every gate becomes a boolean FLAG
    column on one frame instead of a chain of filters — the previous
    structure recomputed the full upstream DAG once per stats count
    (seven full corpus passes; at 10^12 docs, seven reads of 100 TB).
    Now: one pass builds the flag frame (dedup window + per-doc quality/
    repetition verdicts + contamination join), it is persisted, and ALL
    stage counts come from a single aggregate over it; the final filter,
    packing, and write read the same cached frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from extract_ocr_spark.operators.curation import (
        norm_content_sha,
        pack_sequences_df,
        quality_filter_df,
        split_assign_df,
        stratified_sample_df,
    )
    from extract_ocr_spark.operators.dedup import (
        _drop_hot_shingles,
        _with_shingles,
    )
    from extract_ocr_spark.operators.textanalysis import (
        chunk_documents_df,
        repetition_metrics_df,
    )

    eval_ids = list(eval_ids)
    in_cols = docs.columns
    is_eval = F.col("doc_id").isin(eval_ids)

    # 1: dedup flag — canonical = min doc_id per normalized-content hash
    # (window over the hash: same single shuffle as the groupBy+semi-join
    # formulation in dedup_apply_df, but keeps non-canonical rows so
    # they can still be counted without a second pass)
    w = Window.partitionBy(norm_content_sha())
    flags = docs.withColumn(
        "_canonical", F.col("doc_id") == F.min("doc_id").over(w))

    # 2: quality flags (pure per-doc projection). Persist HERE: every
    # later stage (fuzzy/LM gates, repetition, contamination corpus side)
    # filters this frame — without the cache each would re-run the dedup
    # window + quality projection from scratch (at 10^12 docs, one full
    # corpus re-read per stage).
    flags = quality_filter_df(flags).withColumnRenamed("keep", "_quality") \
        .drop("ok_len", "ok_alpha", "ok_punct", "ok_words") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    base_flags = flags

    # 1b (optional): fuzzy dedup — MinHash near-dup clusters over the
    # exact-dedup + quality survivors; in every multi-member cluster the
    # SURVIVORSHIP policy keeps the longest member (doc_id tie-break —
    # cluster_canonical_from), and every other member is flagged.
    # Keeping the min-doc_id root (the previous rule) threw away the
    # best extraction whenever a later mirror was more complete. The
    # standard pipeline order: exact dedup first (cheap hash) shrinks
    # the input the LSH pass shingles.
    if fuzzy_dedup:
        from extract_ocr_spark.operators.dedup import (
            cluster_canonical_from,
            neardup_clusters_df,
        )

        fd_in = flags.filter(F.col("_canonical") & F.col("_quality")) \
            .select("doc_id", "text")
        # the cluster frame feeds both the winner pick and the loser
        # flags — checkpoint so the LSH clustering runs once
        clusters = neardup_clusters_df(fd_in).localCheckpoint(eager=True)
        keep = cluster_canonical_from(clusters, fd_in) \
            .select("cluster", "keep_doc_id")
        fd_losers = (
            clusters.join(keep, "cluster")  # multi-member clusters only
            .filter(F.col("doc_id") != F.col("keep_doc_id"))
            .select("doc_id", F.lit(True).alias("_fuzzy_dup"))
        )
        flags = flags.join(fd_losers, "doc_id", "left") \
            .fillna({"_fuzzy_dup": False})
    else:
        flags = flags.withColumn("_fuzzy_dup", F.lit(False))

    # 2b (optional): LM quality gate (CCNet-style) — a corpus-trained
    # bigram LM scores each doc by average negative log-likelihood; docs
    # above --max-lm-nll (improbable word soup) are flagged. The LM is
    # trained on the exact-dedup + quality survivors so junk the earlier
    # gates already caught cannot distort the counts.
    if max_lm_nll is not None:
        from extract_ocr_spark.operators.textanalysis import lm_nll_scores_df

        lm_bad = (
            lm_nll_scores_df(
                flags.filter(F.col("_canonical") & F.col("_quality")
                             & ~F.col("_fuzzy_dup")).select("doc_id", "text"))
            .filter(F.col("avg_nll") > max_lm_nll)
            .select("doc_id", F.lit(True).alias("_lm_bad"))
        )
        flags = flags.join(lm_bad, "doc_id", "left") \
            .fillna({"_lm_bad": False})
    else:
        flags = flags.withColumn("_lm_bad", F.lit(False))

    # 2c (optional): hashed-linear-classifier gate — the fastText-style
    # scored twin of the boolean quality heuristics; docs scoring below
    # --min-classifier-score are flagged. Same cached-flag-frame input
    # discipline as the LM gate: one slim (doc_id, text) projection of
    # the survivors, one groupBy, joined back as a flag.
    if min_classifier_score is not None:
        from extract_ocr_spark.operators.textanalysis import (
            quality_classifier_df,
        )

        clf_bad = (
            quality_classifier_df(
                flags.filter(F.col("_canonical") & F.col("_quality")
                             & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad"))
                .select("doc_id", "text"),
                threshold=min_classifier_score, ordered=False)
            .filter(~F.col("keep"))
            .select("doc_id", F.lit(True).alias("_clf_bad"))
        )
        flags = flags.join(clf_bad, "doc_id", "left") \
            .fillna({"_clf_bad": False})
    else:
        flags = flags.withColumn("_clf_bad", F.lit(False))

    # 2d (optional): Gopher rule-set gate — the full MassiveText
    # Appendix-A document rules (word/line shape, symbol ratio, stopword
    # gate) as one map-only flag over the survivors; complements the
    # repetition flag below (which owns the dup-line/top-2gram rules).
    if gopher:
        from extract_ocr_spark.operators.textanalysis import gopher_rules_df

        gopher_bad = (
            gopher_rules_df(
                flags.filter(F.col("_canonical") & F.col("_quality")
                             & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
                             & ~F.col("_clf_bad"))
                .select("doc_id", "text"))
            .filter(~F.col("keep"))
            .select("doc_id", F.lit(True).alias("_gopher_bad"))
        )
        flags = flags.join(gopher_bad, "doc_id", "left") \
            .fillna({"_gopher_bad": False})
    else:
        flags = flags.withColumn("_gopher_bad", F.lit(False))

    # 2e (optional): DSIR gate — hashed-ngram importance log-ratio of
    # each doc vs the --dsir-target-lang slice (Xie et al. 2023); docs
    # below --min-dsir-logratio (least target-like) are flagged. The
    # distributions are estimated over the survivors so already-rejected
    # junk cannot distort the raw model.
    if min_dsir_logratio is not None:
        from extract_ocr_spark.operators.curation import dsir_weights_df

        if "lang" not in flags.columns:
            raise ValueError(
                "--min-dsir-logratio requires a 'lang' column on the input")
        dsir_bad = (
            dsir_weights_df(
                flags.filter(F.col("_canonical") & F.col("_quality")
                             & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
                             & ~F.col("_clf_bad") & ~F.col("_gopher_bad"))
                .select("doc_id", "text", "lang"),
                target_lang=dsir_target_lang)
            .filter(F.col("log_ratio") < min_dsir_logratio)
            .select("doc_id", F.lit(True).alias("_dsir_bad"))
        )
        flags = flags.join(dsir_bad, "doc_id", "left") \
            .fillna({"_dsir_bad": False})
    else:
        flags = flags.withColumn("_dsir_bad", F.lit(False))

    # 3: repetition flag (Gopher-style), computed only over the docs that
    # survived 1-2 — same input set as the old staged form, one
    # explode+agg keyed on doc_id, joined back as a flag
    rep = repetition_metrics_df(
        flags.filter(F.col("_canonical") & F.col("_quality")
                     & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
                     & ~F.col("_clf_bad") & ~F.col("_gopher_bad")
                     & ~F.col("_dsir_bad"))
        .select("doc_id", "text"))
    repetitive = rep.filter(
        (F.col("dup_line_frac") > max_dup_line_frac)
        | (F.col("top_2gram_frac") > max_top_2gram_frac)
    ).select("doc_id", F.lit(True).alias("_repetitive"))
    flags = flags.join(repetitive, "doc_id", "left") \
        .fillna({"_repetitive": False})

    # 4: decontamination flag — docs sharing >= K distinct shingles with
    # the eval set. Inverted index (never a cross join); hot boilerplate
    # shingles (df > cap) dropped from the corpus side before the join so
    # a footer shared by 10^6 docs cannot fan out; the tiny eval side is
    # broadcast. Eval shingles come from the RAW input (a benchmark doc
    # must decontaminate the corpus even if it would itself fail a
    # corpus quality gate).
    eval_sh = (
        _with_shingles(docs.filter(is_eval))
        .select(F.explode("shingles").alias("shingle")).distinct()
    )
    corpus_side = flags.filter(
        F.col("_canonical") & F.col("_quality") & ~F.col("_fuzzy_dup")
        & ~F.col("_lm_bad") & ~F.col("_clf_bad") & ~F.col("_gopher_bad")
        & ~F.col("_dsir_bad") & ~F.col("_repetitive") & ~is_eval)
    corpus_sh = _drop_hot_shingles(
        _with_shingles(corpus_side)
        .select("doc_id", F.explode("shingles").alias("shingle")))
    contaminated = (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id").agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared_shingles)
        .select("doc_id", F.lit(True).alias("_contaminated"))
    )
    flags = flags.join(contaminated, "doc_id", "left") \
        .fillna({"_contaminated": False}) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    # ONE aggregate over the cached flag frame for every stage count
    def _n(cond):
        return F.sum(cond.cast("long"))

    canon = F.col("_canonical")
    qual = canon & F.col("_quality")
    c = flags.agg(
        F.count("*").alias("docs_in"),
        _n(canon).alias("after_dedup"),
        _n(qual).alias("after_quality"),
        _n(qual & F.col("_fuzzy_dup")).alias("fuzzy_dropped"),
        _n(qual & ~F.col("_fuzzy_dup")
           & F.col("_lm_bad")).alias("lm_dropped"),
        _n(qual & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
           & F.col("_clf_bad")).alias("clf_dropped"),
        _n(qual & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
           & ~F.col("_clf_bad") & F.col("_gopher_bad"))
        .alias("gopher_dropped"),
        _n(qual & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
           & ~F.col("_clf_bad") & ~F.col("_gopher_bad")
           & F.col("_dsir_bad")).alias("dsir_dropped"),
        _n(qual & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
           & ~F.col("_clf_bad") & ~F.col("_gopher_bad")
           & ~F.col("_dsir_bad") & F.col("_repetitive"))
        .alias("repetitive_dropped"),
        _n(F.col("_contaminated")).alias("contaminated_dropped"),
    ).first()

    clean = flags.filter(
        canon & F.col("_quality") & ~F.col("_fuzzy_dup") & ~F.col("_lm_bad")
        & ~F.col("_clf_bad") & ~F.col("_gopher_bad") & ~F.col("_dsir_bad")
        & ~F.col("_repetitive") & ~F.col("_contaminated") & ~is_eval
    ).select(*in_cols)

    # 4b (optional): paragraph-level dedup — rewrite every surviving doc
    # keeping only the corpus-wide FIRST occurrence of each paragraph
    # block (CCNet-style); docs left with zero paragraphs drop out.
    # Runs after the gates so junk docs cannot "claim" a paragraph's
    # first occurrence, and before sampling/chunking/splits so those all
    # see the rewritten text. Persisted: the stats aggregate and the
    # downstream pipeline both read it.
    pd_frame = None
    para_stats = None
    if paragraph_dedup:
        from extract_ocr_spark.operators.curation import (
            PARA_TOKENS,
            paragraph_dedup_df,
        )

        pd_frame = paragraph_dedup_df(
            clean, p=para_tokens or PARA_TOKENS) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        para_stats = pd_frame.agg(
            F.sum("n_paras").alias("paras_in"),
            F.sum(F.col("n_paras") - F.col("n_kept")).alias("dropped"),
            F.sum((F.col("n_kept") == 0).cast("long")).alias("emptied"),
        ).first()
        clean = (clean.drop("text", "n_chars")
                 .join(pd_frame.filter(F.col("n_kept") > 0)
                       .select("doc_id",
                               F.col("text_kept").alias("text"),
                               F.length("text_kept").cast("long")
                               .alias("n_chars")),
                       "doc_id")
                 .select(*in_cols))

    # 5: optional per-source mixture sampling
    sampled = stratified_sample_df(clean).drop("rate") \
        if mixture_sampling else clean

    # 5b (optional): token-window chunking — long documents become
    # overlapping win/stride chunks BEFORE split assignment, so the
    # splits, shuffle keys, and packing all operate on training-shaped
    # rows; the chunk index composes into the doc_id (doc#chunk). No
    # presentation sort (ordered=False): the write repartitions anyway.
    if chunk_tokens is not None:
        carry = tuple(c for c in in_cols
                      if c not in ("doc_id", "text", "n_chars"))
        ch = chunk_documents_df(
            sampled, win=chunk_tokens,
            stride=chunk_stride or chunk_tokens, carry=carry,
            ordered=False)
        sampled = ch.select(
            F.concat_ws("#", F.col("doc_id").cast("string"),
                        F.col("chunk_id").cast("string")).alias("doc_id"),
            F.col("chunk_text").alias("text"), *carry,
            F.length("chunk_text").cast("long").alias("n_chars"))

    # 6-7: splits + reproducible shuffle key + train-split packing
    final = split_assign_df(sampled).withColumn(
        "shuffle_key",
        F.sha2(F.concat(F.lit("epoch-1:"), F.col("doc_id").cast("string")), 256),
    )
    packed = pack_sequences_df(
        final.filter(F.col("split") == "train"), budget=pack_budget
    ).select("doc_id", "shard", "seq_id")
    final = final.join(packed, "doc_id", "left") \
        .persist(StorageLevel.MEMORY_AND_DISK)

    # write — partition by split, globally ordered by shuffle key WITHIN
    # each split across many files. repartitionByRange on (split,
    # shuffle_key) keeps rows of one split range-contiguous (so
    # partitionBy("split") still writes one file per task per split) while
    # spreading each split over ~n_write tasks. The previous
    # `repartition("split")` hashed a 3-value column: each split landed in
    # exactly ONE partition, so a single task sorted and wrote the entire
    # train split (~90% of the corpus — at 10^12 docs, one executor
    # funneling ~90 TB). Range partitioning restores full write
    # parallelism and upgrades the per-file sort to a per-split total
    # order (file k's keys all precede file k+1's).
    # NB the sort leads with "split": the partitioned writer REQUIRES an
    # ordering on the partition column and, if the child ordering doesn't
    # satisfy it, inserts its own (unstable) sort by split alone — which
    # would destroy the shuffle_key order. Leading with split satisfies
    # the writer's requirement, so no extra sort is added.
    n_write = write_partitions or max(spark.sparkContext.defaultParallelism, 8)
    (final.repartitionByRange(n_write, "split", "shuffle_key")
     .sortWithinPartitions("split", "shuffle_key")
     .write.mode("overwrite").partitionBy("split")
     .parquet(f"{output}/corpus"))

    # Stats from the final frame, not a read-back: a fully-filtered corpus
    # writes no parquet files and a bare read would fail schema inference.
    by_split = {r["split"]: r["n"] for r in
                final.groupBy("split").agg(F.count("*").alias("n")).collect()}
    base_flags.unpersist()
    stats = {
        "docs_in": c["docs_in"],
        "after_dedup": c["after_dedup"],
        "after_quality": c["after_quality"],
        "fuzzy_dropped": c["fuzzy_dropped"],
        "lm_dropped": c["lm_dropped"],
        "clf_dropped": c["clf_dropped"],
        "gopher_dropped": c["gopher_dropped"],
        "dsir_dropped": c["dsir_dropped"],
        "repetitive_dropped": c["repetitive_dropped"],
        "contaminated_dropped": c["contaminated_dropped"],
        "paras_in": int(para_stats["paras_in"] or 0)
        if paragraph_dedup else None,
        "paras_dropped": int(para_stats["dropped"] or 0)
        if paragraph_dedup else None,
        "para_emptied_docs": int(para_stats["emptied"] or 0)
        if paragraph_dedup else None,
        "chunk_tokens": chunk_tokens,
        "docs_out": sum(by_split.values()),
        "by_split": by_split,
        "train_sequences": final.filter(F.col("split") == "train")
                                .select("shard", "seq_id").distinct().count(),
    }
    final.unpersist()
    flags.unpersist()
    if pd_frame is not None:
        pd_frame.unpersist()
    with open(f"{output}/stats.json", "w") as f:
        json.dump(stats, f, indent=1)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--eval-ids", default="0,1,2,3,4",
                    help="doc_ids forming the decontamination eval set")
    ap.add_argument("--min-shared-shingles", type=int, default=5)
    ap.add_argument("--max-dup-line-frac", type=float, default=0.30)
    ap.add_argument("--max-top-2gram-frac", type=float, default=0.20)
    ap.add_argument("--mixture-sampling", action="store_true",
                    help="apply per-source stratified sampling rates")
    ap.add_argument("--fuzzy-dedup", action="store_true",
                    help="MinHash near-dup clustering after exact dedup; "
                         "keep one doc per cluster")
    ap.add_argument("--min-classifier-score", type=float, default=None,
                    help="drop docs whose hashed-linear-classifier "
                         "quality score falls below this threshold")
    ap.add_argument("--max-lm-nll", type=float, default=None,
                    help="drop docs whose corpus-bigram-LM avg negative "
                         "log-likelihood exceeds this (CCNet-style gate)")
    ap.add_argument("--gopher", action="store_true",
                    help="apply the Gopher/MassiveText Appendix-A document "
                         "rule set (word/line shape, symbol ratio, "
                         "stopword gate)")
    ap.add_argument("--min-dsir-logratio", type=float, default=None,
                    help="drop docs whose DSIR importance log-ratio vs the "
                         "--dsir-target-lang slice falls below this")
    ap.add_argument("--dsir-target-lang", default="en",
                    help="lang value defining the DSIR target slice")
    ap.add_argument("--paragraph-dedup", action="store_true",
                    help="rewrite surviving docs keeping only the "
                         "corpus-wide first occurrence of each paragraph "
                         "block (CCNet-style sub-document dedup)")
    ap.add_argument("--para-tokens", type=int, default=None,
                    help="tokens per paragraph block for --paragraph-dedup "
                         "(default: operators.curation.PARA_TOKENS; tune "
                         "UP on real corpora — 6 is sized to the "
                         "synthetic corpus's duplicate-run length)")
    ap.add_argument("--chunk-tokens", type=int, default=None,
                    help="token-window chunk size: long docs become "
                         "overlapping chunks before splits/packing")
    ap.add_argument("--chunk-stride", type=int, default=None,
                    help="chunk stride (default: chunk-tokens, i.e. "
                         "non-overlapping)")
    ap.add_argument("--pack-budget", type=int, default=2048,
                    help="tokens per packed training sequence")
    ap.add_argument("--write-partitions", type=int, default=None,
                    help="range partitions for the final write (default: "
                         "cluster default parallelism)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("extract_ocr_spark-curate").getOrCreate()
    docs = (
        spark.read.table(args.input)
        if "." in args.input and "/" not in args.input
        else spark.read.parquet(args.input)
    )
    stats = run(
        spark, docs, args.output,
        eval_ids=[int(x) for x in args.eval_ids.split(",") if x != ""],
        min_shared_shingles=args.min_shared_shingles,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top_2gram_frac=args.max_top_2gram_frac,
        mixture_sampling=args.mixture_sampling,
        fuzzy_dedup=args.fuzzy_dedup,
        max_lm_nll=args.max_lm_nll,
        min_classifier_score=args.min_classifier_score,
        gopher=args.gopher,
        min_dsir_logratio=args.min_dsir_logratio,
        dsir_target_lang=args.dsir_target_lang,
        paragraph_dedup=args.paragraph_dedup,
        para_tokens=args.para_tokens,
        chunk_tokens=args.chunk_tokens,
        chunk_stride=args.chunk_stride,
        pack_budget=args.pack_budget,
        write_partitions=args.write_partitions,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
