"""Physical-plan pins for the newest operators: the shapes the PLANS.md
scale arguments rely on (single-pass aggregation, no Python in the hot
path, no pair-space blowup joins)."""

from __future__ import annotations


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    rows = [(i, f"some text number {i} with a few words", "en", "s", 30)
            for i in range(20)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_quality_classifier_plan_map_only_no_python(spark):
    """ZERO exchanges, zero Python evals: the per-doc score is an array
    fold, so a doc's tokens never leave its row and the scorer is one
    codegen projection (the shape that also lets qc_scored_rows run on
    an unbounded stream). The token split must appear exactly once —
    the staged projection keeps CollapseProject from inlining it per
    consumer."""
    from extract_ocr_spark.operators.textanalysis import quality_classifier_df

    plan = _plan(quality_classifier_df(_docs(spark), ordered=False))
    assert plan.count("Exchange") == 0, plan
    assert plan.count("split(") == 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_corpus_report_plan_single_pass_no_python(spark):
    """The data card reads its input once (one scan feeding the
    source-keyed aggregate; the distinct-dup count rides the same
    aggregation via expand, not a second read) and stays JVM-side."""
    from extract_ocr_spark.operators.curation import corpus_report_df

    plan = _plan(corpus_report_df(_docs(spark)))
    assert plan.count("Scan ExistingRDD") == 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_assignment_plan_is_native(spark):
    """The centroid assignment (the per-row hot path) is a pure codegen
    projection: no shuffle, no Python eval. (The downstream join is
    covered by the numpy-parity tests; its frame is localCheckpointed so
    the returned plan is not inspectable.)"""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.similarity import _cell_expr

    emb = spark.range(50).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), x -> cast(x AS double)) AS emb")
    plan = _plan(emb.withColumn("cell", _cell_expr(F.col("emb"))))
    assert "Exchange" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_winnow_fingerprints_plan_one_shuffle_no_python(spark):
    """ONE exchange total: the doc_id window partitioning also satisfies
    the (doc_id, pos, fp) distinct's clustering requirement, so the
    dedup rides the same shuffle; everything stays JVM-side."""
    from extract_ocr_spark.operators.textanalysis import winnow_fingerprints_df

    plan = _plan(winnow_fingerprints_df(_docs(spark)))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(doc_id" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_paragraph_dedup_plan_single_tokenize_no_python(spark):
    """Documents are tokenized+exploded exactly ONCE (one Generate —
    n_paras rides the exploded rows, and the doc-list join side is a
    doc_id-only pruned scan), <= 3 exchanges (sha window, doc
    re-assembly, join), zero Python evals."""
    from extract_ocr_spark.operators.curation import paragraph_dedup_df

    plan = _plan(paragraph_dedup_df(_docs(spark)))
    assert plan.count("Generate") == 1, plan
    assert plan.count("Exchange") <= 3, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_gopher_rules_plan_map_only_no_python(spark):
    """Every Gopher rule is a per-row JVM expression: zero exchanges,
    zero Python evals — at cluster scale this is a map-only stage."""
    from extract_ocr_spark.operators.textanalysis import gopher_rules_df

    plan = _plan(gopher_rules_df(_docs(spark)))
    assert plan.count("Exchange") == 0, plan
    # tokenize ONCE: exactly two splits survive (words + lines); the
    # staged projection keeps CollapseProject from inlining the
    # non-cheap split into every rule lambda (~7 tokenizes per row)
    assert plan.count("split(") == 2, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_dsir_weights_plan_broadcasts_distributions_no_python(spark):
    """The raw/target bucket distributions (<= DSIR_BUCKETS rows) join
    back via broadcast — the per-doc occurrence table is never hash-
    shuffled for the scoring join — and nothing drops to Python."""
    from extract_ocr_spark.operators.curation import dsir_weights_df

    plan = _plan(dsir_weights_df(_docs(spark), _checkpoint=False))
    assert "BroadcastHashJoin" in plan, plan          # occ ⋈ raw/tgt dists
    assert "BroadcastNestedLoopJoin" in plan, plan    # the 1-row totals
    # exactly one non-broadcast join is allowed: the final docs ⋈ agg
    # assembly, where BOTH sides are corpus-sized (per-doc rows) — a
    # shuffle join is the correct plan there
    assert plan.count("SortMergeJoin") <= 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tfidf_plan_window_group_limit_no_python(spark):
    """The per-doc top-k compiles to WindowGroupLimit (map-side k-filter,
    never a full per-doc sort of the whole tf table); the df join carries
    NO broadcast hint (vocabulary grows with the corpus — at 100 TB it
    must be free to shuffle); nothing drops to Python."""
    from extract_ocr_spark.operators.textanalysis import tfidf_top_terms_df

    plan = _plan(tfidf_top_terms_df(_docs(spark)))
    assert "WindowGroupLimit" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_containment_plan_caps_before_self_join_no_python(spark):
    """The stop-shingle df-cap (an aggregate over the inverted index)
    must sit BELOW the pair self-join in the plan — the cap is the only
    thing bounding hot-shingle pair fan-out to O(cap * df) — and the
    whole query stays JVM-side with no cartesian join."""
    from extract_ocr_spark.operators.dedup import containment_pairs

    plan = _plan(containment_pairs(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan
    # the anti-join implementing `shingle NOT IN hot` appears on each
    # input of the pair join, i.e. at least twice in the plan tree
    assert plan.count("LeftAnti") >= 2 or plan.count("left_anti") >= 2, plan


def test_crawl_schedule_plan_one_host_window_no_python(spark):
    """One hash exchange (the per-host window; the trailing range
    exchange is the presentation orderBy) and zero Python evals — at web
    scale the scheduler parallelizes across hosts."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.links import (
        DELAY_BUCKETS,
        N_HOSTS,
    )
    from pyspark.sql.window import Window

    docs = _docs(spark).select("doc_id")
    host_n = F.col("doc_id") % N_HOSTS
    w = Window.partitionBy("host").orderBy("doc_id")
    df = (docs.select("doc_id",
                      F.concat(F.lit("h"), host_n).alias("host"),
                      (host_n % DELAY_BUCKETS + 1).alias("delay_s"))
          .withColumn("slot", F.row_number().over(w) - 1))
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(host" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_crawl_diff_plan_single_shuffle_join_no_python(spark):
    """The snapshot diff is exactly one join (full outer on the doc key)
    with per-row sha comparison — no Python, no cartesian, and no second
    join sneaking in."""
    from extract_ocr_spark.operators.links import crawl_diff_query

    plan = _plan(crawl_diff_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 1, plan
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_token_budget_sample_plan_one_source_window_no_python(spark):
    """One hash exchange (the per-source running total) and zero Python
    evals — sources are the parallelism axis, all arithmetic integer."""
    from extract_ocr_spark.operators.curation import token_budget_sample_df

    plan = _plan(token_budget_sample_df(_docs(spark), ordered=False))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(source" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_ccnet_buckets_plan_lang_window_no_python(spark):
    """Downstream of the (separately characterized, checkpointed) LM
    scoring, bucketing adds one lang-partitioned window and stays
    JVM-side: no Python evals, no cartesian."""
    from extract_ocr_spark.operators.textanalysis import ccnet_buckets_df

    plan = _plan(ccnet_buckets_df(_docs(spark)))
    assert "hashpartitioning(lang" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_bloom_url_seen_plan_broadcast_probe_no_python(spark, tmp_path):
    """The probe joins the packed filter by BROADCAST (the bitmap is
    O(bits/32) rows — bounded by the sizing budget, not the corpus), the
    only nested-loop joins are the single-row m scalar, and the whole
    operator is JVM-native."""
    from extract_ocr_spark.operators.links import bloom_url_seen_query

    rows = [(i, "x", "en", "s", 1) for i in range(50)]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d))

    plan = _plan(bloom_url_seen_query(spark, str(tmp_path)))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_inverted_index_plan_jvm_native_no_cartesian(spark):
    """The index build stays JVM-side end-to-end; the df-cap join never
    degrades to a cartesian. (The doc scan legitimately appears twice —
    re-tokenizing is one extra codegen pass, cheaper at corpus scale
    than shuffle-materializing the exploded pairs.)"""
    from extract_ocr_spark.operators.textanalysis import inverted_index_df

    plan = _plan(inverted_index_df(_docs(spark)))
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_minhash_est_pairs_plan_inlined_perms_no_python(spark):
    """Signature build (r6 shape): the 128 permutation coefficients are
    inlined literals inside ONE map-side-combined aggregation — no
    broadcast perm table, no nested-loop expansion, no 128× row blowup.
    Final pair plan: no cartesian, and the numpy minhash kernel is NOT
    on this query's path (JVM-native)."""
    from extract_ocr_spark.operators.dedup import (
        _est_signatures_df,
        minhash_est_pairs_df,
    )

    rows = [(i, f"common words run {i % 4} over and over again plus "
                f"suffix {i}", "en", "s", 40) for i in range(12)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    pys = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
           "MapInPandas")

    sig_plan = _plan(_est_signatures_df(docs))
    assert "BroadcastNestedLoopJoin" not in sig_plan, sig_plan
    assert "CartesianProduct" not in sig_plan, sig_plan
    assert "partial_min" in sig_plan, sig_plan
    # exactly one exchange: the min aggregation's (no (doc, i) re-shuffle)
    assert sig_plan.count("Exchange") == 1, sig_plan
    for py in pys:
        assert py not in sig_plan, sig_plan

    # the signature table is checkpointed before the pair joins — the
    # final plan must have no cartesian (never a doc-pair cross product)
    plan = _plan(minhash_est_pairs_df(docs))
    assert "CartesianProduct" not in plan, plan
    for py in pys:
        assert py not in plan, plan


def test_caption_pairs_plan_one_doc_window_no_python(spark):
    """Caption alignment is ONE window pass partitioned by doc_id (both
    IGNORE NULLS frames share the partitioning, so one hash exchange
    plus the presentation orderBy) — no join, no Python, no pair blowup."""
    from extract_ocr_spark.operators.interleave import caption_pairs_query

    plan = _plan(caption_pairs_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_interleave_stats_plan_jvm_native_no_cartesian(spark):
    """The structure report stays JVM-side: lag + gaps-and-islands
    windows, one doc-keyed aggregate, one doc-keyed join — never a
    cartesian, never Python."""
    from extract_ocr_spark.operators.interleave import interleave_stats_query

    plan = _plan(interleave_stats_query(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_embedding_norm_outliers_plan_one_label_window_no_python(spark):
    """The norm fold is a codegen-side higher-order aggregate and the
    rank/count pair shares ONE label-partitioned exchange — labels are
    the parallelism axis, no global sort before the presentation
    orderBy, no Python."""
    from extract_ocr_spark.operators.similarity import embedding_norm_outliers

    plan = _plan(embedding_norm_outliers(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(label") == 1, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_host_reputation_plan_partial_agg_no_python(spark):
    """One host-keyed aggregate with map-side partial aggregation (the
    shuffle carries O(hosts) partial rows, not O(docs)) — no window, no
    join, no Python."""
    from extract_ocr_spark.operators.links import host_reputation_query

    plan = _plan(host_reputation_query(spark, "/root/testdata/sf0.001"))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert plan.count("hashpartitioning(host") == 1, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_asof_join_plan_one_user_window_no_join_no_python(spark):
    """The as-of join is union-tagging + ONE user-partitioned window —
    never a join operator at all (a range-condition join would degrade
    to BroadcastNestedLoop), never Python."""
    from extract_ocr_spark.operators.temporal import asof_join_query

    plan = _plan(asof_join_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_range_join_bins_plan_equi_join_not_nested_loop(spark):
    """The bin-and-prune rewrite turns the range predicate into an EQUI
    join on the bucket key: the plan must carry a BroadcastHashJoin and
    must NOT fall back to the nested-loop/cartesian shape a raw range
    condition produces."""
    from extract_ocr_spark.operators.temporal import range_join_bins_query

    plan = _plan(range_join_bins_query(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_hypertable_rollup_plan_single_scan_expand(spark):
    """Both granularities come out of ONE scan via the grouping-sets
    Expand — not two aggregation passes over the input — and the whole
    rollup is JVM-side."""
    from extract_ocr_spark.operators.temporal import hypertable_rollup_query

    plan = _plan(hypertable_rollup_query(spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_event_funnel_plan_one_user_aggregate_no_join_no_python(spark):
    """The funnel is ONE user-keyed collect_list + a JVM-side ordered
    fold: exactly one exchange on user_id, no join, no window, and no
    Python evaluation anywhere."""
    from extract_ocr_spark.operators.temporal import event_funnel_query

    plan = _plan(event_funnel_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan


def test_anchor_text_agg_plan_two_phase_aggs_no_join_no_window(spark):
    """The anchor rollup is kernel extraction + two two-phase aggregates
    ((url, anchor) counts, then the per-url arg-min rollup) — partial
    aggregation must be present (it is what flattens the corpus-wide hot
    '/shared' key), and there must be no join and no window."""
    from extract_ocr_spark.operators.links import anchor_text_agg_query

    plan = _plan(anchor_text_agg_query(spark, "/root/testdata/sf0.001"))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_kmeans_final_plan_map_only_no_join_no_python(spark):
    """Lloyd's on Spark: the centroids are plan LITERALS, so the returned
    assignment must be map-only — no join, no window, no Python eval;
    the only exchange is the presentation orderBy."""
    from extract_ocr_spark.operators.similarity import kmeans_clusters

    plan = _plan(kmeans_clusters(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas"):
        assert py not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_skipgram_pairs_plan_map_only_pairs_one_agg(spark):
    """Pair construction must be slice/zip_with map work — no self-join,
    no window — with partial aggregation absorbing hot stopword pairs."""
    from extract_ocr_spark.operators.textanalysis import skipgram_pairs

    plan = _plan(skipgram_pairs(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial_count" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_triangle_count_plan_shuffle_joins_no_cartesian_no_python(spark):
    """The triangle closure must run as key-equi joins over the oriented
    edge list — never a nested-loop/cartesian pair space — and stay
    JVM-side with partial aggregation on the corner counts."""
    from extract_ocr_spark.operators.links import (_block_edges,
                                                   triangle_count_df)

    edges = _block_edges(spark, "/root/testdata/sf0.001")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id")
    plan = _plan(triangle_count_df(docs, edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_label_propagation_final_plan_one_window_no_python(spark):
    """Each LPA iteration localCheckpoints, so the returned plan is the
    community-size window over the final label table: exactly one window,
    one label exchange, no join, no Python."""
    from extract_ocr_spark.operators.links import label_propagation_query

    plan = _plan(label_propagation_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_hll_distinct_plan_two_phase_registers_no_python(spark):
    """The register build must partial-aggregate (per-partition register
    vectors merge by max before the shuffle — the mergeable-sketch
    property) and the whole sketch stays JVM-side."""
    from extract_ocr_spark.operators.textanalysis import hll_distinct_df

    plan = _plan(hll_distinct_df(_docs(spark)))
    assert "partial_max" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_cms_estimates_plan_vocab_join_partial_agg_no_python(spark):
    """Sketch build + probe runs over the token-counts table (vocab-
    bounded), with partial aggregation on the bucket sums and an equi
    join (never nested-loop) for the probe."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.textanalysis import _cms_estimates

    counts = _docs(spark).selectExpr("lower(text) AS t").selectExpr(
        "explode(split(t, ' ')) AS tok").groupBy("tok").agg(
            F.count("*").alias("true_count"))
    plan = _plan(_cms_estimates(counts, 1000))
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_pca_gram_matrix_plan_partial_agg_no_python(spark):
    """The corpus-sized stage of pca_top_component is the gram matrix:
    its groupBy must partial-aggregate (each task compresses to <= dim^2
    cells before the one shuffle) with no join and no Python eval. Pins
    the PRODUCTION stage (pca_gram_df), not a copy."""
    from extract_ocr_spark.operators.similarity import pca_gram_df

    emb = spark.range(50).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), x -> cast(x AS double) / 10) AS embedding")
    plan = _plan(pca_gram_df(emb))
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_contamination_embedding_plan_map_only_no_join_no_python(spark):
    """The eval set rides as literals, so scoring must be MAP-ONLY: no
    join, no window, no Python; the only exchange is the presentation
    orderBy."""
    from extract_ocr_spark.operators.similarity import contamination_embedding

    plan = _plan(contamination_embedding(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_cohort_retention_plan_partial_agg_no_python(spark):
    """One user-keyed aggregate + one user-keyed join is the inherent
    cost; the (cohort, day) rollup must partial-aggregate and nothing
    drops to Python or a cartesian. Pins the PRODUCTION lazy stage
    (cohort_retention_df), pre-checkpoint."""
    from extract_ocr_spark.operators.temporal import (_first_seen_df,
                                                      cohort_retention_df)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("user_id", "ts", "event_type")
    plan = _plan(cohort_retention_df(ev, _first_seen_df(ev)))
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_link_prediction_uses_takeordered_and_anti_join(spark):
    """The top-K must be a TakeOrdered (never a global sort of the wedge
    table) and existing edges must leave via a left-anti join. Pins the
    PRODUCTION lazy stage (link_prediction_df), pre-checkpoint."""
    from extract_ocr_spark.operators.links import (_block_edges,
                                                   link_prediction_df)

    edges = _block_edges(spark, "/root/testdata/sf0.001")
    plan = _plan(link_prediction_df(edges))
    assert "TakeOrderedAndProject" in plan, plan
    assert "LeftAnti" in plan or "left_anti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_markov_transitions_plan_one_user_window_no_python(spark):
    """ONE user-keyed window shuffle is the inherent cost; the pair count
    partial-aggregates and the row-total join never goes nested-loop."""
    from extract_ocr_spark.operators.temporal import markov_transitions_query

    plan = _plan(markov_transitions_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_dwell_times_plan_one_user_window_no_python(spark):
    """Same single-window shape as markov_transitions; the microsecond
    arithmetic is a JVM expression, never Python."""
    from extract_ocr_spark.operators.temporal import dwell_times_query

    plan = _plan(dwell_times_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_top_orders_revenue_pushdown_and_takeordered(spark):
    """The Q3 filters must reach the parquet scans (PushedFilters on
    segment and both dates), the top-10 must be a TakeOrdered, and the
    joins must never go nested-loop."""
    from extract_ocr_spark.operators.relational import (
        top_orders_revenue_query,
    )

    df = top_orders_revenue_query(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EqualTo(c_mktsegment" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    assert "GreaterThan(l_shipdate" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_churn_labels_plan_one_aggregate_no_join_no_python(spark):
    """Feature counts and the label ride ONE user-keyed conditional
    aggregate: exactly one hash exchange, no join, no window."""
    from extract_ocr_spark.operators.temporal import churn_labels_query

    plan = _plan(churn_labels_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_churn_labels_splits_and_no_leakage(spark):
    """The label channel must be non-degenerate (both labels occur at
    test scale), and the feature counts must cover EXACTLY the events
    before the cut — if the `before` predicate leaked label-window
    events into the features, the global feature total would exceed the
    independently computed pre-cut event count."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.temporal import (
        CHURN_LABEL_DAYS,
        churn_labels_query,
    )

    rows = churn_labels_query(spark, "/root/testdata/sf0.001").collect()
    labels = {r["churned"] for r in rows}
    assert labels == {True, False}, labels

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cut = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {CHURN_LABEL_DAYS} DAYS"))
        .alias("c")).collect()[0]["c"]
    expected = ev.filter(
        F.col("ts") < F.lit(cut.strftime("%Y-%m-%d %H:%M:%S.%f"))
        .cast("timestamp_ntz")).count()
    total_feats = sum(
        r["n_view"] + r["n_click"] + r["n_purchase"] + r["n_signup"]
        + r["n_error"] for r in rows)
    assert total_feats == expected, (total_feats, expected)


def test_regional_revenue_broadcasts_dims(spark):
    """region/nation must ride broadcast joins (never shuffle the fact
    side on a 5-row dim key); no nested-loop, no Python."""
    from extract_ocr_spark.operators.relational import regional_revenue_query

    plan = _plan(regional_revenue_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_promo_share_one_join_one_agg(spark):
    """One lineitem⋈part equi join, one month-keyed aggregate with
    partial combine; no window, no Python."""
    from extract_ocr_spark.operators.relational import (
        promo_revenue_share_query,
    )

    plan = _plan(promo_revenue_share_query(spark, "/root/testdata/sf0.001"))
    assert "partial_sum" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_daily_anomalies_window_after_aggregate(spark):
    """The unpartitioned trailing window must sit ABOVE the day-keyed
    aggregate (it runs over the ~30-row days table, never the raw
    corpus): the plan's single-partition exchange feeds a Window whose
    child contains the HashAggregate."""
    from extract_ocr_spark.operators.temporal import daily_anomalies_query

    plan = _plan(daily_anomalies_query(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan, plan
    # the aggregate is below the window in the operator tree
    assert plan.index("HashAggregate") > plan.index("Window"), plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_trailing_hour_counts_range_frame_no_python(spark):
    """The RANGE frame must survive into the physical window spec
    (specifiedwindowframe(RangeFrame ...)) on ONE user-keyed exchange."""
    from extract_ocr_spark.operators.temporal import (
        trailing_hour_counts_query,
    )

    plan = _plan(trailing_hour_counts_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "RangeFrame" in plan, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_large_orders_aggregates_before_join(spark):
    """The qty rollup (and its HAVING cut) must sit BELOW the joins —
    aggregate-then-join, so line items never ride through the customer
    join — and the top-20 is a TakeOrdered."""
    from extract_ocr_spark.operators.relational import large_orders_query

    plan = _plan(large_orders_query(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the aggregate appears deeper in the tree than the outermost join
    first_join = min(i for i in (
        plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
        plan.find("ShuffledHashJoin")) if i >= 0)
    assert plan.find("HashAggregate", first_join) > first_join, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_prefix_filter_pairs_pins(spark):
    """Candidates must come from the per-doc rarity window (prefix
    positions) + an equi join — never a cartesian. Pins the PRODUCTION
    candidate stage (key_pairs over _prefix_tokens_df),
    pre-persist/checkpoint."""
    from extract_ocr_spark.operators import key_pairs
    from extract_ocr_spark.operators.dedup import (_prefix_tokens_df,
                                                   _with_shingles)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = _with_shingles(docs).select("doc_id", "shingles")
    plan = _plan(key_pairs(_prefix_tokens_df(sh), "sh"))
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_path_trigrams_one_window_takeordered(spark):
    """Both leads ride ONE user window; the top-20 is a TakeOrdered over
    the |types|^3-bounded count table."""
    from extract_ocr_spark.operators.temporal import path_trigrams_query

    plan = _plan(path_trigrams_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_user_event_pivot_one_aggregate_no_python(spark):
    """Explicit pivot values keep the schema a contract (no
    distinct-values pre-job), but pivot still compiles to TWO
    aggregates — a (user, type) count exchange then a pivotfirst on
    user — one more shuffle than churn_labels' conditional-CASE form.
    Pin the measured shape so the docstring's cost comparison stays
    honest; no join, no Python either way."""
    from extract_ocr_spark.operators.temporal import user_event_pivot_query

    plan = _plan(user_event_pivot_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning(user_id") == 2, plan
    assert "pivotfirst" in plan, plan
    assert "Join" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_incremental_dedup_capped_no_cartesian(spark):
    """The near channel joins new-batch postings against the corpus
    index with the stop-shingle anti-join bounding fan-out — never a
    cartesian, never Python. (Output is localCheckpointed; pin on the
    executed-plan string of the returned frame's lineage is impossible,
    so pin the LIVE query pre-collect via a fresh build.)"""
    from extract_ocr_spark.operators.dedup import (_drop_hot_shingles,
                                                   _with_shingles)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    eff = docs.withColumn("is_new", F.col("doc_id") % 10 == 0)
    inv = _with_shingles(eff).select(
        "doc_id", "is_new", F.size("shingles").alias("s"),
        F.explode("shingles").alias("shingle"))
    inv2 = _drop_hot_shingles(inv)
    n_side = inv2.filter(F.col("is_new")).select(
        F.col("doc_id").alias("new_id"), "shingle")
    o_side = inv2.filter(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), "shingle")
    p = (n_side.join(o_side, "shingle")
         .groupBy("new_id", "old_id").agg(F.count("*").alias("i")))
    plan = _plan(p)
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan or "left_anti" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def _executed_plans(spark, run) -> list[str]:
    """Formatted physical plans (``physicalPlanDescription``) of every SQL
    execution ``run()`` starts, read from the SQL status store — the
    way to see the executed plan of a frame that is localCheckpointed
    or collected inside the operator."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    first = max((e.executionId() for e in executions()), default=-1) + 1
    run()
    return [e.physicalPlanDescription() for e in executions()
            if e.executionId() >= first]


def _plan_nodes(desc: str) -> dict[int, str]:
    """Node id -> its detail section ("(7) Generate ...") of a formatted
    plan description."""
    import re

    return {int(m.group(1)): m.group(2)
            for m in re.finditer(r"\n\((\d+)\) (.*?)(?=\n\(\d+\) |\Z)",
                                 desc, re.S)}


def test_incremental_dedup_broadcasts_batch_side(spark):
    """Both channels broadcast the new batch, never the corpus: no
    BroadcastExchange of the executed query carries ``old_id`` (near
    channel postings) or ``o`` (exact channel md5 pairs). The result is
    localCheckpointed, so the executed plan is read from the SQL status
    store."""
    import re

    from extract_ocr_spark.operators.dedup import incremental_dedup

    inputs = [sec.splitlines()[1] for d in _executed_plans(
        spark, lambda: incremental_dedup(
            spark, "/root/testdata/sf0.001").collect())
        for sec in _plan_nodes(d).values()
        if sec.startswith("BroadcastExchange")]
    assert any("new_id" in i for i in inputs), inputs
    assert not any("old_id" in i for i in inputs), inputs
    assert any(re.search(r"\bh#", i) for i in inputs), inputs
    assert not any(re.search(r"\bo#", i) for i in inputs), inputs


def test_similarity_scores_each_vector_once(spark):
    """Per-vector folds run once per vector, not once per derived row:
    no Project evaluating the k-means scorer (``array_min(``) sits
    directly above the Lloyd update's posexplode Generate (there it ran
    once per exploded dimension), and semdedup's within-cell pair join
    folds no norm (``transform(``): each norm is folded once into the
    persisted assignment and the join only divides by it."""
    import re

    from extract_ocr_spark.operators.similarity import (kmeans_clusters,
                                                        semdedup)

    sf = "/root/testdata/sf0.001"
    generates = 0
    for d in _executed_plans(spark, lambda: kmeans_clusters(spark, sf)
                             .collect()):
        nodes = _plan_nodes(d)
        tree = re.findall(r"^[ :+\-*]*(\w+)(?: \w+)? +\((\d+)\)",
                          d.split("\n\n", 1)[0], re.M)
        for (up, i), (down, _) in zip(tree, tree[1:]):
            if down == "Generate":
                generates += 1
                assert not (up == "Project"
                            and "array_min(" in nodes[int(i)]), d
    assert generates, "the Lloyd update ran no posexplode"

    joins = [sec for d in _executed_plans(
        spark, lambda: semdedup(spark, sf).collect())
        for sec in _plan_nodes(d).values()
        if sec.split(None, 1)[0].endswith("Join")]
    assert joins, "semdedup ran no pair join"
    for sec in joins:
        assert "zip_with(" in sec, sec
        assert "transform(" not in sec, sec


def test_order_priority_counts_semi_join_and_pushdown(spark):
    """The EXISTS must compile to a LEFT SEMI join (one output row per
    order regardless of late-line multiplicity), the quarter filter
    must reach the orders scan, and no Python touches the path."""
    from extract_ocr_spark.operators.relational import (
        order_priority_counts_query)

    plan = _plan(order_priority_counts_query(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan, plan
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters", 1)[1][:500], plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_disjunctive_pricing_brand_prune_before_join(spark):
    """The hand-hoisted brand IN superset must land in the part scan's
    PushedFilters (the disjunction itself can't push), and the join is
    a single partkey equi join — no cartesian fallback."""
    from extract_ocr_spark.operators.relational import (
        disjunctive_pricing_query)

    plan = _plan(disjunctive_pricing_query(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    # the brand IN filter sits in the part file scan
    part_scan = plan[plan.find("part.parquet") - 2000:]
    assert "p_brand" in part_scan, plan
    joins = sum(plan.count(j) for j in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, plan


def test_salted_skew_join_salt_in_join_key(spark):
    """The physical join condition must carry the salt column alongside
    the flag key (the whole point of the pattern: each hot key spreads
    over SALT_BUCKETS hash buckets), and the dim side must have been
    exploded to SALT_BUCKETS rows per flag before joining."""
    from extract_ocr_spark.operators.relational import (
        SALT_BUCKETS, SALT_DIM, salted_skew_join_query)

    df = salted_skew_join_query(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    join_at = max(plan.find("Join"), 0)
    window = plan[join_at:join_at + 400]
    assert "salt" in window, plan
    assert "Generate explode" in plan, plan
    # correctness of the exploded dim cardinality: n_lines must equal the
    # plain per-flag line counts (salt-invariance), which the oracle also
    # proves; here just pin that all flags survived
    rows = {r["flag"]: r["n_lines"] for r in df.collect()}
    assert set(rows) == {f for f, _ in SALT_DIM}
    assert SALT_BUCKETS == 16


def test_weighted_sample_takeordered_no_sort(spark):
    """A-Res top-k must be a TakeOrderedAndProject (per-partition heaps),
    never a global Sort, and the key math stays in codegen."""
    from extract_ocr_spark.operators.curation import weighted_sample

    plan = _plan(weighted_sample(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_rfm_segments_aggregate_below_windows(spark):
    """The custkey rollup must run BEFORE the rank windows (windows see
    customer-cardinality rows, never raw orders), single scan, no
    Python."""
    from extract_ocr_spark.operators.relational import rfm_segments_query

    plan = _plan(rfm_segments_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 2 or plan.count(
        "FileScan") == 2, plan  # orders scan + the broadcast max-date scan
    first_window = plan.find("Window")
    assert first_window >= 0, plan
    # the per-customer aggregate (keyed on o_custkey) sits deeper than
    # the windows
    assert plan.find("o_custkey", first_window) > first_window, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_edit_distance_pairs_one_window_no_python(spark):
    """Sorted-neighborhood blocking = ONE lead window over the blocked
    slim projection; candidate pairs never go through a join (no pair
    blowup), and the levenshtein DP stays JVM-side."""
    from extract_ocr_spark.operators.dedup import edit_distance_pairs

    plan = _plan(edit_distance_pairs(spark, "/root/testdata/sf0.001"))
    assert plan.count("Window") == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct"):
        assert j not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_log_odds_terms_production_stage_pins(spark):
    """Pins the PRODUCTION lazy scoring stage over the PERSISTED
    (source,term) counts (exactly what log_odds_terms_df builds): every
    consumer reads the cached aggregate (InMemoryTableScan), the corpus
    is never re-tokenized (zero Generate explode above the cache), and
    the top-5 cut is a rank window, all JVM-side."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators import tok_array
    from extract_ocr_spark.operators.textanalysis import _log_odds_ranked_df

    docs = _docs(spark)
    csw = (docs.select("source",
                       F.explode(tok_array(F.col("text"))).alias("term"))
           .groupBy("source", "term").agg(F.count("*").alias("c_sw"))
           .persist())
    try:
        csw.count()
        plan = _plan(_log_odds_ranked_df(csw))
        assert "InMemoryTableScan" in plan, plan
        # zero re-tokenizations above the cache: every explode sits in
        # the cached relation's stored child plan, not the live tree
        live = plan.split("InMemoryRelation", 1)[0]
        assert "Generate explode" not in live, plan
        assert "Window" in plan, plan
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in live, plan
    finally:
        csw.unpersist()


def test_span_corruption_plan_one_doc_partitioning(spark):
    """Both windows (interval-merge cummax, island row_number) and the
    island rollup must share ONE doc_id hash partitioning — a single
    exchange below the presentation sort — and the whole plan is
    integer codegen, no Python."""
    from extract_ocr_spark.operators.curation import span_corruption_plan

    plan = _plan(span_corruption_plan(spark, "/root/testdata/sf0.001"))
    body = plan.split("rangepartitioning", 1)[-1]  # below the output sort
    assert body.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 2, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_metrics_unpivot_is_expand_no_shuffle(spark):
    """stack() must compile to a Generate projection — 3 rows per input
    row with NO shuffle below the presentation sort, no join, no
    Python."""
    from extract_ocr_spark.operators.textanalysis import metrics_unpivot

    plan = _plan(metrics_unpivot(spark, "/root/testdata/sf0.001"))
    assert "Generate stack" in plan, plan
    body = plan.split("rangepartitioning", 1)[-1]
    assert "Exchange hashpartitioning" not in body, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_small_qty_revenue_single_fact_scan_broadcast_part(spark):
    """The Q17 rewrite's whole point: ONE lineitem scan (the correlated
    avg is a window over the semi-reduced slice, never a second fact
    read), the filtered part side broadcasts, and the brand predicate
    reaches the part scan."""
    from extract_ocr_spark.operators.relational import small_qty_revenue_query

    plan = _plan(small_qty_revenue_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    part_line = next(ln for ln in plan.splitlines()
                     if "part.parquet" in ln)
    assert "p_brand" in part_line, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_late_only_supplier_shares_orderkey_clustering(spark):
    """The Q21 rewrite: the per-(order,supplier) aggregate and both
    order-partitioned windows must REUSE the join's orderkey
    clustering — no extra exchange between the join and the window
    stack (hash exchanges: two join inputs + the per-supplier count;
    a fourth would mean the window re-shuffled)."""
    from extract_ocr_spark.operators.relational import late_only_supplier_query

    plan = _plan(late_only_supplier_query(spark, "/root/testdata/sf0.001"))
    hash_ex = plan.count("Exchange hashpartitioning")
    assert hash_ex <= 3, f"hash exchanges = {hash_ex}\n{plan}"
    assert "TakeOrderedAndProject" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_dormant_rich_customers_anti_join_pushdown(spark):
    """The Q22 rewrite: the NOT EXISTS must compile to a LEFT ANTI join
    whose right side is the date-FILTERED orders scan (the cutoff
    predicate lands in PushedFilters), and the single-row stats side
    broadcasts."""
    from extract_ocr_spark.operators.relational import (
        dormant_rich_customers_query)

    plan = _plan(dormant_rich_customers_query(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan, plan
    orders_line = next(ln for ln in plan.splitlines()
                       if "orders.parquet" in ln)
    assert "o_orderdate" in orders_line, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_data_quality_checks_one_lineitem_scan(spark):
    """All four lineitem constraints (range, accepted-values, quantity
    cap, referential integrity) must ride ONE fact scan — the RI check
    joins the distinct orders key column into the same pass instead of
    a per-constraint anti-join re-scan."""
    from extract_ocr_spark.operators.relational import (
        data_quality_checks_query)

    plan = _plan(data_quality_checks_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("events.parquet") == 1, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_hard_negatives_broadcast_queries_one_corpus_pass(spark):
    """The mining join must broadcast the bounded query side over ONE
    corpus-side pass (BroadcastNestedLoopJoin on the label-mismatch
    predicate — never a CartesianProduct shuffle), and the top-K is a
    window over slim rows, fully JVM-side."""
    from extract_ocr_spark.operators.similarity import hard_negatives

    plan = _plan(hard_negatives(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_data_quality_checks_empty_tables_zero_not_null(spark, tmp_path):
    """Over EMPTY tables every check must report 0 violations / passed
    (sum over zero rows is NULL in Spark; the oracle's count FILTER is
    0 — the coalesce in vio() is what keeps the two aligned)."""
    from extract_ocr_spark.operators.relational import (
        data_quality_checks_query)

    src = "/root/testdata/sf0.001"
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
                   ("events", "event_id")):
        df = spark.read.parquet(f"{src}/{t}.parquet").filter("1 = 0")
        df.write.parquet(str(tmp_path / f"{t}.parquet"))
    out = data_quality_checks_query(spark, str(tmp_path)).collect()
    assert len(out) == 8
    for row in out:
        assert row["violations"] == 0, row
        assert row["checked"] == 0, row
        assert row["passed"] is True, row


def test_attribution_last_touch_one_user_window_no_join(spark):
    """The last-prior-touch lookup must be the window trick — ONE
    user-partitioned window over one events scan, NO join operator
    anywhere (the naive form self-joins purchases to touches), fully
    JVM-side."""
    from extract_ocr_spark.operators.temporal import (
        attribution_last_touch_query)

    plan = _plan(attribution_last_touch_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("events.parquet") == 1, plan
    assert "Window" in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_market_share_one_fact_aggregate(spark):
    """Numerator (conditional) and denominator must ride ONE aggregate
    over ONE lineitem scan — the textbook Q8 form computes two plans
    over the fact; the region filter must reach the region scan."""
    from extract_ocr_spark.operators.relational import market_share_query

    plan = _plan(market_share_query(spark, "/root/testdata/sf0.001"))
    assert plan.count("lineitem.parquet") == 1, plan
    region_line = next(ln for ln in plan.splitlines()
                       if "region.parquet" in ln)
    assert "r_name" in region_line, plan
    # the dimension pruning must sit BELOW the custkey join (on its
    # customer input), not above it: between the custkey join line and
    # the customer scan the nation+region broadcast joins must appear —
    # if they sat above the join, 4/5 of the fact rows would ride the
    # custkey shuffle only to be discarded afterwards
    lines = plan.splitlines()
    cust_join = next(i for i, ln in enumerate(lines)
                     if "c_custkey" in ln and "Join" in ln)
    cust_scan = next(i for i, ln in enumerate(lines)
                     if "customer.parquet" in ln)
    between = "\n".join(lines[cust_join:cust_scan])
    assert between.count("BroadcastHashJoin") >= 2, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_binned_auc_bounded_histogram_plan(spark):
    """The AUC machinery runs entirely over the bounded (grp, bin)
    histogram: two hash exchanges total (the histogram groupBy, then the
    grp window whose partitioning the final groupBy reuses), no join, no
    Python — the corpus never reaches the window."""
    from extract_ocr_spark.operators.textanalysis import binned_auc_df

    df = spark.createDataFrame([("g", 1, 1), ("g", 2, 0)],
                               "grp string, bin long, label long")
    plan = _plan(binned_auc_df(df))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "hashpartitioning(grp" in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_ndcg_eval_windowgrouplimit_no_corpus_self_join(spark):
    """Both ranking sides end in a WindowGroupLimit (map-side top-10 per
    query — the corpus never sorts globally); the only corpus-touching
    join is the bounded 8-row query-batch broadcast (BNLJ by design);
    the post-limit joins carry <= NQ*K rows. No Python anywhere."""
    from extract_ocr_spark.operators.similarity import ndcg_eval

    plan = _plan(ndcg_eval(spark, "/root/testdata/sf0.001"))
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_pr_curve_histogram_explode_no_join(spark):
    """The threshold sweep is an explode of the bounded (source, bin)
    histogram — ONE corpus-sized exchange total (the histogram groupBy;
    the sweep groupBy repartitions only histogram-sized data), no join,
    no window, no Python."""
    from extract_ocr_spark.operators.textanalysis import pr_curve

    plan = _plan(pr_curve(spark, "/root/testdata/sf0.001"))
    assert "Generate explode" in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, plan
    assert "Window" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan
