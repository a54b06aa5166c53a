"""The contract of the candidate-pair engine (``operators.key_pairs`` and
``operators.pair_sides``), its plan on the prefix-filter path, and the
size guard on the embedding LSH pair checkpoint."""

import pytest
from pyspark.sql import functions as F

from extract_ocr_spark.operators import key_pairs, pair_sides, similarity


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _keyed(spark):
    # ids 1-3 share k1/k2, 5-6 share k3, 4 shares nothing; n is per id
    rows = [(1, "k1", 10), (1, "k2", 10), (2, "k1", 20), (2, "k2", 20),
            (3, "k2", 30), (4, "k9", 40), (5, "k3", 50), (6, "k3", 60)]
    return spark.createDataFrame(rows, "doc_id long, key string, n int")


def test_key_pairs_contract(spark):
    out = key_pairs(_keyed(spark), "key")
    assert out.columns == ["a_id", "b_id", "n_a", "n_b", "shared"]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, 2, 10, 20, 2), (1, 3, 10, 30, 1),
                    (2, 3, 20, 30, 1), (5, 6, 50, 60, 1)]


def test_pair_sides_names_both_members(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a_id long, b_id long")
    side = spark.createDataFrame(
        [(1, "x1", 100), (2, "x2", 200), (3, "x3", 300)],
        "doc_id long, x string, y int")
    out = pair_sides(pairs, side, "x", "y")
    assert sorted(out.columns) == sorted(
        ["a_id", "b_id", "x_a", "y_a", "x_b", "y_b"])
    got = sorted(out.select("a_id", "b_id", "x_a", "y_a", "x_b", "y_b")
                 .collect())
    assert [tuple(r) for r in got] == [(1, 2, "x1", 100, "x2", 200),
                                       (1, 3, "x1", 100, "x3", 300)]


def test_prefix_candidates_plan_on_production_path(spark):
    """The prefix-filter candidates are ``key_pairs`` over the per-doc
    rarity window: a Window and an equi join, never a cartesian."""
    from extract_ocr_spark.operators.dedup import (_prefix_tokens_df,
                                                   _with_shingles)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = _with_shingles(docs).select("doc_id", "shingles")
    plan = _plan(key_pairs(_prefix_tokens_df(sh), "sh"))
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_lsh_pair_guard_refuses_large_input(spark, tmp_path, monkeypatch):
    # 10 identical vectors share all 9 probe keys: the join emits exactly
    # 9 * C(10, 2) = 405 rows, so the guard refuses below that bound
    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.1)] * 64).cast("array<float>").alias("embedding"),
        F.lit(0).alias("label"),
    )
    emb.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet"))
    monkeypatch.setattr(similarity, "MAX_LSH_PAIR_ROWS", 404)
    with pytest.raises(ValueError, match="embedding_neardup_lsh"):
        similarity.embedding_neardup_lsh(spark, str(tmp_path))
    monkeypatch.setattr(similarity, "MAX_LSH_PAIR_ROWS", 405)
    assert similarity.embedding_neardup_lsh(spark, str(tmp_path)).count() == 45
