"""The one word n-gram builder, ``operators.word_ngrams``: equivalence
with the interpreted sliding-window expression it replaced, and a plan
pin that keeps the shingle path native."""

import pytest
from pyspark.sql import functions as F

from extract_ocr_spark.operators import word_ngrams

_LONG = ["a", "b"] * 6 + ["c", "a", "b"]


def _reference(toks: str, n: int):
    # the replaced construction: transform(sequence(0, size-n), slice),
    # guarded so short (and null) arrays yield []
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


@pytest.mark.parametrize("n", [2, 3, 5])
def test_word_ngrams_matches_sliding_window(spark, n):
    rows = [(0, None), (1, []), (2, [f"t{i}" for i in range(n - 1)]),
            (3, [f"t{i}" for i in range(n)]), (4, _LONG)]
    df = spark.createDataFrame(rows, "id int, toks array<string>")
    got = (word_ngrams(df, "toks", n, "g")
           .select("id", "g", _reference("toks", n).alias("ref"))
           .orderBy("id").collect())
    assert len(got) == len(rows)
    for r in got:
        assert r["g"] == r["ref"], (n, r)
    # order kept and repeats kept: the long row is not deduplicated
    long_grams = got[4]["g"]
    assert len(long_grams) == len(_LONG) - n + 1
    assert len(set(long_grams)) < len(long_grams)
    assert got[0]["g"] == [] and got[2]["g"] == []
    assert got[3]["g"] == [" ".join(f"t{i}" for i in range(n))]


def test_shingles_plan_is_native(spark):
    """``_with_shingles`` must stay a JVM pipeline: no interpreted lambda
    (the old transform(sequence) window) and no Python worker."""
    from extract_ocr_spark.operators.dedup import _with_shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (_with_shingles(docs)._jdf.queryExecution().executedPlan()
            .toString())
    assert "lambdafunction" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan
