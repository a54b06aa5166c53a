"""The contract of the iteration loop (``operators.iterate``) and the cache
hygiene of the five operators that run on it."""

import pytest
from pyspark.sql import functions as F

from extract_ocr_spark.operators import iterate
from test_second_sf import SF_DIR


def _counter(spark):
    return spark.range(4).select("id", F.lit(0).alias("x"))


def test_fixed_rounds_run_step_exactly_rounds_times(spark):
    calls = []

    def step(df):
        calls.append(1)
        return df.select("id", (F.col("x") + 1).alias("x"))

    out = iterate(step, _counter(spark), rounds=5)
    assert len(calls) == 5
    assert sorted(r["x"] for r in out.collect()) == [5] * 4


def _capped_step(cap):
    def step(df):
        x = F.least(F.col("x") + 1, F.lit(cap))
        return df.select("id", x.alias("x"), (x != F.col("x")).alias("moved"))
    return step


def test_fixpoint_stops_on_first_unmoved_round_and_drops_moved(spark):
    calls = []
    step = _capped_step(3)

    def counted(df):
        calls.append(1)
        return step(df)

    out = iterate(counted, _counter(spark), rounds=10, fixpoint="toy")
    assert out.columns == ["id", "x"]
    assert sorted(r["x"] for r in out.collect()) == [3] * 4
    # rounds 1-3 move every row; round 4 moves none and ends the loop
    assert len(calls) == 4


def test_fixpoint_budget_spent_raises_with_operator_name(spark):
    with pytest.raises(RuntimeError,
                       match="toy did not converge in 2 iterations"):
        iterate(_capped_step(3), _counter(spark), rounds=2, fixpoint="toy")


def test_reused_frames_are_released_on_return_and_on_raise(spark):
    side = spark.range(4).select("id", F.lit(1).alias("inc"))
    seen = []

    def step(df):
        seen.append(side.is_cached)
        x = F.least(F.col("x") + F.col("inc"), F.lit(3))
        return (df.join(side, "id")
                .select("id", x.alias("x"), (x != F.col("x")).alias("moved")))

    iterate(step, _counter(spark), rounds=10, fixpoint="toy", reused=(side,))
    assert seen and all(seen)
    assert side.is_cached is False

    with pytest.raises(RuntimeError, match="did not converge"):
        iterate(step, _counter(spark), rounds=1, fixpoint="toy",
                reused=(side,))
    assert side.is_cached is False


def _cached_rdds(spark) -> int:
    """Persisted RDDs other than local checkpoints (those are released by
    the context cleaner once unreachable, not by the operator)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isCheckpointed())


@pytest.mark.parametrize("name", ["pagerank_scores", "label_propagation",
                                  "k_core", "shortest_paths",
                                  "neardup_clusters"])
def test_iterative_queries_leave_no_cached_frames(spark, name):
    import __spark_entry__ as entry

    before = _cached_rdds(spark)
    entry.queries()[name](spark, SF_DIR).collect()
    assert _cached_rdds(spark) == before
