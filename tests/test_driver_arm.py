"""The one size probe behind every driver arm: exactly ``cap`` rows are
collected, ``cap + 1`` rows send the caller to its distributed loop."""

from tree_sitter_codeviews_spark import driver_arm


def test_collect_if_small_boundary(spark):
    df = spark.range(5)
    pdf = driver_arm.collect_if_small(df, 5)
    assert sorted(pdf["id"].tolist()) == [0, 1, 2, 3, 4]
    assert driver_arm.collect_if_small(df, 4) is None


def test_distributed_arm_fixture_forces_none(spark, distributed_arm):
    with distributed_arm():
        assert driver_arm.collect_if_small(spark.range(1), 10) is None
    assert driver_arm.collect_if_small(spark.range(1), 10) is not None
