"""Unit tests for the distributed prefix-sum helper (queries/prefix.py):
the two-pass rewrite must equal the single-task window formulation on
any input, with the work genuinely spread across range partitions."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_prefix_sums_equal_single_window(spark):
    # keys inserted in scrambled order; values chosen so every prefix is
    # distinct (catches off-by-one in the offset shift)
    rows = [(k * 37 % 1009, k % 7 + 1, k % 11) for k in range(1009)]
    df = spark.createDataFrame(rows, "k int, a int, b int")
    got = {
        r.k: (r.a_upto, r.b_upto)
        for r in __import__(
            "shelf_spark.queries.prefix", fromlist=["attach_prefix_sums"]
        )
        .attach_prefix_sums(df, ["k"], ["a", "b"], n_parts=8)
        .collect()
    }
    ordered = sorted(rows)
    ca = cb = 0
    for k, a, b in ordered:
        ca, cb = ca + a, cb + b
        assert got[k] == (ca, cb), k
    assert len(got) == len(rows)


def test_prefix_sums_spread_across_partitions(spark):
    """The domain must be range-partitioned (parallel local sums), and the
    only constant-partition window runs over the n_parts-sized subtotals."""
    from shelf_spark.plans import physical_plan, unpartitioned_window_count
    from shelf_spark.queries.prefix import attach_prefix_sums

    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    # checkpoint=False: the production path pins the range-partitioned
    # domain (so the plan shows the pinned scan, not the exchange);
    # disabling it here keeps the range exchange visible for the shape
    # assertion.
    out = attach_prefix_sums(df, ["k"], ["v"], n_parts=8, checkpoint=False)
    plan = physical_plan(out)
    assert unpartitioned_window_count(out) == 0, plan
    assert "rangepartitioning(k" in plan
