"""Key-skew audit: bucket math on known distributions and hot-key
detection."""

from __future__ import annotations

from morphik_core_spark.plans.stats import key_skew_histogram


def _frame(spark):
    # key 'hot' x 40, 'warm' x 8, 'a'..'d' x 1
    rows = [("hot",)] * 40 + [("warm",)] * 8 + [("a",), ("b",), ("c",), ("d",)]
    return spark.createDataFrame(rows, "k string").repartition(5)


def test_histogram_buckets(spark):
    h = {r.bucket: r for r in key_skew_histogram(_frame(spark), ["k"]).collect()}
    # 40 -> bucket 5 (32..63), 8 -> bucket 3, 1 -> bucket 0
    assert h[5].n_keys == 1 and h[5].n_rows == 40 and h[5].bucket_lo == 32
    assert h[3].n_keys == 1 and h[3].n_rows == 8
    assert h[0].n_keys == 4 and h[0].n_rows == 4
    assert h[5].pct_rows == round(40 / 52, 6)


def test_power_of_two_boundary_is_integer_exact(spark):
    # counts exactly at 2^k must land in bucket k, never k-1
    rows = [("x",)] * 16 + [("y",)] * 15
    df = spark.createDataFrame(rows, "k string")
    h = {r.bucket: r for r in key_skew_histogram(df, ["k"]).collect()}
    assert h[4].n_keys == 1  # 16
    assert h[3].n_keys == 1  # 15
