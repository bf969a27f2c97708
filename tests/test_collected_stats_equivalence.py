"""Collected-grid fast paths must be bit-identical to the distributed
paths (round-12 optimization): the rank/median/blocked-rank statistics
gained an opt-in ``collect_max_cells`` / ``collect_max_rows`` that
collects the contract-bounded grid once and replays the integer
combinatorics in Python, feeding exact literals into the IDENTICAL final
double trees. These tests drive both paths over fixtures that exercise
every semantic corner — ties, NULL groups/blocks/treatments/values,
incomplete blocks, empty input — and assert exact equality, plus that
the bound RAISES instead of truncating.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from morphik_core_spark.operators.analytics import (
    chi_square_independence,
    lilliefors_stat,
    cochran_q,
    dunn_posthoc,
    friedman_test,
    kendall_w,
    kruskal_wallis,
    mann_whitney_u,
    mood_median_test,
    page_trend_test,
)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.fixture(scope="module")
def grouped(spark):
    # ties across and within groups, a NULL group, NULL values, negatives
    data = [
        ("a", 5), ("a", 5), ("a", 7), ("a", -3), ("a", 12),
        ("b", 5), ("b", 8), ("b", 8), ("b", 8), ("b", 1),
        ("c", 7), ("c", 7), ("c", 0), ("c", 40),
        (None, 5), (None, 9),
        ("a", None), ("c", None),
    ]
    return spark.createDataFrame(data, "g string, v bigint")


@pytest.fixture(scope="module")
def blocked(spark):
    # blocks: b1/b2 complete, b3 missing treatment t3 (drops), b4 has a
    # NULL value row for t1 (t1 still present via another row), NULL
    # block rows (drop); within-block ties
    data = [
        ("b1", "t1", 10), ("b1", "t2", 10), ("b1", "t3", 4),
        ("b2", "t1", 7), ("b2", "t2", 3), ("b2", "t3", 7),
        ("b3", "t1", 1), ("b3", "t2", 2),
        ("b4", "t1", None), ("b4", "t1", 5), ("b4", "t2", 5), ("b4", "t3", 9),
        (None, "t1", 1), (None, "t2", 2), (None, "t3", 3),
    ]
    return spark.createDataFrame(data, "b string, t string, v bigint")


def test_kruskal_collected_matches_distributed(grouped):
    a = kruskal_wallis(grouped, "g", "v")
    b = kruskal_wallis(grouped, "g", "v", collect_max_cells=10_000)
    assert _rows(a) == _rows(b)


def test_kruskal_value_scale_collected_matches(grouped):
    scaled = grouped.select("g", (F.col("v") / 4.0).alias("v"))
    a = kruskal_wallis(scaled, "g", "v", value_scale=100)
    b = kruskal_wallis(scaled, "g", "v", value_scale=100, collect_max_cells=10_000)
    assert _rows(a) == _rows(b)


def test_mann_whitney_collected_matches_distributed(grouped):
    a = mann_whitney_u(grouped, "g", "v", "a", "b")
    b = mann_whitney_u(grouped, "g", "v", "a", "b", collect_max_cells=10_000)
    assert _rows(a) == _rows(b)


def test_dunn_collected_matches_distributed(grouped):
    a = dunn_posthoc(grouped, "g", "v")
    b = dunn_posthoc(grouped, "g", "v", collect_max_cells=10_000)
    assert _rows(a) == _rows(b)


def test_mood_collected_matches_distributed(grouped):
    a = mood_median_test(grouped, "g", "v")
    b = mood_median_test(grouped, "g", "v", collect_max_cells=10_000)
    assert _rows(a) == _rows(b)


def test_friedman_collected_matches_distributed(blocked):
    a = friedman_test(blocked, "b", "t", "v")
    b = friedman_test(blocked, "b", "t", "v", collect_max_rows=10_000)
    assert _rows(a) == _rows(b)


def test_page_collected_matches_distributed(blocked):
    a = page_trend_test(blocked, "b", "t", "v")
    b = page_trend_test(blocked, "b", "t", "v", collect_max_rows=10_000)
    assert _rows(a) == _rows(b)


def test_kendall_w_collected_matches_distributed(blocked):
    a = kendall_w(blocked, "b", "t", "v")
    b = kendall_w(blocked, "b", "t", "v", collect_max_rows=10_000)
    assert _rows(a) == _rows(b)


def test_cochran_collected_matches_distributed(spark):
    data = [
        ("b1", "t1", 1), ("b1", "t2", 0), ("b1", "t3", 1),
        ("b2", "t1", 0), ("b2", "t2", 0), ("b2", "t3", 1),
        ("b3", "t1", 1), ("b3", "t2", 1),  # incomplete -> drops
        (None, "t1", 1), (None, "t2", 0), (None, "t3", 1),  # NULL block drops
        ("b4", "t1", 1), ("b4", "t2", None), ("b4", "t2", 1), ("b4", "t3", 0),
    ]
    flags = spark.createDataFrame(data, "b string, t string, f int")
    a = cochran_q(flags, "b", "t", "f")
    b = cochran_q(flags, "b", "t", "f", collect_max_rows=10_000)
    assert _rows(a) == _rows(b)


def test_null_treatment_disqualifies_every_block_both_paths(spark):
    # a NULL treatment level raises the required level count above any
    # block's non-NULL distinct count -> no complete blocks either way
    data = [
        ("b1", "t1", 1), ("b1", "t2", 2), ("b1", None, 3),
        ("b2", "t1", 4), ("b2", "t2", 5),
    ]
    df = spark.createDataFrame(data, "b string, t string, v bigint")
    a = friedman_test(df, "b", "t", "v")
    b = friedman_test(df, "b", "t", "v", collect_max_rows=100)
    assert _rows(a) == _rows(b)


def test_empty_input_matches_both_paths(spark):
    empty_g = spark.createDataFrame([], "g string, v bigint")
    assert _rows(kruskal_wallis(empty_g, "g", "v")) == _rows(
        kruskal_wallis(empty_g, "g", "v", collect_max_cells=10)
    )
    assert _rows(mood_median_test(empty_g, "g", "v")) == _rows(
        mood_median_test(empty_g, "g", "v", collect_max_cells=10)
    )
    empty_b = spark.createDataFrame([], "b string, t string, v bigint")
    assert _rows(friedman_test(empty_b, "b", "t", "v")) == _rows(
        friedman_test(empty_b, "b", "t", "v", collect_max_rows=10)
    )
    assert _rows(kendall_w(empty_b, "b", "t", "v")) == _rows(
        kendall_w(empty_b, "b", "t", "v", collect_max_rows=10)
    )


def test_chi_square_collected_matches_distributed(spark):
    # absent cells (a never pairs with y2), a NULL x level, a NULL y level
    data = [
        ("a", "y1"), ("a", "y1"), ("a", "y3"),
        ("b", "y1"), ("b", "y2"), ("b", "y2"),
        ("c", "y2"), ("c", "y3"), ("c", "y3"), ("c", "y3"),
        (None, "y1"), ("b", None),
    ]
    df = spark.createDataFrame(data, "x string, y string")
    a = chi_square_independence(df, "x", "y")
    b = chi_square_independence(df, "x", "y", collect_max_cells=10_000)
    assert _rows(a) == _rows(b)
    empty = spark.createDataFrame([], "x string, y string")
    assert _rows(chi_square_independence(empty, "x", "y")) == _rows(
        chi_square_independence(empty, "x", "y", collect_max_cells=10)
    )
    with pytest.raises(ValueError, match="collect_max_cells"):
        chi_square_independence(df, "x", "y", collect_max_cells=2)


def test_lilliefors_collected_matches_distributed(spark, grouped):
    a = lilliefors_stat(grouped, "v")
    b = lilliefors_stat(grouped, "v", collect_max_cells=10_000)
    assert _rows(a) == _rows(b)
    scaled = grouped.select((F.col("v") / 3.0).alias("v"))
    a2 = lilliefors_stat(scaled, "v", value_scale=10)
    b2 = lilliefors_stat(scaled, "v", value_scale=10, collect_max_cells=10_000)
    assert _rows(a2) == _rows(b2)
    tiny = spark.createDataFrame([(1,), (2,), (2,)], "v bigint")  # n < 4 guard
    assert _rows(lilliefors_stat(tiny, "v")) == _rows(
        lilliefors_stat(tiny, "v", collect_max_cells=10)
    )
    empty = spark.createDataFrame([], "v bigint")
    assert _rows(lilliefors_stat(empty, "v")) == _rows(
        lilliefors_stat(empty, "v", collect_max_cells=10)
    )
    with pytest.raises(ValueError, match="collect_max_cells"):
        lilliefors_stat(grouped, "v", collect_max_cells=2)


def test_bounds_raise_instead_of_truncating(grouped, blocked):
    with pytest.raises(ValueError, match="collect_max_cells"):
        kruskal_wallis(grouped, "g", "v", collect_max_cells=3)
    with pytest.raises(ValueError, match="collect_max_rows"):
        friedman_test(blocked, "b", "t", "v", collect_max_rows=3)


def test_series_col_rejects_collect_path(blocked):
    tagged = blocked.withColumn("s", F.lit("one"))
    with pytest.raises(ValueError, match="series_col"):
        friedman_test(tagged, "b", "t", "v", series_col="s", collect_max_rows=10)


def test_kmv_overlap_collected_matches_distributed(spark):
    # groups: x/y overlap partially, z below k (exact), w disjoint, a
    # NULL key (never pairs on either path)
    from morphik_core_spark.operators.sketches import kmv_overlap, kmv_sketch

    data = (
        [("x", f"tok{i}") for i in range(40)]
        + [("y", f"tok{i}") for i in range(20, 70)]
        + [("z", "tok1"), ("z", "tok2"), ("z", "other")]
        + [("w", f"w{i}") for i in range(15)]
        + [(None, "tok1"), (None, "nullonly")]
    )
    df = spark.createDataFrame(data, "src string, tok string")
    sk = kmv_sketch(df, "src", "tok", k=8)
    dist = _rows(kmv_overlap(sk, "src", k=8))
    coll = _rows(kmv_overlap(sk, "src", k=8, collect_max_rows=10_000))
    assert dist == coll
    assert len(dist) == 6  # C(4,2) non-null pairs


def test_kmv_overlap_bound_raises(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    from morphik_core_spark.operators.sketches import kmv_overlap, kmv_sketch

    df = spark.createDataFrame(
        [("x", f"t{i}") for i in range(30)] + [("y", f"t{i}") for i in range(30)],
        "src string, tok string",
    )
    sk = kmv_sketch(df, "src", "tok", k=16)
    pulled = []
    collect = DataFrame.collect

    def counting_collect(self):
        rows = collect(self)
        pulled.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    with pytest.raises(ValueError, match="collect_max_rows"):
        kmv_overlap(sk, "src", k=16, collect_max_rows=3)
    # checked before the pull: the 32-row sketch never reaches the driver
    assert pulled and max(pulled) <= 4


def test_theil_sen_collected_matches_distributed(spark):
    from morphik_core_spark.operators.analytics import theil_sen_trend

    # ties, negatives, an outlier, NULL value rows, a NULL index row
    rows = [
        (1, 10), (2, 12), (3, 12), (4, 900), (5, 18), (6, 20), (7, -3),
        (8, None), (None, 5),
    ]
    df = spark.createDataFrame(rows, "i long, y long")
    dist = _rows(theil_sen_trend(df, "i", "y"))
    coll = _rows(theil_sen_trend(df, "i", "y", collect_max_points=1000))
    assert dist == coll

    # even pair count without NULLs
    df2 = spark.createDataFrame([(1, 4), (2, 9), (3, 2), (4, 16)], "i long, y long")
    assert _rows(theil_sen_trend(df2, "i", "y")) == _rows(
        theil_sen_trend(df2, "i", "y", collect_max_points=1000)
    )

    # single point and empty input
    df1 = spark.createDataFrame([(1, 4)], "i long, y long")
    assert _rows(theil_sen_trend(df1, "i", "y")) == _rows(
        theil_sen_trend(df1, "i", "y", collect_max_points=1000)
    )
    df0 = spark.createDataFrame([], "i long, y long")
    assert _rows(theil_sen_trend(df0, "i", "y")) == _rows(
        theil_sen_trend(df0, "i", "y", collect_max_points=1000)
    )

    with pytest.raises(ValueError, match="collect_max_points"):
        theil_sen_trend(df, "i", "y", collect_max_points=3)


def test_cross_correlation_collected_matches_distributed(spark):
    from morphik_core_spark.operators.analytics import cross_correlation

    # gaps in the index (pairs drop), NULL x / NULL y rows, a NULL index
    rows = [
        (1, 10, 3), (2, 12, 5), (3, 9, 4), (5, 20, 9), (6, 18, 8),
        (7, None, 6), (8, 14, None), (None, 4, 4),
    ]
    df = spark.createDataFrame(rows, "i long, x long, y long")
    dist = _rows(cross_correlation(df, "i", "x", "y", max_lag=3))
    coll = _rows(cross_correlation(df, "i", "x", "y", max_lag=3, collect_max_points=1000))
    assert dist == coll

    # short series: some lags have zero pairs and must emit no row
    df2 = spark.createDataFrame([(1, 4, 7), (2, 9, 1)], "i long, x long, y long")
    assert _rows(cross_correlation(df2, "i", "x", "y", max_lag=5)) == _rows(
        cross_correlation(df2, "i", "x", "y", max_lag=5, collect_max_points=1000)
    )

    # empty input
    df0 = spark.createDataFrame([], "i long, x long, y long")
    assert _rows(cross_correlation(df0, "i", "x", "y", max_lag=2)) == _rows(
        cross_correlation(df0, "i", "x", "y", max_lag=2, collect_max_points=1000)
    )

    with pytest.raises(ValueError, match="collect_max_points"):
        cross_correlation(df, "i", "x", "y", max_lag=2, collect_max_points=3)


def test_sliding_cms_window_collected_matches_distributed(spark):
    import datetime as dt

    from morphik_core_spark.operators.sketches import sliding_cms_window

    d = dt.date(2031, 3, 1)
    rows = [
        (d, "view", 10), (d, "purchase", 3),
        (d + dt.timedelta(days=1), "view", 7),
        (d + dt.timedelta(days=3), "click", 5),
        (d + dt.timedelta(days=9), "view", 2),  # a gap: windows straddle it
        (None, "view", 99),                      # NULL day never fans
        (d + dt.timedelta(days=1), None, 4),     # NULL token never outputs
    ]
    df = spark.createDataFrame(rows, "day date, tok string, n long")
    dist = _rows(sliding_cms_window(df, "day", "tok", "n", window_days=7, depth=3, width=4))
    coll = _rows(
        sliding_cms_window(
            df, "day", "tok", "n", window_days=7, depth=3, width=4,
            collect_max_rows=10_000,
        )
    )
    assert dist == coll
    assert len(dist) > 0

    with pytest.raises(ValueError, match="collect_max_rows"):
        sliding_cms_window(df, "day", "tok", "n", collect_max_rows=2)
