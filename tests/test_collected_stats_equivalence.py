"""Collected-grid statistics keep the results of the distributed plans
they replaced or sit beside.

Two kinds of operator collect a bounded frame once, replay the integer
combinatorics in exact Python, and feed literals into one Spark double
tree:

- the series, blocked and categorical tests (friedman, page, kendall W,
  cochran Q, chi-square, theil-sen, ccf) have only this path, bounded by
  the module constants of ``analytics.py``; their tests assert golden
  rows that the former distributed implementation produced on the same
  fixtures;
- the rank/median grids and the sketches keep an opt-in
  ``collect_max_cells`` / ``collect_max_rows`` beside the distributed
  default, and their tests assert that both paths agree.

The fixtures exercise every semantic corner — ties, NULL
groups/blocks/treatments/values, incomplete blocks, empty input. Every
bounded pull RAISES instead of truncating, and pulls at most bound + 1
rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from morphik_core_spark.operators import analytics
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


def _golden(rows):
    """Expected rows in ``_rows`` form."""
    return sorted(repr(r) for r in rows)


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
    # b1, b2 and b4 are complete; b3 and the NULL block drop
    assert _rows(friedman_test(blocked, "b", "t", "v")) == _golden([(3, 3, 0.666667)])


def test_page_collected_matches_distributed(blocked):
    assert _rows(page_trend_test(blocked, "b", "t", "v")) == _golden([(3, 3, 36.0, 0.0)])


def test_kendall_w_collected_matches_distributed(blocked):
    assert _rows(kendall_w(blocked, "b", "t", "v")) == _golden(
        [(3, 3, 0.111111, 0.666667)]
    )


def test_cochran_collected_matches_distributed(spark):
    data = [
        ("b1", "t1", 1), ("b1", "t2", 0), ("b1", "t3", 1),
        ("b2", "t1", 0), ("b2", "t2", 0), ("b2", "t3", 1),
        ("b3", "t1", 1), ("b3", "t2", 1),  # incomplete -> drops
        (None, "t1", 1), (None, "t2", 0), (None, "t3", 1),  # NULL block drops
        ("b4", "t1", 1), ("b4", "t2", None), ("b4", "t2", 1), ("b4", "t3", 0),
    ]
    flags = spark.createDataFrame(data, "b string, t string, f int")
    assert _rows(cochran_q(flags, "b", "t", "f")) == _golden([(3, 3, 0.666667, 2)])


def test_null_treatment_disqualifies_every_block_both_paths(spark):
    # a NULL treatment level raises the required level count above any
    # block's non-NULL distinct count -> no complete blocks either way
    data = [
        ("b1", "t1", 1), ("b1", "t2", 2), ("b1", None, 3),
        ("b2", "t1", 4), ("b2", "t2", 5),
    ]
    df = spark.createDataFrame(data, "b string, t string, v bigint")
    assert _rows(friedman_test(df, "b", "t", "v")) == _golden([(0, 0, None)])


def test_empty_input_matches_both_paths(spark):
    empty_g = spark.createDataFrame([], "g string, v bigint")
    assert _rows(kruskal_wallis(empty_g, "g", "v")) == _rows(
        kruskal_wallis(empty_g, "g", "v", collect_max_cells=10)
    )
    assert _rows(mood_median_test(empty_g, "g", "v")) == _rows(
        mood_median_test(empty_g, "g", "v", collect_max_cells=10)
    )
    empty_b = spark.createDataFrame([], "b string, t string, v bigint")
    assert _rows(friedman_test(empty_b, "b", "t", "v")) == _golden([(0, 0, None)])
    assert _rows(kendall_w(empty_b, "b", "t", "v")) == _golden([(0, 0, None, None)])


def test_chi_square_collected_matches_distributed(spark):
    # absent cells (a never pairs with y2), a NULL x level, a NULL y level
    data = [
        ("a", "y1"), ("a", "y1"), ("a", "y3"),
        ("b", "y1"), ("b", "y2"), ("b", "y2"),
        ("c", "y2"), ("c", "y3"), ("c", "y3"), ("c", "y3"),
        (None, "y1"), ("b", None),
    ]
    df = spark.createDataFrame(data, "x string, y string")
    assert _rows(chi_square_independence(df, "x", "y")) == _golden(
        [(9.499997, 9, 0.513701, 12)]
    )
    empty = spark.createDataFrame([], "x string, y string")
    assert _rows(chi_square_independence(empty, "x", "y")) == _golden(
        [(None, 1, None, None)]
    )


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


def test_bounds_raise_instead_of_truncating(grouped, blocked, monkeypatch):
    with pytest.raises(ValueError, match="collect_max_cells"):
        kruskal_wallis(grouped, "g", "v", collect_max_cells=3)
    monkeypatch.setattr(analytics, "BLOCK_MAX_ROWS", 3)
    with pytest.raises(ValueError, match="friedman_test blocked frame exceeds its bound of 3"):
        friedman_test(blocked, "b", "t", "v")


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


def _count_collects(monkeypatch) -> list:
    """Record the row count of every ``DataFrame.collect`` from now on."""
    from pyspark.sql.classic.dataframe import DataFrame

    pulled = []
    collect = DataFrame.collect

    def counting_collect(self):
        rows = collect(self)
        pulled.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    return pulled


def test_kmv_overlap_bound_raises(spark, monkeypatch):
    from morphik_core_spark.operators.sketches import kmv_overlap, kmv_sketch

    df = spark.createDataFrame(
        [("x", f"t{i}") for i in range(30)] + [("y", f"t{i}") for i in range(30)],
        "src string, tok string",
    )
    sk = kmv_sketch(df, "src", "tok", k=16)
    pulled = _count_collects(monkeypatch)
    with pytest.raises(ValueError, match="collect_max_rows"):
        kmv_overlap(sk, "src", k=16, collect_max_rows=3)
    # checked before the pull: the 32-row sketch never reaches the driver
    assert pulled and max(pulled) <= 4


def test_theil_sen_collected_matches_distributed(spark):
    from morphik_core_spark.operators.analytics import theil_sen_trend

    def run(rows):
        return _rows(theil_sen_trend(spark.createDataFrame(rows, "i long, y long"), "i", "y"))

    # ties, negatives, an outlier, NULL value rows, a NULL index row
    rows = [
        (1, 10), (2, 12), (3, 12), (4, 900), (5, 18), (6, 20), (7, -3),
        (8, None), (None, 5),
    ]
    assert run(rows) == _golden([(9, 28, -2.583334, 17.166667)])
    # even pair count without NULLs
    assert run([(1, 4), (2, 9), (3, 2), (4, 16)]) == _golden([(4, 6, 3.75, 0.625)])
    # single point and empty input
    assert run([(1, 4)]) == _golden([(1, None, None, None)])
    assert run([]) == _golden([(0, None, None, None)])


def test_cross_correlation_collected_matches_distributed(spark):
    from morphik_core_spark.operators.analytics import cross_correlation

    def run(rows, max_lag):
        df = spark.createDataFrame(rows, "i long, x long, y long")
        return _rows(cross_correlation(df, "i", "x", "y", max_lag=max_lag))

    # gaps in the index (pairs drop), NULL x / NULL y rows, a NULL index
    rows = [
        (1, 10, 3), (2, 12, 5), (3, 9, 4), (5, 20, 9), (6, 18, 8),
        (7, None, 6), (8, 14, None), (None, 4, 4),
    ]
    assert run(rows, 3) == _golden([
        (-3, 3, 0.096637), (-2, 4, 0.065651), (-1, 5, 0.378801), (0, 7, 0.784908),
        (1, 5, 0.439223), (2, 4, 0.040862), (3, 3, -0.015106),
    ])
    # short series: lags with zero pairs emit no row
    assert run([(1, 4, 7), (2, 9, 1)], 5) == _golden([(-1, 1, 0.5), (0, 2, -1.0), (1, 1, 0.5)])
    # empty input
    assert run([], 2) == []


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


def test_sliding_cms_window_varchar_token_collected_matches_distributed(spark):
    # a VARCHAR(n) token type (kept when preserveCharVarcharTypeInfo is
    # on) must not leak into the literal frame's SQL
    import datetime as dt

    from morphik_core_spark.operators.sketches import sliding_cms_window

    key = "spark.sql.preserveCharVarcharTypeInfo"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        d = dt.date(2031, 3, 1)
        df = spark.createDataFrame(
            [(d, "view", 10), (d, "buy", 3), (d + dt.timedelta(days=2), "view", 4)],
            "day date, tok string, n long",
        ).selectExpr("day", "CAST(tok AS VARCHAR(8)) AS tok", "n")
        assert df.schema["tok"].dataType.simpleString() == "varchar(8)"
        kw = dict(window_days=3, depth=2, width=4)
        dist = _rows(sliding_cms_window(df, "day", "tok", "n", **kw))
        coll = _rows(sliding_cms_window(df, "day", "tok", "n", collect_max_rows=100, **kw))
        assert coll == dist
        assert len(dist) == 4
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


_BOUND = 3


def _bounded_cases():
    """op name -> (analytics bound constant to patch or None, call that
    must overflow a bound of ``_BOUND``)."""
    from morphik_core_spark.operators import graph, sketches
    from morphik_core_spark.operators.folders import folder_descendants

    def series(spark):
        return spark.createDataFrame([(i, i % 5) for i in range(30)], "i long, x long")

    def pair_series(spark):
        return spark.createDataFrame(
            [(i, i % 5, i % 3) for i in range(30)], "i long, x long, y long"
        )

    def blocks(spark):
        return spark.createDataFrame(
            [(f"b{b}", f"t{t}", (b * t) % 4) for b in range(10) for t in range(3)],
            "b string, t string, v bigint",
        )

    def groups(spark):
        return spark.createDataFrame(
            [(g, v) for g in ("a", "b") for v in range(12)], "g string, v bigint"
        )

    def edges(spark):
        return spark.createDataFrame(
            [(i, (i + 1) % 10, 1) for i in range(10)], "src long, dst long, w long"
        )

    def day_grid(spark):
        import datetime as dt

        d = dt.date(2031, 3, 1)
        return spark.createDataFrame(
            [(d + dt.timedelta(days=i), "view", 1) for i in range(10)],
            "day date, tok string, n long",
        )

    def folders(spark):
        return spark.createDataFrame(
            [(f"f{i}", "root") for i in range(10)], "id string, parent_id string"
        )

    a = analytics
    series_ops = {
        "autocorrelation": lambda s: a.autocorrelation(series(s), "i", "x"),
        "pacf_durbin_levinson": lambda s: a.pacf_durbin_levinson(series(s), "i", "x"),
        "ljung_box": lambda s: a.ljung_box(series(s), "i", "x"),
        "theil_sen_trend": lambda s: a.theil_sen_trend(series(s), "i", "x"),
        "mann_kendall_test": lambda s: a.mann_kendall_test(series(s), "i", "x"),
        "seasonal_mann_kendall": lambda s: a.seasonal_mann_kendall(series(s), "i", "x"),
        "cross_correlation": lambda s: a.cross_correlation(pair_series(s), "i", "x", "y"),
    }
    block_ops = {
        "friedman_test": lambda s: a.friedman_test(blocks(s), "b", "t", "v"),
        "page_trend_test": lambda s: a.page_trend_test(blocks(s), "b", "t", "v"),
        "kendall_w": lambda s: a.kendall_w(blocks(s), "b", "t", "v"),
        "cochran_q": lambda s: a.cochran_q(
            blocks(s).withColumn("f", F.expr("CAST(v % 2 AS INT)")), "b", "t", "f"
        ),
    }
    option_ops = {
        "kruskal_wallis": lambda s: a.kruskal_wallis(groups(s), "g", "v", collect_max_cells=_BOUND),
        "mann_whitney_u": lambda s: a.mann_whitney_u(
            groups(s), "g", "v", "a", "b", collect_max_cells=_BOUND
        ),
        "dunn_posthoc": lambda s: a.dunn_posthoc(groups(s), "g", "v", collect_max_cells=_BOUND),
        "mood_median_test": lambda s: a.mood_median_test(
            groups(s), "g", "v", collect_max_cells=_BOUND
        ),
        "lilliefors_stat": lambda s: a.lilliefors_stat(groups(s), "v", collect_max_cells=_BOUND),
        "sliding_cms_window": lambda s: sketches.sliding_cms_window(
            day_grid(s), "day", "tok", "n", collect_max_rows=_BOUND
        ),
        "pagerank_fixed_point": lambda s: graph.pagerank_fixed_point(
            edges(s), "src", "dst", "w", collect_max_edges=_BOUND
        ),
        "triangle_count": lambda s: graph.triangle_count(edges(s), collect_max_edges=_BOUND),
        "folder_descendants": lambda s: folder_descendants(
            folders(s), ["root"], collect_max_folders=_BOUND
        ),
    }
    cases = {name: ("SERIES_MAX_POINTS", call) for name, call in series_ops.items()}
    cases.update({name: ("BLOCK_MAX_ROWS", call) for name, call in block_ops.items()})
    cases["chi_square_independence"] = (
        "CHI_SQUARE_MAX_CELLS",
        lambda s: a.chi_square_independence(groups(s), "g", "v"),
    )
    cases.update({name: (None, call) for name, call in option_ops.items()})
    return cases


@pytest.mark.parametrize("op", sorted(_bounded_cases()))
def test_bounded_pull_raises_before_pulling_past_bound(spark, monkeypatch, op):
    const, call = _bounded_cases()[op]
    if const is not None:
        monkeypatch.setattr(analytics, const, _BOUND)
    pulled = _count_collects(monkeypatch)
    with pytest.raises(ValueError, match=f"exceeds its bound of {_BOUND} rows"):
        call(spark).collect()
    # checked before the pull: no collect brings more than bound + 1 rows
    assert pulled and max(pulled) <= _BOUND + 1
