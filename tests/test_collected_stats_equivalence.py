"""Collected-grid statistics keep the results of the distributed plans
they replaced.

The series, blocked and categorical tests (friedman, page, kendall W,
cochran Q, chi-square, theil-sen, ccf), the rank and median tests
(kruskal-wallis, mann-whitney, dunn, mood, lilliefors) and the sketch
operators (kmv_overlap, sliding_cms_window) collect a bounded frame
once, replay the integer combinatorics in exact Python, and feed
literals into one Spark double tree. Each has this one path, bounded by
a module constant of its own module. The tests assert golden rows that
the former distributed implementations produced on the same fixtures.

The fixtures exercise every semantic corner — ties, NULL
groups/blocks/treatments/values/days/tokens, incomplete blocks,
``value_scale``, a constant column, a VARCHAR token, empty input. Every
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
    assert _rows(kruskal_wallis(grouped, "g", "v")) == _golden([(4, 16, 0.590074, 0.606118)])


def test_kruskal_value_scale_collected_matches(grouped):
    scaled = grouped.select("g", (F.col("v") / 4.0).alias("v"))
    assert _rows(kruskal_wallis(scaled, "g", "v", value_scale=100)) == _golden(
        [(4, 16, 0.590074, 0.606118)]
    )


def test_mann_whitney_collected_matches_distributed(grouped):
    assert _rows(mann_whitney_u(grouped, "g", "v", "a", "b")) == _golden(
        [(5, 5, 10.0, -0.535373, 0.592391935781)]
    )
    scaled = grouped.select("g", (F.col("v") / 4.0).alias("v"))
    assert _rows(mann_whitney_u(scaled, "g", "v", "a", "c", value_scale=100)) == _golden(
        [(5, 4, 7.0, -0.750652, 0.452862037659)]
    )


def test_dunn_collected_matches_distributed(grouped):
    assert _rows(dunn_posthoc(grouped, "g", "v")) == _golden([
        ("a", "b", 5, 5, -0.572204, 0.567183988962, 1, False),
        ("a", "c", 5, 4, -0.571213, 0.567855363514, 2, False),
        ("b", "c", 5, 4, -0.031734, 0.974684036648, 3, False),
    ])


def test_mood_collected_matches_distributed(grouped):
    # the NULL group's rows drop; lower grand median 7
    assert _rows(mood_median_test(grouped, "g", "v")) == _golden([(3, 14, 7, 2.022222, 2)])


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
    assert _rows(kruskal_wallis(empty_g, "g", "v")) == _golden([(0, None, None, None)])
    assert _rows(mood_median_test(empty_g, "g", "v")) == _golden([(None,) * 5])
    assert _rows(mann_whitney_u(empty_g, "g", "v", "a", "b")) == _golden([(None,) * 5])
    assert _rows(dunn_posthoc(empty_g, "g", "v")) == []
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
    assert _rows(lilliefors_stat(grouped, "v")) == _golden([(16, 7.75, 9.355925, 0.321857)])
    scaled = grouped.select((F.col("v") / 3.0).alias("v"))
    assert _rows(lilliefors_stat(scaled, "v", value_scale=10)) == _golden(
        [(16, 25.875, 31.108145, 0.322254)]
    )
    tiny = spark.createDataFrame([(1,), (2,), (2,)], "v bigint")  # n < 4 guard
    assert _rows(lilliefors_stat(tiny, "v")) == _golden([(3, None, None, None)])
    constant = spark.createDataFrame([(7,)] * 6, "v bigint")  # zero variance
    assert _rows(lilliefors_stat(constant, "v")) == _golden([(6, None, None, None)])
    empty = spark.createDataFrame([], "v bigint")
    assert _rows(lilliefors_stat(empty, "v")) == _golden([(None,) * 4])


def test_bounds_raise_instead_of_truncating(grouped, blocked, monkeypatch):
    monkeypatch.setattr(analytics, "RANK_GRID_MAX_CELLS", 3)
    with pytest.raises(ValueError, match="rank grid .* exceeds its bound of 3"):
        kruskal_wallis(grouped, "g", "v")
    monkeypatch.setattr(analytics, "BLOCK_MAX_ROWS", 3)
    with pytest.raises(ValueError, match="friedman_test blocked frame exceeds its bound of 3"):
        friedman_test(blocked, "b", "t", "v")


def test_kmv_overlap_collected_matches_distributed(spark):
    # groups: x/y overlap partially, z below k (exact), w disjoint, a
    # NULL key (never pairs)
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
    # C(4,2) non-null pairs
    assert _rows(kmv_overlap(sk, "src", k=8)) == _golden([
        ("w", "x", 10.6771, 62.5694, 79.8724, 0, 0.0, 0.0, 0.0, 0.0),
        ("w", "y", 10.6771, 80.5717, 94.9689, 0, 0.0, 0.0, 0.0, 0.0),
        ("w", "z", 10.6771, 3.0, 11.0367, 0, 0.0, 0.0, 0.0, 0.0),
        ("x", "y", 62.5694, 80.5717, 144.0421, 4, 0.5, 72.0211, 1.0, 0.893875),
        ("x", "z", 62.5694, 3.0, 62.5694, 0, 0.0, 0.0, 0.0, 0.0),
        ("y", "z", 80.5717, 3.0, 80.5717, 0, 0.0, 0.0, 0.0, 0.0),
    ])


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
    from morphik_core_spark.operators import sketches
    from morphik_core_spark.operators.sketches import kmv_overlap, kmv_sketch

    monkeypatch.setattr(sketches, "KMV_MAX_KEYS", 1)
    df = spark.createDataFrame(
        [("x", f"t{i}") for i in range(30)] + [("y", f"t{i}") for i in range(30)],
        "src string, tok string",
    )
    sk = kmv_sketch(df, "src", "tok", k=16)
    pulled = _count_collects(monkeypatch)
    with pytest.raises(ValueError, match="exceeds its bound of 16 rows"):
        kmv_overlap(sk, "src", k=16)
    # the row bound is KMV_MAX_KEYS * k: the 32-row sketch never reaches
    # the driver whole
    assert pulled and max(pulled) <= 17
    # keys bound the quadratic pair loop even when each key holds one
    # value and the rows fit
    singles = kmv_sketch(
        spark.createDataFrame([("x", "t0"), ("y", "t1")], "src string, tok string"),
        "src", "tok", k=16,
    )
    with pytest.raises(ValueError, match="exceeds its bound of 1 keys"):
        kmv_overlap(singles, "src", k=16)


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
    # equal indexes never pair: 7 indexed points, 3 equal-index pairs
    rows = [(3, 30), (1, 10), (2, 12), (1, 14), (3, None), (None, 5), (5, 8), (2, 12)]
    assert run(rows) == _golden([(8, 18, -1.416667, 14.833333)])
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
    out = sliding_cms_window(df, "day", "tok", "n", window_days=7, depth=3, width=4)
    day = [d + dt.timedelta(days=i) for i in (0, 1, 3, 9)]
    assert _rows(out) == _golden([
        (day[0], "purchase", 3, 13), (day[0], "view", 10, 13),
        (day[1], "purchase", 3, 20), (day[1], "view", 17, 20),
        (day[2], "click", 5, 5), (day[2], "purchase", 3, 20), (day[2], "view", 17, 20),
        (day[3], "click", 5, 5), (day[3], "view", 2, 2),
    ])


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
        out = sliding_cms_window(df, "day", "tok", "n", window_days=3, depth=2, width=4)
        d2 = d + dt.timedelta(days=2)
        assert _rows(out) == _golden([
            (d, "buy", 3, 3), (d, "view", 10, 10), (d2, "buy", 3, 3), (d2, "view", 14, 14),
        ])
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


_BOUND = 3


def _bounded_cases():
    """op name -> (module, bound constant to patch, call that must
    overflow a bound of ``_BOUND``); module and constant are None for an
    option-bounded call."""
    from morphik_core_spark.operators import folders as folders_mod
    from morphik_core_spark.operators import graph, sketches

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
    constant_ops = {
        "kruskal_wallis": (
            a, "RANK_GRID_MAX_CELLS", lambda s: a.kruskal_wallis(groups(s), "g", "v")
        ),
        "mann_whitney_u": (
            a, "RANK_GRID_MAX_CELLS", lambda s: a.mann_whitney_u(groups(s), "g", "v", "a", "b")
        ),
        "dunn_posthoc": (a, "RANK_GRID_MAX_CELLS", lambda s: a.dunn_posthoc(groups(s), "g", "v")),
        "mood_median_test": (
            a, "RANK_GRID_MAX_CELLS", lambda s: a.mood_median_test(groups(s), "g", "v")
        ),
        "lilliefors_stat": (
            a, "RANK_GRID_MAX_CELLS", lambda s: a.lilliefors_stat(groups(s), "v")
        ),
        "theil_sen_trend": (
            a, "THEIL_SEN_MAX_POINTS", lambda s: a.theil_sen_trend(series(s), "i", "x")
        ),
        "sliding_cms_window": (
            sketches,
            "SLIDING_CMS_MAX_ROWS",
            lambda s: sketches.sliding_cms_window(day_grid(s), "day", "tok", "n"),
        ),
        "triangle_count": (
            graph, "TRIANGLE_MAX_EDGES", lambda s: graph.triangle_count(edges(s))
        ),
        "folder_descendants": (
            folders_mod,
            "FOLDERS_MAX_ROWS",
            lambda s: folders_mod.folder_descendants(folders(s), ["root"]),
        ),
    }
    cases = {name: (a, "SERIES_MAX_POINTS", call) for name, call in series_ops.items()}
    cases.update({name: (a, "BLOCK_MAX_ROWS", call) for name, call in block_ops.items()})
    cases["chi_square_independence"] = (
        a,
        "CHI_SQUARE_MAX_CELLS",
        lambda s: a.chi_square_independence(groups(s), "g", "v"),
    )
    cases.update(constant_ops)
    # pagerank keeps its option: the registry runs it on a bounded
    # dimension graph and on an unbounded vocabulary graph
    cases["pagerank_fixed_point"] = (
        None,
        None,
        lambda s: graph.pagerank_fixed_point(
            edges(s), "src", "dst", "w", collect_max_edges=_BOUND
        ),
    )
    return cases


@pytest.mark.parametrize("op", sorted(_bounded_cases()))
def test_bounded_pull_raises_before_pulling_past_bound(spark, monkeypatch, op):
    module, const, call = _bounded_cases()[op]
    if module is not None:
        monkeypatch.setattr(module, const, _BOUND)
    pulled = _count_collects(monkeypatch)
    with pytest.raises(ValueError, match=f"exceeds its bound of {_BOUND} rows"):
        call(spark).collect()
    # checked before the pull: no collect brings more than bound + 1 rows
    assert pulled and max(pulled) <= _BOUND + 1
