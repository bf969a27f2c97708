"""Unit tests for the time-series QA + index-audit batch: exact ACF
(hand-computed, gap handling), CUSUM closed form vs the textbook
recursion, recall_at_k arithmetic."""

from __future__ import annotations

from morphik_core_spark.operators.analytics import autocorrelation, cusum_screen
from morphik_core_spark.operators.similarity import recall_at_k


def test_acf_hand_computed_perfect_alternation(spark):
    # x = [1, -1, 1, -1] (as 2/0 around mean 1): acf(1) = -1, acf(2) = +1
    rows = [(0, 2), (1, 0), (2, 2), (3, 0)]
    df = spark.createDataFrame(rows, "di long, x long")
    out = {r["lag"]: r for r in autocorrelation(df, "di", "x", max_lag=2).collect()}
    # devs (n=4, S=4): 4*2-4=4, -4, 4, -4; den = 4*16 = 64
    # lag1: 3 pairs, each 4*-4 = -16 -> num -48 -> acf -0.75
    # lag2: 2 pairs, each +16 -> num 32 -> acf 0.5
    assert out[1]["n_pairs"] == 3 and out[1]["acf"] == -0.75
    assert out[2]["n_pairs"] == 2 and out[2]["acf"] == 0.5


def test_acf_gaps_drop_pairs_only(spark):
    # index 2 missing: lag-1 pairs are (0,1) and (3,4) only
    rows = [(0, 5), (1, 7), (3, 7), (4, 5)]
    df = spark.createDataFrame(rows, "di long, x long")
    out = {r["lag"]: r for r in autocorrelation(df, "di", "x", max_lag=1).collect()}
    assert out[1]["n_pairs"] == 2


def test_acf_collect_path_matches_distributed(spark):
    """Golden rows: the values the former distributed implementation
    returned on each fixture."""
    import pytest

    cases = [
        (  # alternation
            [(0, 2), (1, 0), (2, 2), (3, 0)],
            [(1, 3, -0.75), (2, 2, 0.5), (3, 1, -0.25)],
        ),
        (  # gap drops pairs
            [(0, 5), (1, 7), (3, 7), (4, 5)],
            [(1, 2, -0.5), (2, 1, 0.25), (3, 2, -0.5)],
        ),
        (  # duplicate index multiplies pairs
            [(0, 5), (0, 9), (1, 7), (2, 3)],
            [(1, 3, -0.05), (2, 2, -0.3)],
        ),
        (
            [(i, (i * 7919) % 23) for i in range(40)],
            [(1, 39, -0.209477), (2, 38, -0.416255), (3, 37, 0.406662)],
        ),
    ]
    for rows, expected in cases:
        df = spark.createDataFrame(rows, "di long, x long")
        got = sorted(map(tuple, autocorrelation(df, "di", "x", max_lag=3).collect()))
        assert got == expected, rows
    # degenerate constant series (den = 0) raises the ANSI
    # DIVIDE_BY_ZERO — the op's domain is not silently widened
    const = spark.createDataFrame([(0, 4), (1, 4), (2, 4)], "di long, x long")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        autocorrelation(const, "di", "x", max_lag=1).collect()


def test_acf_null_index_and_values_keep_sql_semantics(spark):
    """A NULL index never pairs; a NULL value counts in n and in its
    pairs but drops from every sum (golden rows of the former
    distributed implementation); an all-NULL series gives NULL acf."""
    rows = [(0, 5), (1, None), (2, 7), (None, 3), (3, 4), (3, 6), (4, 9)]
    df = spark.createDataFrame(rows, "di long, x long")
    got = sorted(map(tuple, autocorrelation(df, "di", "x", max_lag=2).collect()))
    assert got == [(1, 6, 0.065868), (2, 4, 0.336826)]
    nulls = spark.createDataFrame([(0, None), (1, None), (2, None)], "di long, x long")
    got = sorted(map(tuple, autocorrelation(nulls, "di", "x", max_lag=2).collect()))
    assert got == [(1, 2, None), (2, 1, None)]


def test_pacf_collect_path_matches_distributed(spark):
    """Golden rows: the values the former distributed implementation
    returned on this fixture."""
    from morphik_core_spark.operators.analytics import pacf_durbin_levinson

    vals, v = [], 50
    for i in range(60):
        v = (v * 13 + 7) % 101
        vals.append((i, v + (10 if i % 7 == 0 else 0)))
    df = spark.createDataFrame(vals, "di long, x long")
    got = sorted(map(tuple, pacf_durbin_levinson(df, "di", "x", max_lag=5).collect()))
    assert got == [
        (1, 0.117623082535, 0.117623082535),
        (2, 0.062186971444, 0.049030122943),
        (3, 0.138326659301, 0.127672646728),
        (4, -0.23958839164, -0.280414489127),
        (5, -0.307199627474, -0.287412844938),
    ]


def test_cusum_matches_textbook_recursion(spark):
    # hand series with a level shift; replay the max(0, s+e) recursion
    xs = [10, 9, 11, 10, 10, 16, 17, 18]
    rows = [(i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "di long, x long")
    out = {r["idx"]: r for r in cusum_screen(df, "di", "x", h_mult=1).collect()}
    target = sum(xs) // len(xs)  # 12
    s = 0
    for i, x in enumerate(xs):
        s = max(0, s + (x - target))
        assert out[i]["cusum"] == s, (i, s, out[i]["cusum"])
        assert out[i]["alarm"] is (s > target * 1)
    # the shift tail must alarm, the stable head must not
    assert out[7]["alarm"] is True and out[0]["alarm"] is False


def test_recall_at_k_counts(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)], "q long, id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 77)], "q long, id long"
    )
    out = {r["q"]: r for r in recall_at_k(exact, approx, "q", "id").collect()}
    assert out[1]["n_exact"] == 3 and out[1]["n_hits"] == 2
    assert out[1]["recall"] == round(2 / 3, 6)
    assert out[2]["n_hits"] == 0 and out[2]["recall"] == 0.0


def test_ks_statistic_hand_computed(spark):
    from morphik_core_spark.operators.analytics import ks_statistic

    a = spark.createDataFrame([(1,), (2,), (3,), (4,)], "v long")
    b = spark.createDataFrame([(3,), (4,), (5,), (6,)], "v long")
    r = ks_statistic(a, b, "v").collect()[0]
    # F_a jumps to 1.0 at v=4 while F_b = 0.5 -> D = 0.5, first at v=2
    # (gap |cum_a*n_b - cum_b*n_a|: v=2 -> |2*4-0| = 8 = max ties v=3,4)
    assert r["n_a"] == 4 and r["n_b"] == 4
    assert r["ks_stat"] == 0.5
    assert r["at_value"] == 2  # smallest value among the tied maxima


def test_ks_identical_distributions_zero(spark):
    from morphik_core_spark.operators.analytics import ks_statistic

    a = spark.createDataFrame([(1,), (2,)], "v long")
    r = ks_statistic(a, a, "v").collect()[0]
    assert r["ks_stat"] == 0.0


def test_lorenz_gini_hand_computed(spark):
    from morphik_core_spark.operators.analytics import lorenz_gini

    # equal values -> gini 0; one-holder economy of 4 -> 0.75
    eq = spark.createDataFrame([(5,)] * 4, "v long")
    assert lorenz_gini(eq, "v").collect()[0]["gini"] == 0.0
    one = spark.createDataFrame([(0,), (0,), (0,), (100,)], "v long")
    r = lorenz_gini(one, "v").collect()[0]
    assert r["gini"] == 0.75 and r["total"] == 100
    # all-zero -> NULL
    z = spark.createDataFrame([(0,)] * 3, "v long")
    assert lorenz_gini(z, "v").collect()[0]["gini"] is None


def test_forecast_backtest_hand_computed(spark):
    from morphik_core_spark.operators.analytics import forecast_backtest

    # season 2: pairs (idx2: x=12 f=10), (idx3: x=9 f=10)
    rows = [(0, 10), (1, 10), (2, 12), (3, 9)]
    df = spark.createDataFrame(rows, "di long, x long")
    r = forecast_backtest(df, "di", "x", season=2).collect()[0]
    assert r["n_forecasts"] == 2
    mape = round((round((2 / 12) * 1e12) + round((1 / 9) * 1e12)) / 1e12 / 2, 6)
    assert r["mape"] == mape
    import math
    assert r["rmse"] == round(math.sqrt((4 + 1) / 2), 6)


def test_cuped_adjust_hand_computed(spark):
    from morphik_core_spark.operators.analytics import cuped_adjust

    # y = x + arm effect: control x=[1,2,3] y=[1,2,3]; treat x=[1,2,3] y=[2,3,4]
    rows = [("c", 1, 1), ("c", 2, 2), ("c", 3, 3), ("t", 2, 1), ("t", 3, 2), ("t", 4, 3)]
    df = spark.createDataFrame(rows, "variant string, y long, x long")
    out = {r["variant"]: r for r in cuped_adjust(df, "variant", "y", "x").collect()}
    # pooled: n=6, sx=12, sy=15, sxx=28, sxy=34 -> cov = 6*34-12*15 = 24,
    # varx = 6*28-144 = 24 -> theta = 1.0
    assert out["c"]["theta"] == 1.0 == out["t"]["theta"]
    # both arms have the same x-mean (=pooled), so adjustment is a no-op
    assert out["c"]["adj_mean"] == out["c"]["mean_y"] == 2.0
    assert out["t"]["adj_mean"] == out["t"]["mean_y"] == 3.0
    # constant covariate -> theta NULL, adj falls back to raw mean
    rows2 = [("c", 1, 5), ("c", 3, 5), ("t", 2, 5)]
    df2 = spark.createDataFrame(rows2, "variant string, y long, x long")
    out2 = {r["variant"]: r for r in cuped_adjust(df2, "variant", "y", "x").collect()}
    assert out2["c"]["theta"] is None and out2["c"]["adj_mean"] == 2.0


def test_cuped_covariate_imbalance_is_corrected(spark):
    from morphik_core_spark.operators.analytics import cuped_adjust

    # y == x exactly (pure covariate effect, no treatment effect), but
    # the treat arm drew bigger-x units; CUPED must pull the arms together
    rows = [("c", 1, 1), ("c", 2, 2), ("t", 3, 3), ("t", 4, 4)]
    df = spark.createDataFrame(rows, "variant string, y long, x long")
    out = {r["variant"]: r for r in cuped_adjust(df, "variant", "y", "x").collect()}
    assert out["c"]["theta"] == 1.0
    assert out["c"]["adj_mean"] == out["t"]["adj_mean"] == 2.5


def test_survival_curve_hand_computed(spark):
    from morphik_core_spark.operators.analytics import survival_curve

    # classic: deaths at t=1 (2 of 5), censored at t=2 (1), death at t=3 (1 of 2)
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (3, 0)]
    df = spark.createDataFrame(rows, "t long, e int")
    out = {r["t"]: r for r in survival_curve(df, "t", "e").collect()}
    import math
    assert out[1]["n_at_risk"] == 5 and out[1]["n_events"] == 2
    s1 = round(math.exp(round(math.log(3 / 5) * 1e12) / 1e12), 6)
    assert out[1]["survival"] == s1
    # censoring at t=2 doesn't change survival
    assert out[2]["survival"] == s1 and out[2]["n_at_risk"] == 3
    l3 = round(math.log(3 / 5) * 1e12) + round(math.log(1 / 2) * 1e12)
    assert out[3]["survival"] == round(math.exp(l3 / 1e12), 6)


def test_survival_curve_total_death_hits_zero(spark):
    from morphik_core_spark.operators.analytics import survival_curve

    rows = [(1, 1), (2, 1), (2, 1)]  # everyone left dies at t=2
    df = spark.createDataFrame(rows, "t long, e int")
    out = {r["t"]: r for r in survival_curve(df, "t", "e").collect()}
    assert out[2]["survival"] == 0.0 and out[1]["survival"] > 0.0


def test_did_estimate_hand_computed(spark):
    from morphik_core_spark.operators.analytics import did_estimate

    # treat: pre mean 1, post mean 4 (delta 3); ctrl: pre 2, post 3 (delta 1)
    rows = (
        [("t", "pre", 1)] * 2 + [("t", "post", 4)] * 2
        + [("c", "pre", 2)] * 3 + [("c", "post", 3)] * 3
    )
    df = spark.createDataFrame(rows, "g string, p string, y long")
    out = did_estimate(df, "g", "p", "y", treat_value="t", post_value="post")
    rowsd = {(r["group"], r["period"]): r for r in out.collect()}
    assert rowsd[("treatment", "pre")]["mean"] == 1.0
    assert rowsd[("control", "post")]["n_units"] == 3
    assert rowsd[("__did__", "effect")]["mean"] == 2.0
    # unknown group labels fold into control
    rows2 = rows + [("other", "pre", 2)]
    df2 = spark.createDataFrame(rows2, "g string, p string, y long")
    out2 = {(r["group"], r["period"]): r for r in did_estimate(df2, "g", "p", "y", treat_value="t").collect()}
    assert out2[("control", "pre")]["n_units"] == 4


def test_mad_outliers_hand_computed(spark):
    from morphik_core_spark.operators.analytics import mad_outliers

    # group g: values 1..9 plus a whale 1000. lower median of 10 = 5
    # (rank 5); deviations |x-5| = 4,3,2,1,0,1,2,3,4,995 -> sorted
    # 0,1,1,2,2,3,3,4,4,995: lower median (rank 5) = 2 -> MAD 2.
    # modified z: 0.6745*d/2 > 3.5 <=> d > 10.378 -> only the whale.
    rows = [("g", v) for v in list(range(1, 10)) + [1000]]
    df = spark.createDataFrame(rows, "g string, v long")
    r = mad_outliers(df, "g", "v", z=3.5).collect()[0]
    assert r["n"] == 10 and r["median"] == 5 and r["mad"] == 2
    assert r["n_outliers"] == 1 and r["outlier_share"] == 0.1
    # mean/std would call the whale ~3 sigma and hide everything else;
    # median/MAD is unmoved by it: drop the whale, stats barely change
    r2 = mad_outliers(df.filter("v < 1000"), "g", "v").collect()[0]
    assert r2["median"] == 5 and r2["mad"] == 2 and r2["n_outliers"] == 0


def test_mad_outliers_zero_mad_flags_any_deviation(spark):
    from morphik_core_spark.operators.analytics import mad_outliers

    # >50% identical -> MAD 0 -> every nonzero deviation flags (the
    # documented modified-z degeneracy; callers with spiky data should
    # pre-bin)
    rows = [("g", 5)] * 6 + [("g", 7)] * 2
    df = spark.createDataFrame(rows, "g string, v long")
    r = mad_outliers(df, "g", "v").collect()[0]
    assert r["mad"] == 0 and r["n_outliers"] == 2


def test_numeric_corr_hand_computed(spark):
    from morphik_core_spark.operators.analytics import numeric_corr

    # y = 2x exactly -> r = 1; z anti-correlated with x -> r = -1;
    # constant w -> NULL
    rows = [(1, 2, 3, 5), (2, 4, 2, 5), (3, 6, 1, 5)]
    df = spark.createDataFrame(rows, "x long, y long, z long, w long")
    out = {(r["col_a"], r["col_b"]): r for r in numeric_corr(df, ["x", "y", "z", "w"]).collect()}
    assert len(out) == 6 and all(r["n"] == 3 for r in out.values())
    assert out[("x", "y")]["corr"] == 1.0
    assert out[("x", "z")]["corr"] == -1.0
    assert out[("x", "w")]["corr"] is None
    # NULL rows are dropped complete-case: all pairs share n
    rows2 = rows + [(4, None, 9, 5)]
    df2 = spark.createDataFrame(rows2, "x long, y long, z long, w long")
    out2 = numeric_corr(df2, ["x", "y", "z", "w"]).collect()
    assert all(r["n"] == 3 for r in out2)


def test_winsorize_stats_hand_computed(spark):
    from morphik_core_spark.operators.analytics import winsorize_stats

    # 1..20: P5 fence = rank ceil(0.05*20)=1 -> 1; P95 = rank 19 -> 19;
    # only 20 clips (to 19): winsorized sum = 210 - 1 = 209
    rows = [("g", v) for v in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = winsorize_stats(df, "g", "v", lo_pct=5, hi_pct=95).collect()[0]
    assert r["p_lo"] == 1 and r["p_hi"] == 19
    assert r["n_clipped_low"] == 0 and r["n_clipped_high"] == 1
    assert r["mean"] == 10.5 and r["winsorized_mean"] == round(209 / 20, 6)
    # a whale moves the raw mean, not the winsorized one
    df2 = spark.createDataFrame(rows + [("g", 10_000)], "g string, v long")
    r2 = winsorize_stats(df2, "g", "v").collect()[0]
    assert r2["mean"] > 480 and r2["winsorized_mean"] < 12


def test_ucb_allocation_hand_computed(spark):
    import math

    from morphik_core_spark.operators.analytics import ucb_allocation

    # arm a: 10 pulls 5 wins; arm b: 2 pulls 1 win -> same mean, but b's
    # bonus is larger (less explored) so UCB picks b
    rows = [("a", i < 5) for i in range(10)] + [("b", i < 1) for i in range(2)]
    df = spark.createDataFrame(rows, "v string, r boolean")
    out = {r["variant"]: r for r in ucb_allocation(df, "v", "r").collect()}
    n_total = 12
    ucb_a = round(0.5 + math.sqrt(2 * math.log(n_total) / 10), 6)
    ucb_b = round(0.5 + math.sqrt(2 * math.log(n_total) / 2), 6)
    assert out["a"]["ucb"] == ucb_a and out["b"]["ucb"] == ucb_b
    assert out["b"]["would_pick"] is True and out["a"]["would_pick"] is False
    # exact tie on the rounded bound: max arm NAME wins (documented)
    rows2 = [("x", True), ("y", True)]
    df2 = spark.createDataFrame(rows2, "v string, r boolean")
    out2 = {r["variant"]: r["would_pick"] for r in ucb_allocation(df2, "v", "r").collect()}
    assert out2 == {"x": False, "y": True}


def test_theil_decomposition_hand_computed(spark):
    import math

    from morphik_core_spark.operators.analytics import theil_decomposition

    # two groups: a = [1, 3] (unequal within), b = [2, 2] (equal within)
    rows = [("a", 1), ("a", 3), ("b", 2), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r["g"]: r for r in theil_decomposition(df, "g", "x").collect()}

    def q(v):
        return round(v * 1e12)

    # within a: mean 2 -> (0.5 ln 0.5 + 1.5 ln 1.5)/2 via quantized terms
    tw_a = (q(0.5 * math.log(0.5)) + q(1.5 * math.log(1.5))) / 1e12 / 2
    assert out["a"]["theil_within"] == round(tw_a, 6)
    assert out["b"]["theil_within"] == 0.0
    # equal group means -> value shares equal pop shares -> between = 0
    assert out["a"]["theil_between"] == 0.0
    assert out["a"]["value_share"] == 0.5
    # total = sum of share-weighted withins
    wc_a = round(0.5 * round(tw_a, 12) * 1e12)  # engine quantizes the product too
    assert out["a"]["theil_total"] > 0
    # perfectly equal corpus -> everything 0
    eq = spark.createDataFrame([("a", 5), ("b", 5)], "g string, x long")
    r = theil_decomposition(eq, "g", "x").collect()[0]
    assert r["theil_total"] == 0.0 and r["theil_between"] == 0.0


def test_theil_zero_values_contribute_nothing(spark):
    from morphik_core_spark.operators.analytics import theil_decomposition

    a = spark.createDataFrame([("g", 0), ("g", 4), ("g", 4)], "g string, x long")
    b = spark.createDataFrame([("g", 4), ("g", 4)], "g string, x long")
    ra = theil_decomposition(a, "g", "x").collect()[0]
    # the zero subject still counts in N (mean shifts) but its x·ln x term is 0
    assert ra["n"] == 3 and ra["theil_within"] > 0


def test_diversity_metrics_hand_computed(spark):
    import math

    from morphik_core_spark.operators.analytics import diversity_metrics

    # 80/20 two-source mix
    rows = [("a",)] * 8 + [("b",)] * 2
    df = spark.createDataFrame(rows, "s string")
    r = diversity_metrics(df, "s").collect()[0]
    h = round((round(0.64 * 1e12) + round(0.04 * 1e12)) / 1e12, 6)
    assert r["hhi"] == h and r["n_categories"] == 2
    assert r["effective_simpson"] == round(1e12 / (round(0.64e12) + round(0.04e12)), 6)
    e = (round(-0.8 * math.log(0.8) * 1e12) + round(-0.2 * math.log(0.2) * 1e12)) / 1e12
    assert r["entropy_nats"] == round(e, 6)
    assert r["effective_shannon"] == round(math.exp(e), 6)
    # single source -> no diversity
    one = spark.createDataFrame([("x",)] * 5, "s string")
    r1 = diversity_metrics(one, "s").collect()[0]
    assert r1["hhi"] == 1.0 and r1["entropy_nats"] == 0.0 and r1["effective_shannon"] == 1.0


def test_group_trend_slopes_hand_computed(spark):
    from morphik_core_spark.operators.analytics import group_trend_slopes

    # up: y = 2x + 1 -> slope 2; down: y = 10 - x -> slope -1; flat -> 0;
    # single point -> NULL
    rows = (
        [("up", i, 2 * i + 1) for i in range(5)]
        + [("down", i, 10 - i) for i in range(5)]
        + [("flat", i, 7) for i in range(5)]
        + [("single", 3, 9)]
    )
    df = spark.createDataFrame(rows, "k string, di long, x long")
    out = {r["k"]: r for r in group_trend_slopes(df, ["k"], "di", "x").collect()}
    assert out["up"]["slope"] == 2.0 and out["up"]["rising"] is True
    assert out["down"]["slope"] == -1.0 and out["down"]["rising"] is False
    assert out["flat"]["slope"] == 0.0 and out["flat"]["rising"] is False
    assert out["single"]["slope"] is None and out["single"]["rising"] is None
