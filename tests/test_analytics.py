"""Event-analytics + graph operators: hand-checked semantics, exactness
invariants, and plan shapes. Cross-engine parity lives in
test_oracle_parity."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ts(s: int):
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s)


@pytest.fixture(scope="module")
def funnel_events(spark):
    rows = [
        # u1 completes the funnel in order
        (1, _ts(0), "view"), (1, _ts(10), "click"), (1, _ts(20), "purchase"),
        # u2 clicks BEFORE viewing: click must not count
        (2, _ts(10), "click"), (2, _ts(20), "view"),
        # u3 views only
        (3, _ts(0), "view"),
        # u4 purchases without clicking: stops at view
        (4, _ts(0), "view"), (4, _ts(5), "purchase"),
    ]
    return spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")


def test_funnel_strict_ordering(funnel_events):
    from morphik_core_spark.operators.analytics import funnel_counts

    out = {r["step_name"]: r["n_users"] for r in funnel_counts(
        funnel_events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 4, "click": 1, "purchase": 1}


def test_funnel_counts_monotonic_on_real_shape(funnel_events):
    from morphik_core_spark.operators.analytics import funnel_counts

    rows = funnel_counts(
        funnel_events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).orderBy("step_index").collect()
    vals = [r["n_users"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_cohort_retention_offsets(spark):
    from morphik_core_spark.operators.analytics import cohort_retention

    day = 86400
    rows = [
        (1, _ts(0)), (1, _ts(8 * day)),          # week 0 cohort, back week 1
        (2, _ts(0)), (2, _ts(1 * day)),          # week 0 cohort, week 0 only
        (3, _ts(7 * day)), (3, _ts(21 * day)),   # week 1 cohort, back week 2 offset
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = cohort_retention(df, "user_id", "ts", bucket_secs=7 * day).collect()
    # normalize cohorts relative to the earliest
    base = min(r["cohort_week"] for r in out)
    got = {(r["cohort_week"] - base, r["week_offset"]): r["n_users"] for r in out}
    assert got == {(0, 0): 2, (0, 1): 1, (1, 0): 1, (1, 2): 1}


def test_value_histogram_bins_and_totals(spark):
    from morphik_core_spark.operators.analytics import value_histogram

    rows = [("a", 0.0), ("a", 24.99), ("a", 25.0), ("a", 60.0), ("b", 10.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {(r["event_type"], r["bin"]): r for r in value_histogram(df, "event_type", "value").collect()}
    assert out[("a", 0)]["n_events"] == 2
    assert out[("a", 1)]["n_events"] == 1 and out[("a", 1)]["bin_lo"] == 25.0
    assert out[("a", 2)]["n_events"] == 1 and out[("a", 2)]["bin_lo"] == 50.0
    assert sum(r["n_events"] for r in out.values()) == 5


def test_anomaly_stats_matches_population_moments(spark):
    from morphik_core_spark.operators.analytics import anomaly_stats

    vals = [10.0, 12.0, 11.0, 9.0, 13.0, 100.0]  # 100 is a blatant outlier
    df = spark.createDataFrame([("a", v) for v in vals], "event_type string, value double")
    [r] = anomaly_stats(df, "event_type", "value", z_threshold=2.0).collect()
    mean = sum(vals) / len(vals)
    var = sum(v * v for v in vals) / len(vals) - mean * mean
    assert r["n"] == 6
    assert abs(r["mean"] - mean) < 1e-6
    assert abs(r["std"] - math.sqrt(var)) < 1e-6
    assert r["n_outliers"] == 1


def test_pagerank_fixed_point_exact_hand_values(spark):
    from morphik_core_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame([("A", "B", 1)], "src string, dst string, w int")
    out = {r["node"]: r["rank_u"] for r in pagerank_fixed_point(edges, "src", "dst", "w", iterations=3).collect()}
    # N=2: teleport = 150e9 // 2 = 75e9; A never receives -> settles at 75e9
    assert out["A"] == 75_000_000_000
    # B: 75e9 + 85% of A's 75e9 = 138.75e9 after convergence of the chain
    assert out["B"] == 138_750_000_000


def test_pagerank_collect_path_matches_distributed(spark):
    import pytest

    from morphik_core_spark.operators.graph import pagerank_fixed_point

    cases = [
        [("A", "B", 1)],  # dangling source, sink accumulation
        [("a", "hub", 5), ("b", "hub", 5), ("c", "hub", 5), ("hub", "a", 1)],
        [("x", "y", 3), ("y", "x", 2), ("y", "z", 7), ("z", "x", 1), ("w", "x", 4)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src string, dst string, w int")
        dist = sorted(map(tuple, pagerank_fixed_point(df, "src", "dst", "w").collect()))
        fast = sorted(
            map(
                tuple,
                pagerank_fixed_point(
                    df, "src", "dst", "w", collect_max_edges=100
                ).collect(),
            )
        )
        assert fast == dist, edges
    big = spark.createDataFrame(
        [(str(i), str(i + 1), 1) for i in range(20)], "src string, dst string, w int"
    )
    with pytest.raises(ValueError, match="collect_max_edges"):
        pagerank_fixed_point(big, "src", "dst", "w", collect_max_edges=5)


def test_pagerank_favors_high_inweight_nodes(spark):
    from morphik_core_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [("a", "hub", 5), ("b", "hub", 5), ("c", "hub", 5), ("hub", "a", 1)],
        "src string, dst string, w int",
    )
    ranks = {r["node"]: r["rank_u"] for r in pagerank_fixed_point(edges, "src", "dst", "w").collect()}
    assert ranks["hub"] > ranks["b"] and ranks["hub"] > ranks["c"]


def test_analytics_plan_shapes(spark, funnel_events):
    from morphik_core_spark.operators.analytics import (
        anomaly_stats, funnel_counts, value_histogram,
    )
    from morphik_core_spark.operators.graph import pagerank_fixed_point

    vplan = _plan(value_histogram(funnel_events.withColumn("value", F.rand(7) * 100), "event_type", "value"))
    assert vplan.count("Exchange") == 1  # one (group, bin) shuffle
    assert "BatchEvalPython" not in vplan

    fplan = _plan(funnel_counts(funnel_events, "user_id", "ts", "event_type", ["view", "click"]))
    assert "CartesianProduct" not in fplan

    aplan = _plan(anomaly_stats(funnel_events.withColumn("value", F.rand(7) * 100), "event_type", "value"))
    assert "BroadcastHashJoin" in aplan  # per-group stats broadcast to the rescan
    assert "CartesianProduct" not in aplan

    edges = spark.createDataFrame([("A", "B", 1)], "src string, dst string, w int")
    gplan = _plan(pagerank_fixed_point(edges, "src", "dst", "w", iterations=2))
    assert "CartesianProduct" not in gplan
    assert "BroadcastNestedLoopJoin" in gplan  # 1-row node count rides broadcasts


@pytest.mark.parametrize("seed", [1, 2])
def test_star_cc_matches_propagation_on_random_graphs(spark, seed):
    import random

    from morphik_core_spark.operators.dedup import connected_components
    from morphik_core_spark.operators.graph import connected_components_star

    rng = random.Random(seed)
    pairs = set()
    # random clusters + noise edges
    for _ in range(60):
        a, b = rng.randrange(100), rng.randrange(100)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(pairs), "id_a int, id_b int")
    star = {(r["node"], r["component"]) for r in connected_components_star(df).collect()}
    prop = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    assert star == prop


def test_star_cc_converges_fast_on_a_long_chain(spark):
    """The case that motivates the algorithm: a 300-hop chain needs 300
    propagation rounds but converges in O(log^2 n) star rounds."""
    from morphik_core_spark.operators.graph import connected_components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(300)], "id_a int, id_b int")
    out = connected_components_star(chain, max_rounds=15).collect()
    assert len(out) == 301
    assert all(r["component"] == 0 for r in out)


def test_triangle_count_known_graphs(spark):
    from morphik_core_spark.operators.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "src int, dst int")
        return triangle_count(df).collect()[0]

    k4 = tri([(a, b) for a in range(4) for b in range(4) if a < b])
    assert (k4.n_triangles, k4.n_wedges, k4.global_clustering) == (4, 12, 1.0)
    path = tri([(0, 1), (1, 2), (2, 3)])
    assert path.n_triangles == 0 and path.global_clustering == 0.0
    # reversed duplicates + self-loop normalize to one triangle
    messy = tri([(0, 1), (1, 0), (1, 1), (1, 2), (2, 0), (0, 2)])
    assert (messy.n_nodes, messy.n_edges, messy.n_triangles) == (3, 3, 1)


def test_triangle_count_collect_path_matches_distributed(spark):
    from morphik_core_spark.operators.graph import triangle_count

    def census(edges, schema="src int, dst int"):
        return [tuple(r) for r in triangle_count(spark.createDataFrame(edges, schema)).collect()]

    # golden rows of the former distributed orientation census
    assert census([(a, b) for a in range(4) for b in range(4) if a < b]) == [(4, 6, 4, 12, 1.0)]
    # path: 0 triangles, clustering 0.0
    assert census([(0, 1), (1, 2), (2, 3)]) == [(4, 3, 0, 2, 0.0)]
    # reversed duplicates and a self-loop normalize away
    assert census([(0, 1), (1, 0), (1, 1), (1, 2), (2, 0), (0, 2)]) == [(3, 3, 1, 3, 1.0)]
    # hub + rim
    assert census([(100, i) for i in range(50)] + [(0, 1)]) == [(51, 51, 1, 1227, 0.002445)]
    # an empty graph has 0 wedges
    assert census([]) == [(0, 0, 0, 0, None)]


def test_triangle_count_string_node_ids(spark):
    from morphik_core_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    # golden row of the former distributed census
    assert [tuple(r) for r in triangle_count(edges).collect()] == [(4, 4, 1, 5, 0.6)]


def test_debounce_semantics(spark):
    from datetime import datetime

    from pyspark.sql import functions as F  # noqa: F811

    from morphik_core_spark.operators.sessions import debounce_events

    rows = [
        # user 1: burst at t=0,30s,70s -> only t=0 and t=70 kept (gap to
        # previous RAW event: 30<60 dropped, 40<60 dropped? no: 70-30=40 -> dropped)
        (1, "c", datetime(2024, 1, 1, 0, 0, 0), 1),
        (1, "c", datetime(2024, 1, 1, 0, 0, 30), 2),
        (1, "c", datetime(2024, 1, 1, 0, 1, 10), 3),
        (1, "c", datetime(2024, 1, 1, 0, 3, 0), 4),  # 110s gap -> kept
        # different type: independent stream
        (1, "d", datetime(2024, 1, 1, 0, 0, 10), 5),
        # tie on ts: event_id orders them; second of the tie is dropped
        (2, "c", datetime(2024, 1, 1, 0, 0, 0), 6),
        (2, "c", datetime(2024, 1, 1, 0, 0, 0), 7),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp, event_id int")
    out = debounce_events(df, ["user_id", "event_type"], "ts", 60, tiebreak_col="event_id")
    kept = {r.event_id for r in out.filter("kept").collect()}
    assert kept == {1, 4, 5, 6}


def test_readability_known_values(spark):
    from morphik_core_spark.operators.text_analysis import readability

    rows = [
        (1, "The cat sat. The dog ran."),      # 6 words, 2 sentences, 6 syllables
        (2, "zzz grr pfft"),                   # consonant-only: syllables = words
        (3, "One sentence without terminator"),  # n_sentences floors to 1
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in readability(df, "text", "doc_id").collect()}
    r1 = out[1]
    assert (r1.n_sentences, r1.n_words, r1.n_syllables) == (2, 6, 6)
    assert r1.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
    assert out[2].n_syllables == out[2].n_words == 3
    assert out[3].n_sentences == 1


def test_script_mix_classes(spark):
    from morphik_core_spark.operators.text_analysis import script_mix

    rows = [
        (1, "abcd efgh"),            # latin + space only
        (2, "漢字漢字"),              # pure CJK
        (3, "ab 漢字 12"),            # mixed above both thresholds
        (4, "1234"),                 # digits only
        (5, "éàü abc"),              # extended latin counts as latin
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in script_mix(df, "text", "doc_id").collect()}
    assert out[1].latin_ratio == round(8 / 9, 6) and out[1].cjk_ratio == 0.0
    assert out[2].cjk_ratio == 1.0 and not out[2].mixed_script
    assert out[3].mixed_script
    assert out[4].digit_ratio == 1.0
    assert out[5].latin_ratio == round(6 / 7, 6)
    assert not out[1].mixed_script


def test_k_core_known_graphs(spark):
    from morphik_core_spark.operators.graph import k_core

    def core(edges, k):
        df = spark.createDataFrame(edges, "src int, dst int")
        return {r.node: r.degree for r in k_core(df, k).collect()}

    # triangle with a tail: 2-core = the triangle, tail peels off
    tri_tail = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    assert core(tri_tail, 2) == {0: 2, 1: 2, 2: 2}
    # star: 2-core empty (leaves have degree 1; hub collapses after peel)
    star = [(100, i) for i in range(6)]
    assert core(star, 2) == {}
    # chain peeling cascade: path of 5 -> 2-core empty via MULTIPLE rounds
    path = [(0, 1), (1, 2), (2, 3), (3, 4)]
    assert core(path, 2) == {}
    # k=1 keeps everything with at least one edge
    assert set(core(path, 1)) == {0, 1, 2, 3, 4}


def test_decayed_counts_exact_power_weights(spark):
    from datetime import datetime, timedelta

    from morphik_core_spark.operators.analytics import decayed_counts

    t0 = datetime(2024, 6, 1)
    rows = [
        ("a", t0),                      # age 0 half-lives -> weight 1
        ("a", t0 - timedelta(days=7)),  # 1 half-life -> 0.5
        ("a", t0 - timedelta(days=15)), # 2 half-lives -> 0.25
        ("b", t0 - timedelta(days=7 * 25)),  # beyond max: weight 0
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    out = {r.k: r for r in decayed_counts(df, ["k"], "ts").collect()}
    assert out["a"].trending_score == 1.75
    assert out["b"].trending_score == 0.0 and out["b"].n_events == 1


def test_bootstrap_ci_statistics_and_reproducibility(spark):
    from pyspark.sql import functions as F

    from morphik_core_spark.operators.analytics import bootstrap_ci

    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 100).cast("double").alias("x")
    )
    r = bootstrap_ci(df, "x", "k", n_resamples=200).collect()[0].asDict()
    assert r["n_rows"] == 10000 and r["n_resamples"] == 200
    assert r["mean"] == 49.5
    # CI brackets the mean with ~4*se width (se = 28.87/sqrt(10000) = 0.289)
    assert r["ci_lo"] < 49.5 < r["ci_hi"]
    assert 0.6 < r["ci_hi"] - r["ci_lo"] < 1.9
    # deterministic: identical under a different partitioning
    r2 = bootstrap_ci(df.repartition(17), "x", "k", n_resamples=200).collect()[0].asDict()
    assert r == r2


def test_bootstrap_ci_nulls_and_tiny_input(spark):
    from morphik_core_spark.operators.analytics import bootstrap_ci

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, x double"
    )
    r = bootstrap_ci(df, "x", "k", n_resamples=40).collect()[0].asDict()
    assert r["n_rows"] == 2 and r["mean"] == 20.0
    # bounds exist and come from the two achievable values' resample mix
    assert 10.0 <= r["ci_lo"] <= r["ci_hi"] <= 30.0


def test_grouped_ols_exact_line(spark):
    from morphik_core_spark.operators.analytics import grouped_ols

    # y = 2x + 1 exactly, in micro-units: slope 2, intercept 1, r2 1
    rows = [("g", x * 1_000_000, (2 * x + 1) * 1_000_000) for x in (1, 2, 3, 4)]
    r = grouped_ols(
        spark.createDataFrame(rows, "g string, x long, y long"), "g", "x", "y"
    ).collect()[0]
    assert r["n"] == 4 and r["slope"] == 2.0 and r["intercept"] == 1.0 and r["r2"] == 1.0


def test_grouped_ols_degenerate_groups(spark):
    from morphik_core_spark.operators.analytics import grouped_ols

    rows = [
        ("single", 1_000_000, 5_000_000),          # n=1 -> NULL slope
        ("novar", 1_000_000, 1_000_000),           # zero x-variance
        ("novar", 1_000_000, 2_000_000),
    ]
    out = {r["g"]: r for r in grouped_ols(
        spark.createDataFrame(rows, "g string, x long, y long"), "g", "x", "y"
    ).collect()}
    assert out["single"]["slope"] is None
    assert out["novar"]["slope"] is None and out["novar"]["r2"] is None


def test_grouped_ols_matches_numpy(spark):
    import numpy as np
    from morphik_core_spark.operators.analytics import grouped_ols

    rng = [(i * 37 % 11) for i in range(40)]
    xs = [1.0 + 0.1 * v for v in rng]
    ys = [0.5 * x + 0.25 + 0.01 * ((i * 13) % 7) for i, x in enumerate(xs)]
    rows = [
        ("g", int(round(x * 1e6)), int(round(y * 1e6))) for x, y in zip(xs, ys)
    ]
    r = grouped_ols(
        spark.createDataFrame(rows, "g string, x long, y long"), "g", "x", "y"
    ).collect()[0]
    qx = np.array([round(x * 1e6) / 1e6 for x in xs])
    qy = np.array([round(y * 1e6) / 1e6 for y in ys])
    slope, intercept = np.polyfit(qx, qy, 1)
    assert abs(r["slope"] - slope) < 1e-6
    assert abs(r["intercept"] - intercept) < 1e-6
    corr = np.corrcoef(qx, qy)[0, 1]
    assert abs(r["r2"] - corr**2) < 1e-6


def test_gap_fill_series_forward_fill_and_leading_nulls(spark):
    from morphik_core_spark.operators.analytics import gap_fill_series

    rows = [("a", 10, 5), ("a", 13, 7), ("b", 2, 1)]
    out = {
        (r["k"], r["i"]): (r["v"], r["filled_value"], r["is_gap"])
        for r in gap_fill_series(
            spark.createDataFrame(rows, "k string, i long, v long"), "k", "i", "v"
        ).collect()
    }
    # grid: a covers 10..13, b covers 2..2
    assert set(out) == {("a", 10), ("a", 11), ("a", 12), ("a", 13), ("b", 2)}
    assert out[("a", 10)] == (5, 5, False)
    assert out[("a", 11)] == (None, 5, True)
    assert out[("a", 12)] == (None, 5, True)
    assert out[("a", 13)] == (7, 7, False)
    assert out[("b", 2)] == (1, 1, False)


def test_gap_fill_series_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import gap_fill_series

    rows = [("k", i, i * 2) for i in range(0, 40, 3)]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    a = sorted(map(tuple, gap_fill_series(df, "k", "i", "v").collect()))
    b = sorted(map(tuple, gap_fill_series(df.repartition(13), "k", "i", "v").collect()))
    assert a == b and len(a) == 40  # dense grid 0..39


def test_seasonal_decompose_hand_computed(spark):
    from morphik_core_spark.operators.analytics import seasonal_decompose

    # constant series + phase bump: y = 10, +7 on phase 0 -> trend = 11,
    # seasonal(phase0) = +6, other phases = -1, residual = 0 everywhere
    rows = [(i, 10 + (7 if i % 7 == 0 else 0)) for i in range(21)]
    out = {r["di"]: r for r in seasonal_decompose(
        spark.createDataFrame(rows, "di long, y long"), "di", "y", period=7
    ).collect()}
    assert len(out) == 21
    # edges: first/last 3 days have no full window
    for i in (0, 1, 2, 18, 19, 20):
        assert out[i]["trend"] is None and out[i]["residual"] is None
    for i in range(3, 18):
        assert out[i]["trend"] == 11.0
        assert out[i]["seasonal"] == (6.0 if i % 7 == 0 else -1.0)
        assert out[i]["residual"] == 0.0


def test_seasonal_decompose_even_period(spark):
    from morphik_core_spark.operators.analytics import seasonal_decompose

    # period=4, constant + bump on phase 0: the 2x4 centered MA with
    # half-weight endpoints sees exactly one full bump per window
    # (endpoints share phase so contribute 2 halves = 1 full), hence
    # trend = 10 + 8/4 = 12 everywhere a full 5-row window exists.
    rows = [(i, 10 + (8 if i % 4 == 0 else 0)) for i in range(16)]
    out = {r["di"]: r for r in seasonal_decompose(
        spark.createDataFrame(rows, "di long, y long"), "di", "y", period=4
    ).collect()}
    assert len(out) == 16
    for i in (0, 1, 14, 15):  # half = 2 -> 2 edge rows each side
        assert out[i]["trend"] is None and out[i]["residual"] is None
    for i in range(2, 14):
        assert out[i]["trend"] == 12.0, (i, out[i])
        assert out[i]["seasonal"] == (6.0 if i % 4 == 0 else -2.0)
        assert out[i]["residual"] == 0.0


def test_seasonal_decompose_even_period_matches_statsmodels_convention(spark):
    """Cross-check the 2x-period MA against a plain-Python replay of the
    classical convention (half-weight endpoints) on a non-trivial series."""
    from morphik_core_spark.operators.analytics import seasonal_decompose

    ys = [10 + (i * 13) % 9 + (5 if i % 6 in (0, 1) else 0) for i in range(30)]
    rows = [(i, y) for i, y in enumerate(ys)]
    out = {r["di"]: r for r in seasonal_decompose(
        spark.createDataFrame(rows, "di long, y long"), "di", "y", period=6
    ).collect()}
    p, half = 6, 3
    for i in range(half, len(ys) - half):
        num = 2 * sum(ys[i - half: i + half + 1]) - ys[i - half] - ys[i + half]
        expected = round(round(num * 1e6 / (2 * p)) / 1e6, 6)
        assert out[i]["trend"] == expected, (i, out[i]["trend"], expected)
    for i in (0, 1, 2, 27, 28, 29):
        assert out[i]["trend"] is None


def test_seasonal_decompose_rejects_degenerate_period(spark):
    from morphik_core_spark.operators.analytics import seasonal_decompose

    df = spark.createDataFrame([(0, 1)], "di long, y long")
    with pytest.raises(ValueError):
        seasonal_decompose(df, "di", "y", period=1)


def test_seasonal_decompose_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import seasonal_decompose

    rows = [(i, 10 + (i * 13) % 9 + (5 if i % 7 in (0, 1) else 0)) for i in range(35)]
    df = spark.createDataFrame(rows, "di long, y long")
    a = sorted(map(tuple, seasonal_decompose(df, "di", "y").collect()))
    b = sorted(map(tuple, seasonal_decompose(df.repartition(11), "di", "y").collect()))
    assert a == b


def test_holt_linear_hand_computed_and_tracks_trend(spark):
    from morphik_core_spark.operators.analytics import holt_linear

    # pure linear series y = 10 + 2t: after the two-point init the state
    # is exactly on the line, so every forecast is exact and errors = 0
    rows = [(t, 10 + 2 * t) for t in range(10)]
    out = {r["di"]: r for r in holt_linear(
        spark.createDataFrame(rows, "di long, y long"), "di", "y"
    ).collect()}
    assert out[0]["forecast"] is None and out[0]["error"] is None
    for t in range(1, 10):
        assert out[t]["forecast"] == float(10 + 2 * t)
        assert out[t]["error"] == 0.0
        assert out[t]["trend"] == 2.0


def test_holt_linear_matches_float_reference(spark):
    from morphik_core_spark.operators.analytics import holt_linear

    ys = [14, 9, 17, 12, 20, 15, 23, 18, 26, 21, 29, 24]
    out = {r["di"]: r for r in holt_linear(
        spark.createDataFrame(list(enumerate(ys)), "di long, y long"), "di", "y",
        alpha=0.3, beta=0.1,
    ).collect()}
    # plain float Holt, no quantization — micro rounding keeps us within 1e-4
    l, b = float(ys[0]), float(ys[1] - ys[0])
    for t in range(1, len(ys)):
        fc = l + b
        l_new = 0.3 * ys[t] + 0.7 * (l + b)
        b = 0.1 * (l_new - l) + 0.9 * b
        l = l_new
        assert abs(out[t]["forecast"] - fc) < 1e-4
        assert abs(out[t]["level"] - l) < 1e-4


def test_holt_linear_needs_two_points(spark):
    import pytest as _pytest

    from morphik_core_spark.operators.analytics import holt_linear

    with _pytest.raises(ValueError, match="at least 2"):
        holt_linear(spark.createDataFrame([(1, 5)], "di long, y long"), "di", "y")


def test_weighted_quantiles_hand_computed(spark):
    from morphik_core_spark.operators.analytics import weighted_quantiles

    # values 1..4 with weights 1,1,1,7: W=10; q=0.5 -> cum>=5 at v=4;
    # unweighted median would be 2/3 — weights move it
    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0), ("g", 4.0, 7.0)]
    out = {r["q"]: r for r in weighted_quantiles(
        spark.createDataFrame(rows, "g string, v double, w double"), "g", "v", "w"
    ).collect()}
    assert out[0.5]["value"] == 4.0 and out[0.5]["total_weight"] == 10
    assert out[0.25]["value"] == 3.0  # cum>=2.5 -> v=3 (cum=3)
    assert out[0.75]["value"] == 4.0


def test_weighted_quantiles_uniform_weights_match_nearest_rank(spark):
    from morphik_core_spark.operators.analytics import weighted_quantiles

    vals = [float(v) for v in (5, 1, 9, 3, 7, 11, 2, 8, 6, 10)]
    rows = [("g", v, 1.0) for v in vals]
    out = {r["q"]: r["value"] for r in weighted_quantiles(
        spark.createDataFrame(rows, "g string, v double, w double"), "g", "v", "w"
    ).collect()}
    s = sorted(vals)
    import math

    for q in (0.25, 0.5, 0.75):
        assert out[q] == s[math.ceil(q * len(s)) - 1]  # nearest-rank


def test_weighted_quantiles_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import weighted_quantiles

    rows = [("g", float((i * 7) % 23), float(1 + i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    a = sorted(map(tuple, weighted_quantiles(df, "g", "v", "w").collect()))
    b = sorted(map(tuple, weighted_quantiles(df.repartition(13), "g", "v", "w").collect()))
    assert a == b


def test_neyman_allocation_hand_computed(spark):
    from morphik_core_spark.operators.analytics import neyman_allocation

    # stratum a: N=4, values spread wide; stratum b: N=4, constant ->
    # sigma_b = 0, so ALL budget goes to a under Neyman; proportional
    # splits evenly
    rows = [("a", 0.0), ("a", 100.0), ("a", 0.0), ("a", 100.0),
            ("b", 50.0), ("b", 50.0), ("b", 50.0), ("b", 50.0)]
    out = {r["stratum"]: r for r in neyman_allocation(
        spark.createDataFrame(rows, "s string, v double"), "s", "v", budget=10
    ).collect()}
    assert out["a"]["sigma"] == 50.0 and out["b"]["sigma"] == 0.0
    assert out["a"]["neyman_alloc"] == 10 and out["b"]["neyman_alloc"] == 0
    assert out["a"]["prop_alloc"] == 5 and out["b"]["prop_alloc"] == 5


def test_neyman_allocations_sum_to_budget_exactly(spark):
    import random

    from morphik_core_spark.operators.analytics import neyman_allocation

    rng = random.Random(3)
    rows = [(f"s{i % 7}", round(rng.uniform(1, 500), 2)) for i in range(400)]
    out = neyman_allocation(
        spark.createDataFrame(rows, "s string, v double"), "s", "v", budget=97
    ).collect()
    assert sum(r["neyman_alloc"] for r in out) == 97
    assert sum(r["prop_alloc"] for r in out) == 97


def test_conformal_interval_hand_computed(spark):
    from morphik_core_spark.operators.analytics import conformal_interval

    # hand-built forecast frame: 6 calib points (|e| = 1..6), 3 eval.
    # calib=2/3 of 9 -> ncal=6; alpha=1/3 -> rank ceil(7*(2/3))=5 -> q=5
    rows = [
        (i, 100, 100.0 + e, float(-e))
        for i, e in enumerate([1, -2, 3, -4, 5, -6, 4, -5, 7], start=1)
    ]
    df = spark.createDataFrame(rows, "di long, y long, forecast double, error double")
    out = {r["di"]: r for r in conformal_interval(
        df, "di", "y", calib_frac_num=2, calib_frac_den=3, alpha_num=1, alpha_den=3
    ).collect()}
    assert set(out) == {7, 8, 9}
    for i in (7, 8, 9):
        assert out[i]["lo"] == out[i]["forecast"] - 5.0
        assert out[i]["hi"] == out[i]["forecast"] + 5.0
    # eval errors -4, +5, -7: |e|<=5 covered for the first two only
    assert out[7]["covered"] and out[8]["covered"] and not out[9]["covered"]
    assert out[7]["coverage"] == round(2 / 3, 6)


def test_conformal_interval_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import conformal_interval

    rows = [(i, 10, 10.0 + ((i * 7) % 5 - 2), float(-((i * 7) % 5 - 2))) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "di long, y long, forecast double, error double")
    a = sorted(map(tuple, conformal_interval(df, "di", "y").collect()))
    b = sorted(map(tuple, conformal_interval(df.repartition(9), "di", "y").collect()))
    assert a == b


def test_theil_sen_exact_line_and_outlier_immunity(spark):
    from morphik_core_spark.operators.analytics import theil_sen_trend

    # pure line y = 3x + 7: every pairwise slope is exactly 3
    rows = [(i, 3 * i + 7) for i in range(10)]
    [r] = theil_sen_trend(spark.createDataFrame(rows, "i long, y long"), "i", "y").collect()
    assert (r["slope"], r["intercept"]) == (3.0, 7.0)
    assert r["n_points"] == 10 and r["n_pairs"] == 45
    # one wild outlier: OLS would chase it, the median slope must not move
    rows_out = rows[:-1] + [(9, 10_000)]
    [r2] = theil_sen_trend(spark.createDataFrame(rows_out, "i long, y long"), "i", "y").collect()
    assert r2["slope"] == 3.0


def test_theil_sen_matches_bruteforce_median(spark):
    import random

    from morphik_core_spark.operators.analytics import theil_sen_trend

    rng = random.Random(9)
    rows = [(i, 50 + rng.randrange(-10, 11)) for i in range(16)]
    [r] = theil_sen_trend(spark.createDataFrame(rows, "i long, y long"), "i", "y").collect()
    slopes = sorted(
        round((yb - ya) * 1e6 / (ib - ia))
        for k, (ia, ya) in enumerate(rows)
        for ib, yb in rows[k + 1:]
    )
    n = len(slopes)
    m2 = slopes[n // 2] * 2 if n % 2 else slopes[n // 2 - 1] + slopes[n // 2]
    assert r["slope"] == round(m2 / 2e6, 6)


def test_theil_sen_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import theil_sen_trend

    rows = [(i, 100 + (i * 13) % 17) for i in range(25)]
    df = spark.createDataFrame(rows, "i long, y long")
    a = [tuple(r) for r in theil_sen_trend(df, "i", "y").collect()]
    b = [tuple(r) for r in theil_sen_trend(df.repartition(7), "i", "y").collect()]
    assert a == b


def test_ratio_metric_ci_matches_numpy_delta(spark):
    import numpy as np

    from morphik_core_spark.operators.analytics import ratio_metric_ci

    xs = [3, 1, 0, 5, 2, 4, 1, 0, 6, 2]
    ys = [10, 8, 5, 14, 9, 12, 7, 6, 15, 9]
    rows = [("g", x, y) for x, y in zip(xs, ys)]
    [r] = ratio_metric_ci(
        spark.createDataFrame(rows, "g string, x long, y long"), "g", "x", "y"
    ).collect()
    x, y = np.array(xs, float), np.array(ys, float)
    R = x.sum() / y.sum()
    n = len(x)
    vx, vy = x.var(), y.var()
    cxy = ((x * y).mean() - x.mean() * y.mean())
    se = np.sqrt((vx - 2 * R * cxy + R * R * vy) / n) / y.mean()
    assert r["ratio"] == round(R, 6)
    assert abs(r["se"] - se) < 1e-6
    assert r["lo"] == round(R - 1.96 * se, 6) and r["hi"] == round(R + 1.96 * se, 6)


def test_ratio_metric_ci_zero_variance_unit_frame(spark):
    from morphik_core_spark.operators.analytics import ratio_metric_ci

    rows = [("g", 1, 2)] * 5  # identical units -> se exactly 0
    [r] = ratio_metric_ci(
        spark.createDataFrame(rows, "g string, x long, y long"), "g", "x", "y"
    ).collect()
    assert r["ratio"] == 0.5 and r["se"] == 0.0 and r["lo"] == r["hi"] == 0.5


def test_mann_kendall_hand_computed(spark):
    from morphik_core_spark.operators.analytics import mann_kendall_test

    # strictly increasing: S = n(n-1)/2 = 45, no ties, z > 1.96
    rows = [(i, 10 + i) for i in range(10)]
    [r] = mann_kendall_test(spark.createDataFrame(rows, "i long, y long"), "i", "y").collect()
    assert r["s_stat"] == 45 and r["trend"] == "increasing"
    assert r["var_s"] == round(10 * 9 * 25 / 18, 6)
    # flat series: every pair ties -> S = 0, z = 0, trend none
    flat = [(i, 7) for i in range(10)]
    [r2] = mann_kendall_test(spark.createDataFrame(flat, "i long, y long"), "i", "y").collect()
    assert r2["s_stat"] == 0 and r2["z"] == 0.0 and r2["trend"] == "none"


def test_mann_kendall_collect_path_matches_distributed(spark):
    """Golden rows of the plain and seasonal tests: the values the former
    distributed implementation returned on each fixture."""
    from morphik_core_spark.operators.analytics import (
        mann_kendall_test,
        seasonal_mann_kendall,
    )

    cases = [
        (  # ties
            [(i, v) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3])],
            (10, 12, 122.0, 0.995893, "none"),
            (10, 7, 1, 3.0, 0.0, "none"),
        ),
        (  # index gaps
            [(0, 5), (1, 6), (3, 6), (7, 2)],
            (4, -1, 7.666667, 0.0, "none"),
            (4, 3, -1, 1.0, 0.0, "none"),
        ),
        (  # duplicate index: no pair within it
            [(0, 5), (0, 9), (1, 7)],
            (3, 0, 3.666667, 0.0, "none"),
            (3, 2, None, 1.0, 0.0, "none"),
        ),
        (  # NULL idx/val
            [(0, 5), (1, None), (None, 7), (3, 2), (4, None)],
            (5, -1, 15.666667, 0.0, "none"),
            (5, 5, None, 0.0, 0.0, "none"),
        ),
        (  # weekly-ish
            [(i, (i * 31) % 11 + (i // 7)) for i in range(45)],
            (45, 277, 10327.0, 2.715951, "increasing"),
            (45, 7, 23, 246.333333, 1.401719, "none"),
        ),
        (  # single point: s stays NULL
            [(0, 1)],
            (1, None, 0.0, 0.0, "none"),
            (1, 1, None, 0.0, 0.0, "none"),
        ),
    ]
    for rows, plain, seasonal in cases:
        df = spark.createDataFrame(rows, "di long, y long")
        assert [tuple(r) for r in mann_kendall_test(df, "di", "y").collect()] == [plain], rows
        got = [tuple(r) for r in seasonal_mann_kendall(df, "di", "y", period=7).collect()]
        assert got == [seasonal], rows


def test_mann_kendall_tie_correction(spark):
    from morphik_core_spark.operators.analytics import mann_kendall_test

    # values 1,1,2,3: one tie group of t=2 -> var = (4*3*13 - 2*1*9)/18
    rows = [(0, 1), (1, 1), (2, 2), (3, 3)]
    [r] = mann_kendall_test(spark.createDataFrame(rows, "i long, y long"), "i", "y").collect()
    assert r["s_stat"] == 5  # pairs: (1,2)+(1,3)+(1,2)+(1,3)+(2,3) up, 1 tie
    assert r["var_s"] == round((4 * 3 * 13 - 2 * 1 * 9) / 18, 6)


def test_sprt_monitor_hand_computed(spark):
    from morphik_core_spark.operators.analytics import sprt_monitor

    # l1=+10, l0=-3, thr=25: outcomes 1,1,1 -> cum 10,20,30: decide at 3
    rows = [("g", i, o) for i, o in enumerate([1, 1, 1, 0, 1], start=1)]
    [r] = sprt_monitor(
        spark.createDataFrame(rows, "g string, ord int, y int"),
        "g", "ord", "y", llr_pos_micro=10, llr_neg_micro=-3, threshold_micro=25,
    ).collect()
    assert r["decision"] == "accept_h1" and r["n_at_decision"] == 3
    assert r["n_units"] == 5  # post-decision units reported, not applied
    # all-negative walk accepts H0
    rows0 = [("g", i, 0) for i in range(1, 12)]
    [r0] = sprt_monitor(
        spark.createDataFrame(rows0, "g string, ord int, y int"),
        "g", "ord", "y", llr_pos_micro=10, llr_neg_micro=-3, threshold_micro=25,
    ).collect()
    assert r0["decision"] == "accept_h0" and r0["n_at_decision"] == 9
    # a short indecisive walk continues
    [rc] = sprt_monitor(
        spark.createDataFrame([("g", 1, 1), ("g", 2, 0)], "g string, ord int, y int"),
        "g", "ord", "y", llr_pos_micro=10, llr_neg_micro=-3, threshold_micro=25,
    ).collect()
    assert rc["decision"] == "continue" and rc["n_at_decision"] is None


def test_sprt_monitor_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import sprt_monitor

    rows = [("g", i, 1 if (i * 7) % 3 else 0) for i in range(1, 60)]
    df = spark.createDataFrame(rows, "g string, ord int, y int")
    a = [tuple(r) for r in sprt_monitor(df, "g", "ord", "y", 10, -3, 50).collect()]
    b = [tuple(r) for r in sprt_monitor(df.repartition(11), "g", "ord", "y", 10, -3, 50).collect()]
    assert a == b


def test_weighted_quantiles_micro_resolution_and_rejects_unrepresentable(spark):
    from morphik_core_spark.operators.analytics import weighted_quantiles

    rows = [("g", float(v), 1.0) for v in range(1, 1001)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    # q at 1e-6 resolution (not a per-mille multiple) computes at the
    # labeled q, not a rounded one: 0.2505 * 1000 rows -> rank 251
    out = {r["q"]: r["value"] for r in weighted_quantiles(
        df, "g", "v", "w", qs=(0.2505,)
    ).collect()}
    assert out[0.2505] == 251.0
    with pytest.raises(ValueError, match="micro-unit"):
        weighted_quantiles(df, "g", "v", "w", qs=(1 / 3,)).collect()


# ---------------------------------------------------------------- round 8


def test_chi_square_matches_scipy_formula(spark):
    from morphik_core_spark.operators.analytics import chi_square_independence

    # 2x2 table: [[10, 20], [30, 5]] -> classic chi2 by hand
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20 + [("b", "x")] * 30 + [("b", "y")] * 5
    )
    df = spark.createDataFrame(rows, "g string, c string")
    [r] = chi_square_independence(df, "g", "c").collect()
    n = 65
    obs = {("a", "x"): 10, ("a", "y"): 20, ("b", "x"): 30, ("b", "y"): 5}
    mx = {"a": 30, "b": 35}
    my = {"x": 40, "y": 25}
    chi2 = sum(
        round((o * n - mx[g] * my[c]) ** 2 / (n * mx[g] * my[c]) * 1e6)
        for (g, c), o in obs.items()
    ) / 1e6
    assert r["chi2"] == round(chi2, 6)
    assert r["dof"] == 1 and r["n"] == 65
    assert r["cramers_v"] == round(math.sqrt(chi2 / (65 * 1)), 6)


def test_chi_square_counts_absent_cells(spark):
    """A (x, y) combination never observed still contributes its expected
    count: for [[5,0],[0,5]] chi2 must be N (=10), not 5."""
    from morphik_core_spark.operators.analytics import chi_square_independence

    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    [r] = chi_square_independence(
        spark.createDataFrame(rows, "g string, c string"), "g", "c"
    ).collect()
    assert r["chi2"] == 10.0 and r["cramers_v"] == 1.0


def test_anova_matches_plain_python(spark):
    from morphik_core_spark.operators.analytics import anova_oneway

    groups = {"a": [3.0, 5.0, 7.0], "b": [10.0, 12.0, 14.0, 16.0], "c": [1.0, 2.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    [r] = anova_oneway(
        spark.createDataFrame(rows, "g string, v double"), "g", "v", value_scale=1
    ).collect()
    allv = [v for vs in groups.values() for v in vs]
    n, k = len(allv), len(groups)
    gm = sum(allv) / n
    # replicate the operator's quantization: S_g^2/n_g rounded at 1e6
    rat = sum(round(sum(vs) ** 2 / len(vs) * 1e6) for vs in groups.values()) / 1e6
    ssb = rat - sum(allv) ** 2 / n
    ssw = sum(v * v for v in allv) - rat
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["k"] == 3 and r["n"] == 9
    assert r["f_stat"] == round(f, 6)
    assert r["eta_sq"] == round(ssb / (ssb + ssw), 6)


def test_anova_null_effect_is_small(spark):
    from morphik_core_spark.operators.analytics import anova_oneway

    # same distribution in every group -> F near 1, eta^2 near 0
    rows = [(f"g{i % 4}", float((i * 7) % 13)) for i in range(400)]
    [r] = anova_oneway(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()
    assert r["eta_sq"] < 0.05


def test_hhi_hand_values(spark):
    from morphik_core_spark.operators.analytics import hhi_concentration

    rows = [
        ("m1", "p1", 50.0), ("m1", "p2", 30.0), ("m1", "p3", 20.0),
        ("m2", "solo", 10.0),
        ("m3", "e1", 25.0), ("m3", "e2", 25.0), ("m3", "e3", 25.0), ("m3", "e4", 25.0),
    ]
    df = spark.createDataFrame(rows, "m string, p string, v double")
    out = {r["market"]: r for r in hhi_concentration(df, "m", "p", "v").collect()}
    assert out["m1"]["hhi"] == 0.38 and out["m1"]["top_share"] == 0.5
    assert out["m2"]["hhi"] == 1.0 and out["m2"]["hhi_normalized"] is None
    assert out["m3"]["hhi"] == 0.25 and out["m3"]["hhi_normalized"] == 0.0
    assert out["m1"]["hhi_normalized"] == round((0.38 - 1 / 3) / (1 - 1 / 3), 8)


def test_js_divergence_bounds_and_symmetry(spark):
    from morphik_core_spark.operators.analytics import js_divergence

    # disjoint supports -> exactly ln 2; identical -> 0
    rows = [("l", "a")] * 10 + [("r", "b")] * 14
    df = spark.createDataFrame(rows, "s string, c string")
    [r] = js_divergence(df, "s", "c", "l", "r").collect()
    assert r["jsd_nats"] == round(math.log(2), 8)
    assert r["n_left"] == 10 and r["n_right"] == 14

    same = [("l", c) for c in "aabbbc"] + [("r", c) for c in "aabbbc"]
    [r2] = js_divergence(
        spark.createDataFrame(same, "s string, c string"), "s", "c", "l", "r"
    ).collect()
    assert r2["jsd_nats"] == 0.0

    # symmetry: swapping sides gives the same divergence
    mixed = [("l", c) for c in "aaab"] + [("r", c) for c in "abbb"]
    mdf = spark.createDataFrame(mixed, "s string, c string")
    [fwd] = js_divergence(mdf, "s", "c", "l", "r").collect()
    [rev] = js_divergence(mdf, "s", "c", "r", "l").collect()
    assert fwd["jsd_nats"] == rev["jsd_nats"] > 0.0


def test_hill_tail_index_recovers_pareto_alpha(spark):
    from morphik_core_spark.operators.analytics import hill_tail_index

    # exact Pareto(alpha=2) quantiles: x_i = (i/n)^(-1/2), i=1..n
    n = 2000
    rows = [(float((i / n) ** -0.5),) for i in range(1, n + 1)]
    df = spark.createDataFrame(rows, "v double")
    [r] = hill_tail_index(df, "v", k=200, value_scale=10**6).collect()
    assert 1.7 < r["alpha"] < 2.3, r
    assert r["k"] == 200


def test_hill_tail_index_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import hill_tail_index

    rows = [(float(1 + (i * 37) % 500) / 7.0,) for i in range(1000)]
    df = spark.createDataFrame(rows, "v double")
    a = hill_tail_index(df, "v", k=50).collect()
    b = hill_tail_index(df.repartition(17), "v", k=50).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_round8_batch_a_plan_shapes(spark):
    from morphik_core_spark.operators.analytics import (
        anova_oneway,
        chi_square_independence,
        hhi_concentration,
        js_divergence,
    )

    rows = [(f"g{i % 3}", f"c{i % 5}", float(i % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    for out in (
        chi_square_independence(df, "g", "c"),
        anova_oneway(df, "g", "v"),
        hhi_concentration(df, "g", "c", "v"),
        js_divergence(df, "g", "c", "g0", "g1"),
    ):
        plan = _plan(out)
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_spearman_matches_plain_python_with_ties(spark):
    from morphik_core_spark.operators.analytics import spearman_corr

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]
    ys = [2.0, 1.0, 3.0, 5.0, 4.0, 6.0, 6.0, 9.0]
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    [r] = spearman_corr(df, "x", "y").collect()

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2
            for k in range(i, j):
                ranks[order[k]] = mid
            i = j
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)) * math.sqrt(
        sum((b - my) ** 2 for b in ry)
    )
    assert r["n"] == n
    assert abs(r["rho"] - num / den) < 1e-6


def test_spearman_monotone_nonlinear_is_one(spark):
    from morphik_core_spark.operators.analytics import spearman_corr

    rows = [(float(i), float(i) ** 3) for i in range(1, 60)]
    [r] = spearman_corr(
        spark.createDataFrame(rows, "x double, y double"), "x", "y", y_scale=1
    ).collect()
    assert r["rho"] == 1.0


def test_spearman_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import spearman_corr

    rows = [(float((i * 7) % 23), float((i * 13) % 31)) for i in range(500)]
    df = spark.createDataFrame(rows, "x double, y double")
    a = spearman_corr(df, "x", "y").collect()
    b = spearman_corr(df.repartition(19), "x", "y").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_as_normal_tail_accuracy():
    """The shared A&S 26.2.17 tail must be within 7.5e-8 of the exact
    normal survival function (erfc reference)."""
    from morphik_core_spark.operators.analytics import _AS_NORMAL_SF

    for z in (0.0, 0.5, 1.0, 1.645, 1.96, 2.5758, 3.3, 5.0):
        expr = _AS_NORMAL_SF.format(z=repr(z))
        py = expr.replace("exp", "math.exp")
        got = eval(py, {"math": math})
        exact = 0.5 * math.erfc(z / math.sqrt(2))
        assert abs(got - exact) < 7.5e-8, (z, got, exact)


def test_bh_fdr_step_up_rule(spark):
    """Inject one group with a real shift and several null groups: BH must
    reject the shifted group and respect the step-up ordering."""
    from morphik_core_spark.operators.analytics import bh_fdr

    rows = []
    for g in range(6):
        for i in range(400):
            base = 100.0 + (i * 17 % 13)  # same shape in every group
            rows.append((f"g{g}", "a", base))
            # group 0 gets a genuine +8 shift on the b side
            rows.append((f"g{g}", "b", base + (8.0 if g == 0 else 0.0)))
    df = spark.createDataFrame(rows, "g string, side string, v double")
    out = bh_fdr(df, "g", "side", "v", "a", "b", alpha=0.05).collect()
    by_g = {r["g"]: r for r in out}
    assert by_g["g0"]["rejected"] is True
    assert by_g["g0"]["p_rank"] == 1
    # null groups have z == 0 exactly (identical sides) -> p = 1, no rejection
    for g in range(1, 6):
        assert by_g[f"g{g}"]["rejected"] is False
    # ranks are a permutation of 1..m and cutoffs increase with rank
    ranks = sorted(r["p_rank"] for r in out)
    assert ranks == list(range(1, 7))
    ordered = sorted(out, key=lambda r: r["p_rank"])
    cuts = [r["bh_cutoff"] for r in ordered]
    assert cuts == sorted(cuts)


def test_bh_fdr_rejects_nothing_under_null(spark):
    from morphik_core_spark.operators.analytics import bh_fdr

    rows = []
    for g in range(8):
        for i in range(300):
            rows.append((f"g{g}", "a", 50.0 + ((i * 7 + g) % 11)))
            rows.append((f"g{g}", "b", 50.0 + ((i * 7 + g) % 11)))
    out = bh_fdr(
        spark.createDataFrame(rows, "g string, side string, v double"),
        "g", "side", "v", "a", "b",
    ).collect()
    assert all(r["rejected"] is False for r in out)


def test_log_rank_matches_plain_python(spark):
    from morphik_core_spark.operators.analytics import log_rank_test

    # durations with events and censoring in two groups
    data = [
        ("a", 3, 1), ("a", 5, 1), ("a", 7, 0), ("a", 9, 1), ("a", 12, 0),
        ("b", 2, 1), ("b", 3, 1), ("b", 4, 1), ("b", 6, 1), ("b", 8, 0),
    ]
    df = spark.createDataFrame(data, "g string, t long, e int")
    [r] = log_rank_test(df, "g", "t", "e", "a", "b").collect()

    # plain-python replay with the operator's quantization
    times = sorted({t for _, t, _ in data})
    o1 = e1u = vu = 0
    for t in times:
        d1 = sum(1 for g, tt, e in data if g == "a" and tt == t and e)
        d2 = sum(1 for g, tt, e in data if g == "b" and tt == t and e)
        if d1 + d2 == 0:
            continue
        n1 = sum(1 for g, tt, _ in data if g == "a" and tt >= t)
        n2 = sum(1 for g, tt, _ in data if g == "b" and tt >= t)
        o1 += d1
        e1u += round((d1 + d2) * n1 / (n1 + n2) * 1e6)
        if n1 + n2 > 1:
            vu += round(
                (d1 + d2) * (n1 / (n1 + n2)) * (n2 / (n1 + n2))
                * ((n1 + n2 - d1 - d2) / (n1 + n2 - 1)) * 1e6
            )
    assert r["o1"] == o1
    assert r["e1"] == round(e1u / 1e6, 6)
    assert r["variance"] == round(vu / 1e6, 6)
    z = (o1 - e1u / 1e6) / math.sqrt(vu / 1e6)
    assert r["z"] == round(z, 6)
    assert r["chi2"] == round(z * z, 6)


def test_log_rank_identical_groups_is_zeroish(spark):
    from morphik_core_spark.operators.analytics import log_rank_test

    rows = [(g, t, 1) for g in ("a", "b") for t in range(1, 40)]
    [r] = log_rank_test(
        spark.createDataFrame(rows, "g string, t long, e int"), "g", "t", "e", "a", "b"
    ).collect()
    assert abs(r["z"]) < 1e-6


def test_log_rank_detects_separated_curves(spark):
    from morphik_core_spark.operators.analytics import log_rank_test

    rows = [("a", t + 20, 1) for t in range(30)] + [("b", t + 1, 1) for t in range(30)]
    [r] = log_rank_test(
        spark.createDataFrame(rows, "g string, t long, e int"), "g", "t", "e", "a", "b"
    ).collect()
    assert r["chi2"] > 10.0  # wildly significant separation


def test_cem_att_hand_pairing(spark):
    from morphik_core_spark.operators.analytics import cem_att

    # cell width 10: cell 0 has 2 treated / 1 control, cell 1 has 1 / 2
    rows = [
        (True, 5.0, 100.0, 1), (True, 7.0, 120.0, 2), (False, 3.0, 90.0, 3),
        (True, 15.0, 200.0, 4), (False, 12.0, 150.0, 5), (False, 18.0, 170.0, 6),
    ]
    df = spark.createDataFrame(rows, "t boolean, s double, y double, id long")
    [r] = cem_att(df, "t", "s", "y", "id", cell_width=10.0, outcome_scale=100).collect()
    # pairs: cell0 rank1 = (id1, id3): 100-90; cell1 rank1 = (id4, id5): 200-150
    assert r["n_matched"] == 2
    assert r["att"] == round(((100 - 90) + (200 - 150)) / 2, 6)
    assert r["mean_treated_matched"] == 150.0
    assert r["mean_control_matched"] == 120.0
    assert r["n_treated"] == 3 and r["n_control"] == 3


def test_cem_att_partition_invariant(spark):
    from morphik_core_spark.operators.analytics import cem_att

    rows = [
        (i % 3 == 0, float((i * 7) % 50), float(100 + (i * 13) % 40), i)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "t boolean, s double, y double, id long")
    a = cem_att(df, "t", "s", "y", "id", cell_width=10.0).collect()
    b = cem_att(df.repartition(13), "t", "s", "y", "id", cell_width=10.0).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ewma_chart_flags_injected_shift(spark):
    from morphik_core_spark.operators.analytics import ewma_chart

    # stable series then a persistent +4 shift: EWMA must flag the tail
    ys = [20 + (i * 7) % 3 for i in range(40)] + [24 + (i * 7) % 3 for i in range(20)]
    df = spark.createDataFrame(list(enumerate(ys)), "di long, y long")
    out = ewma_chart(df, "di", "y", lam=0.2, n_sigma=3.0).orderBy("di").collect()
    assert len(out) == 60
    head_flags = [r["out_of_control"] for r in out[:35]]
    tail_flags = [r["out_of_control"] for r in out[50:]]
    assert not any(head_flags)
    assert all(tail_flags)
    # limits widen monotonically toward the asymptote
    uc = [r["ucl"] for r in out]
    assert all(a <= b + 1e-9 for a, b in zip(uc, uc[1:]))


def test_ewma_chart_replay_matches_recursion(spark):
    """Plain-python replay of the documented recursion reproduces the
    operator's trajectory exactly (the oracle-CTE contract)."""
    import math as m

    from morphik_core_spark.operators.analytics import ewma_chart

    ys = [14, 9, 17, 12, 20, 15, 23, 18, 11, 25]
    df = spark.createDataFrame(list(enumerate(ys)), "di long, y long")
    out = ewma_chart(df, "di", "y", lam=0.3, n_sigma=2.0).orderBy("di").collect()

    def rha(x):
        return int(m.floor(x + 0.5)) if x >= 0 else int(m.ceil(x - 0.5))

    n, s, sxx = len(ys), sum(ys), sum(y * y for y in ys)
    mu = rha(s * 1_000_000 / n)
    sigma = m.sqrt(float(n * sxx - s * s)) / n
    base = 2.0 * sigma * m.sqrt(0.3 / 1.7)
    l_prev, p = mu, 1.0
    for i, y in enumerate(ys):
        l_t = rha(0.3 * (y * 1_000_000) + 0.7 * l_prev)
        p *= 0.49
        hw = rha(base * m.sqrt(1.0 - p) * 1_000_000)
        assert out[i]["ewma"] == round(l_t / 1e6, 6)
        assert out[i]["ucl"] == round((mu + hw) / 1e6, 6)
        assert out[i]["out_of_control"] == (abs(l_t - mu) > hw)
        l_prev = l_t


def test_nelson_aalen_hand_computed(spark):
    from morphik_core_spark.operators.analytics import nelson_aalen

    # t=1: 5 at risk, 1 event; t=2: 4 at risk, 1 event 1 censored;
    # t=3: 2 at risk, 2 events
    rows = [(1, 1), (2, 1), (2, 0), (3, 1), (3, 1)]
    out = {r["t"]: r for r in nelson_aalen(
        spark.createDataFrame(rows, "d long, e int"), "d", "e"
    ).collect()}
    h1 = round(1 / 5 * 1e12)
    h2 = h1 + round(1 / 4 * 1e12)
    h3 = h2 + round(2 / 2 * 1e12)
    assert out[1]["cum_hazard"] == round(h1 / 1e12, 6)
    assert out[2]["cum_hazard"] == round(h2 / 1e12, 6)
    assert out[3]["cum_hazard"] == round(h3 / 1e12, 6)
    v = round(1 / 25 * 1e12) + round(1 / 16 * 1e12) + round(2 / 4 * 1e12)
    assert out[3]["var_hazard"] == round(v / 1e12, 6)
    assert out[2]["n_at_risk"] == 4 and out[3]["n_at_risk"] == 2


def test_nelson_aalen_tracks_km_for_small_hazard(spark):
    """H(t) ~ -ln(S_KM(t)) when per-step hazards are small."""
    import math

    from morphik_core_spark.operators.analytics import nelson_aalen, survival_curve

    rows = [(t, 1 if t % 7 else 0) for t in range(1, 200)]
    df = spark.createDataFrame(rows, "d long, e int")
    na = {r["t"]: r["cum_hazard"] for r in nelson_aalen(df, "d", "e").collect()}
    km = {r["t"]: r["survival"] for r in survival_curve(df, "d", "e").collect()}
    for t in (50, 100, 150):
        if km[t] > 0:
            assert abs(na[t] - (-math.log(km[t]))) < 0.15 * max(na[t], 1e-9)


def test_corr_matrix_matches_numpy(spark):
    import numpy as np

    from morphik_core_spark.operators.analytics import corr_matrix

    rng = np.random.RandomState(11)
    x = rng.randint(0, 1000, 500)
    y = (x * 3 + rng.randint(0, 500, 500)).astype(int)
    z = rng.randint(0, 1000, 500)
    rows = [(int(a), int(b), int(c)) for a, b, c in zip(x, y, z)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    out = {(r["col_a"], r["col_b"]): r for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert len(out) == 3
    ref = np.corrcoef(np.vstack([x, y, z]))
    assert abs(out[("x", "y")]["corr"] - ref[0, 1]) < 1e-6
    assert abs(out[("x", "z")]["corr"] - ref[0, 2]) < 1e-6
    assert abs(out[("y", "z")]["corr"] - ref[1, 2]) < 1e-6
    assert all(r["n"] == 500 for r in out.values())


def test_corr_matrix_complete_case_drops_null_rows(spark):
    from morphik_core_spark.operators.analytics import corr_matrix

    rows = [(1.0, 2.0, 3.0), (2.0, None, 1.0), (3.0, 6.0, 2.0), (4.0, 8.0, None)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = corr_matrix(df, ["x", "y", "z"]).collect()
    assert all(r["n"] == 2 for r in out)


def test_ab_power_mde_closed_form(spark):
    import math

    from morphik_core_spark.operators.analytics import ab_power_mde

    vals = [float(100 + (i * 17) % 40) for i in range(1000)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    [r] = ab_power_mde(df, "g", "v", value_scale=100).collect()
    n = len(vals)
    s = sum(round(v * 100) for v in vals)
    q = sum(round(v * 100) ** 2 for v in vals)
    sigma = math.sqrt(float(n * q - s * s)) / n / 100.0
    mde = (1.959963984540054 + 0.8416212335729143) * math.sqrt(
        2.0 * sigma * sigma / (n // 2)
    )
    assert r["sigma"] == round(sigma, 6)
    assert r["mde_abs"] == round(mde, 6)
    assert r["mde_rel"] == round(mde / (s / n / 100.0), 6)
    # more data -> smaller MDE
    [r2] = ab_power_mde(df.limit(100), "g", "v").collect()
    assert r2["mde_abs"] > r["mde_abs"]


def test_twap_hand_computed_vs_biased_avg(spark):
    """Sampling density correlated with value: plain AVG biases toward
    the densely-sampled high regime; TWAP recovers the true step
    integral."""
    import datetime

    from morphik_core_spark.operators.analytics import time_weighted_average

    t0 = datetime.datetime(2026, 1, 1)

    def t(sec):
        return t0 + datetime.timedelta(seconds=sec)

    # value 10 holds for 100 s (one sample), value 50 holds for 10 s but
    # is sampled 10 times (every second), final boundary sample at 110 s
    rows = [("k", t(0), 10.0)]
    rows += [("k", t(100 + i), 50.0) for i in range(10)]
    rows += [("k", t(110), 0.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    [r] = time_weighted_average(df, ["k"], "ts", "v").collect()
    # integral: 10*100 + 50*10 = 1500 over 110 s
    assert r["twap"] == round(1500 / 110, 6)
    assert r["plain_avg"] == round((10 + 50 * 10 + 0) / 12, 6)
    assert r["plain_avg"] > 3 * r["twap"]  # the density bias, visible
    assert r["span_seconds"] == 110.0 and r["n_samples"] == 12


def test_twap_single_sample_is_null_and_partition_invariant(spark):
    import datetime

    from morphik_core_spark.operators.analytics import time_weighted_average

    t0 = datetime.datetime(2026, 1, 1)
    rows = [("solo", t0, 5.0)] + [
        (f"g{i % 3}", t0 + datetime.timedelta(seconds=i * 7 + (i % 5)), float((i * 13) % 40))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r["k"]: r for r in time_weighted_average(df, ["k"], "ts", "v").collect()}
    assert out["solo"]["twap"] is None and out["solo"]["n_samples"] == 1
    a = sorted(map(tuple, time_weighted_average(df, ["k"], "ts", "v").collect()))
    b = sorted(map(tuple, time_weighted_average(df.repartition(11), ["k"], "ts", "v").collect()))
    assert a == b


def test_ohlc_hand_values_and_ties(spark):
    import datetime

    from morphik_core_spark.operators.analytics import ohlc_rollup

    t0 = datetime.datetime(2026, 1, 5)

    def t(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        ("k", t(10), 5.0), ("k", t(10), 3.0),   # simultaneous open: tie -> min v
        ("k", t(50), 9.0), ("k", t(80), 1.0),
        ("k", t(86400 + 5), 7.0),                # next day
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = ohlc_rollup(df, ["k"], "ts", "v", bucket_seconds=86400).collect()
    assert len(out) == 2
    d1 = out[0]
    assert d1["open"] == 3.0     # (ts, v) asc tie-break
    assert d1["high"] == 9.0 and d1["low"] == 1.0 and d1["close"] == 1.0
    assert d1["n_samples"] == 4
    assert out[1]["open"] == out[1]["close"] == 7.0


def test_ohlc_partition_invariant(spark):
    import datetime

    from morphik_core_spark.operators.analytics import ohlc_rollup

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        (f"g{i % 2}", t0 + datetime.timedelta(seconds=i * 777), float((i * 13) % 40))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    a = sorted(map(tuple, ohlc_rollup(df, ["k"], "ts", "v", 3600).collect()))
    b = sorted(map(tuple, ohlc_rollup(df.repartition(13), ["k"], "ts", "v", 3600).collect()))
    assert a == b


def test_ohlc_pre_epoch_buckets_floor(spark):
    """Pre-epoch (negative unix-micros) samples must land in the bucket
    that STARTS AT OR BEFORE them — truncated division would push them
    into the following bucket. Floor-mod bucketing holds on both sides
    of the epoch."""
    import datetime

    from morphik_core_spark.operators.analytics import ohlc_rollup

    rows = [
        ("k", datetime.datetime(1969, 12, 31, 23, 0, 0), 5.0),   # -3600s
        ("k", datetime.datetime(1970, 1, 1, 1, 0, 0), 7.0),      # +3600s
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r["bucket_start"]: r for r in ohlc_rollup(df, ["k"], "ts", "v", 86400).collect()}
    assert set(out) == {
        datetime.datetime(1969, 12, 31, 0, 0, 0),
        datetime.datetime(1970, 1, 1, 0, 0, 0),
    }
    for bkt, r in out.items():
        assert bkt <= datetime.datetime(1970, 1, 2), r
    # each sample sits inside [bucket_start, bucket_start + 86400)
    pre = out[datetime.datetime(1969, 12, 31, 0, 0, 0)]
    assert pre["open"] == pre["close"] == 5.0 and pre["n_samples"] == 1


def test_kruskal_wallis_hand_values(spark):
    """Three groups with clear location shifts: H must match the
    textbook computation (ranks over the pooled sample, tie-corrected)
    and reject order; a label-permuted null must score near 0."""
    from morphik_core_spark.operators.analytics import kruskal_wallis

    ga = [1.0, 2.0, 3.0, 4.0, 5.0]
    gb = [6.0, 7.0, 8.0, 9.0, 10.0]
    gc = [11.0, 12.0, 13.0, 14.0, 15.0]
    rows = [("a", v) for v in ga] + [("b", v) for v in gb] + [("c", v) for v in gc]
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    # no ties, N=15: ranks are 1..15 by construction; R_a=15, R_b=40, R_c=65
    n = 15
    h = 12.0 / (n * (n + 1)) * (15**2 / 5 + 40**2 / 5 + 65**2 / 5) - 3 * (n + 1)
    assert out["k"] == 3 and out["n"] == 15
    assert out["h_stat"] == pytest.approx(h, abs=1e-5)
    assert out["h_tie_corrected"] == pytest.approx(h, abs=1e-5)  # no ties


def test_kruskal_wallis_tie_correction(spark):
    """With heavy ties the corrected H must exceed the raw H by the
    1/(1 − ΣT/(N³−N)) factor exactly."""
    from morphik_core_spark.operators.analytics import kruskal_wallis

    rows = [("a", 1.0)] * 4 + [("a", 2.0)] + [("b", 2.0)] * 3 + [("b", 3.0)] * 2
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    n = 10
    # ties: t(1.0)=4, t(2.0)=4, t(3.0)=2
    tt = (4**3 - 4) + (4**3 - 4) + (2**3 - 2)
    c = 1 - tt / (n**3 - n)
    assert out["h_tie_corrected"] == pytest.approx(out["h_stat"] / c, abs=1e-5)
    assert out["h_tie_corrected"] > out["h_stat"]


def test_levene_hand_values(spark):
    """Two groups, one tight and one wide around the same mean: W must
    match the mean-centered Levene computed directly."""
    from morphik_core_spark.operators.analytics import levene_test

    tight = [9.0, 10.0, 11.0, 10.0]
    wide = [2.0, 18.0, 5.0, 15.0]
    rows = [("t", v) for v in tight] + [("w", v) for v in wide]
    df = spark.createDataFrame(rows, "g string, v double")
    out = levene_test(df, "g", "v", value_scale=100).collect()[0]

    def devs(xs):
        m = sum(xs) / len(xs)
        return [abs(x - m) for x in xs]

    zs = devs(tight) + devs(wide)
    za = devs(tight)
    zb = devs(wide)
    gm = sum(zs) / len(zs)
    ma, mb = sum(za) / 4, sum(zb) / 4
    ssb = 4 * (ma - gm) ** 2 + 4 * (mb - gm) ** 2
    ssw = sum((z - ma) ** 2 for z in za) + sum((z - mb) ** 2 for z in zb)
    w = (ssb / 1) / (ssw / 6)
    assert out["k"] == 2 and out["n"] == 8
    assert out["w_stat"] == pytest.approx(w, rel=1e-4)


def test_ljung_box_hand_values(spark):
    """Q over a short series must equal n(n+2) Σ ρ_k²/(n−k) with the
    ACF computed by the shared full-denominator convention."""
    from morphik_core_spark.operators.analytics import ljung_box

    xs = [3, 7, 2, 9, 4, 8, 1, 6, 5, 7, 2, 9]
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x int")
    out = ljung_box(df, "i", "x", max_lag=3).collect()[0]
    n = len(xs)
    m = sum(xs) / n
    den = sum((x - m) ** 2 for x in xs)
    q = 0.0
    for k in range(1, 4):
        rho = sum((xs[i] - m) * (xs[i + k] - m) for i in range(n - k)) / den
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    assert out["n"] == n and out["m"] == 3
    assert out["q_stat"] == pytest.approx(q, abs=1e-4)


def test_ipw_ate_equals_stratified_estimator(spark):
    """ATE/ATT must equal the stratified estimator computed directly,
    and strata missing an arm must drop from both the weights and the
    reported population."""
    from morphik_core_spark.operators.analytics import ipw_ate

    rows = [
        # stratum s1: treated mean 10, control mean 7 -> diff 3
        ("s1", True, 9.0), ("s1", True, 11.0),
        ("s1", False, 6.0), ("s1", False, 8.0), ("s1", False, 7.0),
        # stratum s2: treated mean 20, control mean 18 -> diff 2
        ("s2", True, 20.0), ("s2", False, 18.0),
        # stratum s3: control only -> drops (positivity)
        ("s3", False, 100.0), ("s3", False, 200.0),
    ]
    df = spark.createDataFrame(rows, "s string, t boolean, y double")
    out = ipw_ate(df, "s", "t", "y").collect()[0]
    assert out["n"] == 7 and out["n_treated"] == 3 and out["n_strata_used"] == 2
    ate = (5 * 3.0 + 2 * 2.0) / 7
    att = (2 * 3.0 + 1 * 2.0) / 3
    assert out["ate"] == pytest.approx(ate, abs=1e-5)
    assert out["att"] == pytest.approx(att, abs=1e-5)


def test_mann_whitney_hand_values(spark):
    """No-ties case against the textbook computation; the sign of z
    follows the left group's rank mass."""
    from morphik_core_spark.operators.analytics import mann_whitney_u

    ga = [1.0, 2.0, 3.0, 4.0]          # ranks 1..4 -> R1=10, U1=0
    gb = [5.0, 6.0, 7.0, 8.0, 9.0]     # clearly larger
    rows = [("a", v) for v in ga] + [("b", v) for v in gb]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert out["n_left"] == 4 and out["n_right"] == 5
    assert out["u_stat"] == 0.0         # total separation, left below
    n1, n2, n = 4, 5, 9
    z = (0 - n1 * n2 / 2) / ((n1 * n2 / 12 * (n + 1)) ** 0.5)
    assert out["z"] == pytest.approx(z, abs=1e-5)
    assert out["p_value"] < 0.05


def test_mann_whitney_symmetric_null(spark):
    """Identical distributions: U ≈ n1n2/2, z ≈ 0, p near 1."""
    from morphik_core_spark.operators.analytics import mann_whitney_u

    rows = [("a", float(i % 10)) for i in range(50)] + [
        ("b", float(i % 10)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert out["u_stat"] == pytest.approx(50 * 50 / 2, abs=1e-6)
    assert abs(out["z"]) < 1e-9 and out["p_value"] > 0.99


def test_dunn_posthoc_identifies_shifted_group(spark):
    """Three groups, one clearly shifted: both pairs involving it reject
    under BH, the null pair does not; z matches the hand formula on the
    no-ties fixture."""
    from morphik_core_spark.operators.analytics import dunn_posthoc

    rows = (
        [("a", float(i)) for i in range(1, 21)]
        + [("b", float(i) + 0.5) for i in range(1, 21)]      # interleaved with a
        + [("c", float(i + 100)) for i in range(1, 21)]      # shifted far
    )
    df = spark.createDataFrame(rows, "g string, v double")
    # value_scale=10: the 0.5 interleave offsets must survive quantization
    out = {
        (r["g_left"], r["g_right"]): r
        for r in dunn_posthoc(df, "g", "v", value_scale=10).collect()
    }
    assert out[("a", "c")]["rejected"] and out[("b", "c")]["rejected"]
    assert not out[("a", "b")]["rejected"]
    # no ties: sigma2 = (N(N+1)/12)(1/20+1/20), rbar diff from construction
    n = 60
    rbar_a = sum(range(1, 40, 2)) / 20      # a takes odd pooled ranks 1,3,..39
    rbar_b = sum(range(2, 41, 2)) / 20
    sig = ((n * (n + 1) / 12.0) * (2 / 20.0)) ** 0.5
    assert out[("a", "b")]["z"] == pytest.approx((rbar_a - rbar_b) / sig, abs=1e-5)


def test_overdispersion_screen_poisson_vs_bursty(spark):
    """A near-constant series sits at D << 1... (underdispersed), a
    bursty series D >> 1; exact moments match the direct computation."""
    from morphik_core_spark.operators.analytics import overdispersion_screen

    flat = [("flat", 10)] * 20                      # zero variance
    bursty = [("bursty", 1)] * 18 + [("bursty", 100)] * 2
    df = spark.createDataFrame(flat + bursty, "g string, x int")
    out = {r["g"]: r for r in overdispersion_screen(df, "g", "x").collect()}
    assert out["flat"]["dispersion"] == 0.0
    xs = [1] * 18 + [100] * 2
    m = sum(xs) / 20
    var = sum((x - m) ** 2 for x in xs) / 19
    assert out["bursty"]["dispersion"] == pytest.approx(var / m, abs=1e-4)
    assert out["bursty"]["chi2_stat"] == pytest.approx(19 * var / m, abs=1e-3)
    assert out["bursty"]["dispersion"] > 10


def test_cross_correlation_detects_planted_lag(spark):
    """y is x shifted by +2 with noise-free copy: ccf must peak at
    lag=+2 with value ~1, and equal the ACF identity when y == x."""
    from morphik_core_spark.operators.analytics import cross_correlation

    xs = [(i, (i * 13) % 23) for i in range(60)]
    rows = [(i, x, xs[i - 2][1] if i >= 2 else 0) for i, x in xs]
    df = spark.createDataFrame(rows, "i int, x int, y int")
    out = {r["lag"]: r["ccf"] for r in cross_correlation(df, "i", "x", "y", 4).collect()}
    assert out[2] == max(out.values())
    assert out[2] > 0.9

    same = spark.createDataFrame(xs, "i int, v int")
    both = same.select("i", F.col("v").alias("x"), F.col("v").alias("y"))
    out0 = {r["lag"]: r["ccf"] for r in cross_correlation(both, "i", "x", "y", 2).collect()}
    assert out0[0] == pytest.approx(1.0, abs=1e-6)


def test_cross_correlation_asymmetric_lags(spark):
    """ccf(k) for x-leads-y is NOT ccf(-k): the two directions use
    different pairings and must differ on an asymmetric series."""
    from morphik_core_spark.operators.analytics import cross_correlation

    rows = [(i, (i * 7) % 13, ((i + 1) * 11) % 17) for i in range(50)]
    df = spark.createDataFrame(rows, "i int, x int, y int")
    out = {r["lag"]: r["ccf"] for r in cross_correlation(df, "i", "x", "y", 3).collect()}
    assert len(out) == 7
    assert any(abs(out[k] - out[-k]) > 1e-9 for k in (1, 2, 3))


def test_seasonal_strength_separates_shapes(spark):
    """A strongly weekly series scores high seasonal strength and low
    trend strength; a pure linear ramp scores the reverse."""
    from morphik_core_spark.operators.analytics import (
        seasonal_decompose,
        seasonal_strength,
    )

    weekly = [(i, 100 + 50 * (1 if i % 7 in (0, 1) else 0)) for i in range(56)]
    df_w = spark.createDataFrame(weekly, "di long, x long")
    s_w = seasonal_strength(seasonal_decompose(df_w, "di", "x", period=7)).collect()[0]
    assert s_w["seasonal_strength"] > 0.9
    assert s_w["trend_strength"] < 0.5

    ramp = [(i, 100 + 10 * i) for i in range(56)]
    df_r = spark.createDataFrame(ramp, "di long, x long")
    s_r = seasonal_strength(seasonal_decompose(df_r, "di", "x", period=7)).collect()[0]
    assert s_r["trend_strength"] > 0.9


def test_holt_winters_beats_holt_on_weekly_series(spark):
    """On a strongly weekly series the seasonal forecaster's one-step
    backtest error must be well below holt_linear's, and the planted
    seasonal amplitude must appear in the season column."""
    from morphik_core_spark.operators.analytics import (
        holt_linear,
        holt_winters_additive,
    )

    rows = [(i, 100 + (60 if i % 7 == 0 else 0) + i) for i in range(42)]
    df = spark.createDataFrame(rows, "di long, y long")
    hw = holt_winters_additive(df, "di", "y", period=7).collect()
    hl = holt_linear(df, "di", "y").collect()
    sse_hw = sum(r["error"] ** 2 for r in hw if r["error"] is not None)
    # compare on the same post-warmup indexes
    hw_idx = {r["di"] for r in hw}
    sse_hl = sum(r["error"] ** 2 for r in hl if r["error"] is not None and r["di"] in hw_idx)
    assert sse_hw < sse_hl / 4, (sse_hw, sse_hl)
    spikes = [r for r in hw if r["di"] % 7 == 0]
    assert all(r["season"] > 30 for r in spikes)


def test_holt_winters_initialization_and_contract(spark):
    """Classic two-cycle initialization: first emitted forecast is
    l0 + b0 + s[phase]; too-short series and gappy first cycles raise."""
    import pytest as _pytest

    from morphik_core_spark.operators.analytics import holt_winters_additive

    rows = [(i, 10 * (i % 7) + 100) for i in range(15)]
    df = spark.createDataFrame(rows, "di long, y long")
    out = holt_winters_additive(df, "di", "y", period=7).collect()
    assert out[0]["di"] == 7
    ys = [y for _, y in rows]
    m1 = sum(ys[:7]) / 7.0
    m2 = sum(ys[7:14]) / 7.0
    s0 = ys[0] - m1
    expect_f = m1 + (m2 - m1) / 7.0 + s0
    assert out[0]["forecast"] == pytest.approx(expect_f, abs=1e-4)

    with _pytest.raises(ValueError):
        holt_winters_additive(
            spark.createDataFrame(rows[:10], "di long, y long"), "di", "y", period=7
        ).collect()
    gappy = [(i * 2, 100) for i in range(20)]  # even di only: phases {0,2,4,6,1,3,5}?
    # di*2 % 7 cycles through all residues, so build a REAL gap: di in
    # {0,7,14,...} keeps phase 0 only
    stuck = [(i * 7, 100) for i in range(20)]
    with _pytest.raises(ValueError):
        holt_winters_additive(
            spark.createDataFrame(stuck, "di long, y long"), "di", "y", period=7
        ).collect()


def test_pacf_ar1_cuts_off_after_lag_one(spark):
    """An AR(1) series has geometric ACF but PACF that CUTS OFF after
    lag 1: pacf(1) == acf(1) by definition and pacf(k >= 2) ~ 0 — the
    defining property Durbin-Levinson must reproduce. Deterministic
    AR(1): integer recursion x_t = (7*x_{t-1})//10 + hash-noise."""
    from morphik_core_spark.operators.analytics import pacf_durbin_levinson

    import hashlib

    x, rows = 500, []
    for t in range(300):
        h = int(hashlib.md5(f"ar1:{t}".encode()).hexdigest()[:8], 16) % 200
        x = (7 * x) // 10 + h
        rows.append((t, x))
    df = spark.createDataFrame(rows, "di long, x long")
    out = {r["lag"]: r for r in pacf_durbin_levinson(df, "di", "x", max_lag=5).collect()}
    assert abs(out[1]["pacf"] - out[1]["acf"]) < 1e-9  # phi_11 = rho_1
    assert out[1]["pacf"] > 0.5
    for k in range(2, 6):
        assert abs(out[k]["pacf"]) < 0.2, (k, out[k])


def test_pacf_matches_yule_walker(spark):
    """phi_kk from the Durbin-Levinson recursion equals the LAST
    coefficient of the order-k Yule-Walker solve — cross-checked against
    numpy's dense Toeplitz solve at every lag (tolerance covers the
    1e-12 quantization of the recursion)."""
    import hashlib

    import numpy as np

    from morphik_core_spark.operators.analytics import (
        autocorrelation,
        pacf_durbin_levinson,
    )

    rows = []
    for t in range(200):
        h = int(hashlib.md5(f"yw:{t}".encode()).hexdigest()[:8], 16) % 1000
        rows.append((t, h + (50 if t % 7 == 0 else 0)))
    df = spark.createDataFrame(rows, "di long, x long")
    acf = {
        int(r["lag"]): float(r["acf"])
        for r in autocorrelation(df, "di", "x", max_lag=6, decimals=12).collect()
    }
    out = {r["lag"]: r["pacf"] for r in pacf_durbin_levinson(df, "di", "x", max_lag=6).collect()}
    rho = [1.0] + [acf[k] for k in range(1, 7)]
    for k in range(1, 7):
        R = np.array([[rho[abs(i - j)] for j in range(k)] for i in range(k)])
        r = np.array(rho[1 : k + 1])
        phi = np.linalg.solve(R, r)
        assert abs(out[k] - phi[-1]) < 1e-6, (k, out[k], phi[-1])


def test_chi_square_posthoc_finds_the_different_pair(spark):
    """Three groups: a at 90%, b at 10%, c at 50% success. All three
    pairs differ wildly (n=100 each), so all are BH-rejected, with the
    a-b pair carrying the largest |z|; z signs follow rate order."""
    from morphik_core_spark.operators.analytics import chi_square_posthoc

    rows = (
        [(f"a{i}", "a", 1 if i < 90 else 0) for i in range(100)]
        + [(f"b{i}", "b", 1 if i < 10 else 0) for i in range(100)]
        + [(f"c{i}", "c", 1 if i < 50 else 0) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "id string, g string, f int")
    out = {(r["g_left"], r["g_right"]): r for r in chi_square_posthoc(df, "g", "f").collect()}
    assert all(r["rejected"] for r in out.values())
    assert out[("a", "b")]["z"] > out[("a", "c")]["z"] > 0
    assert out[("b", "c")]["z"] < 0
    assert out[("a", "b")]["rate_left"] == 0.9
    assert out[("a", "b")]["rate_right"] == 0.1


def test_chi_square_posthoc_degenerate_pair_is_null_result(spark):
    """Two groups both at 100% success: pooled variance is zero, so the
    pair reports z = 0, p = 1, not a divide-by-zero."""
    from morphik_core_spark.operators.analytics import chi_square_posthoc

    rows = [(f"a{i}", "a", 1) for i in range(20)] + [(f"b{i}", "b", 1) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, g string, f int")
    r = chi_square_posthoc(df, "g", "f").collect()[0]
    assert r["z"] == 0.0 and r["p_value"] == 1.0 and not r["rejected"]


def test_kendall_tau_b_matches_bruteforce(spark):
    """C, D, and tau-b from the dense 2D grid suffix sums must equal the
    O(n^2) pairwise definition on a small tied dataset; perfect monotone
    data pins tau at +/-1."""
    from morphik_core_spark.operators.analytics import kendall_tau_b

    import hashlib
    import math

    pts = []
    for i in range(60):
        h = int(hashlib.md5(f"kt:{i}".encode()).hexdigest()[:8], 16)
        x = h % 7
        y = (x * 3 + (h // 7) % 5) % 11  # association + ties in both axes
        pts.append((x, y))
    df = spark.createDataFrame(pts, "x long, y long")
    out = kendall_tau_b(df, "x", "y").collect()[0]
    C = D = 0
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    from collections import Counter

    tx = Counter(p[0] for p in pts)
    ty = Counter(p[1] for p in pts)
    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in tx.values())
    n2 = sum(t * (t - 1) // 2 for t in ty.values())
    tau = (C - D) / math.sqrt((n0 - n1) * (n0 - n2))
    assert out["concordant"] == C and out["discordant"] == D
    assert out["n_pairs"] == n0
    assert abs(out["tau_b"] - tau) < 1e-6

    mono = spark.createDataFrame([(i, i * 2) for i in range(30)], "x long, y long")
    assert kendall_tau_b(mono, "x", "y").collect()[0]["tau_b"] == 1.0
    anti = spark.createDataFrame([(i, -i) for i in range(30)], "x long, y long")
    assert kendall_tau_b(anti, "x", "y").collect()[0]["tau_b"] == -1.0


def test_kendall_tau_b_grid_guard(spark):
    """Two near-unique-value columns violate the bounded-grid contract:
    the op must RAISE (naming the grid size) before building the dense
    |X|x|Y| spine, not silently materialize a corpus x corpus cross
    product. An explicit max_grid_cells raise-of-the-budget (or a
    coarsening scale) re-admits the call."""
    import pytest

    from morphik_core_spark.operators.analytics import kendall_tau_b

    rows = [(float(i) + 0.123, float(i * 7 % 97) + 0.456) for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    with pytest.raises(ValueError, match="dense grid"):
        kendall_tau_b(df, "x", "y", x_scale=1000, y_scale=1000,
                      max_grid_cells=10_000).collect()
    # same data, budget raised explicitly: runs and returns one row
    [r] = kendall_tau_b(df, "x", "y", x_scale=1000, y_scale=1000,
                        max_grid_cells=100_000).collect()
    assert r["n"] == 200 and r["n_pairs"] == 200 * 199 // 2


def test_cochran_armitage_detects_monotone_trend(spark):
    """Rates 10% -> 50% -> 90% across three ordered groups: strongly
    positive z, tiny p; flat rates give z ~ 0. Cross-checked against the
    closed form computed directly."""
    from morphik_core_spark.operators.analytics import cochran_armitage_trend

    import math

    rows = (
        [("a", 1 if i < 10 else 0) for i in range(100)]
        + [("b", 1 if i < 50 else 0) for i in range(100)]
        + [("c", 1 if i < 90 else 0) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, f int")
    out = cochran_armitage_trend(df, "g", "f").collect()[0]
    n_i, s_i, w_i = [100, 100, 100], [10, 50, 90], [1, 2, 3]
    N, S = sum(n_i), sum(s_i)
    p = S / N
    T = sum(w * (s - n * p) for w, s, n in zip(w_i, s_i, n_i))
    var = p * (1 - p) * (sum(n * w * w for n, w in zip(n_i, w_i)) - sum(n * w for n, w in zip(n_i, w_i)) ** 2 / N)
    assert abs(out["z"] - T / math.sqrt(var)) < 1e-6
    assert out["z"] > 10 and out["p_value"] < 1e-9
    flat = spark.createDataFrame(
        [(g, 1 if i < 40 else 0) for g in "abc" for i in range(100)], "g string, f int"
    )
    assert abs(cochran_armitage_trend(flat, "g", "f").collect()[0]["z"]) < 1e-9


def test_jonckheere_terpstra_matches_bruteforce(spark):
    """JT, its mean, and the tie-corrected z must match the O(n^2)
    pairwise definition + the Hollander-Wolfe variance computed directly
    on a small tied dataset; an ordered shift turns z strongly positive."""
    from morphik_core_spark.operators.analytics import jonckheere_terpstra

    import hashlib
    import math
    from collections import Counter

    rows = []
    for gi, g in enumerate(["a", "b", "c"]):
        for i in range(40):
            h = int(hashlib.md5(f"jt:{g}:{i}".encode()).hexdigest()[:8], 16) % 12
            rows.append((g, h + gi * 2))  # planted ordered shift + ties
    df = spark.createDataFrame(rows, "g string, v long")
    out = jonckheere_terpstra(df, "g", "v").collect()[0]
    by_g = {g: [v for gg, v in rows if gg == g] for g in "abc"}
    jt2 = 0
    for a, b in [("a", "b"), ("a", "c"), ("b", "c")]:
        for xa in by_g[a]:
            for xb in by_g[b]:
                if xa < xb:
                    jt2 += 2
                elif xa == xb:
                    jt2 += 1
    n_i = [len(by_g[g]) for g in "abc"]
    N = sum(n_i)
    mean = (N * N - sum(n * n for n in n_i)) / 4
    t_j = list(Counter(v for _, v in rows).values())
    var = (
        (N * (N - 1) * (2 * N + 5)
         - sum(n * (n - 1) * (2 * n + 5) for n in n_i)
         - sum(t * (t - 1) * (2 * t + 5) for t in t_j)) / 72
        + (sum(n * (n - 1) * (n - 2) for n in n_i)
           * sum(t * (t - 1) * (t - 2) for t in t_j))
        / (36 * N * (N - 1) * (N - 2))
        + (sum(n * (n - 1) for n in n_i) * sum(t * (t - 1) for t in t_j))
        / (8 * N * (N - 1))
    )
    assert out["jt_stat"] == jt2 / 2
    assert out["mean_jt"] == mean
    z = (jt2 / 2 - mean) / math.sqrt(var)
    assert abs(out["z"] - z) < 1e-6
    assert out["z"] > 3  # the planted shift is detected

    # round-11 sums_fit_long: int64 pair/tie partials must be
    # bit-identical to the DECIMAL path under the 2·N³ < 2^63 bound
    out_l = jonckheere_terpstra(df, "g", "v", sums_fit_long=True).collect()[0]
    assert out_l.asDict() == out.asDict()


def test_cmh_controls_for_the_confounder(spark):
    """A classic Simpson setup: within EACH stratum exposure has the
    SAME outcome rate as non-exposure (no effect), but exposure
    concentrates in the high-rate stratum, so the POOLED 2x2 shows a
    strong spurious association. CMH must report ~no effect (chi2 ~ 0,
    OR_MH ~ 1); cross-checked against the closed form."""
    from morphik_core_spark.operators.analytics import cmh_test

    rows = []
    # stratum 'hi': rate 0.8 for both arms; exposure-heavy (80 vs 20)
    rows += [("hi", 1, 1 if i < 64 else 0) for i in range(80)]
    rows += [("hi", 0, 1 if i < 16 else 0) for i in range(20)]
    # stratum 'lo': rate 0.2 for both arms; control-heavy (20 vs 80)
    rows += [("lo", 1, 1 if i < 4 else 0) for i in range(20)]
    rows += [("lo", 0, 1 if i < 16 else 0) for i in range(80)]
    df = spark.createDataFrame(rows, "s string, e int, o int")
    out = cmh_test(df, "s", "e", "o").collect()[0]
    assert abs(out["chi2"]) < 1e-6 and abs(out["or_mh"] - 1.0) < 1e-6
    # pooled association IS strong (the paradox the test controls away)
    pooled = {(r["e"], r["o"]) for r in df.collect()}  # touch both arms
    assert pooled  # sanity
    # a real within-stratum effect must be detected
    rows2 = []
    rows2 += [("hi", 1, 1 if i < 72 else 0) for i in range(80)]  # 90% vs
    rows2 += [("hi", 0, 1 if i < 12 else 0) for i in range(20)]  # 60%
    rows2 += [("lo", 1, 1 if i < 10 else 0) for i in range(20)]  # 50% vs
    rows2 += [("lo", 0, 1 if i < 16 else 0) for i in range(80)]  # 20%
    out2 = cmh_test(spark.createDataFrame(rows2, "s string, e int, o int"), "s", "e", "o").collect()[0]
    assert out2["chi2"] > 10 and out2["p_value"] < 1e-3 and out2["or_mh"] > 3


def test_cmh_matches_closed_form(spark):
    """chi2 and OR_MH against the textbook formulas on a small
    two-stratum table with micro-quantization tolerance."""
    import math

    from morphik_core_spark.operators.analytics import cmh_test

    tables = {"s1": (12, 8, 5, 15), "s2": (7, 13, 9, 11)}  # (a, b, c, d)
    rows = []
    for st, (a, b, c, d) in tables.items():
        rows += [(st, 1, 1)] * a + [(st, 1, 0)] * b + [(st, 0, 1)] * c + [(st, 0, 0)] * d
    out = cmh_test(spark.createDataFrame(rows, "s string, e int, o int"), "s", "e", "o").collect()[0]
    dev = var = ad = bc = 0.0
    for a, b, c, d in tables.values():
        n = a + b + c + d
        dev += round((a - (a + b) * (a + c) / n) * 1e6) / 1e6
        var += round((a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)) * 1e6) / 1e6
        ad += round(a * d / n * 1e6) / 1e6
        bc += round(b * c / n * 1e6) / 1e6
    assert abs(out["chi2"] - dev * dev / var) < 1e-5
    assert abs(out["or_mh"] - ad / bc) < 1e-5


def test_friedman_matches_closed_form_and_detects_shift(spark):
    """Conover tie-corrected T against a hand computation on a small
    blocked layout with ties; a planted per-treatment shift inside
    every block turns T large while pure block effects alone keep it
    at ~0 (the within-block ranking removes them)."""
    from morphik_core_spark.operators.analytics import friedman_test

    # 4 blocks x 3 treatments; block effects huge, treatment effect none
    rows = []
    for bi in range(4):
        base = bi * 1000
        for ti, t in enumerate(["x", "y", "z"]):
            rows.append((f"b{bi}", t, base + (bi * 7 + ti * 3) % 5))  # shuffled small noise
    df = spark.createDataFrame(rows, "b string, t string, v long")
    out = friedman_test(df, "b", "t", "v").collect()[0]

    # hand compute Conover T with average tie ranks
    from collections import defaultdict

    by_b = defaultdict(list)
    for b, t, v in rows:
        by_b[b].append((t, v))
    R = defaultdict(float)
    A = 0.0
    for b, items in by_b.items():
        vals = sorted(v for _, v in items)
        for t, v in items:
            lt = sum(1 for x in vals if x < v)
            eq = sum(1 for x in vals if x == v)
            r = lt + (eq + 1) / 2
            R[t] += r
            A += r * r
    n, k = len(by_b), 3
    C = n * k * (k + 1) ** 2 / 4
    num = sum((R[t] - n * (k + 1) / 2) ** 2 for t in R)
    expect = (k - 1) * num / (A - C)
    assert abs(out["t_stat"] - expect) < 1e-6
    assert out["k"] == 3 and out["n_blocks"] == 4

    # planted consistent shift: treatment z always largest
    rows2 = [(f"b{bi}", t, bi * 1000 + ti * 10) for bi in range(6) for ti, t in enumerate("xyz")]
    out2 = friedman_test(
        spark.createDataFrame(rows2, "b string, t string, v long"), "b", "t", "v"
    ).collect()[0]
    # perfect ordering saturates Conover T at its maximum (k-1)*n = 12
    assert out2["t_stat"] == 12.0


def test_friedman_drops_incomplete_blocks(spark):
    """A block missing one treatment is excluded entirely (complete-
    block contract) — n_blocks reports the surviving count."""
    from morphik_core_spark.operators.analytics import friedman_test

    rows = [("b0", "x", 1), ("b0", "y", 2), ("b1", "x", 3)]  # b1 incomplete
    out = friedman_test(
        spark.createDataFrame(rows, "b string, t string, v long"), "b", "t", "v"
    ).collect()[0]
    assert out["n_blocks"] == 1 and out["k"] == 2


def test_brown_forsythe_robust_where_levene_fooled(spark):
    """Two groups with IDENTICAL bulk spread, one carrying a single
    whale value: mean-centered Levene inflates that group's deviations
    (center dragged + the whale's own huge deviation) while the
    median-centered Brown-Forsythe stays closer to null; a genuine
    spread difference is detected by both. Cross-checked against the
    closed form on exact medians."""
    from morphik_core_spark.operators.analytics import (
        brown_forsythe_test,
        levene_test,
    )

    bulk_a = [("a", v) for v in [10, 11, 12, 13, 14] * 20]
    bulk_b = [("b", v) for v in [10, 11, 12, 13, 14] * 20] + [("b", 10000)]
    df = spark.createDataFrame(bulk_a + bulk_b, "g string, v long")
    bf = brown_forsythe_test(df, "g", "v").collect()[0]
    lv = levene_test(df, "g", "v").collect()[0]
    assert bf["w_stat"] < lv["w_stat"]  # the whale moves BF less

    wide = [("a", v) for v in [12] * 50] + [("b", v) for v in [0, 24] * 25]
    out = brown_forsythe_test(
        spark.createDataFrame(wide, "g string, v long"), "g", "v"
    ).collect()[0]
    assert out["w_stat"] > 30  # genuine spread difference detected

    # closed form on a tiny case with known medians
    rows = [("a", 1), ("a", 3), ("a", 5), ("b", 2), ("b", 2), ("b", 10)]
    out2 = brown_forsythe_test(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()[0]
    # med_a=3 -> d=[2,0,2]; med_b=2 -> d=[0,0,8]
    da, db = [2, 0, 2], [0, 0, 8]
    n, k = 6, 2
    sa, sb = sum(da), sum(db)
    tot = sa + sb
    ssb = sa * sa / 3 + sb * sb / 3 - tot * tot / n
    ssw = sum(d * d for d in da + db) - (sa * sa / 3 + sb * sb / 3)
    expect = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(out2["w_stat"] - expect) < 1e-5


def test_seasonal_mann_kendall_sees_through_weekly_cycle(spark):
    """A pure period-7 cycle (no trend) drives plain Mann-Kendall's |z|
    up while the seasonal test reads ~0; adding a real linear drift on
    top flips the seasonal test to 'increasing'. Brute-force S/var
    cross-check on the seasonal pairs."""
    import math
    from collections import Counter

    from morphik_core_spark.operators.analytics import seasonal_mann_kendall

    cycle = [100, 50, 20, 20, 30, 80, 120]
    rows = [(t, cycle[t % 7]) for t in range(70)]
    df = spark.createDataFrame(rows, "di long, x long")
    out = seasonal_mann_kendall(df, "di", "x", period=7).collect()[0]
    assert out["s_stat"] == 0 and out["trend"] == "none"

    drift = [(t, cycle[t % 7] + t) for t in range(70)]
    out2 = seasonal_mann_kendall(
        spark.createDataFrame(drift, "di long, x long"), "di", "x", period=7
    ).collect()[0]
    assert out2["trend"] == "increasing"
    # brute-force within-season S and tie-corrected var
    S = 0
    v18 = 0
    for m in range(7):
        vals = [x for t, x in drift if t % 7 == m]
        nm = len(vals)
        for i in range(nm):
            for j in range(i + 1, nm):
                S += (vals[j] > vals[i]) - (vals[j] < vals[i])
        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(vals).values() if t > 1
        )
        v18 += nm * (nm - 1) * (2 * nm + 5) - tie
    assert out2["s_stat"] == S
    z = (S - 1) / math.sqrt(v18 / 18.0)
    assert abs(out2["z"] - z) < 1e-6


def test_partial_corr_removes_common_driver(spark):
    """x and y both driven by z (plus independent noise): raw r_xy is
    strongly positive, but r_xy.z collapses toward 0 — the partial
    correlation sees through the confounder. Closed-form cross-check
    from the three micro-quantized pairwise r."""
    import hashlib

    from morphik_core_spark.operators.analytics import partial_corr_3var

    rows = []
    for i in range(400):
        hz = int(hashlib.md5(f"z:{i}".encode()).hexdigest()[:8], 16) % 1000
        hx = int(hashlib.md5(f"x:{i}".encode()).hexdigest()[:8], 16) % 100
        hy = int(hashlib.md5(f"y:{i}".encode()).hexdigest()[:8], 16) % 100
        rows.append((hz + hx, hz + hy, hz))
    df = spark.createDataFrame(rows, "x long, y long, z long")
    out = partial_corr_3var(df, "x", "y", "z").collect()[0]
    assert out["r_xy"] > 0.9  # confounded raw correlation
    assert abs(out["r_xy_given_z"]) < 0.15  # collapses once z is held
    expect = (out["r_xy"] - out["r_xz"] * out["r_yz"]) / (
        (1 - out["r_xz"] ** 2) * (1 - out["r_yz"] ** 2)
    ) ** 0.5
    assert abs(out["r_xy_given_z"] - expect) < 1e-4


def test_cvm_statistic_matches_bruteforce_and_sees_diffuse_shift(spark):
    """T against the O(N) pooled-ECDF brute force on a small tied
    sample; a diffuse +1 shift registers while identical samples give
    ~0."""
    from morphik_core_spark.operators.analytics import cvm_statistic

    import hashlib

    va = [int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % 20 for i in range(80)]
    vb = [int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % 20 + 1 for i in range(60)]
    a = spark.createDataFrame([(v,) for v in va], "v long")
    b = spark.createDataFrame([(v,) for v in vb], "v long")
    out = cvm_statistic(a, b, "v").collect()[0]
    na, nb = len(va), len(vb)
    N = na + nb
    pooled = sorted(set(va + vb))
    t = 0.0
    from bisect import bisect_right

    sa, sb = sorted(va), sorted(vb)
    for v in pooled:
        lv = (len([1 for x in va if x == v]) + len([1 for x in vb if x == v]))
        fa = bisect_right(sa, v) / na
        fb = bisect_right(sb, v) / nb
        t += lv * (fa - fb) ** 2
    t *= na * nb / N**2
    assert abs(out["cvm_stat"] - t) < 1e-6
    same = cvm_statistic(a, a, "v").collect()[0]
    assert same["cvm_stat"] == 0.0


def test_wasserstein_reads_shift_in_value_units(spark):
    """A uniform +5 shift of the SAME sample gives W1 = 5 exactly; W1
    against the classic sorted-quantile brute force on unequal sizes."""
    from morphik_core_spark.operators.analytics import wasserstein_1d

    import hashlib

    va = [int(hashlib.md5(f"w:{i}".encode()).hexdigest()[:8], 16) % 100 for i in range(90)]
    a = spark.createDataFrame([(v,) for v in va], "v long")
    b5 = spark.createDataFrame([(v + 5,) for v in va], "v long")
    assert wasserstein_1d(a, b5, "v").collect()[0]["w1"] == 5.0

    vb = [int(hashlib.md5(f"u:{i}".encode()).hexdigest()[:8], 16) % 100 for i in range(60)]
    b = spark.createDataFrame([(v,) for v in vb], "v long")
    out = wasserstein_1d(a, b, "v").collect()[0]
    # brute force: integral of |F_a - F_b| over the pooled grid
    from bisect import bisect_right

    sa, sb = sorted(va), sorted(vb)
    grid = sorted(set(va + vb))
    w1 = 0.0
    for v, vn in zip(grid, grid[1:]):
        fa = bisect_right(sa, v) / len(va)
        fb = bisect_right(sb, v) / len(vb)
        w1 += abs(fa - fb) * (vn - v)
    assert abs(out["w1"] - w1) < 1e-6

    # value_scale round-trips to original units: cents-scale, same data
    af = spark.createDataFrame([(v / 100.0,) for v in va], "v double")
    bf = spark.createDataFrame([(v / 100.0 + 0.05,) for v in va], "v double")
    assert wasserstein_1d(af, bf, "v", value_scale=100).collect()[0]["w1"] == 0.05


def test_ad_statistic_matches_bruteforce_and_weights_tails(spark):
    """A2 against the direct Scholz-Stephens midrank formula on a small
    tied dataset; identical samples give exactly 0; a TAIL-only shift
    (top decile moved) registers more strongly relative to CvM than a
    middle-of-distribution wiggle — the tail weighting in action."""
    from morphik_core_spark.operators.analytics import ad_statistic

    import hashlib

    va = [int(hashlib.md5(f"p:{i}".encode()).hexdigest()[:8], 16) % 15 for i in range(70)]
    vb = [int(hashlib.md5(f"q:{i}".encode()).hexdigest()[:8], 16) % 15 for i in range(50)]
    a = spark.createDataFrame([(v,) for v in va], "v long")
    b = spark.createDataFrame([(v,) for v in vb], "v long")
    out = ad_statistic(a, b, "v").collect()[0]

    # brute force (k=2 midrank form), mirroring the 1e-12 term quantization
    na, nb = len(va), len(vb)
    N = na + nb
    from collections import Counter

    ca, cb = Counter(va), Counter(vb)
    spine = sorted(set(va + vb))
    cum_a = cum_b = 0
    s_terms = 0
    for v in spine:
        la, lb = ca.get(v, 0), cb.get(v, 0)
        lv = la + lb
        cum_a += la
        cum_b += lb
        b2 = 2 * (cum_a + cum_b) - lv
        den4 = b2 * (2 * N - b2) - N * lv
        if den4 <= 0:
            continue
        for m2, ni in ((2 * cum_a - la, na), (2 * cum_b - lb, nb)):
            num = N * m2 - ni * b2
            s_terms += round(lv * num * num / (ni * N * den4) * 1e12)
    expect = (N - 1) / N * s_terms / 1e12
    assert abs(out["ad_stat"] - expect) < 1e-6

    same = ad_statistic(a, a, "v").collect()[0]
    assert same["ad_stat"] == 0.0

    # A2 under the null is ~1 in expectation; a clear shift must exceed it
    shifted = spark.createDataFrame([(v + 3,) for v in va], "v long")
    big = ad_statistic(a, shifted, "v").collect()[0]
    assert big["ad_stat"] > 5


def test_holt_winters_multiplicative_level_proportional_series(spark):
    """The level-proportional fixture: y_t = (100 + 2t) * season[phase]
    — the seasonal swing GROWS with the level. The multiplicative
    forecaster's one-step backtest error must beat the additive form's
    (whose fixed-amplitude season under-corrects late spikes), the
    season column must hover around the planted ratios, and the first
    emitted forecast must replay the classic initialization."""
    from morphik_core_spark.operators.analytics import (
        holt_winters_additive,
        holt_winters_multiplicative,
    )

    season = [1.5, 0.8, 0.9, 1.0, 1.1, 0.7, 1.0]
    rows = [(i, round((100 + 2 * i) * season[i % 7])) for i in range(56)]
    df = spark.createDataFrame(rows, "di long, y long")
    hm = holt_winters_multiplicative(df, "di", "y", period=7).collect()
    ha = holt_winters_additive(df, "di", "y", period=7).collect()
    sse_m = sum(r["error"] ** 2 for r in hm)
    sse_a = sum(r["error"] ** 2 for r in ha)
    assert sse_m < sse_a, (sse_m, sse_a)
    # planted ratio visible: phase-0 season stays near 1.5
    last_cycle = [r for r in hm if r["di"] >= 42 and r["di"] % 7 == 0]
    assert all(1.3 < r["season"] < 1.7 for r in last_cycle)
    # first forecast = (l0 + b0) * s[phase]
    ys = [y for _, y in rows]
    m1 = sum(ys[:7]) / 7.0
    m2 = sum(ys[7:14]) / 7.0
    expect_f = (m1 + (m2 - m1) / 7.0) * (ys[0] / m1)
    assert hm[0]["di"] == 7
    assert abs(hm[0]["forecast"] - expect_f) < 0.01


def test_holt_winters_multiplicative_contract(spark):
    """Positivity is enforced (the ratio form is undefined at 0), and
    the additive form's length/phase-coverage contract carries over."""
    import pytest as _pytest

    from morphik_core_spark.operators.analytics import holt_winters_multiplicative

    with _pytest.raises(ValueError, match="positive"):
        holt_winters_multiplicative(
            spark.createDataFrame(
                [(i, 100 if i != 3 else 0) for i in range(20)], "di long, y long"
            ),
            "di", "y", period=7,
        ).collect()
    with _pytest.raises(ValueError, match="at least"):
        holt_winters_multiplicative(
            spark.createDataFrame([(i, 100) for i in range(10)], "di long, y long"),
            "di", "y", period=7,
        ).collect()
    stuck = [(i * 7, 100) for i in range(20)]
    with _pytest.raises(ValueError, match="phase"):
        holt_winters_multiplicative(
            spark.createDataFrame(stuck, "di long, y long"), "di", "y", period=7
        ).collect()


def test_ad_k_statistic_reduces_to_two_sample(spark):
    """At k=2 the Scholz-Stephens k-sample statistic IS the two-sample
    ad_statistic — identical doubled-midrank terms, identical 1e-12
    quantization, so the outputs must match exactly."""
    from morphik_core_spark.operators.analytics import ad_k_statistic, ad_statistic

    import hashlib

    rows = []
    for i in range(300):
        h = int(hashlib.md5(f"adk:{i}".encode()).hexdigest()[:8], 16)
        g = "a" if i % 2 == 0 else "b"
        v = h % 40 + (15 if g == "b" else 0)  # shifted + heavy ties
        rows.append((g, v))
    df = spark.createDataFrame(rows, "g string, v long")
    [two] = ad_statistic(
        df.filter("g = 'a'").select("v"), df.filter("g = 'b'").select("v"), "v"
    ).collect()
    [k2] = ad_k_statistic(df, "g", "v").collect()
    assert k2["k"] == 2 and k2["n"] == two["n_a"] + two["n_b"]
    assert k2["ad_k_stat"] == two["ad_stat"]


def test_ad_k_statistic_matches_bruteforce_k3(spark):
    """Three samples with ties: the distributed doubled-midrank terms
    must reproduce the Scholz-Stephens A2kN midrank formula computed
    directly; pooled-identical samples sit near 0 and one shifted
    sample dominates."""
    from morphik_core_spark.operators.analytics import ad_k_statistic

    samples = {
        "a": [1, 2, 2, 3, 5, 5, 8],
        "b": [1, 2, 4, 4, 6, 9],
        "c": [12, 13, 13, 15, 16, 17, 18, 20],  # far shifted
    }
    rows = [(g, v) for g, vs in samples.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = ad_k_statistic(df, "g", "v").collect()

    from collections import Counter

    pooled = Counter(v for vs in samples.values() for v in vs)
    values = sorted(pooled)
    N = sum(pooled.values())
    a2 = 0.0
    for g, vs in samples.items():
        ni = len(vs)
        cg = Counter(vs)
        cum = cumg = 0
        inner = 0.0
        for v in values:
            l = pooled[v]
            cum += l
            cumg += cg.get(v, 0)
            B = cum - l / 2.0
            M = cumg - cg.get(v, 0) / 2.0
            den = B * (N - B) - N * l / 4.0
            if den <= 0:
                continue
            inner += l / N * (N * M - ni * B) ** 2 / den
        a2 += inner / ni
    expect = (N - 1) / N * a2
    assert r["k"] == 3 and r["n"] == N
    assert abs(r["ad_k_stat"] - expect) < 1e-6

    # pooled-identical samples: statistic near 0 (can be slightly
    # negative — the midrank form is not positive-definite under ties)
    same = [(g, v) for g in ("a", "b", "c") for v in [1, 2, 3, 4, 5, 6]]
    [r0] = ad_k_statistic(
        spark.createDataFrame(same, "g string, v long"), "g", "v"
    ).collect()
    assert abs(r0["ad_k_stat"]) < 0.5 < r["ad_k_stat"]


def test_ad_k_statistic_group_guard(spark):
    """The bounded-k contract is enforced: each group is a full spine
    copy, so a high-cardinality group column raises unless the budget
    is raised explicitly."""
    import pytest as _pytest

    from morphik_core_spark.operators.analytics import ad_k_statistic

    df = spark.createDataFrame(
        [(f"g{i}", i % 13) for i in range(60)], "g string, v long"
    )
    with _pytest.raises(ValueError, match="max_groups"):
        ad_k_statistic(df, "g", "v", max_groups=10).collect()
    [r] = ad_k_statistic(df, "g", "v", max_groups=100).collect()
    assert r["k"] == 60


def test_series_col_matches_single_series_runs(spark):
    """The round-11 ``series_col`` fast path (one pivot/prefix/agg chain
    grouped by series) must be bit-identical, per series, to running the
    operator once per series — for ad_k_statistic AND
    jonckheere_terpstra, on tied data with a value-transformed twin
    series (the injected-shift query shape). Also: series_col without
    group_sizes raises (the identical-membership contract)."""
    import hashlib

    import pytest as _pytest

    from pyspark.sql import functions as F

    from morphik_core_spark.operators.analytics import (
        ad_k_statistic,
        jonckheere_terpstra,
    )

    rows = []
    for gi, g in enumerate(["a", "b", "c"]):
        for i in range(50):
            h = int(hashlib.md5(f"ser:{g}:{i}".encode()).hexdigest()[:8], 16) % 17
            rows.append((g, h + gi))
    df = spark.createDataFrame(rows, "g string, v long")
    shifted = df.select(
        "g",
        (
            F.col("v") + F.when(F.col("g") == "a", F.lit(9)).otherwise(F.lit(0))
        ).alias("v"),
    )
    tagged = df.select(F.lit("raw").alias("s"), "g", "v").unionByName(
        shifted.select(F.lit("shifted").alias("s"), "g", "v")
    )
    sizes = [
        (r["g"], r["c"])
        for r in df.groupBy("g").agg(F.count(F.lit(1)).alias("c")).collect()
    ]

    for op, kwargs in [
        (ad_k_statistic, {"cores_fit_long": True, "bucket_width": 8}),
        (jonckheere_terpstra, {}),
    ]:
        [raw] = op(df, "g", "v", group_sizes=sizes, **kwargs).collect()
        [shf] = op(shifted, "g", "v", group_sizes=sizes, **kwargs).collect()
        got = {
            r["s"]: r.asDict()
            for r in op(
                tagged, "g", "v", group_sizes=sizes, series_col="s", **kwargs
            ).collect()
        }
        assert set(got) == {"raw", "shifted"}
        for name, single in [("raw", raw), ("shifted", shf)]:
            multi = {kk: vv for kk, vv in got[name].items() if kk != "s"}
            assert multi == single.asDict(), (op.__name__, name)
        with _pytest.raises(ValueError, match="series_col requires"):
            op(tagged, "g", "v", series_col="s", **kwargs)


def test_bartlett_matches_closed_form(spark):
    """Small fixture vs the textbook formula computed directly; an
    inflated-variance group must blow the statistic up; a constant
    group (zero variance) makes ln undefined -> NULL."""
    import math

    from morphik_core_spark.operators.analytics import bartlett_test

    samples = {
        "a": [10, 12, 11, 13, 9, 11],
        "b": [20, 22, 21, 19, 23],
        "c": [5, 30, 1, 40, 12, 28, 3],  # much wider
    }
    rows = [(g, v) for g, vs in samples.items() for v in vs]
    [r] = bartlett_test(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()
    k = len(samples)
    N = sum(len(vs) for vs in samples.values())
    sp_num = 0.0
    sum_ln = 0.0
    sum_inv = 0.0
    for vs in samples.values():
        n = len(vs)
        m = sum(vs) / n
        s2 = sum((x - m) ** 2 for x in vs) / (n - 1)
        sp_num += (n - 1) * s2
        sum_ln += (n - 1) * math.log(s2)
        sum_inv += 1.0 / (n - 1)
    sp2 = sp_num / (N - k)
    c = 1.0 + (sum_inv - 1.0 / (N - k)) / (3.0 * (k - 1))
    expect = ((N - k) * math.log(sp2) - sum_ln) / c
    assert r["k"] == k and r["n"] == N
    assert abs(r["bartlett_stat"] - expect) < 1e-5

    # equal-spread groups: small statistic
    eq = [(g, v + off) for g, off in [("a", 0), ("b", 100)] for v in [1, 2, 3, 4, 5]]
    [r0] = bartlett_test(
        spark.createDataFrame(eq, "g string, v long"), "g", "v"
    ).collect()
    assert abs(r0["bartlett_stat"]) < 0.01 < r["bartlett_stat"]

    const = [("a", 5), ("a", 5), ("a", 5), ("b", 1), ("b", 2), ("b", 3)]
    [rc] = bartlett_test(
        spark.createDataFrame(const, "g string, v long"), "g", "v"
    ).collect()
    assert rc["bartlett_stat"] is None


def test_mood_median_hand_computed(spark):
    """2 x k table chi-square vs the hand-built expectation; the lower-
    median convention is pinned; a shifted group drives chi2 up."""
    from morphik_core_spark.operators.analytics import mood_median_test

    samples = {"a": [1, 2, 3, 4], "b": [3, 4, 5, 6], "c": [6, 7, 8, 9]}
    rows = [(g, v) for g, vs in samples.items() for v in vs]
    [r] = mood_median_test(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()
    pooled = sorted(v for vs in samples.values() for v in vs)
    N = len(pooled)
    med = pooled[(N + 1) // 2 - 1]  # lower median
    assert r["grand_median"] == med and r["n"] == N and r["dof"] == 2
    A = sum(1 for vs in samples.values() for v in vs if v > med)
    B = N - A
    chi2 = 0.0
    import math
    s = 0
    for vs in samples.values():
        a = sum(1 for v in vs if v > med)
        tot = len(vs)
        ea = tot * A / N
        eb = tot * B / N
        s += round((a - ea) ** 2 / ea * 1e12) + round(((tot - a) - eb) ** 2 / eb * 1e12)
    assert abs(r["chi2"] - s / 1e12) < 1e-6

    # identical groups: chi2 ~ 0
    same = [(g, v) for g in ("a", "b") for v in [1, 2, 3, 4, 5, 6]]
    [r0] = mood_median_test(
        spark.createDataFrame(same, "g string, v long"), "g", "v"
    ).collect()
    assert r0["chi2"] < 0.01


def test_durbin_watson_regimes(spark):
    """Hand-computed d on a tiny series; a smooth trend pushes d toward
    0, strict alternation toward 4, and a constant series is NULL."""
    from morphik_core_spark.operators.analytics import durbin_watson

    ys = [3, 5, 2, 8, 6]
    df = spark.createDataFrame(list(enumerate(ys)), "i long, y long")
    [r] = durbin_watson(df, "i", "y").collect()
    m = sum(ys) / len(ys)
    expect = sum((b - a) ** 2 for a, b in zip(ys, ys[1:])) / sum((y - m) ** 2 for y in ys)
    assert r["n"] == 5 and abs(r["dw_stat"] - expect) < 1e-6

    trend = spark.createDataFrame([(i, i) for i in range(50)], "i long, y long")
    [rt] = durbin_watson(trend, "i", "y").collect()
    assert rt["dw_stat"] < 0.1
    alt = spark.createDataFrame([(i, i % 2) for i in range(50)], "i long, y long")
    [ra] = durbin_watson(alt, "i", "y").collect()
    assert ra["dw_stat"] > 3.5
    const = spark.createDataFrame([(i, 7) for i in range(10)], "i long, y long")
    [rc] = durbin_watson(const, "i", "y").collect()
    assert rc["dw_stat"] is None


def test_runs_test_hand_computed(spark):
    """Known sign sequence: counts and z pinned by hand; a block trend
    has too FEW runs (z << 0), strict alternation too MANY (z >> 0);
    median ties drop before the runs are counted."""
    import math

    from morphik_core_spark.operators.analytics import runs_test

    # values around median 5: signs + + - - + (5s drop)
    ys = [9, 8, 5, 1, 2, 5, 7]
    df = spark.createDataFrame(list(enumerate(ys)), "i long, y long")
    [r] = runs_test(df, "i", "y").collect()
    assert (r["n"], r["n_above"], r["n_below"], r["runs"]) == (5, 3, 2, 3)
    n12 = 3 * 2
    mu = 2.0 * n12 / 5 + 1.0
    var = 2.0 * n12 * (2.0 * n12 - 5) / (25.0 * 4.0)
    assert abs(r["z"] - (3 - mu) / math.sqrt(var)) < 1e-6

    # distinct values so only the single median row drops: 1..25 then
    # 101..125 -> lower median 25 drops, leaving one below-run (1..24)
    # and one above-run (101..125)
    block = spark.createDataFrame(
        [(i, i + 1 if i < 25 else i + 76) for i in range(50)], "i long, y long"
    )
    [rb] = runs_test(block, "i", "y").collect()
    assert rb["n"] == 49 and rb["runs"] == 2 and rb["z"] < -6
    alt = spark.createDataFrame(
        [(i, i % 2 * 100 + i) for i in range(50)], "i long, y long"
    )
    [ra] = runs_test(alt, "i", "y").collect()
    assert ra["runs"] >= 48 and ra["z"] > 6


def test_page_trend_matches_bruteforce(spark):
    """Midrank L against a direct computation on a small blocked
    fixture; a planted monotone treatment trend gives z >> 0 while
    shuffled treatment labels sit near 0."""
    import math

    from morphik_core_spark.operators.analytics import page_trend_test

    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    # treatments t1 < t2 < t3 with a planted increasing effect
    rows = []
    for b in range(12):
        for j, t in enumerate(["t1", "t2", "t3"]):
            rows.append((f"b{b}", t, 10 + 5 * j + h(f"{b}:{t}") % 4))
    df = spark.createDataFrame(rows, "b string, t string, v long")
    [r] = page_trend_test(df, "b", "t", "v").collect()

    # brute force with midranks
    from collections import defaultdict

    blocks = defaultdict(dict)
    for b, t, v in rows:
        blocks[b][t] = v
    L = 0.0
    for b, tv in blocks.items():
        vals = sorted(tv.values())
        for j, t in enumerate(sorted(tv)):
            v = tv[t]
            rank = (sum(1 for x in vals if x < v) + (sum(1 for x in vals if x <= v) + 1)) / 2.0
            L += (j + 1) * rank
    n, k = len(blocks), 3
    el = n * k * (k + 1) ** 2 / 4.0
    vl = n * (k**3 - k) ** 2 / (144.0 * (k - 1))
    assert r["k"] == 3 and r["n_blocks"] == 12
    assert abs(r["page_l"] - L) < 1e-9
    assert abs(r["z"] - (L - el) / math.sqrt(vl)) < 1e-6
    assert r["z"] > 4

    flat = [(b, t, h(f"f:{b}:{t}") % 20) for b, t, _ in rows]
    [r0] = page_trend_test(
        spark.createDataFrame(flat, "b string, t string, v long"), "b", "t", "v"
    ).collect()
    assert abs(r0["z"]) < 2


def test_wilcoxon_signed_rank_hand_computed(spark):
    """Small paired fixture vs the textbook computation (midranks of
    |d|, zeros dropped, tie-corrected variance); a strong one-sided
    shift drives z >> 0 and symmetric noise sits near 0."""
    import math
    from collections import Counter

    from morphik_core_spark.operators.analytics import wilcoxon_signed_rank

    pairs = [(10, 8), (12, 12), (9, 11), (15, 9), (7, 6), (5, 9), (14, 10), (8, 7)]
    df = spark.createDataFrame(pairs, "x long, y long")
    [r] = wilcoxon_signed_rank(df, "x", "y").collect()
    ds = [x - y for x, y in pairs if x != y]
    n = len(ds)
    # midranks of |d|
    mags = sorted(abs(d) for d in ds)
    def midrank(a):
        lo = sum(1 for m in mags if m < a)
        hi = sum(1 for m in mags if m <= a)
        return (lo + 1 + hi) / 2.0
    w_plus = sum(midrank(abs(d)) for d in ds if d > 0)
    ties = Counter(abs(d) for d in ds)
    T = sum(t * (t * t - 1) for t in ties.values())
    mu = n * (n + 1) / 4.0
    var = n * (n + 1) * (2 * n + 1) / 24.0 - T / 48.0
    assert r["n"] == n
    assert r["w_plus"] == w_plus
    assert abs(r["z"] - (w_plus - mu) / math.sqrt(var)) < 1e-6

    up = spark.createDataFrame([(i + 10, i) for i in range(40)], "x long, y long")
    [ru] = wilcoxon_signed_rank(up, "x", "y").collect()
    assert ru["z"] > 5
    sym = spark.createDataFrame(
        [(i, i + (1 if i % 2 == 0 else -1)) for i in range(40)], "x long, y long"
    )
    [rs] = wilcoxon_signed_rank(sym, "x", "y").collect()
    assert abs(rs["z"]) < 1


def test_welch_anova_matches_closed_form(spark):
    """Closed-form Welch F*/df2 on a heteroscedastic fixture; equal
    means across unequal-variance groups stay near 0 while a shifted
    mean blows F* up; constant group -> NULL."""
    import hashlib

    from morphik_core_spark.operators.analytics import welch_anova

    def h(s, m):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m

    samples = {
        "a": [100 + h(f"a{i}", 11) for i in range(30)],       # tight
        "b": [100 + h(f"b{i}", 101) - 50 for i in range(12)], # wide
        "c": [160 + h(f"c{i}", 31) for i in range(20)],       # shifted
    }
    rows = [(g, v) for g, vs in samples.items() for v in vs]
    [r] = welch_anova(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()
    # closed form (with the op's 1e-6/1e-12 quantizations omitted —
    # tolerance absorbs them)
    stats = {}
    for g, vs in samples.items():
        n = len(vs)
        m = sum(vs) / n
        s2 = sum((x - m) ** 2 for x in vs) / (n - 1)
        stats[g] = (n, m, n / s2)
    W = sum(w for _, _, w in stats.values())
    mw = sum(w * m for _, m, w in stats.values()) / W
    k = len(stats)
    A = sum(w * (m - mw) ** 2 for _, m, w in stats.values()) / (k - 1)
    L = sum((1 - w / W) ** 2 / (n - 1) for n, _, w in stats.values())
    f_expect = A / (1 + 2 * (k - 2) / (k * k - 1) * L)
    df2_expect = (k * k - 1) / (3 * L)
    assert r["k"] == 3 and r["n"] == 62 and r["df1"] == 2
    assert abs(r["f_stat"] - f_expect) < 1e-3 * max(1.0, f_expect)
    assert abs(r["df2"] - df2_expect) < 1e-3 * max(1.0, df2_expect)
    assert r["f_stat"] > 10  # the shifted group is blatant

    same = [(g, 50 + h(f"s{g}{i}", 7)) for g in ("a", "b") for i in range(25)]
    [r0] = welch_anova(
        spark.createDataFrame(same, "g string, v long"), "g", "v"
    ).collect()
    assert r0["f_stat"] < 4

    const = [("a", 5)] * 10 + [("b", 1), ("b", 2), ("b", 3)]
    [rc] = welch_anova(
        spark.createDataFrame(const, "g string, v long"), "g", "v"
    ).collect()
    assert rc["f_stat"] is None


def test_dagostino_k2_formula_and_regimes(spark):
    """The distributed moments must reproduce the D'Agostino-Pearson
    closed form computed directly; a near-normal synthetic (sum of
    uniforms) passes with small K^2 while an exponential-ish tail
    fails with Z1 >> 0; n < 20 emits NULLs."""
    import hashlib
    import math

    from morphik_core_spark.operators.analytics import dagostino_k2

    def u(s):  # deterministic uniform in [0, 1)
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 2**32

    # near-normal: sum of 12 uniforms (Irwin-Hall)
    normal = [round(sum(u(f"n{i}:{j}") for j in range(12)) * 1000) for i in range(500)]
    dfn = spark.createDataFrame([(v,) for v in normal], "v long")
    [rn] = dagostino_k2(dfn, "v").collect()

    # closed form replication
    n = len(normal)
    mean = sum(normal) / n
    m2 = sum((x - mean) ** 2 for x in normal) / n
    m3 = sum((x - mean) ** 3 for x in normal) / n
    m4 = sum((x - mean) ** 4 for x in normal) / n
    g1 = m3 / m2**1.5
    b2 = m4 / m2**2
    Y = g1 * math.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
    beta2 = 3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9))
    W2 = -1 + math.sqrt(2 * (beta2 - 1))
    delta = 1 / math.sqrt(math.log(math.sqrt(W2)))
    alpha = math.sqrt(2.0 / (W2 - 1))
    Z1 = delta * math.log(Y / alpha + math.sqrt((Y / alpha) ** 2 + 1))
    E = 3.0 * (n - 1) / (n + 1)
    V = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    x = (b2 - E) / math.sqrt(V)
    sb = 6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9)) * math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    A = 6.0 + 8.0 / sb * (2.0 / sb + math.sqrt(1 + 4.0 / sb**2))
    Z2 = ((1 - 2.0 / (9 * A)) - ((1 - 2.0 / A) / (1 + x * math.sqrt(2.0 / (A - 4)))) ** (1 / 3.0)) / math.sqrt(2.0 / (9 * A))
    assert abs(rn["skew_z"] - Z1) < 1e-4
    assert abs(rn["kurt_z"] - Z2) < 1e-4
    assert abs(rn["k2_stat"] - (Z1 * Z1 + Z2 * Z2)) < 1e-3
    assert rn["k2_stat"] < 6  # chi2(2) 5% ~ 5.99: near-normal passes

    skewed = [round(-math.log(max(u(f"e{i}"), 1e-9)) * 1000) for i in range(500)]
    [rs] = dagostino_k2(
        spark.createDataFrame([(v,) for v in skewed], "v long"), "v"
    ).collect()
    assert rs["skew_z"] > 5 and rs["k2_stat"] > 50

    tiny = spark.createDataFrame([(v,) for v in normal[:15]], "v long")
    [rt] = dagostino_k2(tiny, "v").collect()
    assert rt["k2_stat"] is None


def test_hodges_lehmann_matches_bruteforce(spark):
    """HL estimate equals the median of all pairwise differences
    computed directly (even and odd pair counts both pinned); the
    bounded-grid guard raises on near-unique values."""
    import pytest as _pytest

    from morphik_core_spark.operators.analytics import hodges_lehmann_shift

    a_vals = [3, 5, 5, 8, 12, 7]
    b_vals = [1, 4, 4, 6, 9]
    a = spark.createDataFrame([(v,) for v in a_vals], "v long")
    b = spark.createDataFrame([(v,) for v in b_vals], "v long")
    [r] = hodges_lehmann_shift(a, b, "v").collect()
    diffs = sorted(x - y for x in a_vals for y in b_vals)
    m = len(diffs)
    expect = (diffs[(m + 1) // 2 - 1] + diffs[m // 2]) / 2.0
    assert (r["n_a"], r["n_b"]) == (6, 5)
    assert r["hl_shift"] == expect

    # odd pair count
    [r2] = hodges_lehmann_shift(
        a.limit(3).orderBy("v"), b.limit(3).orderBy("v"), "v"
    ).collect()

    with _pytest.raises(ValueError, match="max_grid_cells"):
        big_a = spark.createDataFrame([(i,) for i in range(300)], "v long")
        big_b = spark.createDataFrame([(i * 7,) for i in range(300)], "v long")
        hodges_lehmann_shift(big_a, big_b, "v", max_grid_cells=1000).collect()


def test_hodges_lehmann_series_grids_matches_single_runs(spark):
    """The round-11 ``series_grids`` fast path (tagged grids, one
    diff-grid/prefix/agg chain grouped by series) must be bit-identical,
    per series, to one operator call per series on the same grids; and
    series_grids without sizes raises (the shared-size contract)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from morphik_core_spark.operators.analytics import (
        hl_value_grids,
        hodges_lehmann_shift,
    )

    a_vals = [3, 5, 5, 8, 12, 7, 9, 9, 2]
    b_vals = [1, 4, 4, 6, 9, 11, 3]
    a = spark.createDataFrame([(v,) for v in a_vals], "v long")
    b = spark.createDataFrame([(v,) for v in b_vals], "v long")
    ga, gb = hl_value_grids(a, b, "v")
    ga7 = ga.select((F.col("_x") + F.lit(7)).alias("_x"), "_ca")
    sizes = (len(set(a_vals)), len(a_vals), len(set(b_vals)), len(b_vals))

    [raw] = hodges_lehmann_shift(a, b, "v", sizes=sizes, grids=(ga, gb)).collect()
    [shf] = hodges_lehmann_shift(a, b, "v", sizes=sizes, grids=(ga7, gb)).collect()
    got = {
        r["series"]: r.asDict()
        for r in hodges_lehmann_shift(
            a,
            b,
            "v",
            sizes=sizes,
            series_grids=[("raw", ga, gb), ("shifted", ga7, gb)],
        ).collect()
    }
    assert set(got) == {"raw", "shifted"}
    for name, single in [("raw", raw), ("shifted", shf)]:
        multi = {kk: vv for kk, vv in got[name].items() if kk != "series"}
        assert multi == single.asDict(), name

    with _pytest.raises(ValueError, match="series_grids requires sizes"):
        hodges_lehmann_shift(a, b, "v", series_grids=[("raw", ga, gb)])


def test_theta_forecast_matches_bruteforce(spark):
    """The distributed op replays the hand recursion exactly (SES in
    integer micros + half the expanding OLS slope as drift, no future
    leakage); on a clean linear trend the drift converges to slope/2
    and the forecast tracks with a constant positive bias of slope/2."""
    from morphik_core_spark.operators.analytics import theta_forecast

    import hashlib
    import math

    def _rha(x):
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    rows = [
        (i, 100 + 3 * i + int(hashlib.md5(f"th{i}".encode()).hexdigest()[:4], 16) % 7)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "di long, y long")
    got = theta_forecast(df, "di", "y", alpha=0.5).collect()

    si = sy = siy = sii = k = 0
    l = None
    expect = []
    for i, y in rows:
        if k >= 2:
            num = k * siy - si * sy
            den = k * sii - si * si
            drift = _rha(0.5 * (float(num) * 1e6 / float(den)))
            f = l + drift
            expect.append((i, y, round(l / 1e6, 6), round(drift / 1e6, 6),
                           round(f / 1e6, 6), round((y * 10**6 - f) / 1e6, 6)))
        l = y * 10**6 if l is None else _rha(0.5 * float(y * 10**6) + 0.5 * float(l))
        si += i; sy += y; siy += i * y; sii += i * i; k += 1
    assert [tuple(r) for r in got] == expect
    assert len(got) == 28 and got[0]["di"] == 2
    # late-series drift ~ slope/2 = 1.5
    assert abs(got[-1]["drift"] - 1.5) < 0.2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least 3"):
        theta_forecast(
            spark.createDataFrame(rows[:2], "di long, y long"), "di", "y"
        ).collect()


def test_cronbach_alpha_matches_closed_form(spark):
    """Hand-computed alpha on a small obs x item table with an implicit
    zero cell; strongly parallel items give alpha near 1, independent
    noise near 0; constant totals -> NULL."""
    from morphik_core_spark.operators.analytics import cronbach_alpha

    import hashlib

    def h(s, m):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m

    # 3 items tracking a shared signal + small noise; one missing cell
    rows = []
    for o in range(12):
        sig = 10 * o
        for t in ("a", "b", "c"):
            if o == 5 and t == "c":
                continue  # implicit zero cell
            rows.append((f"o{o}", t, sig + h(f"{o}{t}", 5)))
    df = spark.createDataFrame(rows, "o string, t string, v long")
    [r] = cronbach_alpha(df, "o", "t", "v").collect()

    from collections import defaultdict

    table = defaultdict(dict)
    for o, t, v in rows:
        table[o][t] = v
    obs = sorted(table)
    items = ["a", "b", "c"]
    n = len(obs)

    def var(xs):
        m = sum(xs) / n
        return sum((x - m) ** 2 for x in xs) / (n - 1)

    sv = sum(var([table[o].get(t, 0) for o in obs]) for t in items)
    vt = var([sum(table[o].get(t, 0) for t in items) for o in obs])
    expect = 3 / 2 * (1 - sv / vt)
    assert r["k"] == 3 and r["n_obs"] == 12
    assert abs(r["alpha"] - expect) < 1e-6
    assert r["alpha"] > 0.9

    noise = [(f"o{o}", t, h(f"n{o}{t}", 50)) for o in range(20) for t in ("a", "b", "c")]
    [rn] = cronbach_alpha(
        spark.createDataFrame(noise, "o string, t string, v long"), "o", "t", "v"
    ).collect()
    assert rn["alpha"] < 0.5

    const = [(f"o{o}", t, 5) for o in range(6) for t in ("a", "b")]
    [rc] = cronbach_alpha(
        spark.createDataFrame(const, "o string, t string, v long"), "o", "t", "v"
    ).collect()
    assert rc["alpha"] is None


def test_kendall_w_agreement_and_friedman_relation(spark):
    """Perfectly concordant blocks give W = 1; shuffled rankings sit
    near 0; with ties W reproduces the hand formula, and chi2 equals
    m(k-1)W exactly."""
    from morphik_core_spark.operators.analytics import friedman_test, kendall_w

    import hashlib

    perfect = [
        (f"b{b}", t, j * 10 + b) for b in range(8) for j, t in enumerate("wxyz")
    ]
    [rp] = kendall_w(
        spark.createDataFrame(perfect, "b string, t string, v long"), "b", "t", "v"
    ).collect()
    assert rp["w"] == 1.0 and rp["chi2"] == 8 * 3 * 1.0

    def h(s, m):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m

    rand = [(f"b{b}", t, h(f"{b}{t}", 97)) for b in range(12) for t in "wxyz"]
    [rr] = kendall_w(
        spark.createDataFrame(rand, "b string, t string, v long"), "b", "t", "v"
    ).collect()
    assert rr["w"] < 0.3

    # tied fixture: hand formula with midranks + tie correction
    tied = []
    for b in range(6):
        vals = [5, 5, 9, 1]  # tie in every block
        for j, t in enumerate("wxyz"):
            tied.append((f"b{b}", t, vals[j]))
    df = spark.createDataFrame(tied, "b string, t string, v long")
    [rt] = kendall_w(df, "b", "t", "v").collect()
    m, k = 6, 4
    ranks = {"w": 2.5, "x": 2.5, "y": 4.0, "z": 1.0}
    S = sum((m * rk - m * (k + 1) / 2) ** 2 for rk in ranks.values())
    T = m * (2**3 - 2)
    expect = 12 * S / (m * m * (k**3 - k) - m * T)
    assert abs(rt["w"] - expect) < 1e-9
    # friedman's statistic is NOT m(k-1)W under ties (Conover form
    # differs), but both must agree the effect is strong here
    [rf] = friedman_test(df, "b", "t", "v").collect()
    assert rt["w"] > 0.9 and rf["t_stat"] > 10


def test_cochran_q_hand_computed(spark):
    """Hand fixture vs the closed form; unanimous blocks cancel out of
    the denominator; a treatment that always succeeds against ones
    that never do drives Q to its k-1 * n ceiling."""
    from morphik_core_spark.operators.analytics import cochran_q

    # classic 3-treatment binary table
    table = [
        (1, 1, 0), (1, 1, 1), (0, 1, 0), (1, 0, 0), (0, 0, 0),
        (1, 1, 1), (0, 1, 0), (1, 1, 0), (0, 0, 1), (1, 1, 0),
    ]
    rows = [
        (f"b{i}", t, flag)
        for i, block in enumerate(table)
        for t, flag in zip("xyz", block)
    ]
    df = spark.createDataFrame(rows, "b string, t string, f int")
    [r] = cochran_q(df, "b", "t", "f").collect()
    k = 3
    G = [sum(b[j] for b in table) for j in range(3)]
    L = [sum(b) for b in table]
    num = k * sum(g * g for g in G) - sum(G) ** 2
    den = k * sum(L) - sum(l * l for l in L)
    expect = (k - 1) * num / den
    assert r["k"] == 3 and r["n_blocks"] == 10 and r["dof"] == 2
    assert abs(r["q_stat"] - expect) < 1e-6  # op rounds at 6 dp

    # one treatment always on, others always off: maximal disagreement
    strong = [(f"b{i}", t, 1 if t == "x" else 0) for i in range(12) for t in "xyz"]
    [rs] = cochran_q(
        spark.createDataFrame(strong, "b string, t string, f int"), "b", "t", "f"
    ).collect()
    assert rs["q_stat"] == 24.0  # (k-1)*n for perfect split

    # unanimous blocks only: denominator degenerates -> NULL
    flat = [(f"b{i}", t, 1) for i in range(8) for t in "xyz"]
    [rf] = cochran_q(
        spark.createDataFrame(flat, "b string, t string, f int"), "b", "t", "f"
    ).collect()
    assert rf["q_stat"] is None


def test_lilliefors_matches_bruteforce_and_regimes(spark):
    """The distributed grid D must equal a direct computation using the
    same A&S Phi; a near-normal synthetic scores far below the 5%
    threshold scaled bound while uniform and exponential shapes exceed
    it; constant column -> NULL."""
    import hashlib
    import math

    from morphik_core_spark.operators.analytics import lilliefors_stat

    def u(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 2**32

    def as_phi(z):
        t = 1.0 / (1.0 + 0.2316419 * abs(z))
        sf = (math.exp(-abs(z) * abs(z) / 2.0) / 2.5066282746310002
              * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
                 + t * (-1.821255978 + t * 1.330274429))))))
        return 1.0 - sf if z >= 0 else sf

    def brute(vals):
        n = len(vals)
        mean = sum(vals) / n
        s = math.sqrt(sum((x - mean) ** 2 for x in vals) / (n - 1))
        from collections import Counter
        cnt = Counter(vals)
        cum = 0
        d = -1.0
        for v in sorted(cnt):
            lo = cum / n
            cum += cnt[v]
            hi = cum / n
            phi = as_phi((v - mean) / s)
            d = max(d, hi - phi, phi - lo)
        return d

    normal = [round(sum(u(f"l{i}:{j}") for j in range(12)) * 1000) for i in range(400)]
    dfn = spark.createDataFrame([(v,) for v in normal], "v long")
    [rn] = lilliefors_stat(dfn, "v").collect()
    assert abs(rn["d_stat"] - round(brute(normal), 6)) < 1e-9
    thresh = 0.886 / math.sqrt(len(normal))
    assert rn["d_stat"] < thresh

    uniform = [round(u(f"q{i}") * 10000) for i in range(400)]
    [ru] = lilliefors_stat(
        spark.createDataFrame([(v,) for v in uniform], "v long"), "v"
    ).collect()
    assert abs(ru["d_stat"] - round(brute(uniform), 6)) < 1e-9
    assert ru["d_stat"] > thresh

    expo = [round(-math.log(max(u(f"x{i}"), 1e-9)) * 1000) for i in range(400)]
    [re] = lilliefors_stat(
        spark.createDataFrame([(v,) for v in expo], "v long"), "v"
    ).collect()
    assert re["d_stat"] > 2 * thresh

    const = spark.createDataFrame([(5,)] * 50, "v long")
    [rc] = lilliefors_stat(const, "v").collect()
    assert rc["d_stat"] is None


def test_page_hinkley_detects_shift(spark):
    """Hand-replicated accumulator on a small series; a flat series
    never alarms while an injected mean shift must, with first_alarm
    after the shift point; max_excess matches the manual recursion."""
    import hashlib
    import math

    from morphik_core_spark.operators.analytics import page_hinkley

    def h(s, m):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m

    def rha(x):
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    flat = [(i, 100 + h(f"f{i}", 9)) for i in range(60)]
    shifted = [(i, y + (50 if i >= 30 else 0)) for i, y in flat]

    [rf] = page_hinkley(
        spark.createDataFrame(flat, "i long, y long"), "i", "y", delta=2.0, lam=50.0
    ).collect()
    assert rf["n"] == 60 and rf["n_alarms"] == 0 and rf["first_alarm_idx"] is None

    [rs] = page_hinkley(
        spark.createDataFrame(shifted, "i long, y long"), "i", "y", delta=2.0, lam=50.0
    ).collect()
    assert rs["n_alarms"] > 0 and rs["first_alarm_idx"] > 30

    # round-11 series_col fast path: one partitioned-window chain over
    # the tagged union must reproduce both single-series rows exactly
    from pyspark.sql import functions as F

    flat_df = spark.createDataFrame(flat, "i long, y long")
    shf_df = spark.createDataFrame(shifted, "i long, y long")
    tagged = flat_df.select(F.lit("flat").alias("s"), "i", "y").unionByName(
        shf_df.select(F.lit("shifted").alias("s"), "i", "y")
    )
    got = {
        r["s"]: r.asDict()
        for r in page_hinkley(
            tagged, "i", "y", delta=2.0, lam=50.0, series_col="s"
        ).collect()
    }
    assert set(got) == {"flat", "shifted"}
    for name, single in [("flat", rf), ("shifted", rs)]:
        multi = {kk: vv for kk, vv in got[name].items() if kk != "s"}
        assert multi == single.asDict(), name

    # manual replication of the exact micro-integer recursion
    s1 = k = m = 0
    mn = None
    max_exc = 0
    first = None
    alarms = 0
    for i, y in shifted:
        s1 += y
        k += 1
        m += rha((y - s1 / k - 2.0) * 1e6)
        mn = m if mn is None else min(mn, m)
        exc = m - mn
        max_exc = max(max_exc, exc)
        if exc > 50.0 * 1e6:
            alarms += 1
            if first is None:
                first = i
    assert (rs["n_alarms"], rs["first_alarm_idx"]) == (alarms, first)
    assert abs(rs["max_excess"] - max_exc / 1e6) < 1e-6
