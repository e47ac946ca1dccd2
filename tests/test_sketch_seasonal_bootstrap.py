"""Tests for the theta-sketch overlap (operators/sketch.py — q185),
seasonal decomposition (timeseries.seasonal_decompose — q186) and the
Poissonized bootstrap CI (stats.bootstrap_mean_ci — q187)."""

from __future__ import annotations

from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import sketch, stats, timeseries


# ------------------------------------------------------ theta sketch

def test_theta_overlap_identical_sets(spark):
    rows = [(s, f"tok{i}") for s in ("a", "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "s string, v string")
    out = sketch.theta_overlap(df, "s", "v", "a", "b", theta_bits=3).collect()[
        0
    ]
    # identical vocabularies: jaccard exactly 1, all kept counts equal
    assert out["jaccard_est"] == 1.0
    assert out["kept_a"] == out["kept_b"] == out["kept_union"]
    # 1/8 sampling of 2000 distinct: estimate within ~4 sigma
    assert 1200 < out["est_a"] < 2800


def test_theta_overlap_disjoint_sets(spark):
    rows = [("a", f"x{i}") for i in range(1000)] + [
        ("b", f"y{i}") for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "s string, v string")
    out = sketch.theta_overlap(df, "s", "v", "a", "b", theta_bits=3).collect()[
        0
    ]
    assert out["kept_inter"] == 0 and out["jaccard_est"] == 0.0


def test_theta_overlap_estimates_track_truth(spark):
    # |A| = 3000, |B| = 2000, |A∩B| = 1000
    rows = [("a", f"t{i}") for i in range(3000)] + [
        ("b", f"t{i}") for i in range(2000, 4000)
    ]
    df = spark.createDataFrame(rows, "s string, v string")
    out = sketch.theta_overlap(df, "s", "v", "a", "b", theta_bits=2).collect()[
        0
    ]
    assert abs(out["est_union"] - 4000) / 4000 < 0.25
    assert abs(out["est_inter"] - 1000) / 1000 < 0.5
    assert 0.1 < out["jaccard_est"] < 0.45  # truth 0.25


# --------------------------------------------------------- seasonal

def test_seasonal_decompose_pure_weekly_pattern(spark):
    import datetime as dt

    # x = 10 + phase (period 3): seasonal means recover phase - 1
    # exactly (the pattern sums to 3*10+3 per window; dev = 3x - sw)
    base = dt.date(2024, 1, 1)  # epoch-day 19723 -> phase 19723 % 3 = 1
    rows = [
        ("g", base + dt.timedelta(days=i), 10 + (19723 + i) % 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g string, d date, x int")
    out = {
        r["phase"]: r["seasonal"]
        for r in timeseries.seasonal_decompose(
            df, "g", "d", "x", period=3
        ).collect()
    }
    # mean of pattern is 11; seasonal(phase p) = (10 + p) - 11 = p - 1
    for p in (0, 1, 2):
        assert abs(out[p] - (p - 1)) < 1e-9


def test_seasonal_decompose_drops_partial_windows(spark):
    import datetime as dt

    rows = [
        ("g", dt.date(2024, 1, 1) + dt.timedelta(days=i), 5)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, d date, x int")
    out = timeseries.seasonal_decompose(df, "g", "d", "x", period=7).collect()
    # 10 days, 7-row windows -> only 4 full-window rows survive
    assert sum(r["n_obs"] for r in out) == 4
    assert all(r["seasonal"] == 0.0 for r in out)  # constant series


def test_seasonal_decompose_even_period_pure_pattern(spark):
    import datetime as dt

    # x = 10 + phase (period 4): the 2x4 centered MA of a pure periodic
    # pattern is the pattern mean (11.5), so seasonal(p) = p - 1.5
    base = dt.date(2024, 1, 1)  # epoch-day 19723 -> phase 19723 % 4 = 3
    rows = [
        ("g", base + dt.timedelta(days=i), 10 + (19723 + i) % 4)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, d date, x int")
    out = {
        r["phase"]: r["seasonal"]
        for r in timeseries.seasonal_decompose(
            df, "g", "d", "x", period=4
        ).collect()
    }
    for p in (0, 1, 2, 3):
        assert abs(out[p] - (p - 1.5)) < 1e-9


def test_seasonal_decompose_even_period_full_window_count(spark):
    import datetime as dt

    rows = [
        ("g", dt.date(2024, 1, 1) + dt.timedelta(days=i), 5)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, d date, x int")
    out = timeseries.seasonal_decompose(df, "g", "d", "x", period=4).collect()
    # even period 4 needs period+1 = 5-row outer windows: 10 days -> 6
    assert sum(r["n_obs"] for r in out) == 6
    assert all(r["seasonal"] == 0.0 for r in out)  # constant series


def test_seasonal_decompose_rejects_period_below_two(spark):
    import datetime as dt

    import pytest as _pytest

    df = spark.createDataFrame(
        [("g", dt.date(2024, 1, 1), 1)], "g string, d date, x int"
    )
    with _pytest.raises(ValueError):
        timeseries.seasonal_decompose(df, "g", "d", "x", period=1)


# --------------------------------------------------------- bootstrap

def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    a = stats.bootstrap_mean_ci(df, "v", "k", b_reps=40, alpha=0.1).collect()[
        0
    ]
    b = stats.bootstrap_mean_ci(df, "v", "k", b_reps=40, alpha=0.1).collect()[
        0
    ]
    assert a == b  # hash-derived resamples: bit-stable across runs
    assert a["mean_point"] == 49.5
    assert a["ci_lo"] < 49.5 < a["ci_hi"]
    # CLT width sanity: sd ~ 28.9/sqrt(2000) ~ 0.65 -> CI inside +-3
    assert a["ci_hi"] - a["ci_lo"] < 3.0
    assert a["b_reps"] == 40


def test_poisson_cutoffs_are_a_cdf(spark):
    cuts = stats.POISSON_CUTOFFS
    assert list(cuts) == sorted(cuts)
    # P(w <= 6) must be ~0.9999 of the hash domain
    assert cuts[-1] / 2**60 > 0.9999


# ------------------------------------------------- quantile sketch (q216)


def _kq_df(spark, n=4000, seed_mult=37):
    # deterministic skewed-ish values with unique keys
    rows = [(i, float((i * seed_mult) % 1000) / 10.0) for i in range(n)]
    return spark.createDataFrame(rows, "k long, v double")


def test_quantile_sketch_audit_rows_and_error(spark):
    df = _kq_df(spark)
    out = sketch.quantile_sketch(
        df, F.col("v"), F.col("k"), {"p25": 0.25, "p50": 0.5, "p90": 0.9},
        level_bits=4,
    ).collect()
    assert [r["qname"] for r in out] == ["p25", "p50", "p90"]
    assert all(r["n_total"] == 4000 for r in out)
    # ~1/16 sampling: kept count in a generous Bernoulli band
    assert 100 < out[0]["n_kept"] < 500
    # uniform-ish values on [0,100): est within a few rank-error units
    for r in out:
        assert r["abs_error"] == abs(r["est_value"] - r["exact_value"])
        assert r["abs_error"] < 15.0


def test_quantile_sketch_merge_is_union(spark):
    # sketch(A ∪ B) kept set == union of kept sets: estimates from the
    # pre-split sketches' union equal the whole-corpus sketch estimate
    df = _kq_df(spark, n=3000)
    a = df.filter(F.col("k") < 1500)
    b = df.filter(F.col("k") >= 1500)
    whole = sketch.quantile_sketch(
        df, F.col("v"), F.col("k"), {"p50": 0.5}, level_bits=3
    ).collect()
    merged = sketch.quantile_sketch(
        a.unionAll(b), F.col("v"), F.col("k"), {"p50": 0.5}, level_bits=3
    ).collect()
    assert [tuple(r) for r in whole] == [tuple(r) for r in merged]


def test_quantile_sketch_deterministic_across_partitionings(spark):
    df = _kq_df(spark, n=2500)
    a = sketch.quantile_sketch(
        df, F.col("v"), F.col("k"), {"p50": 0.5, "p99": 0.99}, level_bits=4
    ).collect()
    b = sketch.quantile_sketch(
        df.repartition(13), F.col("v"), F.col("k"),
        {"p50": 0.5, "p99": 0.99}, level_bits=4,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
