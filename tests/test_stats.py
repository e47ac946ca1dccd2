"""Edge cases for operators/stats.grouped_exact_percentiles.

The operator must agree bit-exactly with Spark's built-in exact
``percentile`` aggregate (which itself bit-matches DuckDB
``quantile_cont`` — see tests/test_oracle_parity.py for the full-table
check via q33).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import stats

PS = {"p25": 0.25, "p50": 0.5, "p90": 0.9}


def _builtin(df, group_col, value_col):
    return df.groupBy(group_col).agg(
        *[
            F.expr(f"percentile({value_col}, {p})").alias(name)
            for name, p in PS.items()
        ]
    )


def _assert_matches_builtin(df, group_col="g", value_col="v"):
    got = {
        r[group_col]: tuple(r[n] for n in PS)
        for r in stats.grouped_exact_percentiles(
            df, group_col, value_col, PS
        ).collect()
    }
    exp = {
        r[group_col]: tuple(r[n] for n in PS)
        for r in _builtin(df, group_col, value_col).collect()
    }
    assert got == exp  # bit-exact, no tolerance


def test_matches_builtin_percentile(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("g"),
        (F.hash("id").cast("double") / 1000.0).alias("v"),
    )
    _assert_matches_builtin(df)


def test_single_row_group_and_integral_positions(spark):
    # 1-row group: every percentile is that value.  5-row group: p25/p50
    # land on integral positions (frac == 0 branch).
    rows = [("a", 42.0)] + [("b", float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, v double")
    _assert_matches_builtin(df)
    out = {
        r["g"]: r
        for r in stats.grouped_exact_percentiles(df, "g", "v", PS).collect()
    }
    assert out["a"]["p25"] == out["a"]["p90"] == 42.0
    assert out["b"]["p50"] == 2.0


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 3.0)], "g string, v double"
    )
    _assert_matches_builtin(df)


def test_duplicate_values_collapse_in_histogram(spark):
    # Heavy duplication exercises the cnt>1 rank-cover arithmetic.
    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 1, 1, 1, 2, 2, 9]],
        "g string, v double",
    )
    _assert_matches_builtin(df)


def test_profile_numeric_counts_nulls_and_distincts(spark):
    from occupation_wage_etl_spark.operators import profile

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 10.0), (4, 30.0), (5, None)],
        "id long, x double",
    )
    rows = {
        r["column_name"]: r
        for r in profile.profile_numeric(df, ["id", "x"]).collect()
    }
    assert rows["id"]["n_nonnull"] == 5
    assert rows["id"]["n_null"] == 0
    assert rows["id"]["n_distinct"] == 5
    assert (rows["id"]["min_value"], rows["id"]["max_value"]) == (1.0, 5.0)
    assert rows["x"]["n_nonnull"] == 3
    assert rows["x"]["n_null"] == 2
    assert rows["x"]["n_distinct"] == 2
    assert (rows["x"]["min_value"], rows["x"]["max_value"]) == (10.0, 30.0)


def test_profile_numeric_approx_mode_single_aggregate(spark):
    from occupation_wage_etl_spark.operators import profile

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 10).cast("double").alias("bucket")
    )
    out = profile.profile_numeric(df, ["id", "bucket"], exact=False)
    # approx plan must not use Expand (the exact-distinct replication)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    rows = {r["column_name"]: r for r in out.collect()}
    assert rows["bucket"]["n_distinct"] == 10  # HLL exact at tiny cardinality
    # default rsd=0.05 → observed error can reach a few σ; bound loosely
    assert abs(rows["id"]["n_distinct"] - 1000) <= 200


def test_equi_depth_histogram_ties_and_depth(spark):
    from occupation_wage_etl_spark.operators.stats import equi_depth_histogram

    # 8 rows, 4 buckets, distinct values -> exactly 2 rows per bucket
    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 9)], "grp string, v double"
    )
    rows = {r["bucket"]: r for r in
            equi_depth_histogram(df, "grp", "v", buckets=4).collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    assert all(rows[b]["n_rows"] == 2 for b in rows)
    assert rows[0]["lo"] == 1.0 and rows[3]["hi"] == 8.0
    # heavy ties: one dominant value collapses buckets (some absent),
    # but total row count is preserved
    df2 = spark.createDataFrame(
        [("g", 5.0)] * 7 + [("g", 9.0)], "grp string, v double"
    )
    out = equi_depth_histogram(df2, "grp", "v", buckets=4).collect()
    assert sum(r["n_rows"] for r in out) == 8
    assert len(out) < 4


def test_resample_ffill_semantics(spark):
    from datetime import datetime
    from occupation_wage_etl_spark.operators.timeseries import resample_ffill

    d = lambda day: datetime(2026, 1, day)
    obs = spark.createDataFrame(
        [("a", d(1), 10.0), ("a", d(4), 40.0), ("b", d(2), 5.0)],
        "k string, slot timestamp, v double",
    )
    rows = sorted(
        (r["k"], r["slot"].day, r["v"], r["is_filled"])
        for r in resample_ffill(obs, "k", "slot", "v").collect()
    )
    assert rows == [
        ("a", 1, 10.0, False),
        ("a", 2, 10.0, True),   # gap filled from day 1
        ("a", 3, 10.0, True),
        ("a", 4, 40.0, False),
        ("b", 2, 5.0, False),   # singleton span: no gaps
    ]


def test_weighted_median_rejects_nonpositive_weights(spark):
    from occupation_wage_etl_spark.operators.stats import grouped_weighted_median

    df = spark.createDataFrame(
        [
            ("g", 1.0, 1.0),
            ("g", 2.0, 1.0),
            ("g", 3.0, 1.0),
            # negative weight would make cumulative weight non-monotonic
            # and shift the rank test; it must be DROPPED, not summed
            ("g", 100.0, -5.0),
            ("g", 200.0, 0.0),   # zero-weight rows carry no mass either
        ],
        "grp string, v double, w double",
    )
    out = grouped_weighted_median(df, "grp", "v", "w").collect()
    assert len(out) == 1
    assert out[0]["wmedian"] == 2.0
    assert out[0]["total_weight"] == 3.0


# --------------------------------------------------- few_groups two-level

def test_few_groups_two_level_matches_window_path(spark):
    # the #groups << cores escape hatch must be bit-identical to the
    # default per-group-window path across every operator that takes it
    df = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.hash("id").cast("double") / 7.0).alias("v"),
        (F.col("id") % 9 + 1).cast("double").alias("w"),
    )
    a = stats.grouped_exact_percentiles(df, "g", "v", PS, few_groups=True)
    b = stats.grouped_exact_percentiles(df, "g", "v", PS, few_groups=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    dfd = df.select("g", F.col("v").cast("decimal(18,6)").alias("v"), "w")
    a = stats.grouped_weighted_median(dfd, "g", "v", "w", few_groups=True)
    b = stats.grouped_weighted_median(dfd, "g", "v", "w", few_groups=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    a = stats.equi_depth_histogram(df, "g", "v", buckets=8, few_groups=True)
    b = stats.equi_depth_histogram(df, "g", "v", buckets=8, few_groups=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    a = stats.grouped_mad(df, "g", "v", few_groups=True)
    b = stats.grouped_mad(df, "g", "v", few_groups=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_few_groups_plan_has_no_per_group_global_sort(spark):
    # with few_groups=True every sort in the plan is per-range-partition:
    # no Window partitioned ONLY by the group column over the data-sized
    # histogram (that shape runs #groups tasks regardless of cluster size)
    df = spark.range(0, 1000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.hash("id").cast("double") / 7.0).alias("v"),
    )
    out = stats.grouped_exact_percentiles(df, "g", "v", PS, few_groups=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.split("\n"):
        # the histogram-sized cum window would be partitioned by g and
        # ORDERED BY the value column; the surviving g-partitioned
        # window ordered by __pid is the cell-table offsets (tiny)
        if (
            "Window" in line
            and "windowspecdefinition(g#" in line
            and "v#" in line
        ):
            raise AssertionError(f"group-only window survived: {line[:140]}")


# -------------------------------------------------------- percent rank

def test_grouped_percent_rank_matches_window(spark):
    from pyspark.sql import Window

    rows = [(i, g, float(v)) for i, (g, v) in enumerate(
        [("a", 1), ("a", 2), ("a", 2), ("a", 3), ("a", 10),
         ("b", 5), ("b", 5), ("b", 5), ("c", 7)]
    )]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = sorted(
        (r["id"], r["g"], r["v"], r["pct"])
        for r in stats.grouped_percent_rank(df, "g", "v", "id").collect()
    )
    w = Window.partitionBy("g").orderBy("v")
    want = sorted(
        (r["id"], r["g"], r["v"], r["pr"])
        for r in df.withColumn("pr", F.percent_rank().over(w)).collect()
    )
    assert got == want
    # ties take the min rank: the three b-rows all rank 0
    assert all(p == 0.0 for _, g, v, p in got if g == "b")
    # single-row group -> 0.0 by ANSI convention
    assert [p for _, g, _, p in got if g == "c"] == [0.0]


def test_grouped_percent_rank_few_groups_identical(spark):
    rows = [(i, "g%d" % (i % 3), float((i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    a = sorted(map(tuple,
                   stats.grouped_percent_rank(df, "g", "v", "id").collect()))
    b = sorted(
        map(
            tuple,
            stats.grouped_percent_rank(
                df, "g", "v", "id", few_groups=True
            ).collect(),
        )
    )
    assert a == b


# ------------------------------------------------------- few_groups AUTO


def test_few_groups_auto_matches_both_explicit_paths(spark):
    PS = {"p25": 0.25, "med": 0.5, "p90": 0.9}
    few = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float((i * 37) % 101)) for i in range(400)],
        "id long, g string, v double",
    )
    many = spark.createDataFrame(
        [(i, "g%d" % (i % 200), float((i * 37) % 101)) for i in range(2000)],
        "id long, g string, v double",
    )
    for df in (few, many):
        auto = sorted(map(tuple, stats.grouped_exact_percentiles(
            df, "g", "v", PS).collect()))
        t = sorted(map(tuple, stats.grouped_exact_percentiles(
            df, "g", "v", PS, few_groups=True).collect()))
        f = sorted(map(tuple, stats.grouped_exact_percentiles(
            df, "g", "v", PS, few_groups=False).collect()))
        assert auto == t == f


def test_few_groups_auto_picks_expected_branch(spark):
    # AUTO flips only when BOTH cliffs hold: few groups AND a histogram
    # above the min-rows bound (lowered via conf for the test)
    few = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i % 97)) for i in range(300)],
        "id long, g string, v double",
    )
    many = spark.createDataFrame(
        [(i, "g%d" % (i % 200), float(i % 97)) for i in range(2000)],
        "id long, g string, v double",
    )

    def plan(df):
        return stats.grouped_exact_percentiles(
            df, "g", "v", {"m": 0.5}
        )._jdf.queryExecution().analyzed().toString()

    spark.conf.set("spark.graft.distCumWindowMaxRows", "10")
    try:
        assert "__pid" in plan(few)       # few groups + big-enough hist
        assert "__pid" not in plan(many)  # many groups -> window
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")
    # default 8M bound: the tiny histogram stays on the window path
    assert "__pid" not in plan(few)


# ------------------------------------------------- AUTO few_groups resolver


def test_resolver_rows_estimate_and_memo(spark):
    from occupation_wage_etl_spark.operators._scan import (
        prefix_scan,
        resolve_two_level,
    )

    rows = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(200)], "g int, v double"
    )
    hist = rows.groupBy("g", "v").count()
    # small input: both estimate forms resolve False (hist rows < 8M)
    assert resolve_two_level(hist, ["g"]) is False
    assert resolve_two_level(hist, ["g"], rows=rows, value_col="v") is False
    # a lowered min-rows conf flips the decision
    spark.conf.set("spark.graft.distCumWindowMaxRows", "10")
    try:
        assert resolve_two_level(hist, ["g"]) is True
        assert resolve_two_level(hist, ["g"], rows=rows, value_col="v") is True
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")

    # explicit override costs nothing: the scan builds with no job
    def form(two_level):
        tracker = spark.sparkContext.statusTracker()
        spark.sparkContext.setJobGroup("scan-override", "scan-override")
        try:
            cum, _ = prefix_scan(
                hist, ["v"], {"c": ("sum", F.col("count"))}, by=["g"],
                two_level=two_level,
            )
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            spark.sparkContext.setLocalProperty("spark.job.description", None)
        assert tracker.getJobIdsForGroup("scan-override") == []
        return "__pid" in cum._jdf.queryExecution().analyzed().toString()

    assert form(True) is True
    assert form(False) is False



def test_few_groups_resolver_sees_grown_lake_path(spark, tmp_path):
    # same growth rule for a grouped scan: a histogram read again from a
    # path that grew past distCumWindowMaxRows re-resolves
    from occupation_wage_etl_spark.operators._scan import resolve_two_level

    path = str(tmp_path / "hist")
    spark.range(10).selectExpr("id % 3 AS g", "id AS v").write.parquet(path)
    spark.conf.set("spark.graft.distCumWindowMaxRows", "100")
    try:
        hist = spark.read.parquet(path)
        assert resolve_two_level(hist, ["g"]) is False
        spark.range(10, 1000).selectExpr("id % 3 AS g", "id AS v").write.mode(
            "append"
        ).parquet(path)
        hist = spark.read.parquet(path)
        assert resolve_two_level(hist, ["g"]) is True
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")

def test_auto_weighted_median_matches_both_explicit_paths(spark):
    dfd = spark.createDataFrame(
        [(i % 3, float(i % 17), float(1 + i % 5)) for i in range(300)],
        "g int, v double, w double",
    )
    auto = stats.grouped_weighted_median(dfd, "g", "v", "w").collect()
    exp = stats.grouped_weighted_median(
        dfd, "g", "v", "w", few_groups=False
    ).collect()
    key = lambda r: r["g"]
    assert sorted(auto, key=key) == sorted(exp, key=key)
