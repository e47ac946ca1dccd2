"""Tests for the evaluation/analytics operators: exact ROC-AUC,
calibration bins, JS divergence, PSI, MMR re-ranking
(operators/evaluation.py, profile.py, similarity.py — q145-q149)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import evaluation, profile, similarity
from occupation_wage_etl_spark.operators._scan import (
    prefix_scan,
    resolve_two_level,
)


# --------------------------------------------------------------------- AUC

def test_roc_auc_perfect_and_reverse(spark):
    rows = [(float(i), 1 if i >= 5 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "s double, y int")
    perfect = evaluation.roc_auc(df, "s", "y").collect()[0]
    assert (perfect["n_pos"], perfect["n_neg"], perfect["auc"]) == (5, 5, 1.0)
    rev = evaluation.roc_auc(
        df.select((-F.col("s")).alias("s"), "y"), "s", "y"
    ).collect()[0]
    assert rev["auc"] == 0.0


def test_roc_auc_ties_average_rank(spark):
    # all scores equal -> AUC must be exactly 0.5 (average ranks)
    df = spark.createDataFrame(
        [(1.0, 1), (1.0, 0), (1.0, 1), (1.0, 0)], "s double, y int"
    )
    assert evaluation.roc_auc(df, "s", "y").collect()[0]["auc"] == 0.5


def test_roc_auc_hand_computed(spark):
    # scores: pos at 3,2; neg at 2,1 -> pairs: (3>2)=1, (3>1)=1,
    # (2~2)=0.5, (2>1)=1 -> AUC = 3.5/4
    df = spark.createDataFrame(
        [(3.0, 1), (2.0, 1), (2.0, 0), (1.0, 0)], "s double, y int"
    )
    assert evaluation.roc_auc(df, "s", "y").collect()[0]["auc"] == 3.5 / 4


def test_roc_auc_many_distinct_scores_distributed(spark):
    # ~1M DISTINCT raw scores — the shape that single-partitioned the old
    # distinct-score window.  score = id with labels on a known pattern:
    # positives are exactly the top P scores -> AUC must be exactly 1.0;
    # then a mixed pattern checked against the closed-form rank sum.
    n, p = 1_000_000, 1_000
    df = spark.range(n).select(
        (F.col("id").cast("double") / 7.0).alias("s"),
        F.when(F.col("id") >= n - p, 1).otherwise(0).alias("y"),
    )
    r = evaluation.roc_auc(df, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (p, n - p, 1.0)
    # interleaved: positives at even ids -> each positive beats exactly
    # the negatives at lower odd ids; closed form AUC = 0.5 + 1/(2*(n/2))
    # via R_pos = sum over k of rank(2k)=2k+1 -> compute directly
    m = 100_000
    df2 = spark.range(m).select(
        F.col("id").cast("double").alias("s"),
        (F.col("id") % 2 == 0).cast("int").alias("y"),
    )
    r2 = evaluation.roc_auc(df2, "s", "y").collect()[0]
    half = m // 2
    # positives at ranks 1,3,5,... -> R_pos = half^2; AUC = (half^2 -
    # half*(half+1)/2) / half^2
    expected = (half * half - half * (half + 1) / 2) / (half * half)
    assert abs(r2["auc"] - expected) < 1e-15


def test_evaluation_plans_have_no_data_sized_global_sort(spark):
    # THE 100 TB SHAPE (spark.graft.distCumWindowMaxRows=0 forces the
    # two-level scan, which is what the resolver picks above the
    # one-task-sort cliff): every Exchange SinglePartition in either
    # plan must sit directly above the __pid partition-totals aggregate
    # (<= shuffle-partitions rows, config-bounded) — never above
    # data-sized input.  At test/bench scale the resolver legitimately
    # picks the single-window form instead (see
    # test_dist_cum_before_small_flip_matches_two_level and test_scan.py
    # for the bit-equality proof).
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id").cast("double") / 3.0).alias("s"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )
    spark.conf.set("spark.graft.distCumWindowMaxRows", "0")
    try:
        for frame in (
            evaluation.roc_auc(df, "s", "y"),
            evaluation.calibration_bins(df, "s", "y", "doc_id"),
        ):
            plan = frame._jdf.queryExecution().executedPlan().toString()
            lines = plan.split("\n")
            for i, line in enumerate(lines):
                if "Exchange SinglePartition" not in line:
                    continue
                ctx = "\n".join(lines[i + 1 : i + 4])
                assert "__pid" in ctx, f"data-sized global exchange:\n{ctx}"
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")



def test_small_scan_resolver_sees_grown_lake_path(spark, tmp_path):
    # a long-lived session must re-resolve when the files behind a path
    # grow past the cliff: the analyzed plan of the re-read path hashes
    # the same, so no decision may be remembered across builds
    path = str(tmp_path / "grow")
    spark.range(10).write.parquet(path)
    spark.conf.set("spark.graft.distCumWindowMaxRows", "100")
    try:
        assert not resolve_two_level(spark.read.parquet(path))
        spark.range(10, 1000).write.mode("append").parquet(path)
        assert resolve_two_level(spark.read.parquet(path))
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")

# -------------------------------------------------------------- calibration

def test_calibration_bins_shape_and_rates(spark):
    rows = [(i, i / 20.0, 1 if i >= 10 else 0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, s double, y int")
    out = evaluation.calibration_bins(df, "s", "y", "id", bins=4).collect()
    assert [r["bin"] for r in out] == [0, 1, 2, 3]
    assert all(r["n_rows"] == 5 for r in out)
    # labels are 0 for the low half, 1 for the high half
    assert [r["pos_rate"] for r in out] == [0.0, 0.0, 1.0, 1.0]
    # mean_score of bin 0 = mean of 0/20..4/20 = 0.1
    assert out[0]["mean_score"] == 0.1


def test_calibration_bins_matches_global_window_reference(spark):
    # heavy score ties straddling bin boundaries: the distributed
    # two-level rank must agree bin-for-bin with the naive global
    # row_number formulation it replaced.
    n, bins = 10_007, 7
    df = spark.createDataFrame(
        [(i, float(i % 23) / 23.0, 1 if (i * 7) % 3 == 0 else 0) for i in range(n)],
        "id long, s double, y int",
    )
    out = {
        r["bin"]: (r["n_rows"], r["n_pos"], r["mean_score"])
        for r in evaluation.calibration_bins(df, "s", "y", "id", bins=bins).collect()
    }
    df.createOrReplaceTempView("cal_ref_in")
    ref = {
        r["bin"]: (r["n_rows"], r["n_pos"], r["mean_score"])
        for r in spark.sql(
            f"""
            SELECT bin, count(*) AS n_rows, sum(y) AS n_pos,
                   CAST(sum(CAST(round(s, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS mean_score
            FROM (SELECT s, y,
                         (CAST(row_number() OVER (ORDER BY s, id) - 1 AS BIGINT)
                          * {bins}) div count(*) OVER () AS bin
                  FROM cal_ref_in)
            GROUP BY bin
            """
        ).collect()
    }
    assert out == ref


# ---------------------------------------------------------------------- JSD

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_jsd_identical_slices_zero(spark):
    docs = _docs(
        spark,
        [(1, "en", "alpha beta gamma"), (2, "fr", "alpha beta gamma")],
    )
    r = profile.js_divergence_tokens(
        docs, "text", F.col("lang") == "en"
    ).collect()[0]
    assert r["jsd"] == 0.0
    assert r["vocab_size"] == 3


def test_jsd_disjoint_slices_ln2(spark):
    docs = _docs(spark, [(1, "en", "aa bb"), (2, "fr", "cc dd")])
    r = profile.js_divergence_tokens(
        docs, "text", F.col("lang") == "en"
    ).collect()[0]
    # disjoint supports -> JSD = ln 2 (up to the 12dp term rounds)
    assert abs(r["jsd"] - math.log(2.0)) < 1e-9


# ---------------------------------------------------------------------- PSI

def test_psi_identical_zero_and_single_side_buckets(spark):
    old = spark.createDataFrame([(i % 5,) for i in range(100)], "v long")
    new = spark.createDataFrame([(i % 5,) for i in range(100)], "v long")
    r = profile.psi(old, new, F.col("v")).collect()[0]
    assert r["psi"] == 0.0
    assert r["n_buckets_shared"] == 5
    # a bucket present only in new is excluded from the sum but counted
    new2 = new.union(spark.createDataFrame([(99,)], "v long"))
    r2 = profile.psi(old, new2, F.col("v")).collect()[0]
    assert r2["n_buckets_new_only"] == 1
    assert r2["n_buckets_shared"] == 5


# ---------------------------------------------------------------------- MMR

def test_mmr_prefers_diverse_over_redundant(spark):
    # query = [1,0]; a/b nearly duplicate high-relevance docs, c less
    # relevant but orthogonal-ish: rank1 = a (best qcos), rank2 must be
    # c (b is too similar to a), rank3 = b
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.10]),    # a: qcos ~0.995 (best)
            (2, [1.0, 0.12]),    # b: near-dup of a (sim(a,b) ~0.9999)
            (3, [0.8, -0.6]),    # c: diverse (qcos 0.8, sim to a ~0.73)
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.mmr_rerank(emb, [1.0, 0.0], k=3, pool=3)
    rows = [(r["rank"], r["vec_id"]) for r in out.orderBy("rank").collect()]
    assert rows == [(1, 1), (2, 3), (3, 2)]
    first = out.filter(F.col("rank") == 1).collect()[0]
    assert first["max_sim"] is None
    assert first["mmr_score"] == first["qcos"]


# ------------------------------------------------------------- isotonic

def test_isotonic_monotone_and_pools_violators(spark):
    from occupation_wage_etl_spark.operators import evaluation

    # 4 bins of 5 rows; raw pos rates 0.2, 0.8, 0.4, 1.0 — bins 1 and 2
    # violate monotonicity and must pool to (4+2)/10 = 0.6
    rows = []
    rates = [1, 4, 2, 5]
    rid = 0
    for b, pos in enumerate(rates):
        for i in range(5):
            rows.append((float(b * 10 + i), 1 if i < pos else 0, rid))
            rid += 1
    df = spark.createDataFrame(rows, "score double, label int, doc_id long")
    out = evaluation.isotonic_calibration(
        df, "score", "label", "doc_id", bins=4
    ).collect()
    fitted = [r["fitted"] for r in sorted(out, key=lambda r: r["bin"])]
    assert fitted == [0.2, 0.6, 0.6, 1.0]
    assert all(b >= a for a, b in zip(fitted, fitted[1:]))


def test_isotonic_already_monotone_is_identity(spark):
    from occupation_wage_etl_spark.operators import evaluation

    rows = []
    rid = 0
    for b, pos in enumerate([0, 2, 4]):
        for i in range(4):
            rows.append((float(b * 10 + i), 1 if i < pos else 0, rid))
            rid += 1
    df = spark.createDataFrame(rows, "score double, label int, doc_id long")
    out = evaluation.isotonic_calibration(
        df, "score", "label", "doc_id", bins=3
    ).collect()
    for r in out:
        assert r["fitted"] == r["pos_rate"]


# ------------------------------------------------- distributed prefix max


def _running_max(df):
    return prefix_scan(df, ["k"], {"__maxb": ("max", F.col("v"))})[0]


def test_dist_max_before_matches_global_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(800).select(
        F.col("id").alias("k"),
        (F.abs(F.hash(F.col("id").cast("string"))) % 97 - 48)
        .cast("long")
        .alias("v"),
    ).repartition(9)
    got = sorted((r["k"], r["__maxb"]) for r in _running_max(df).collect())
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = sorted(
        (r["k"], r["m"])
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    )
    assert got == want
    assert got[0][1] is None  # first row has no predecessor


def test_dist_cum_before_small_flip_matches_two_level(spark):
    """The resolved-small global-window form and the forced two-level
    scan must produce bit-identical cumulatives, extra-weight
    cumulatives, and grand totals (the flip selects between two
    equivalent plans — r12 optimization)."""
    df = spark.range(700).select(
        F.col("id").alias("k"),
        (F.abs(F.hash(F.col("id").cast("string"))) % 13).alias("w"),
        (F.abs(F.hash((F.col("id") + 7).cast("string"))) % 5).alias("w2"),
    ).repartition(7)

    def run():
        ranked, total = prefix_scan(
            df,
            ["k"],
            {"__cumb": ("sum", F.col("w")), "__cum2": ("sum", F.col("w2"))},
        )
        rows = sorted(
            (r["k"], r["__cumb"], r["__cum2"]) for r in ranked.collect()
        )
        t = total.collect()[0]
        return rows, (t["__cumb_total"], t["__cum2_total"])

    small_rows, small_total = run()  # default conf -> window form
    spark.conf.set("spark.graft.distCumWindowMaxRows", "0")
    try:
        two_rows, two_total = run()  # forced two-level scan
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")
    assert small_rows == two_rows
    assert small_total == two_total


def test_dist_max_before_small_flip_matches_two_level(spark):
    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.abs(F.hash(F.col("id").cast("string"))) % 97 - 48)
        .cast("long")
        .alias("v"),
    ).repartition(5)

    def run():
        return sorted(
            (r["k"], r["__maxb"]) for r in _running_max(df).collect()
        )

    small = run()
    spark.conf.set("spark.graft.distCumWindowMaxRows", "0")
    try:
        two = run()
    finally:
        spark.conf.unset("spark.graft.distCumWindowMaxRows")
    assert small == two
    assert small[0][1] is None


def test_dist_max_before_null_values_skipped(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, None), (4, 3.0)], "k long, v double"
    )
    out = {r["k"]: r["__maxb"] for r in _running_max(df).collect()}
    # nulls never contribute; max "before" skips them like the window form
    assert out == {1: None, 2: None, 3: 5.0, 4: 5.0}
