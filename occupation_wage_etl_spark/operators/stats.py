"""Distribution statistics: exact grouped percentiles at scale.

Spark's built-in exact ``percentile`` aggregate (ObjectHashAggregate)
buffers a value->count map for EVERY group in a single aggregation
buffer.  On a 100 TB table that buffer is unbounded — the executor
holding a popular group OOMs.  This operator computes the same exact,
linearly-interpolated order statistics (DuckDB ``quantile_cont``
semantics) as a fully distributed plan:

1. value histogram — ``groupBy(group, value).count()``: one shuffle
   with map-side partial aggregation; per-task state is bounded by
   the hash-aggregate's spillable map.
2. cumulative ranks — running ``sum(cnt)`` over distinct values per
   group (:func:`~._scan.prefix_scan`): sorts only (value, count)
   pairs, never the raw rows.
3. rank positions — a tiny (groups x percentiles) table of the two
   bracketing ranks per percentile; broadcast-joined back (no extra
   shuffle) and interpolated with the same weighted formula
   ``(ceil(pos)-pos)*lo + (pos-floor(pos))*hi`` that Spark's
   ``percentile`` and DuckDB's ``quantile_cont`` evaluate, so results
   stay bit-exact cross-engine (``lo + (hi-lo)*frac`` is NOT the same
   double).

Reference analogue: ``analysis.ipynb`` cell 7 (``df.describe`` /
``quantile`` over wage columns, single-node pandas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._cache import cached
from occupation_wage_etl_spark.operators._scan import (
    prefix_scan,
    resolve_two_level,
)


def grouped_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: dict[str, float],
    few_groups: bool | None = None,
) -> DataFrame:
    """Exact interpolated percentiles of ``value_col`` per ``group_col``.

    ``percentiles`` maps output column name -> p in [0, 1].  Returns one
    row per group with the named percentile columns.  NULL values are
    excluded (matching SQL aggregate semantics).  Pass
    ``few_groups=True`` when #groups ≪ cores (see
    :func:`percentiles_from_histogram`).
    """
    v = F.col(value_col)
    rows = df.filter(v.isNotNull()).select(group_col, value_col)
    # cached: percentiles_from_histogram consumes its input twice (rank
    # table + bracketing join); caching here keeps the base-table scan
    # and the row-sized histogram shuffle to exactly one each.
    hist = cached(
        rows.groupBy(group_col, value_col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    return percentiles_from_histogram(
        hist, group_col, value_col, percentiles, few_groups=few_groups
    )


def percentiles_from_histogram(
    hist: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: dict[str, float],
    few_groups: bool | None = None,
) -> DataFrame:
    """:func:`grouped_exact_percentiles` over a PRE-AGGREGATED value
    histogram ``(group, value, cnt)`` — the composable form: once one
    histogram exists, every derived order statistic (deviation medians,
    clip bounds, re-percentiles after a monotone transform) can be
    computed from histogram-sized data without ever touching the
    row-sized table again.  Ranks treat ``cnt`` as row multiplicity, so
    results are identical to running the row form on the expanded data.

    ``few_groups`` is the rank scan's ``two_level``
    (:func:`~._scan.prefix_scan`; ``None`` resolves by size): True
    whenever #groups ≪ cores, where the plain per-group window
    collapses to #groups tasks.  (An earlier round rejected a two-level
    rewrite on the grounds that "the histogram shuffle dominates" —
    re-profiled at sf0.1 on a 99%-distinct value column with 3 groups,
    the per-group window pass took 4.1 s vs 2.5 s for the histogram
    itself, so the cliff is real exactly when the flag says it is.)
    """
    cum, totals = prefix_scan(
        hist, [value_col], {"cum": ("sum", F.col("cnt"))}, by=[group_col],
        inclusive=True, two_level=few_groups,
    )

    n = F.col("cum_total")

    def pos(p: float):  # 0-based fractional position of percentile p
        return (n - 1) * F.lit(p)

    wanted = totals.select(
        group_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("qname"),
                        (F.floor(pos(p)) + 1).alias("lo_rank"),
                        (F.ceil(pos(p)) + 1).alias("hi_rank"),
                        (pos(p) - F.floor(pos(p))).alias("frac"),
                        (F.ceil(pos(p)) - pos(p)).alias("inv_frac"),
                    )
                    for name, p in percentiles.items()
                ]
            )
        ).alias("q"),
    ).select(group_col, "q.*")

    # A value covers rank r iff cum >= r and cum - cnt < r.  `wanted` is
    # groups x percentiles rows — always broadcast, so locating both
    # bracketing values adds no shuffle on top of the histogram's.
    j = cum.alias("c").join(
        F.broadcast(wanted).alias("p"),
        (F.col(f"c.{group_col}") == F.col(f"p.{group_col}"))
        & (
            (
                (F.col("c.cum") >= F.col("p.lo_rank"))
                & (F.col("c.cum") - F.col("c.cnt") < F.col("p.lo_rank"))
            )
            | (
                (F.col("c.cum") >= F.col("p.hi_rank"))
                & (F.col("c.cum") - F.col("c.cnt") < F.col("p.hi_rank"))
            )
        ),
    )

    covers = (
        lambda rank: (F.col("c.cum") >= rank)
        & (F.col("c.cum") - F.col("c.cnt") < rank)
    )
    vals = j.groupBy(F.col(f"p.{group_col}").alias(group_col), "p.qname").agg(
        F.max(F.when(covers(F.col("p.lo_rank")), F.col(f"c.{value_col}"))).alias("lo_val"),
        F.max(F.when(covers(F.col("p.hi_rank")), F.col(f"c.{value_col}"))).alias("hi_val"),
        F.first("p.frac").alias("frac"),
        F.first("p.inv_frac").alias("inv_frac"),
    )

    # Exact-integer positions must return lo_val itself (both weights are
    # 0 there), matching the `higherIndex == lowerIndex` branch of the
    # engines' implementations.
    interpolated = vals.select(
        group_col,
        "qname",
        F.when(F.col("frac") == 0.0, F.col("lo_val"))
        .otherwise(
            F.col("inv_frac") * F.col("lo_val")
            + F.col("frac") * F.col("hi_val")
        )
        .alias("qval"),
    )

    agg_cols = [
        F.max(F.when(F.col("qname") == name, F.col("qval"))).alias(name)
        for name in percentiles
    ]
    return interpolated.groupBy(group_col).agg(*agg_cols)


def equi_depth_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    buckets: int = 8,
    few_groups: bool | None = None,
) -> DataFrame:
    """Equi-depth (equal-height) histogram of ``value_col`` per group —
    the optimizer-statistics shape (Piatetsky-Shapiro & Connell 1984),
    computed WITHOUT a per-group global sort.

    Same distributed-histogram skeleton as
    :func:`grouped_exact_percentiles`: one shuffle on (group, value)
    with map-side combine, a per-group cumulative sum over DISTINCT
    values only, then the B-1 boundary values are picked at ranks
    ``ceil(k*N/B)`` and broadcast back.  Boundaries are actual data
    values (rank statistics, no interpolation), so every number is
    exact in any engine.  Boundary k is the value at rank ceil(k*N/B) —
    the LAST member of bucket k-1 — so ``bucket(x) = #{k : b_k < x}``
    (an evenly divisible distinct-value column gets exactly N/B rows
    per bucket).  Heavy ties can
    leave a bucket empty — such buckets are simply absent.

    Returns (group, bucket, n_rows, lo, hi, total).
    """
    g, v = F.col(group_col), F.col(value_col)
    # cached: the auto few_groups resolver's cardinality job and the
    # cumulative pass both read the histogram — one materialization
    hist = cached(
        df.filter(v.isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum, totals = prefix_scan(
        hist, [value_col], {"cum": ("sum", F.col("cnt"))}, by=[group_col],
        inclusive=True, two_level=few_groups,
    )
    # boundary k (1..B-1) = min value with cum >= ceil(k*N/B)
    ranks = totals.select(
        group_col,
        F.explode(
            F.array(*[
                F.ceil(F.col("cum_total") * F.lit(k) / F.lit(buckets))
                .alias("r")
                for k in range(1, buckets)
            ])
        ).alias("r"),
    )
    bounds = (
        cum.alias("c")
        .join(
            F.broadcast(ranks).alias("k"),
            (F.col(f"c.{group_col}") == F.col(f"k.{group_col}"))
            & (F.col("c.cum") >= F.col("k.r"))
            & (F.col("c.cum") - F.col("c.cnt") < F.col("k.r")),
        )
        .select(
            F.col(f"c.{group_col}").alias(group_col),
            F.col(f"c.{value_col}").alias("b"),
        )
    )
    assigned = (
        hist.alias("h")
        .join(F.broadcast(bounds).alias("b"), group_col, "left")
        .groupBy(group_col, value_col)
        .agg(
            F.sum(
                F.when(F.col("b.b") < F.col(f"h.{value_col}"), 1).otherwise(0)
            ).alias("bucket"),
            F.first("cnt").alias("cnt"),
        )
    )
    return assigned.groupBy(group_col, "bucket").agg(
        F.sum("cnt").alias("n_rows"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
        F.sum(v * F.col("cnt")).alias("total"),
    )


def grouped_zscore(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score feature scaling ((x - mean) / stddev) with
    bit-stable output — the training-pipeline normalizer.

    ``value_col`` must be a DECIMAL column (cast upstream): the group
    moments (n, sum, sum-of-squares) accumulate as exact decimals, so
    they are order/partition independent; the scalar math then runs in
    double with one fixed expression tree.  Decimals convert to double
    via STRING (see q49's docstring: decimal->double double-rounds in
    some engines; string->double is correctly rounded everywhere).

    One shuffle for the moment aggregate; the tiny per-group stats
    table broadcasts back onto the scan — no second shuffle of rows.
    Groups with n == 1 (stddev undefined) get NULL.
    """
    v = F.col(value_col)

    def dbl(col: F.Column) -> F.Column:
        return col.cast("string").cast("double")

    sums = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(v).alias("__s"),
        F.sum(v * v).alias("__sxx"),
    ).select(
        group_col,
        "__n",
        dbl(F.col("__s")).alias("__s"),
        dbl(F.col("__sxx")).alias("__sxx"),
    )
    n, s, sxx = F.col("__n"), F.col("__s"), F.col("__sxx")
    std = F.sqrt((sxx - s * s / n) / (n - F.lit(1.0)))
    return (
        df.join(F.broadcast(sums), group_col)
        .withColumn(
            out_col,
            F.when(n > 1, (dbl(v) - s / n) / std),
        )
        .drop("__n", "__s", "__sxx")
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    few_groups: bool | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its per-group [p_lo, p_hi] exact
    percentiles — the standard outlier treatment before training-metric
    aggregation (winsorization keeps the row, unlike trimming).

    Bounds come from :func:`grouped_exact_percentiles` (distributed
    histogram + rank statistic — bit-matches DuckDB ``quantile_cont``,
    proven via q33), joined back as a BROADCAST (#groups rows).  The
    clip itself is ``least(greatest(v, lo), hi)`` — a scan-side
    projection; clipped values are either the original double or a
    percentile boundary, both bit-stable, so no rounding is needed.

    Returns the input plus ``<value_col>_wins``.
    """
    pct = grouped_exact_percentiles(
        df, group_col, value_col, {"__lo": p_lo, "__hi": p_hi},
        few_groups=few_groups,
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(pct), group_col)
        .withColumn(
            f"{value_col}_wins",
            F.least(F.greatest(v, F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def apply_buckets(
    df: DataFrame,
    hist: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Assign each row its equi-depth bucket from a previously computed
    :func:`equi_depth_histogram` — the apply half of quantile binning
    (fit on yesterday's corpus, bucketize today's scan).

    ``hist`` is #groups × #buckets rows → broadcast; the join keeps an
    EQUALITY on the group key so Catalyst plans a broadcast HASH join
    with the range predicate as a residual filter — never a nested
    loop.  Rows outside every bucket's [lo, hi] (novel values beyond
    the fitted range) are dropped; left-join + clamp upstream if they
    must survive.
    """
    h = hist.select(
        F.col(group_col).alias("__g"),
        F.col("bucket"),
        F.col("lo").alias("__lo"),
        F.col("hi").alias("__hi"),
    )
    v = F.col(value_col)
    return (
        df.join(
            F.broadcast(h),
            (df[group_col] == h["__g"]) & (v >= h["__lo"]) & (v <= h["__hi"]),
        )
        .drop("__g", "__lo", "__hi")
    )


def grouped_mad(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
    few_groups: bool | None = None,
) -> DataFrame:
    """Robust outlier profile per group via Median Absolute Deviation:
    med = p50(v), mad = p50(|v - med|), outlier iff
    |v - med| > k · 1.4826 · mad (1.4826 ≈ consistency constant for
    normal data).  MAD survives the heavy tails that wreck z-scores —
    the robust sibling of :func:`grouped_zscore`.

    The base table is scanned ONCE: the value histogram
    ``(group, value, cnt)`` is the only row-sized aggregation, and
    everything downstream — the median rank statistic, the deviation
    histogram (``|v - med|`` is a per-distinct-value transform whose
    counts re-aggregate by the transformed value), the MAD rank
    statistic, and the outlier counts (a cnt-weighted sum over the
    deviation histogram) — runs on histogram-sized data.  At 100 TB
    rows ≫ distinct values, so the second "pass" costs a rounding
    error; no per-group sort buffers anywhere.  Output: one row per
    group with med, mad, n_rows, n_outliers.
    """
    v = F.col(value_col)
    # cached: the histogram feeds the median pass AND the deviation
    # histogram below — one base-table scan + one row-sized shuffle.
    hist = cached(
        df.filter(v.isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Resolve AUTO once and share it with BOTH percentile passes: the
    # deviation histogram has the same groups and at most as many
    # distinct values (|v - med| can only merge values), so the base
    # resolution is valid for it — and the second estimate job the
    # round-6 code ran per pass (the q94 ×1.29 drag) disappears.  The
    # estimate aggregates the cached histogram, fusing with the cache
    # materialization the median pass needs anyway.
    if few_groups is None:
        few_groups = resolve_two_level(hist, [group_col])
    med = percentiles_from_histogram(
        hist, group_col, value_col, {"__med": 0.5}, few_groups=few_groups
    )
    # cached: the deviation histogram feeds the MAD pass AND the final
    # outlier aggregate.
    dev_hist = cached(
        hist.join(F.broadcast(med), group_col)
        .groupBy(
            group_col,
            F.col("__med"),
            F.abs(v.cast("double") - F.col("__med")).alias("__adev"),
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = percentiles_from_histogram(
        dev_hist, group_col, "__adev", {"__mad": 0.5}, few_groups=few_groups
    )
    flagged = dev_hist.join(F.broadcast(mad), group_col)
    return flagged.groupBy(group_col).agg(
        F.min("__med").alias("med"),
        F.min("__mad").alias("mad"),
        F.sum("cnt").alias("n_rows"),
        F.sum(
            F.when(
                F.col("__adev") > F.lit(k) * F.lit(1.4826) * F.col("__mad"),
                F.col("cnt"),
            ).otherwise(F.lit(0))
        ).alias("n_outliers"),
    )


def grouped_mode(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Most frequent value per group, ties broken toward the LARGEST
    value — fully deterministic (``mode()``/``max_by()`` tie behavior is
    engine- and order-dependent; this is not).

    Two hash aggregates, no window: count per (group, value), then
    ``max(struct(cnt, value))`` — struct comparison is lexicographic,
    so the max is (highest count, then highest value).  The second agg's
    input is already one row per distinct value: shuffle volume is the
    distinct-pair count, never the table.
    """
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    m = counts.groupBy(group_col).agg(
        F.max(F.struct(F.col("__cnt"), F.col(value_col))).alias("__m")
    )
    return m.select(
        group_col,
        F.col(f"__m.{value_col}").alias("mode_value"),
        F.col("__m.__cnt").alias("mode_count"),
    )


def grouped_percent_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    few_groups: bool | None = None,
) -> DataFrame:
    """Within-group percentile rank of every row — the cross-domain score
    calibration primitive: a raw quality/score column is comparable
    across sources only after mapping each value to its rank position
    INSIDE its own source's distribution.

    ``percent_rank`` = (rank-1)/(n-1) with ties sharing a rank — the
    ANSI definition both Spark and DuckDB implement, and an exact
    integer-ratio double (bit-stable, no rounding).  Singleton groups
    get 0.0 in both engines.

    Since round 5 the rank comes off the distinct-value HISTOGRAM
    (rank − 1 = cumulative count of strictly-smaller values via
    :func:`~._scan.prefix_scan`, joined back on (group, value)) instead
    of a ``percent_rank`` window over the row-sized table: the window sorts
    every raw row inside each group's task, the histogram form sorts
    only distinct values — and ``few_groups=True`` routes even that
    through the grouped two-level scan when #groups ≪ cores.  NULL
    values are excluded (the window form ranked them first — Spark's
    NULLS FIRST — while DuckDB orders them last, so any NULL input was
    already engine-divergent; excluding pins one semantics).

    Returns (id, group, value, pct).
    """
    v = F.col(value_col)
    rows = df.filter(v.isNotNull()).select(id_col, group_col, value_col)
    hist = cached(
        rows.groupBy(group_col, value_col).agg(
            F.count(F.lit(1)).alias("__cnt")
        )
    )
    cum, totals = prefix_scan(
        hist, [value_col], {"__before": ("sum", F.col("__cnt"))},
        by=[group_col], two_level=few_groups,
    )
    ranked = cum.join(totals, group_col).select(
        group_col,
        value_col,
        "__before",
        F.col("__before_total").alias("__ng"),
    )
    return rows.join(ranked, [group_col, value_col]).select(
        F.col(id_col),
        F.col(group_col),
        F.col(value_col),
        F.when(
            F.col("__ng") > 1,
            F.col("__before").cast("double")
            / (F.col("__ng") - F.lit(1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("pct"),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: F.Column,
    y_col: F.Column,
    x_decimal: str = "decimal(20,0)",
    y_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Closed-form per-group simple linear regression (slope, intercept,
    r²) — the distributed trend detector: one hash aggregate per group,
    no driver iteration, no MLlib.

    Bit-stability across engines AND partition orders comes from the
    same discipline as q49's statistical aggregates: the five moment
    sums (Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT decimals (inputs
    must be exact under the given decimal casts — integers or 2-decimal
    currency), convert to double via string (single correct rounding),
    and the slope/intercept/r² come from one fixed closed-form scalar
    tree.  Groups with zero x-variance yield NULLs.

    ``x_col``/``y_col`` are expressions (e.g. epoch seconds, a price);
    pass wider decimal types if your magnitudes need them.

    Returns (group, n, slope, intercept, r2).
    """
    x = x_col.cast(x_decimal)
    y = y_col.cast(y_decimal)

    def dbl(col: F.Column) -> F.Column:
        return col.cast("string").cast("double")

    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.sum(x)).alias("__sx"),
        dbl(F.sum(y)).alias("__sy"),
        dbl(F.sum(x * y)).alias("__sxy"),
        dbl(F.sum(x * x)).alias("__sxx"),
        dbl(F.sum(y * y)).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(dx > 0, cov / dx)
    intercept = F.when(dx > 0, (sy - (cov / dx) * sx) / n)
    r = cov / (F.sqrt(dx) * F.sqrt(dy))
    r2 = F.when((dx > 0) & (dy > 0), r * r)
    return agg.select(
        group_col,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def grouped_weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    few_groups: bool | None = None,
) -> DataFrame:
    """Exact weighted (lower) median per group: the smallest value whose
    cumulative weight reaches half the group's total — "the price at
    which half the QUANTITY traded", token-weighted document stats, and
    every importance-weighted center that a plain median gets wrong.

    Same distributed-histogram skeleton as
    :func:`grouped_exact_percentiles` (no per-group value buffering, no
    global sort): one hash aggregate on (group, value) summing exact
    decimal weights, a cumulative-weight window over DISTINCT values
    only, then a min-aggregate over qualifying values.  The half-total
    test is ``2·cumw ≥ W`` — pure decimal comparison, no division, so
    the chosen value is a rank statistic that is bit-identical in any
    engine.  NULL values and NULL/non-positive weights are excluded:
    weights must be POSITIVE — a negative weight would make the
    cumulative-weight function non-monotonic and the rank test
    meaningless, so such rows are dropped rather than silently skewing
    the result.

    Returns (group, total_weight, wmedian).
    """
    g, v = F.col(group_col), F.col(value_col)
    w = F.col(weight_col).cast("decimal(18,2)")
    rows = df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
    hist = rows.groupBy(group_col, value_col).agg(F.sum(w).alias("__cw"))
    # resolve AUTO here (not inside prefix_scan): the totals-join
    # shape below must branch on the SAME resolved value.  The estimate
    # runs SCAN-SIDE over `rows` (no histogram shuffle, no forced
    # cache), so AUTO-resolved-False keeps the fastest measured plan —
    # the UNCACHED two-consumer fusion, where a cache round-trip of the
    # decimal histogram costs more than recomputing it inside both
    # codegen pipelines (sf0.1: uncached 1.0 s vs cached 1.9 s; the
    # round-6 cache-before-resolve policy charged exactly that ×2).
    if few_groups is None:
        few_groups = resolve_two_level(
            hist, [group_col], rows=rows, value_col=value_col
        )
    cum0, tot = prefix_scan(
        hist, [value_col], {"__cum": ("sum", F.col("__cw"))},
        by=[group_col], inclusive=True, two_level=few_groups,
    )
    tot = tot.withColumnRenamed("__cum_total", "__tot")
    cum = cum0.join(F.broadcast(tot), group_col) if few_groups else (
        cum0.withColumn(
            "__tot",
            F.sum("__cw").over(
                Window.partitionBy(group_col).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    qualified = cum.filter(F.lit(2) * F.col("__cum") >= F.col("__tot"))
    return qualified.groupBy(group_col).agg(
        F.max(F.col("__tot"))
        .cast("string")
        .cast("double")
        .alias("total_weight"),
        F.min(value_col).alias("wmedian"),
    )


# --------------------------------------------------------------------- moments
# Shared scalar formulas for the moment-based operators below.  They are
# SQL-syntax strings evaluated with F.expr on the Spark side and pasted
# verbatim into the DuckDB oracle — one source of truth, so both engines
# run the IDENTICAL expression tree over identical exact inputs and the
# doubles come out bit-equal (the q49 moment-sum discipline).

COV_FORMULA = "(({sij}) - ({si}) * ({sj}) / n) / (n - 1.0)"
CORR_FORMULA = (
    "(n * ({sij}) - ({si}) * ({sj}))"
    " / (sqrt(n * ({sii}) - ({si}) * ({si}))"
    "    * sqrt(n * ({sjj}) - ({sj}) * ({sj})))"
)

OLS2_DET = (
    "(n * (s11 * s22 - s12 * s12)"
    " - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
OLS2_B0 = (
    "(sy * (s11 * s22 - s12 * s12)"
    " - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y)) / det"
)
OLS2_B1 = (
    "(n * (s1y * s22 - s12 * s2y)"
    " - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2)) / det"
)
OLS2_B2 = (
    "(n * (s11 * s2y - s1y * s12)"
    " - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2)) / det"
)
OLS2_SSE = (
    "(syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y)"
    " + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22"
    "    + 2.0 * b0 * b1 * s1 + 2.0 * b0 * b2 * s2"
    "    + 2.0 * b1 * b2 * s12))"
)
OLS2_R2 = "1.0 - sse / (syy - sy * sy / n)"


def _dec2(c: str) -> Column:
    return F.col(c).cast("decimal(18,2)")


def _dbl_exact(col: Column) -> Column:
    # decimal -> STRING -> double (exact digits, correctly-rounded parse
    # in both engines); see q49's scale note in queries.py.
    return col.cast("string").cast("double")


def covariance_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact sample covariance + Pearson correlation matrix over
    ``cols`` (upper triangle incl. diagonal, d(d+1)/2 rows).

    One map-side-combinable hash aggregate computes every first and
    second moment as DECIMAL(18,2)/(37,4) sums (order-independent
    exact, 2dp-rounded inputs), stringly-cast to double; the per-pair
    covariance/correlation then evaluates :data:`COV_FORMULA` /
    :data:`CORR_FORMULA` — the same strings the oracle runs — so
    results are bit-equal across engines and partition layouts.  Rows
    with a NULL in ANY of ``cols`` are dropped (complete-case, the
    standard matrix convention).

    Scale: one aggregate over the input, d² tiny columns; the matrix
    explode is d²-sized.  Returns (col_x, col_y, n_rows, cov, corr).
    """
    base = df
    for c in cols:
        base = base.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i, ci in enumerate(cols):
        aggs.append(_dbl_exact(F.sum(_dec2(ci))).alias(f"s{i}"))
        for j, cj in enumerate(cols):
            if i <= j:
                aggs.append(
                    _dbl_exact(F.sum(_dec2(ci) * _dec2(cj))).alias(
                        f"s{i}_{j}"
                    )
                )
    sums = base.agg(*aggs)
    cells = []
    for i, ci in enumerate(cols):
        for j, cj in enumerate(cols):
            if i > j:
                continue
            sub = {
                "si": f"s{i}",
                "sj": f"s{j}",
                "sij": f"s{i}_{j}",
                "sii": f"s{i}_{i}",
                "sjj": f"s{j}_{j}",
            }
            cells.append(
                F.struct(
                    F.lit(ci).alias("col_x"),
                    F.lit(cj).alias("col_y"),
                    F.expr(COV_FORMULA.format(**sub)).alias("cov"),
                    F.expr(CORR_FORMULA.format(**sub)).alias("corr"),
                )
            )
    return sums.select(
        F.col("n").cast("long").alias("n_rows"), F.inline(F.array(*cells))
    ).select("col_x", "col_y", "n_rows", "cov", "corr")


def multi_ols(
    df: DataFrame, y_col: str, x_cols: list[str]
) -> DataFrame:
    """Multiple linear regression by the normal equations.

    For exactly TWO features the 3×3 system is solved in closed form
    (Cramer's rule over exact decimal moment sums — :data:`OLS2_B0` ..
    :data:`OLS2_R2`, the same expression strings the oracle evaluates,
    so coefficients and R² are bit-equal across engines).  For d > 2
    the Gram matrix (a (d+1)² model-parameter-sized frame) is collected
    to the driver and solved with numpy — still one distributed
    aggregate over the data, but not oracle-replayable (no closed
    form); use the 2-feature tier for parity-checked paths.

    Returns one row: (n_rows, b0, b1, b2, r2) for d=2;
    (n_rows, b0..bd, r2) for the numpy tier.
    """
    if len(x_cols) != 2:
        return _multi_ols_numpy(df, y_col, x_cols)
    x1, x2 = x_cols
    base = df.filter(
        F.col(y_col).isNotNull()
        & F.col(x1).isNotNull()
        & F.col(x2).isNotNull()
    )
    sums = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dbl_exact(F.sum(_dec2(y_col))).alias("sy"),
        _dbl_exact(F.sum(_dec2(y_col) * _dec2(y_col))).alias("syy"),
        _dbl_exact(F.sum(_dec2(x1))).alias("s1"),
        _dbl_exact(F.sum(_dec2(x2))).alias("s2"),
        _dbl_exact(F.sum(_dec2(x1) * _dec2(x1))).alias("s11"),
        _dbl_exact(F.sum(_dec2(x2) * _dec2(x2))).alias("s22"),
        _dbl_exact(F.sum(_dec2(x1) * _dec2(x2))).alias("s12"),
        _dbl_exact(F.sum(_dec2(x1) * _dec2(y_col))).alias("s1y"),
        _dbl_exact(F.sum(_dec2(x2) * _dec2(y_col))).alias("s2y"),
    )
    staged = (
        sums.withColumn("det", F.expr(OLS2_DET))
        .withColumn("b0", F.expr(OLS2_B0))
        .withColumn("b1", F.expr(OLS2_B1))
        .withColumn("b2", F.expr(OLS2_B2))
        .withColumn("sse", F.expr(OLS2_SSE))
    )
    return staged.select(
        F.col("n").cast("long").alias("n_rows"),
        "b0",
        "b1",
        "b2",
        F.expr(OLS2_R2).alias("r2"),
    )


def _multi_ols_numpy(
    df: DataFrame, y_col: str, x_cols: list[str]
) -> DataFrame:
    """numpy tier of :func:`multi_ols` — the Gram matrix is
    model-parameter-sized ((d+1)² doubles), so the driver solve is the
    same bounded-collect class as IVF centroids."""
    import numpy as np

    base = df
    for c in [y_col, *x_cols]:
        base = base.filter(F.col(c).isNotNull())
    feats = [F.lit(1.0), *[F.col(c).cast("double") for c in x_cols]]
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, fi in enumerate(feats):
        aggs.append(F.sum(fi * F.col(y_col).cast("double")).alias(f"xy{i}"))
        for j, fj in enumerate(feats):
            if i <= j:
                aggs.append(F.sum(fi * fj).alias(f"g{i}_{j}"))
    aggs.append(
        F.sum(F.col(y_col).cast("double") * F.col(y_col).cast("double"))
        .alias("syy")
    )
    row = base.agg(*aggs).collect()[0]
    d = len(feats)
    gram = np.zeros((d, d))
    for i in range(d):
        for j in range(d):
            gram[i, j] = row[f"g{min(i, j)}_{max(i, j)}"]
    xty = np.array([row[f"xy{i}"] for i in range(d)])
    beta = np.linalg.solve(gram, xty)
    sse = row["syy"] - 2 * beta @ xty + beta @ gram @ beta
    sst = row["syy"] - row["xy0"] ** 2 / row["n"]
    spark = df.sparkSession
    out = [(int(row["n"]), *[float(b) for b in beta], float(1 - sse / sst))]
    names = ["n_rows"] + [f"b{i}" for i in range(d)] + ["r2"]
    return spark.createDataFrame(out, ", ".join(
        f"{nm} {'long' if nm == 'n_rows' else 'double'}" for nm in names
    ))


# Poisson(1) CDF cutoffs scaled to the 60-bit hash domain: replicate
# weight w = j iff  T[j-1] <= h < T[j]  (T[-1] = 0).  INTEGER
# comparisons — no float literal parsing divergence between engines.
import math as _math

_POIS_CDF = []
_acc = 0.0
for _j in range(7):
    _acc += _math.exp(-1.0) / _math.factorial(_j)
    _POIS_CDF.append(min(int(_acc * (2**60)), 2**60))
POISSON_CUTOFFS: tuple[int, ...] = tuple(_POIS_CDF)  # w capped at 7
del _POIS_CDF, _acc, _j


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b_reps: int = 40,
    alpha: float = 0.1,
) -> DataFrame:
    """Poissonized bootstrap confidence interval for the mean — the
    standard bootstrap-at-scale construction: instead of resampling n
    rows WITH replacement (a global multinomial no distributed engine
    can do cheaply), each row enters replicate ``b`` with weight
    ``w ~ Poisson(1)`` derived DETERMINISTICALLY from
    ``md5(id || '#b' || b)`` — so any engine replays the identical
    resamples bit-for-bit and reruns are stable.

    Per-replicate means are exact-decimal weighted sums (w is a small
    integer, values 2dp) with one double division; the CI picks order
    statistics of the ``b_reps`` means (a b_reps-sized sorted array).
    Work is b_reps× map-side; the shuffle carries only b_reps partial
    rows per task (map-side combine), so the plan scales like one
    aggregate.

    Returns one row: (n_rows, b_reps, mean_point, ci_lo, ci_hi).
    """
    cuts = POISSON_CUTOFFS
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).cast("string").alias("__id"),
        _dec2(value_col).alias("__v"),
    )
    rep = base.select(
        "__id", "__v", F.explode(F.sequence(F.lit(0), F.lit(b_reps - 1))).alias("__b")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("__id"), F.lit("#b"), F.col("__b").cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(len(cuts))
    for j in range(len(cuts) - 1, -1, -1):
        w = F.when(h < F.lit(cuts[j]), F.lit(j)).otherwise(w)
    means = (
        rep.select("__b", "__v", w.alias("__w"))
        .groupBy("__b")
        .agg(
            _dbl_exact(
                F.sum(F.col("__w").cast("decimal(4,0)") * F.col("__v"))
            ).alias("s"),
            F.sum("__w").alias("n"),
        )
        .select(
            (F.col("s") / F.col("n").cast("double")).alias("m")
        )
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dbl_exact(F.sum("__v")).alias("s_all"),
    )
    k = int((alpha / 2) * b_reps)
    arr = means.agg(F.array_sort(F.collect_list("m")).alias("ms"))
    return point.crossJoin(F.broadcast(arr)).select(
        "n_rows",
        F.lit(b_reps).alias("b_reps"),
        (F.col("s_all") / F.col("n_rows").cast("double")).alias(
            "mean_point"
        ),
        F.element_at("ms", k + 1).alias("ci_lo"),
        F.element_at("ms", b_reps - k).alias("ci_hi"),
    )


def logo_ols_sensitivity(
    df: DataFrame, y_col: str, x_cols: list[str], group_col: str
) -> DataFrame:
    """Leave-one-group-out OLS sensitivity — the data-valuation readout
    ("how much does dropping one source move the fit?") behind
    source-level quality audits, computed WITHOUT m refit passes: the
    normal-equation moments are additive, so per-group exact DECIMAL
    moment sums + one global sum give every leave-out model by exact
    decimal SUBTRACTION (global − group), and each LOO fit evaluates
    the SAME Cramer's-rule strings (:data:`OLS2_B0`..) as
    :func:`multi_ols` — bit-equal to literally refitting without the
    group, for the cost of ONE aggregate over the data plus a
    category-sized frame.  Two-feature tier only (the closed form the
    oracle replays).

    Returns one row per group, ordered: (group, n_rows_loo, b1_loo,
    b2_loo, delta_b1, delta_b2) with delta = LOO − full-model
    coefficient (big |delta| = the group was load-bearing).
    """
    x1, x2 = x_cols
    base = df.filter(
        F.col(y_col).isNotNull()
        & F.col(x1).isNotNull()
        & F.col(x2).isNotNull()
        & F.col(group_col).isNotNull()
    )
    per = cached(
        base.groupBy(F.col(group_col).alias("__g")).agg(
            F.count(F.lit(1)).alias("gn"),
            F.sum(_dec2(y_col)).alias("gsy"),
            F.sum(_dec2(y_col) * _dec2(y_col)).alias("gsyy"),
            F.sum(_dec2(x1)).alias("gs1"),
            F.sum(_dec2(x2)).alias("gs2"),
            F.sum(_dec2(x1) * _dec2(x1)).alias("gs11"),
            F.sum(_dec2(x2) * _dec2(x2)).alias("gs22"),
            F.sum(_dec2(x1) * _dec2(x2)).alias("gs12"),
            F.sum(_dec2(x1) * _dec2(y_col)).alias("gs1y"),
            F.sum(_dec2(x2) * _dec2(y_col)).alias("gs2y"),
        )
    )
    tot = per.agg(
        F.sum("gn").alias("tn"),
        *[
            F.sum(c).alias(f"t{c[1:]}")
            for c in (
                "gsy", "gsyy", "gs1", "gs2", "gs11",
                "gs22", "gs12", "gs1y", "gs2y",
            )
        ],
    )

    def _stage(frame):
        return (
            frame.withColumn("det", F.expr(OLS2_DET))
            .withColumn("b0", F.expr(OLS2_B0))
            .withColumn("b1", F.expr(OLS2_B1))
            .withColumn("b2", F.expr(OLS2_B2))
        )

    full = _stage(
        tot.select(
            F.col("tn").cast("double").alias("n"),
            *[
                _dbl_exact(F.col(f"t{m}")).alias(m)
                for m in (
                    "sy", "syy", "s1", "s2", "s11",
                    "s22", "s12", "s1y", "s2y",
                )
            ],
        )
    ).select(
        F.col("b1").alias("__fb1"), F.col("b2").alias("__fb2")
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "__g",
        (F.col("tn") - F.col("gn")).cast("double").alias("n"),
        *[
            _dbl_exact(F.col(f"t{m}") - F.col(f"g{m}")).alias(m)
            for m in (
                "sy", "syy", "s1", "s2", "s11",
                "s22", "s12", "s1y", "s2y",
            )
        ],
    )
    return (
        _stage(loo)
        .crossJoin(F.broadcast(full))
        .select(
            F.col("__g").alias(group_col),
            F.col("n").cast("long").alias("n_rows_loo"),
            F.col("b1").alias("b1_loo"),
            F.col("b2").alias("b2_loo"),
            (F.col("b1") - F.col("__fb1")).alias("delta_b1"),
            (F.col("b2") - F.col("__fb2")).alias("delta_b2"),
        )
        .orderBy(group_col)
    )
