"""Distributed hypothesis tests: KS two-sample, chi-square
independence (+ Cramér's V), Welch's t, Kruskal-Wallis H.

A data pipeline that A/B-tests a curation change or checks whether two
corpus slices come from the same distribution needs the classic tests
computed EXACTLY and at scale.  Every operator here follows the repo's
scale-shape policy:

- all rank machinery runs over the per-distinct-value histogram with
  the distributed prefix scan (:func:`operators._scan.prefix_scan`) —
  never a globally-ordered window over data-sized input;
- sums that feed the statistic are kept in integer / DECIMAL
  arithmetic for order-independence, with one closing float division;
- where a float fold is unavoidable (k-group terms, contingency
  cells), the fold runs over a SORTED bounded array (group count /
  cell count sized, never data-sized) so both Spark and any oracle
  engine evaluate the same IEEE ops in the same order.

Reference analogue: none (the reference computes means only,
``pipeline/transform.py``); training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._scan import prefix_scan


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic
    ``D = sup_x |F_a(x) - F_b(x)|``.

    Shape: hash-aggregate to the distinct-value histogram with
    per-group counts, distributed prefix sums for both groups'
    cumulative counts, then ``D`` as a single integer max —
    ``|ca*Nb - cb*Na|`` over distinct values (the common-denominator
    form), divided once at the end.  No data-sized sort anywhere;
    raw doubles (distinct ≈ rows) cost the same plan as coarse values.

    Returns one row: (n_a, n_b, ks_stat).
    """
    v, g = F.col(value_col), F.col(group_col)
    h = (
        df.filter(v.isNotNull() & g.isin(group_a, group_b))
        .groupBy(v.alias("__v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("cb"),
        )
    )
    # inclusive CDF numerators at each distinct value; Na/Nb are needed
    # inside the row-wise max, so the scan's totals are broadcast back
    # over the histogram (scalar attach).
    ranked, totals = prefix_scan(
        h,
        ["__v"],
        {"__fa": ("sum", F.col("ca")), "__fb": ("sum", F.col("cb"))},
        inclusive=True,
    )
    fa, fb = F.col("__fa"), F.col("__fb")
    totals = totals.select(
        F.col("__fa_total").alias("n_a"), F.col("__fb_total").alias("n_b")
    )
    d_num = (
        ranked.crossJoin(F.broadcast(totals))
        .select(
            F.abs(fa * F.col("n_b") - fb * F.col("n_a")).alias("__d")
        )
        .agg(F.max("__d").alias("__dmax"))
    )
    return (
        totals.crossJoin(F.broadcast(d_num))
        .select(
            "n_a",
            "n_b",
            (
                F.col("__dmax").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_stat"),
        )
    )


def chi_square_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V effect size.

    Shape: one hash aggregate to the r×c contingency table, broadcast
    row/column marginals back onto it (contingency-sized joins), then
    the chi-square sum folds over the SORTED cell array — cells are
    category-product-sized (bounded), so the fold is deterministic and
    the per-cell double terms ``(o-e)^2/e`` add in a fixed order in
    any engine.

    Returns one row: (n_rows, n_levels_row, n_levels_col, chi2,
    dof, cramers_v).
    """
    r, c = F.col(row_col), F.col(col_col)
    cells = (
        df.filter(r.isNotNull() & c.isNotNull())
        .groupBy(r.alias("__r"), c.alias("__c"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_m = cells.groupBy("__r").agg(F.sum("o").alias("rt"))
    col_m = cells.groupBy("__c").agg(F.sum("o").alias("ct"))
    n = cells.agg(
        F.sum("o").alias("n_rows"),
        F.count_distinct("__r").alias("n_levels_row"),
        F.count_distinct("__c").alias("n_levels_col"),
    )
    joined = (
        cells.join(F.broadcast(row_m), "__r")
        .join(F.broadcast(col_m), "__c")
        .crossJoin(F.broadcast(n))
    )
    term = (
        F.col("o").cast("double")
        - F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n_rows").cast("double")
    )
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n_rows").cast("double")
    )
    folded = joined.select(
        "n_rows",
        "n_levels_row",
        "n_levels_col",
        F.struct(
            F.col("__r").alias("r"),
            F.col("__c").alias("c"),
            (term * term / e).alias("t"),
        ).alias("cell"),
    ).groupBy("n_rows", "n_levels_row", "n_levels_col").agg(
        F.aggregate(
            F.array_sort(F.collect_list("cell")),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("chi2")
    )
    dof = (F.col("n_levels_row") - 1) * (F.col("n_levels_col") - 1)
    min_dim = F.least(
        F.col("n_levels_row"), F.col("n_levels_col")
    ) - F.lit(1)
    return folded.select(
        "n_rows",
        "n_levels_row",
        "n_levels_col",
        "chi2",
        dof.cast("long").alias("dof"),
        F.when(
            min_dim > 0,
            F.sqrt(
                F.col("chi2")
                / (F.col("n_rows").cast("double") * min_dim.cast("double"))
            ),
        ).alias("cramers_v"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t statistic between two groups, with
    the Welch-Satterthwaite degrees of freedom.

    Values are rounded to 2dp and summed as DECIMAL(18,2) /
    DECIMAL(38,4) (sum and sum-of-squares) so the moments are
    order-independent exact; t and df are closed-form doubles over
    those six exact numbers.  One aggregate, no shuffle beyond it.

    Returns one row: (n_a, n_b, mean_a, mean_b, t_stat, welch_df).
    """
    v2 = F.round(F.col(value_col), 2).cast("decimal(18,2)")
    g = F.col(group_col)
    agg = (
        df.filter(F.col(value_col).isNotNull() & g.isin(group_a, group_b))
        .groupBy()
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(g == group_a, v2)).alias("sa"),
            F.sum(F.when(g == group_b, v2)).alias("sb"),
            F.sum(F.when(g == group_a, v2 * v2)).alias("qa"),
            F.sum(F.when(g == group_b, v2 * v2)).alias("qb"),
        )
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("sa").cast("double") / na
    mb = F.col("sb").cast("double") / nb
    # unbiased variance: (Q - S^2/n) / (n-1), exact numerators first
    va = (F.col("qa").cast("double") - ma * F.col("sa").cast("double")) / (
        na - 1
    )
    vb = (F.col("qb").cast("double") - mb * F.col("sb").cast("double")) / (
        nb - 1
    )
    se2a, se2b = va / na, vb / nb
    t = (ma - mb) / F.sqrt(se2a + se2b)
    wdf = (se2a + se2b) * (se2a + se2b) / (
        se2a * se2a / (na - 1) + se2b * se2b / (nb - 1)
    )
    return agg.select(
        "n_a",
        "n_b",
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        t.alias("t_stat"),
        wdf.alias("welch_df"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test (k-group rank ANOVA) with tie correction.

    Average ranks come from the per-distinct-value histogram: doubled
    rank ``r2 = 2*cum_before + t + 1`` per distinct value (integer),
    doubled rank-sums per group ``R2_g = Σ cnt_g * r2`` (BIGINT), so

        H = 3 * Σ_g R2_g^2 / n_g / (N(N+1)) - 3(N+1)

    with the per-group terms folded over the SORTED k-row group array
    (k is category-sized, so the double fold is deterministic).  Tie
    correction sums ``t^3 - t`` per distinct value as DECIMAL(38,0)
    (N^3 overflows BIGINT at corpus scale).

    Returns one row: (n_rows, n_groups, h_stat, tie_correction,
    h_adjusted).
    """
    v, g = F.col(value_col), F.col(group_col)
    h = (
        df.filter(v.isNotNull() & g.isNotNull())
        .groupBy(v.alias("__v"), g.alias("__g"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_v = h.groupBy("__v").agg(F.sum("cnt").alias("t"))
    ranked_v, _ = prefix_scan(per_v, ["__v"], {"__cumb": ("sum", F.col("t"))})
    # r2 = doubled average rank of the tie block at this value
    r2 = (F.lit(2) * F.col("__cumb") + F.col("t") + F.lit(1)).alias("r2")
    ties = ranked_v.agg(
        F.sum("t").alias("N"),
        F.sum(
            (
                F.col("t").cast("decimal(38,0)")
                * F.col("t").cast("decimal(38,0)")
                * F.col("t").cast("decimal(38,0)")
                - F.col("t").cast("decimal(38,0)")
            )
        ).alias("tie_sum"),
    )
    groups = (
        h.join(
            ranked_v.select("__v", r2),
            "__v",
        )
        .groupBy("__g")
        .agg(
            F.sum("cnt").alias("n_g"),
            F.sum(F.col("cnt") * F.col("r2")).alias("R2"),
        )
    )
    folded = groups.select(
        F.struct(
            F.col("__g").alias("g"),
            (
                F.col("R2").cast("double")
                * F.col("R2").cast("double")
                / F.col("n_g").cast("double")
            ).alias("t"),
        ).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.aggregate(
            F.array_sort(F.collect_list("grp")),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("sum_r2sq"),
    )
    out = folded.crossJoin(F.broadcast(ties))
    nd = F.col("N").cast("double")
    h_stat = (
        F.lit(3.0) * F.col("sum_r2sq") / (nd * (nd + 1)) - 3.0 * (nd + 1)
    )
    tie_c = F.lit(1.0) - F.col("tie_sum").cast("double") / (
        nd * nd * nd - nd
    )
    return out.select(
        F.col("N").alias("n_rows"),
        "n_groups",
        h_stat.alias("h_stat"),
        tie_c.alias("tie_correction"),
        (h_stat / tie_c).alias("h_adjusted"),
    )


def chi2_gof_even_dof_pvalues(
    df: DataFrame,
    test_col: str,
    cat_col: str,
    n_buckets: int = 3,
) -> DataFrame:
    """Per-test chi-square goodness-of-fit p-values with EVEN degrees
    of freedom — the closed-form family: for dof = 2k the survival
    function is

        p = exp(−x/2) · Σ_{i<k} (x/2)^i / i!

    (no incomplete-gamma special function, so any engine reproduces it
    — the reason this operator fixes ``n_buckets`` categories per test,
    giving dof = n_buckets − 1 = 2 at the default).  Each test compares
    one ``test_col`` slice's ``cat_col`` distribution (hash-folded into
    ``n_buckets`` stable buckets) against the pooled distribution over
    ALL slices.

    Expected counts are exact integer ratios (E = n_t·N_b/N evaluated
    as one double division of int64 products); the statistic folds the
    n_buckets cells in bucket order (bounded sorted array, q167/q168
    contract); p rounds at 12dp.  Returns one row per test:
    (test, n_rows, chi2, p_value).
    """
    from occupation_wage_etl_spark.operators._cache import cached

    if n_buckets % 2 == 0:
        raise ValueError("n_buckets must be odd so dof = n_buckets-1 is even")
    t, c = F.col(test_col), F.col(cat_col)
    bkt = (
        F.conv(
            F.substring(F.md5(c.cast("string").cast("binary")), 1, 4), 16, 10
        ).cast("int")
        % n_buckets
    )
    cells = cached(
        df.filter(t.isNotNull() & c.isNotNull())
        .groupBy(t.alias("__t"), bkt.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_test = cells.groupBy("__t").agg(F.sum("__n").alias("__nt"))
    per_bkt = cells.groupBy("__b").agg(F.sum("__n").alias("__nb"))
    # "__tot", not "__N": Spark resolution is case-insensitive, so
    # "__N" would collide with the cell count "__n"
    grand = cells.agg(F.sum("__n").alias("__tot"))
    # dense bucket frame so zero-count cells still contribute (O-E)²/E
    buckets = per_test.crossJoin(
        F.broadcast(per_bkt).crossJoin(F.broadcast(grand))
    )
    joined = buckets.join(
        cells, ["__t", "__b"], "left"
    ).select(
        "__t",
        "__nt",
        "__b",
        (
            F.col("__nt").cast("double")
            * F.col("__nb").cast("double")
            / F.col("__tot").cast("double")
        ).alias("__e"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("double").alias("__o"),
    )
    terms = joined.select(
        "__t",
        "__nt",
        F.struct(
            F.col("__b").alias("b"),
            (
                (F.col("__o") - F.col("__e"))
                * (F.col("__o") - F.col("__e"))
                / F.col("__e")
            ).alias("x"),
        ).alias("__s"),
    )
    k = (n_buckets - 1) // 2  # dof/2 summation terms
    stat = terms.groupBy("__t").agg(
        F.first("__nt").alias("n_rows"),
        F.aggregate(
            F.array_sort(F.collect_list("__s")),
            F.lit(0.0),
            lambda acc, s: acc + s["x"],
        ).alias("chi2"),
    )
    x2 = F.col("chi2") / F.lit(2.0)
    # Σ_{i<k} (x/2)^i / i! by a multiplication chain (term·x2/i), NOT
    # pow() — pow may route through exp/log and drift for exponents ≥ 2
    term = F.lit(1.0)
    surv = term
    for i in range(1, k):
        term = term * x2 / F.lit(float(i))
        surv = surv + term
    return stat.select(
        F.col("__t").alias(test_col),
        "n_rows",
        "chi2",
        F.round(F.exp(-x2) * surv, 12).alias("p_value"),
    ).orderBy(test_col)


def bh_fdr(
    df: DataFrame,
    test_col: str,
    p_col: str,
    alpha_num: int = 1,
    alpha_den: int = 20,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a table of test
    p-values — the multiple-comparison gate every segmented A/B
    readout needs (m segments tested at α each inflates family-wise
    false positives; BH caps the FALSE DISCOVERY RATE at α).

        k* = max{k : p₍ₖ₎ ≤ k·α/m},   reject all p ≤ p₍ₖ₎*

    Ranks come off the distinct-p histogram (each distinct p takes its
    LARGEST order-statistic index — the most permissive rank of a tie
    bucket, which is exactly the step-up rule's behavior) through the
    global :func:`~._scan.prefix_scan`, resolved by size — the input is
    one row per TEST, category-sized, but nothing here assumes it fits
    anywhere.  The crossing test ``p·m·den ≤ rank·num`` is pure
    integer×double comparison with no division, so ties at the
    threshold resolve identically in any engine.  α is the rational
    ``alpha_num/alpha_den``.

    Returns the input rows plus (bh_rank, rejected), ordered by
    (p, test).
    """
    from occupation_wage_etl_spark.operators._cache import cached

    rows = cached(
        df.select(
            F.col(test_col).alias("__t"),
            F.col(p_col).cast("double").alias("__p"),
        ).filter(F.col("__p").isNotNull())
    )
    hist = rows.groupBy("__p").agg(F.count(F.lit(1)).alias("__cnt"))
    cum, totals = prefix_scan(
        hist, ["__p"], {"__rank": ("sum", F.col("__cnt"))}, inclusive=True
    )
    m = totals.select(F.col("__rank_total").alias("__m"))
    # crossing iff p <= rank*alpha/m  <=>  p*m*den <= rank*num
    crossed = (
        cum.crossJoin(F.broadcast(m))
        .select(
            "__p",
            "__rank",
            (
                F.col("__p") * F.col("__m").cast("double") * F.lit(
                    float(alpha_den)
                )
                <= F.col("__rank").cast("double") * F.lit(float(alpha_num))
            ).alias("__cross"),
        )
    )
    pstar = crossed.agg(
        F.max(F.when(F.col("__cross"), F.col("__p"))).alias("__pstar")
    )
    ranks = crossed.select("__p", "__rank")
    return (
        rows.join(F.broadcast(ranks), "__p")
        .crossJoin(F.broadcast(pstar))
        .select(
            F.col("__t").alias(test_col),
            F.col("__p").alias(p_col),
            F.col("__rank").alias("bh_rank"),
            F.when(F.col("__pstar").isNull(), F.lit(False))
            .otherwise(F.col("__p") <= F.col("__pstar"))
            .alias("rejected"),
        )
        .orderBy(p_col, test_col)
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    groups' empirical distributions — the distribution-shift metric
    with UNITS (how far mass must move, in the value's own scale),
    complementing the unitless KS/JS/PSI family:

        W₁ = ∫ |F_a(x) − F_b(x)| dx
           = Σᵢ |cumAᵢ·n_b − cumBᵢ·n_a| · (xᵢ₊₁ − xᵢ) / (n_a·n_b)

    over SORTED DISTINCT values.  Shape: the distinct-value histogram
    (one row-sized shuffle) and ONE descending exclusive
    :func:`~._scan.prefix_scan` over it.  Its MIN of the values above
    xᵢ is the neighbor xᵢ₊₁ (values are distinct), and its sums of
    the counts above xᵢ, sAᵢ = n_a − cumAᵢ and sBᵢ = n_b − cumBᵢ, give
    the CDF term as |sBᵢ·n_a − sAᵢ·n_b| (the n_a·n_b terms cancel).

    Exactness: the CDF numerator is exact int64 (common-denominator
    form, the q167 trick; products stay below 2⁵³ for n ≲ 10⁶ per
    group — beyond that lift to DECIMAL), each term rounds at 12dp and
    sums as DECIMAL(38,12) (order-independent over the value-sized
    term table — the bcubed contract, NOT a float fold), and the
    closing division is one IEEE op.  The last distinct value's
    missing neighbor contributes nothing (both CDFs are 1 there).
    Returns one row: (n_a, n_b, wasserstein).
    """
    v, g = F.col(value_col), F.col(group_col)
    h = (
        df.filter(v.isNotNull() & g.isin(group_a, group_b))
        .groupBy(v.cast("double").alias("__v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("cb"),
        )
    )
    above, totals = prefix_scan(
        h,
        [F.col("__v").desc()],
        {
            "__sa": ("sum", F.col("ca")),
            "__sb": ("sum", F.col("cb")),
            "__next": ("min", F.col("__v")),
        },
    )
    totals = totals.select(
        F.col("__sa_total").alias("n_a"), F.col("__sb_total").alias("n_b")
    )
    terms = above.crossJoin(F.broadcast(totals)).select(
        "n_a",
        "n_b",
        F.round(
            F.abs(
                F.col("__sb") * F.col("n_a") - F.col("__sa") * F.col("n_b")
            ).cast("double")
            * F.coalesce(F.col("__next") - F.col("__v"), F.lit(0.0)),
            12,
        )
        .cast("decimal(38,12)")
        .alias("__term"),
    )
    # n_a/n_b are grouping columns here; a group absent from the data
    # makes the denominator 0 — IEEE double division would emit a
    # silent NaN row, so gate the whole expression (explicit NULL says
    # "distance undefined", the same contract as the correlation /0
    # guards elsewhere in this module).
    return terms.groupBy("n_a", "n_b").agg(
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.sum("__term").cast("string").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        ).alias("wasserstein")
    )
