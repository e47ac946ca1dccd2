"""Single-pass table profiling (per-column statistics).

The reference has no profiling step — its cleaning notebook eyeballs
``df.describe()`` equivalents by hand (SURVEY.md §2.8 lists data-quality
tooling as absent).  A lake-scale engine needs a first-class profile
operator: per-column non-null/null/distinct counts and min/max, computed
in ONE scan of the table rather than one job per column.

Plan shape
----------
All per-column aggregates go into a single ``agg`` (one scan, map-side
partial aggregation, one row out), and the 1-row result is reshaped to
one row per column with ``explode(array(struct(...)))`` — a driver-free
transpose of an already-tiny row.

Scale notes
-----------
- ``exact=True`` uses ``count(DISTINCT col)`` per column.  Multiple
  distinct aggregates make Catalyst plan an Expand (input replicated
  once per distinct column) — exact but O(n_cols) shuffle volume.
- ``exact=False`` swaps in ``approx_count_distinct`` (HyperLogLog++),
  which folds into the same single hash-aggregate as the other stats:
  one pass, no Expand, constant memory.  That is the 100 TB path; the
  exact path exists to be oracle-checkable.
"""

from __future__ import annotations

import math

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_numeric(
    df: DataFrame, columns: Sequence[str], *, exact: bool = True
) -> DataFrame:
    """Profile numeric ``columns`` in one scan.

    Returns one row per column:
    ``(column_name, n_nonnull, n_null, n_distinct, min_value, max_value)``
    with min/max cast to double (engine-portable comparison semantics).
    """
    if not columns:
        raise ValueError("profile_numeric needs at least one column")
    total = F.count(F.lit(1)).alias("_total")
    aggs = [total]
    for i, name in enumerate(columns):
        col = F.col(name).cast("double")
        distinct = (
            F.countDistinct(col) if exact else F.approx_count_distinct(col)
        )
        aggs += [
            F.count(col).alias(f"_nn{i}"),
            distinct.alias(f"_nd{i}"),
            F.min(col).alias(f"_mn{i}"),
            F.max(col).alias(f"_mx{i}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"_nn{i}").alias("n_nonnull"),
            (F.col("_total") - F.col(f"_nn{i}")).alias("n_null"),
            F.col(f"_nd{i}").alias("n_distinct"),
            F.col(f"_mn{i}").alias("min_value"),
            F.col(f"_mx{i}").alias("max_value"),
        )
        for i, name in enumerate(columns)
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def group_drift(
    old: DataFrame,
    new: DataFrame,
    group_col: str,
    value_col: str,
    abs_threshold: float,
) -> DataFrame:
    """Per-group distribution drift between two snapshots — the
    monitoring counterpart of ``operators.cdc.snapshot_diff`` (that one
    asks "which rows changed", this one asks "did the DATA change
    shape").  A re-scrape that silently drops a segment or shifts a
    unit shows up here before it poisons downstream consumers.

    Compares per-group row count and mean of ``value_col``; means come
    from exact decimal sums (order/partition/layout-independent — the
    q49 rule), so equal data produces bit-equal zero deltas on any
    engine.  One aggregate per side (map-side combined, ~#groups rows)
    + one tiny join: nothing scales with row count but the scans.

    Output per group present on either side: (group, n_old, n_new,
    mean_old, mean_new, mean_delta, drifted) — NULL means for an absent
    side, which always flags ``drifted``.
    """

    def summarize(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col(group_col).alias("g")).agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            (
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias(f"mean_{tag}"),
        )

    o, n = summarize(old, "old"), summarize(new, "new")
    joined = o.join(n, "g", "full_outer")
    delta = F.col("mean_new") - F.col("mean_old")
    return joined.select(
        F.col("g").alias(group_col),
        F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        "mean_old",
        "mean_new",
        delta.alias("mean_delta"),
        (
            F.col("mean_old").isNull()
            | F.col("mean_new").isNull()
            | (F.abs(delta) > F.lit(abs_threshold))
        ).alias("drifted"),
    )


# First-digit probabilities under Benford's law, precomputed ONCE in
# Python (log10(1 + 1/d)) and embedded as literals on BOTH engines —
# never recomputed engine-side, so the chi-square tree is identical
# everywhere.
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_deviation(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Benford's-law first-digit drift per group: observed first-digit
    counts vs the log10(1+1/d) expectation, scored with a chi-square
    statistic — the classic fabricated/synthetic-numbers smell test for
    financial columns (and a drift monitor for generated data).

    Requires ``value_col`` ≥ 1 (first digit via the integer part's
    decimal string — pure integer/string ops, no log10 at runtime).
    Plan: ONE hash aggregate with 9 conditional sums + n; chi² is a
    fixed-order 9-term double tree over exact integers and literal
    constants, rounded 6dp per the float-fold rule.
    """
    v = F.col(value_col)
    digit = F.substring(F.floor(v).cast("long").cast("string"), 1, 1).cast("int")
    aggs = [
        F.sum(F.when(digit == d, 1).otherwise(0)).alias(f"c{d}")
        for d in range(1, 10)
    ]
    counts = df.filter(v >= 1).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )
    nd = F.col("n").cast("double")
    chi2 = F.lit(0.0)
    for d in range(1, 10):
        exp = nd * F.lit(BENFORD_P[d])
        obs = F.col(f"c{d}").cast("double")
        chi2 = chi2 + (obs - exp) * (obs - exp) / exp
    return counts.select(
        group_col, "n", *[f"c{d}" for d in range(1, 10)],
        F.round(chi2, 6).alias("chi2"),
    )


def check_constraints(
    df: DataFrame, checks: list[tuple[str, F.Column]]
) -> DataFrame:
    """Deequ-style declarative data-quality suite: every check is a
    named integer-valued aggregate (violation count, null count, dup
    count …), all computed in ONE scan / one hash-aggregate row, then
    transposed to (check, value) rows engine-side (a literal ``stack``
    over the 1-row result — no driver round-trip, no second scan).

    Convention: value 0 == pass for violation-style checks, so a suite
    passes iff ``max(value) = 0`` over the violation subset.
    """
    one = df.agg(
        *[c.cast("long").alias(name) for name, c in checks]
    )
    n = len(checks)
    pairs = ", ".join(f"'{name}', {name}" for name, _ in checks)
    return one.selectExpr(f"stack({n}, {pairs}) AS (check_name, value)")


def js_divergence_tokens(
    df: DataFrame,
    text_col: str,
    slice_expr,
    min_count: int = 1,
) -> DataFrame:
    """Jensen-Shannon divergence between the token distributions of two
    corpus slices (``slice_expr`` boolean column: True side vs False
    side) — the standard symmetric, bounded [0, ln 2] distribution-shift
    readout for corpus slices (new crawl vs old, source A vs B).

    JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2, in nats.  Per shared-vocab
    token the two terms are ``½·p·ln(2p/(p+q)) + ½·q·ln(2q/(p+q))``
    with p, q exact integer-count ratios; a zero side contributes
    ``½·q·ln 2`` (the 0·ln 0 = 0 limit).  Terms are summed with the
    sorted-fold trick (collect → array_sort → sequential fold), so the
    float total is bit-identical in any engine — same policy as the
    mutual-information operator.

    Scale: one explode+hash-aggregate over (slice, token) — the only
    row-sized stage; the fold runs over VOCAB-sized data.  Returns one
    row (vocab_size, n_tokens_a, n_tokens_b, jsd).
    """
    from occupation_wage_etl_spark.functions import text as T

    tok = df.select(
        slice_expr.cast("int").alias("__sl"),
        F.explode(T.tokens(F.col(text_col))).alias("__t"),
    ).filter(F.col("__t") != "")
    counts = (
        tok.groupBy("__t")
        .agg(
            F.sum(F.when(F.col("__sl") == 1, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("__sl") == 0, 1).otherwise(0)).alias("cb"),
        )
        .filter(F.col("ca") + F.col("cb") >= min_count)
    )
    tot = counts.agg(
        F.sum("ca").alias("__ta"), F.sum("cb").alias("__tb")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("ca").cast("double") / F.col("__ta").cast("double")
    q = F.col("cb").cast("double") / F.col("__tb").cast("double")
    # per-term round at 12dp: ln() differs between the JVM and C
    # libraries in the last ULP (observed on real terms), so the raw
    # doubles are not engine-portable; 1e-12 sits far above the ULP
    # divergence and far below the smallest meaningful term.  Both
    # engines' round(x, 12) produce the identical double (verified on
    # the divergent term), so the folded sum is bit-identical.
    term = F.round(
        F.when(
            F.col("ca") > 0,
            F.lit(0.5) * p * F.log(F.lit(2.0) * p / (p + q)),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("cb") > 0,
            F.lit(0.5) * q * F.log(F.lit(2.0) * q / (p + q)),
        ).otherwise(F.lit(0.0)),
        12,
    )
    per_tok = j.select(
        F.struct(F.col("__t").alias("t"), term.alias("v")).alias("s"),
        "ca",
        "cb",
    )
    return per_tok.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("ca").alias("n_tokens_a"),
        F.sum("cb").alias("n_tokens_b"),
        F.aggregate(
            F.array_sort(F.collect_list("s")),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        ).alias("jsd"),
    )


def psi(
    old: DataFrame,
    new: DataFrame,
    bucket_col,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    feature pre-bucketed by ``bucket_col`` (a deterministic integer
    bucketing expression, e.g. ``floor(price / 10000)``) — the industry
    drift gate (rule of thumb: PSI < 0.1 stable, > 0.25 shifted).

    PSI = Σ_buckets (p_i - q_i) · ln(p_i / q_i) with p, q the bucket
    shares in old/new.  Buckets present in only ONE snapshot have an
    undefined term (ln 0); the standard epsilon fudge is
    engine-ambiguous, so such buckets are EXCLUDED from the sum and
    COUNTED in the output instead — callers widen buckets if the count
    is non-zero.  Shares are exact integer ratios; terms are summed
    with the sorted-fold trick (bit-identical cross-engine).

    Two hash aggregates + a bucket-keyed outer join on bucket-sized
    data.  Returns one row
    (n_buckets_shared, n_buckets_old_only, n_buckets_new_only, psi).
    """
    oc = old.select(bucket_col.alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("co")
    )
    nc = new.select(bucket_col.alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("cn")
    )
    both = oc.join(nc, "b", "full_outer")
    tot = both.agg(
        F.sum("co").alias("__to"), F.sum("cn").alias("__tn")
    )
    j = both.crossJoin(F.broadcast(tot))
    p = F.col("co").cast("double") / F.col("__to").cast("double")
    q = F.col("cn").cast("double") / F.col("__tn").cast("double")
    shared = F.col("co").isNotNull() & F.col("cn").isNotNull()
    per_bucket = j.select(
        shared.alias("sh"),
        F.col("co").isNotNull().alias("has_o"),
        F.col("cn").isNotNull().alias("has_n"),
        F.when(shared, F.struct(F.col("b").alias("b"),
                                F.round((p - q) * F.log(p / q), 12)
                                .alias("v"))).alias("s"),
    )
    return per_bucket.agg(
        F.sum(F.when(F.col("sh"), 1).otherwise(0)).alias("n_buckets_shared"),
        F.sum(F.when(F.col("has_o") & ~F.col("sh"), 1).otherwise(0)).alias(
            "n_buckets_old_only"
        ),
        F.sum(F.when(F.col("has_n") & ~F.col("sh"), 1).otherwise(0)).alias(
            "n_buckets_new_only"
        ),
        F.aggregate(
            F.array_sort(F.collect_list("s")),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        ).alias("psi"),
    )


def gini_token_frequencies(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Gini coefficient of the token-TYPE frequency distribution — the
    single-number corpus-diversity readout (0 = every type equally
    frequent, →1 = a few types dominate; natural corpora sit ~0.8-0.95,
    template/boilerplate floods push higher).

    Exact rank-weighted identity over the FREQUENCY histogram
    (#types per frequency — far smaller than the vocab): a run of
    ``cnt`` types sharing frequency ``x`` after ``cumb`` lower-ranked
    types contributes ranks ``cumb+1 .. cumb+cnt``, so

        2·S = Σ_runs x · cnt · (2·cumb + cnt + 1)
        gini = (2·S − (n+1)·T) / (n·T)

    with n = #types, T = total tokens — every term an exact integer
    (DECIMAL(38,0) products; x·cnt·cumb reaches ~1e30 at corpus scale),
    one closing IEEE division.  The rank prefix ``cumb`` comes from the
    distributed prefix scan (``_scan.prefix_scan``), so no
    global-order window anywhere.  Returns one row
    (n_types, n_tokens, gini).
    """
    from occupation_wage_etl_spark.functions import text as T
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    types = (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    fhist = types.groupBy(F.col("__f").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked, _ = prefix_scan(fhist, ["x"], {"__cumb": ("sum", F.col("cnt"))})
    d = lambda c: c.cast("decimal(38,0)")
    agg = ranked.agg(
        F.sum("cnt").alias("n_types"),
        F.sum(d(F.col("x")) * d(F.col("cnt"))).alias("__T"),
        F.sum(
            d(F.col("x"))
            * d(F.col("cnt"))
            * (F.lit(2) * d(F.col("__cumb")) + d(F.col("cnt")) + F.lit(1))
        ).alias("__twoS"),
    )
    n = d(F.col("n_types"))
    T_, twoS = F.col("__T"), F.col("__twoS")
    # decimal -> double via STRING on both factors: numerator/denominator
    # exceed 2^53 at corpus scale, and Spark's direct decimal->double
    # cast rounds via the shortest string while DuckDB's HUGEINT->double
    # rounds the binary value — the string route is correctly rounded
    # from the exact integer in both engines (q49/grouped_zscore rule).
    dbl = lambda c: c.cast("string").cast("double")
    gini = dbl(twoS - (n + 1) * T_) / dbl(n * T_)
    return agg.select(
        F.col("n_types"),
        T_.cast("long").alias("n_tokens"),
        gini.alias("gini"),
    )


def chao1_vocab_richness(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Chao1 estimate of TOTAL vocabulary size (observed + unseen) from
    the singleton/doubleton type counts — "how much vocab would more
    data reveal?", the coverage readout for corpus-growth decisions.

    Bias-corrected Chao1 (defined for f2 = 0):

        chao1 = D + f1·(f1−1) / (2·(f2+1))

    with D observed types, f1 singleton types, f2 doubleton types —
    integer counts off the same frequency histogram as the Gini
    operator, one exact closing division.  Returns one row
    (n_types, f1, f2, chao1).
    """
    from occupation_wage_etl_spark.functions import text as T

    types = (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    agg = types.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__f") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__f") == 2).cast("long")).alias("f2"),
    )
    f1, f2 = F.col("f1"), F.col("f2")
    # f1·(f1−1) exceeds BIGINT once singletons pass ~3e9: exact decimal
    # product, then the string-route double conversion (see gini note)
    num = (f1.cast("decimal(38,0)") * (f1 - 1).cast("decimal(38,0)"))
    chao1 = (
        F.col("n_types").cast("double")
        + num.cast("string").cast("double")
        / (F.lit(2) * (f2 + 1)).cast("double")
    )
    return agg.select("n_types", "f1", "f2", chao1.alias("chao1"))
