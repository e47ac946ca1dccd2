"""Deterministic, oracle-replayable sketches: HyperLogLog and Count-Min.

Spark ships engine-specific sketches (``approx_count_distinct``'s
HLL++, datasketches functions) whose internals can't be replayed by
another engine — fine for production estimates (bench path x47), but
invisible to this repo's cross-engine correctness gate.  These two
operators implement the CLASSIC sketch constructions from md5-derived
hashes, so a DuckDB oracle reproduces every register/counter and the
final estimate BIT-FOR-BIT:

- :func:`hll_distinct` — Flajolet et al. 2007 HyperLogLog: 2^b
  registers keyed by the hash's top bits, register value = position of
  the first 1-bit in the remaining window.  The harmonic-mean step sums
  ``2^-rho`` terms — dyadic rationals whose float sums are EXACT in
  any order, so the estimate needs no rounding (only the small-range
  ``ln`` correction rounds, 6dp).
- :func:`cms_heavy_hitters` — Cormode & Muthukrishnan 2005 Count-Min:
  ``depth`` independent hash rows of ``width`` counters; a point query
  reads the MINIMUM across rows (overestimates only).  Pure integer
  arithmetic end-to-end.

Both are one hash-aggregate pipelines over the token stream: the
sketch state (2^b registers, depth×width counters) is constant-size
regardless of input — the 100 TB property that makes sketches worth
having.  Reference analogue: none (training-data extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _h60(col: F.Column, salt: str = "") -> F.Column:
    """60-bit non-negative BIGINT from md5 — 15 hex chars keeps the
    value positive in both engines (16 would hit the BIGINT sign bit)."""
    prefixed = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(prefixed), 1, 15), 16, 10).cast("long")


def hll_distinct(
    df: DataFrame,
    value_col,
    b: int = 8,
) -> DataFrame:
    """HyperLogLog distinct-count estimate of ``value_col`` with
    ``m = 2^b`` registers (default 256 → ~6.5% standard error).

    Register index = top ``b`` bits of the 60-bit md5 hash; rho =
    position of the first 1-bit in the remaining ``60-b`` bits (the
    all-zero window maps to ``60-b+1``).  One hash aggregate
    ``groupBy(register).max(rho)`` — m rows out, constant memory.

    Estimate: ``E = alpha_m · m² / Σ_j 2^(−M_j)`` (absent registers
    contribute 2^0 = 1), with the standard small-range correction
    ``E* = m·ln(m/V)`` when ``E ≤ 2.5m`` and V (= empty registers) > 0.
    Every ``2^-rho`` term is a dyadic rational — float addition of
    these is exact in any order, so ``raw_estimate`` is deterministic
    without rounding; the correction's ``ln`` rounds at 6dp (the
    cross-engine libm guard).  ``alpha_m`` is a Python-computed literal
    (identical parse in any engine).

    Returns one row (m, n_empty_registers, raw_estimate, estimate).
    """
    m = 1 << b
    window = 60 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = _h60(value_col.cast("string"), salt="hll:")
    reg = F.shiftright(h, window).bitwiseAND(F.lit(m - 1))
    w = h.bitwiseAND(F.lit((1 << window) - 1))
    # msb position via the binary-string length (conv drops leading
    # zeros in both engines); w = 0 → rho = window + 1
    rho = F.when(
        w == 0, F.lit(window + 1)
    ).otherwise(F.lit(window) - F.length(F.conv(w, 10, 2)) + 1)
    regs = (
        df.filter(value_col.isNotNull())
        .select(reg.alias("__reg"), rho.alias("__rho"))
        .groupBy("__reg")
        .agg(F.max("__rho").alias("__M"))
    )
    # 2^-M as an exact double: 1 / (1 << M) — integer shift + one exact
    # power-of-two division (pow() may go through exp/log and drift)
    inv = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(__M AS INT)) AS DOUBLE)"
    )
    agg = regs.agg(
        F.count(F.lit(1)).alias("__present"),
        F.sum(inv).alias("__sum_present"),
    )
    present = F.col("__present")
    sum_inv = F.col("__sum_present") + (F.lit(m) - present).cast("double")
    raw = F.lit(alpha * m * m) / sum_inv
    empty = (F.lit(m) - present).cast("long")
    corrected = F.round(
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double")), 6
    )
    return agg.select(
        F.lit(m).alias("m"),
        empty.alias("n_empty_registers"),
        raw.alias("raw_estimate"),
        F.when((raw <= F.lit(2.5 * m)) & (empty > 0), corrected)
        .otherwise(raw)
        .alias("estimate"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col,
    k: int = 10,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min point estimates for the ``k`` most frequent values,
    reported against their true counts — the audit form of the sketch
    (how much do ``depth``×``width`` counters overestimate THIS
    corpus's heavy hitters?).

    Sketch build: each row increments one counter per hash row —
    ``depth`` deterministic md5 hashes mod ``width``; implemented as a
    value-histogram first (one row-sized shuffle), then the
    depth-explode and counter aggregate run on TYPE-sized data.  Point
    query: min over the value's ``depth`` counters — upward-biased
    only.  All integers; top-k ties break value-ascending.

    Returns k rows (value, true_count, cms_estimate), ordered by
    (true_count desc, value asc).
    """
    counts = (
        df.filter(value_col.isNotNull())
        .groupBy(value_col.cast("string").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    from occupation_wage_etl_spark.operators._cache import cached

    counts = cached(counts)  # feeds counters, and top-k probe
    buckets = counts.select(
        "__v",
        "__c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (_h60(F.col("__v"), salt=f"cms{d}:") % width).alias(
                            "bkt"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__b"),
    ).select("__v", "__c", "__b.d", "__b.bkt")
    counters = buckets.groupBy("d", "bkt").agg(F.sum("__c").alias("ctr"))
    top = (
        counts.orderBy(F.desc("__c"), F.asc("__v"))
        .limit(k)
        .select("__v", F.col("__c").alias("true_count"))
    )
    probe = top.select(
        "__v",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (_h60(F.col("__v"), salt=f"cms{d}:") % width).alias(
                            "bkt"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__b"),
    ).select("__v", "true_count", "__b.d", "__b.bkt")
    est = (
        probe.join(counters, ["d", "bkt"])
        .groupBy(F.col("__v").alias("value"), "true_count")
        .agg(F.min("ctr").alias("cms_estimate"))
    )
    return est.orderBy(F.desc("true_count"), F.asc("value"))


def theta_overlap(
    df: DataFrame,
    set_col: str,
    value_col,
    set_a: str,
    set_b: str,
    theta_bits: int = 8,
) -> DataFrame:
    """Fixed-threshold theta sketch (the KMV/bottom-k idea with a FIXED
    sampling threshold) estimating distinct counts, union, intersection
    and Jaccard between two sets' values — "how much token vocabulary
    do two corpus slices share" without materializing either
    vocabulary.

    Every distinct value whose 60-bit md5 hash falls below
    ``theta = 2^(60 - theta_bits)`` is kept — an exactly-replayable
    1/2^theta_bits uniform sample of the DISTINCT domain.  Estimates
    are kept-counts scaled by ``2^theta_bits``; Jaccard is the exact
    integer ratio of kept-intersection to kept-union.  Unlike a
    bottom-k sketch there is no per-set global sort or collect: the
    plan is filter → distinct (hash aggregate) → one self-equi-join on
    the kept hashes — every stage distributed, sketch size
    ~distinct/2^theta_bits rows.

    All-integer until three closing divisions.  Returns one row:
    (kept_a, kept_b, kept_union, kept_inter, est_a, est_b, est_union,
    est_inter, jaccard_est).
    """
    scale = 2**theta_bits
    theta = 2 ** (60 - theta_bits)
    s, v = F.col(set_col), F.col(value_col)
    kept = (
        df.filter(s.isin(set_a, set_b) & v.isNotNull())
        .select(
            (s == set_a).alias("in_a"),
            _h60(v.cast("string"), salt="th#").alias("h"),
        )
        .filter(F.col("h") < theta)
        .groupBy("h")
        .agg(
            F.max(F.when(F.col("in_a"), 1).otherwise(0)).alias("a"),
            F.max(F.when(~F.col("in_a"), 1).otherwise(0)).alias("b"),
        )
    )
    agg = kept.agg(
        F.sum("a").alias("kept_a"),
        F.sum("b").alias("kept_b"),
        F.count(F.lit(1)).alias("kept_union"),
        F.sum(F.col("a") * F.col("b")).alias("kept_inter"),
    )
    return agg.select(
        "kept_a",
        "kept_b",
        "kept_union",
        "kept_inter",
        (F.col("kept_a") * scale).alias("est_a"),
        (F.col("kept_b") * scale).alias("est_b"),
        (F.col("kept_union") * scale).alias("est_union"),
        (F.col("kept_inter") * scale).alias("est_inter"),
        F.when(
            F.col("kept_union") > 0,
            F.col("kept_inter").cast("double")
            / F.col("kept_union").cast("double"),
        ).alias("jaccard_est"),
    )


def quantile_sketch(
    df: DataFrame,
    value_col,
    key_col,
    quantiles: dict[str, float],
    level_bits: int = 6,
) -> DataFrame:
    """Mergeable quantile sketch in the KLL/MRL compactor family, made
    deterministic and oracle-replayable the same way this module's
    HLL/CMS/theta constructions are: the random coin is replaced by an
    md5-derived hash predicate.

    A KLL compactor at level L retains each item with probability
    2^-L and weight 2^L; here every row is retained iff
    ``h60(key) % 2^level_bits == 0`` — a FIXED single compaction level,
    so all kept rows share one weight and the rank estimator collapses
    to the exact interpolated quantile OF THE KEPT SAMPLE (computed
    distributedly on the histogram prefix scan —
    :func:`~occupation_wage_etl_spark.operators.stats
    .percentiles_from_histogram` — never collected).  What the fixed
    level trades away vs adaptive KLL is the O(1/k) worst-case rank
    guarantee; what it buys is the property every sketch in this module
    is built around: DuckDB replays the construction BIT-FOR-BIT.

    Mergeability (the 100 TB property): the kept set is union-closed —
    ``sketch(A ∪ B) = sketch(A) ∪ sketch(B)`` at the same level, and
    re-leveling to a coarser ``level_bits + c`` is just re-applying the
    hash predicate to the kept rows (deterministic subsampling), so
    per-partition / per-day sketches combine with no information about
    each other.  Retained size is ~n / 2^level_bits rows, distributed.
    Standard Bernoulli bound: rank error is O(sqrt(2^level_bits · n))
    absolute, i.e. the estimate's rank is within ~sqrt(2^L / n)
    relative rank of the target with high probability.

    Audit form (the cms_heavy_hitters contract): returns one row per
    requested quantile — (qname, q, n_total, n_kept, est_value,
    exact_value, abs_error) ordered by q — estimate AND exact side by
    side, so the error the sketch actually commits on THIS corpus is a
    first-class, oracle-checked result.
    """
    from occupation_wage_etl_spark.operators._cache import cached
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    m = 1 << level_bits
    rows = df.filter(value_col.isNotNull()).select(
        value_col.cast("double").alias("__v"),
        (_h60(key_col.cast("string"), salt="kq:") % m == 0)
        .cast("long")
        .alias("__keep"),
    )
    # ONE histogram pass carries both tiers (guide §2.3 aggregate-
    # before-shuffle, §2.4): per distinct value, the total count and
    # the kept-sample count.  The previous shape ran two independent
    # grouped_exact_percentiles pipelines — two full scans, two
    # histogram shuffles, two range-repartitions (each with its own
    # sampling pass), two prefix-sum window chains — to produce
    # rank tables over what is ONE value histogram.  Everything below
    # (both cumulative sums, both bracket lookups, the audit counts)
    # reads one cached cumulative table.  Results are
    # row-identical: the est tier's histogram is exactly the
    # cnt_kept > 0 slice, and a cnt_kept = 0 row can never satisfy
    # ``cum ≥ r AND cum − cnt < r``, so it self-excludes from the
    # kept-tier bracketing.
    hist = rows.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__ca"),
        F.sum("__keep").alias("__ck"),
    )
    cum, _ = prefix_scan(
        hist,
        ["__v"],
        {"__cuma": ("sum", F.col("__ca")), "__cumk": ("sum", F.col("__ck"))},
        inclusive=True,
    )
    cum = cached(cum)
    # coalesce: SUM over an empty histogram is NULL, but the previous
    # COUNT-based shape (and the oracle's count(*)) return 0 on an empty
    # events table — keep that contract.
    counts = cum.agg(
        F.coalesce(F.sum("__ca"), F.lit(0).cast("long")).alias("n_total"),
        F.coalesce(F.sum("__ck"), F.lit(0).cast("long")).alias("n_kept"),
    )

    def _tier(n_col: str, cnt_c: str, cum_c: str) -> DataFrame:
        """Bracket + interpolate one tier's percentiles from the shared
        cum table — percentiles_from_histogram's exact rank semantics
        ((n−1)·p positions, floor/ceil bracket ranks, frac==0 returns
        lo_val) over (cnt_c, cum_c)."""
        n = F.col(n_col)

        def pos(p: float):
            return (n - 1) * F.lit(p)

        wanted = counts.select(
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
                        for name, p in quantiles.items()
                    ]
                )
            ).alias("q")
        ).select("q.*")
        covers = (
            lambda rank: (F.col(cum_c) >= rank)
            & (F.col(cum_c) - F.col(cnt_c) < rank)
        )
        j = cum.join(
            F.broadcast(wanted),
            covers(F.col("lo_rank")) | covers(F.col("hi_rank")),
        )
        vals = j.groupBy("qname").agg(
            F.max(
                F.when(covers(F.col("lo_rank")), F.col("__v"))
            ).alias("lo_val"),
            F.max(
                F.when(covers(F.col("hi_rank")), F.col("__v"))
            ).alias("hi_val"),
            F.first("frac").alias("frac"),
            F.first("inv_frac").alias("inv_frac"),
        )
        interpolated = vals.select(
            "qname",
            F.when(F.col("frac") == 0.0, F.col("lo_val"))
            .otherwise(
                F.col("inv_frac") * F.col("lo_val")
                + F.col("frac") * F.col("hi_val")
            )
            .alias("qval"),
        )
        return interpolated.groupBy().agg(
            *[
                F.max(
                    F.when(F.col("qname") == name, F.col("qval"))
                ).alias(name)
                for name in quantiles
            ]
        )

    est = _tier("n_kept", "__ck", "__cumk")
    exact = _tier("n_total", "__ca", "__cuma")

    est_r = est.select(*[F.col(n).alias(f"__e_{n}") for n in quantiles])
    ex_r = exact.select(*[F.col(n).alias(f"__x_{n}") for n in quantiles])
    wide = (
        est_r.crossJoin(F.broadcast(ex_r)).crossJoin(F.broadcast(counts))
    )
    long = wide.select(
        "n_total",
        "n_kept",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("qname"),
                        F.lit(float(p)).alias("q"),
                        F.col(f"__e_{name}").alias("est_value"),
                        F.col(f"__x_{name}").alias("exact_value"),
                    )
                    for name, p in quantiles.items()
                ]
            )
        ).alias("__s"),
    ).select("__s.qname", "__s.q", "n_total", "n_kept", "__s.est_value",
             "__s.exact_value")
    return long.select(
        "qname",
        "q",
        "n_total",
        "n_kept",
        "est_value",
        "exact_value",
        F.abs(F.col("est_value") - F.col("exact_value")).alias("abs_error"),
    ).orderBy("q")


def grouped_hll_distinct(
    df: DataFrame,
    group_col: str,
    value_col,
    b: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct estimates, audited against the
    per-group EXACT distinct count — the grouped form of
    :func:`hll_distinct` (same md5 registers, harmonic mean, and
    small-range correction; see that docstring for the float-exactness
    argument).

    The grouped sketch is the MERGEABLE per-slice state a 100 TB
    vocabulary dashboard actually stores: register maxima combine
    across partitions/days by ``max`` (union = max per register), and
    the whole computation is one ``groupBy(group, register).max(rho)``
    hash-aggregate — m rows per group, no row-sized state.

    Returns one row per group: (group, m, n_empty_registers, estimate,
    exact_distinct, rel_error), ordered by group.
    """
    m = 1 << b
    window = 60 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    g = F.col(group_col)
    # hash expressions are built over the RENAMED __v column (the
    # cached base below), not the caller's column reference
    h = _h60(F.col("__v"), salt="hll:")
    reg = F.shiftright(h, window).bitwiseAND(F.lit(m - 1))
    w = h.bitwiseAND(F.lit((1 << window) - 1))
    rho = F.when(
        w == 0, F.lit(window + 1)
    ).otherwise(F.lit(window) - F.length(F.conv(w, 10, 2)) + 1)

    from occupation_wage_etl_spark.operators._cache import cached

    base = cached(
        df.filter(value_col.isNotNull() & g.isNotNull()).select(
            g.alias("__g"), value_col.cast("string").alias("__v")
        )
    )
    regs = (
        base.select(
            "__g",
            reg.alias("__reg"),
            rho.alias("__rho"),
        )
        .groupBy("__g", "__reg")
        .agg(F.max("__rho").alias("__M"))
    )
    inv = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(__M AS INT)) AS DOUBLE)"
    )
    agg = regs.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__present"),
        F.sum(inv).alias("__sum_present"),
    )
    present = F.col("__present")
    sum_inv = F.col("__sum_present") + (F.lit(m) - present).cast("double")
    raw = F.lit(alpha * m * m) / sum_inv
    empty = (F.lit(m) - present).cast("long")
    corrected = F.round(
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double")), 6
    )
    est = agg.select(
        "__g",
        F.lit(m).alias("m"),
        empty.alias("n_empty_registers"),
        F.when((raw <= F.lit(2.5 * m)) & (empty > 0), corrected)
        .otherwise(raw)
        .alias("estimate"),
    )
    exact = base.groupBy("__g").agg(
        F.count_distinct(F.col("__v")).alias("exact_distinct")
    )
    return (
        est.join(exact, "__g")
        .select(
            F.col("__g").alias(group_col),
            "m",
            "n_empty_registers",
            "estimate",
            "exact_distinct",
            (
                (F.col("estimate") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_error"),
        )
        .orderBy(group_col)
    )
