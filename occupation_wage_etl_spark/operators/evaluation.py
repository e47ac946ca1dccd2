"""Model-quality evaluation operators: exact ROC-AUC and calibration.

A training-data pipeline that learns quality filters (the hashed-linear
classifier in ``operators/curation.py``, heuristic scores in
``functions/text.py``) needs to EVALUATE them at corpus scale: AUC
against a labeled slice, calibration (does score 0.8 mean 80%?).  Both
operators are exact and engine-portable:

- AUC uses the rank-sum (Mann-Whitney U) identity with AVERAGE ranks
  over score ties, kept in integer arithmetic until one final double
  division — bit-identical in any engine, any partition order.
- Calibration bins are exact-rank deciles (integer bucket math, never
  an IEEE ``ntile`` surprise); per-bin mean score sums 6dp-rounded
  scores as DECIMAL (order-independent exact), mean label is an
  integer ratio.

Both rank through :func:`operators._scan.prefix_scan`.

Reference analogue: none (the reference has no model evaluation);
training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._cache import cached
from occupation_wage_etl_spark.operators._scan import prefix_scan


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` ranking ``label_col`` (0/1).

    Rank-sum identity: ``AUC = (R_pos - P(P+1)/2) / (P*N)`` with
    ``R_pos`` the sum of positives' ranks under ascending score,
    average-rank tie handling (the exact trapezoidal ROC area).
    Computed over the per-distinct-score histogram:

        2*R_pos = sum_g p_g * (2*cum_before_g + sz_g + 1)

    — every term a BIGINT (halves cancel by carrying 2R), so the single
    closing division ``(2R - P(P+1)) / (2PN)`` is the only float op.

    Scale shape: one hash aggregate to distinct scores, then
    :func:`~._scan.prefix_scan` for each score's cumulative-before
    count.  Returns one row (n_pos, n_neg, auc).
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    g = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.sum(y).alias("p"),
            F.sum(F.lit(1) - y).alias("n"),
        )
    )
    ranked, _ = prefix_scan(
        g, ["__s"], {"__cumb": ("sum", F.col("p") + F.col("n"))}
    )
    agg = ranked.agg(
        F.sum("p").alias("P"),
        F.sum("n").alias("N"),
        F.sum(
            F.col("p")
            * (F.lit(2) * F.col("__cumb") + F.col("p") + F.col("n") + F.lit(1))
        ).alias("twoR"),
    )
    auc = (
        (F.col("twoR") - F.col("P") * (F.col("P") + 1)).cast("double")
        / (F.lit(2).cast("long") * F.col("P") * F.col("N")).cast("double")
    )
    return agg.select(
        F.col("P").alias("n_pos"),
        F.col("N").alias("n_neg"),
        auc.alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability table: exact-rank score deciles vs observed positive
    rate — the calibration readout (a well-calibrated scorer has
    mean_score ≈ pos_rate per bin).

    Binning is integer rank math — ``bin = (rank-1)*bins div total``
    over (score, id)-ordered ranks — so bins have deterministic
    membership and near-equal sizes with no IEEE boundary surprises.
    The rank comes from :func:`~._scan.prefix_scan` (``rank-1`` = rows
    strictly before under the (score, id) total order).
    ``mean_score`` sums the 6dp-rounded scores as DECIMAL(18,6)
    (6dp doubles are exactly representable → order-independent exact
    sum); ``pos_rate`` is an integer ratio.

    Returns (bin, n_rows, n_pos, pos_rate, mean_score), bin 0-based.
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"), y.alias("__y"), F.col(id_col).alias("__id")
    )
    ranked, total = prefix_scan(
        base, ["__s", "__id"], {"__cumb": ("sum", F.lit(1))}
    )
    binned = ranked.crossJoin(F.broadcast(total)).select(
        "__s",
        "__y",
        F.expr(f"(__cumb * {bins}) div __cumb_total").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__y").alias("n_pos"),
            (
                F.sum("__y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("pos_rate"),
            (
                F.sum(F.round(F.col("__s"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_score"),
        )
        .orderBy("bin")
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    scale: int = 10**12,
) -> DataFrame:
    """Exact fixed-point average precision (PR-AUC, the step-function
    definition): ``AP = Σ_thresholds (ΔTP/P) · precision@threshold``
    with one threshold per DISTINCT score (all ties enter together —
    the standard convention).  The skew-robust companion to
    :func:`roc_auc` for rare-positive corpora (AUC stays high when
    positives are 0.1%; AP collapses — which is the point).

    Engine-portability: each threshold's term is the exact rational
    ``p_g·TP_g / (P·(TP_g+FP_g))``; floats would make the SUM
    partition-order-dependent, so every term is floor-quantized to
    ``1/scale`` units IN INTEGER ARITHMETIC —
    ``(p_g·TP_g·scale) div (P·(TP_g+FP_g))`` as DECIMAL(38,0)
    (products reach ~1e36 at corpus scale; BIGINT would overflow,
    HUGEINT mirrors it in the oracle) — and the integer sum divides by
    ``scale`` once at the end.  Quantization error is < #distinct/1e12:
    absorbed by the definition ("12-decimal fixed-point AP"), and every
    intermediate is order/partition/engine independent.

    Scale shape: identical to :func:`roc_auc` — distinct-score
    histogram, one two-level distributed prefix pass (positive and
    negative cumulatives share the pass via ``extra_weights``), one
    final hash aggregate.  Returns one row (n_pos, n_neg, ap).
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    g = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.sum(y).alias("p"),
            F.sum(F.lit(1) - y).alias("n"),
        )
    )
    ranked, total = prefix_scan(
        g,
        ["__s"],
        {"__cumb": ("sum", F.col("p")), "__cumn": ("sum", F.col("n"))},
    )
    # score >= threshold g  ⇔  NOT strictly-below g:
    #   TP_g = P - cumb_p(g),  FP_g = N - cumb_n(g)
    j = ranked.crossJoin(F.broadcast(total))
    P = F.col("__cumb_total")     # total positives (weight was p)
    N = F.col("__cumn_total")
    tp = (P - F.col("__cumb")).cast("decimal(38,0)")
    fp = (N - F.col("__cumn")).cast("decimal(38,0)")
    num = F.col("p").cast("decimal(38,0)") * tp * F.lit(scale)
    den = P.cast("decimal(38,0)") * (tp + fp)
    # decimal division ROUNDS (to the result scale), which could cross
    # an integer boundary and corrupt the floor; the remainder identity
    # floor(a/b) = (a - a%b)/b stays exact on non-negative decimals
    # (decimal % is exact, the final division is integral).  den = 0
    # only when P = 0 (no positives: AP undefined -> NULL; ANSI mode
    # would otherwise raise on the modulo).
    fl = F.when(den > 0, ((num - (num % den)) / den).cast("decimal(38,0)"))
    agg = j.agg(
        F.max(P).alias("n_pos"),
        F.max(N).alias("n_neg"),
        F.sum(fl).alias("__ap_scaled"),
    )
    return agg.select(
        F.col("n_pos"),
        F.col("n_neg"),
        (F.col("__ap_scaled").cast("double") / F.lit(float(scale))).alias("ap"),
    )


def confusion_at_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float,
) -> DataFrame:
    """Confusion matrix and derived rates at ``score >= threshold`` —
    the deployment-readout companion to the threshold-free AUC/AP
    curves.  Counts are one hash aggregate; precision/recall/F1/
    accuracy are exact integer ratios (single IEEE division each, no
    rounding needed); degenerate denominators yield NULL.

    Returns one row (tp, fp, fn, tn, precision, recall, f1, accuracy).
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        (s >= F.lit(threshold)).cast("long").alias("__pred"), y.alias("__y")
    )
    c = base.agg(
        F.sum(F.col("__pred") * F.col("__y")).alias("tp"),
        F.sum(F.col("__pred") * (F.lit(1) - F.col("__y"))).alias("fp"),
        F.sum((F.lit(1) - F.col("__pred")) * F.col("__y")).alias("fn"),
        F.sum(
            (F.lit(1) - F.col("__pred")) * (F.lit(1) - F.col("__y"))
        ).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    ratio = lambda num, den: F.when(
        den > 0, num.cast("double") / den.cast("double")
    )
    return c.select(
        "tp", "fp", "fn", "tn",
        ratio(tp, tp + fp).alias("precision"),
        ratio(tp, tp + fn).alias("recall"),
        ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1"),
        ratio(tp + tn, tp + fp + fn + tn).alias("accuracy"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa between two categorical labelers (heuristic
    classifier vs gold slice, two annotation pipelines) — agreement
    corrected for chance.  With ``agree`` the count of matching rows
    and ``e = Σ_c count_a(c)·count_b(c)`` the chance-agreement mass:

        kappa = (n·agree - e) / (n² - e)

    — every term a product of counts, so the whole statistic is ONE
    integer-exact fraction evaluated in a single closing division
    (DECIMAL(38,0) products; n² reaches 1e24 at corpus scale).

    Scale shape: one hash aggregate per marginal (category-sized) plus
    one for the diagonal; the marginal join is category×category-sized.
    NULL labels on either side are excluded.  Returns one row
    (n_rows, n_agree, kappa).
    """
    a, b = F.col(rater_a_col), F.col(rater_b_col)
    base = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b")
    )
    base = cached(base)  # feeds diagonal agg + two marginals
    diag = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__a") == F.col("__b")).cast("long")).alias("agree"),
    )
    ma = base.groupBy("__a").agg(F.count(F.lit(1)).alias("ca"))
    mb = base.groupBy("__b").agg(F.count(F.lit(1)).alias("cb"))
    e = (
        ma.join(mb, ma["__a"] == mb["__b"])
        .agg(
            F.coalesce(
                F.sum(
                    F.col("ca").cast("decimal(38,0)")
                    * F.col("cb").cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("e")
        )
    )
    j = diag.crossJoin(F.broadcast(e))
    n = F.col("n").cast("decimal(38,0)")
    agree = F.col("agree").cast("decimal(38,0)")
    num = n * agree - F.col("e")
    den = n * n - F.col("e")
    # string-route decimal->double: both sides exceed 2^53 at corpus
    # scale and the direct casts round differently cross-engine
    dbl = lambda c: c.cast("string").cast("double")
    return j.select(
        F.col("n").alias("n_rows"),
        F.col("agree").alias("n_agree"),
        F.when(den > 0, dbl(num) / dbl(den)).alias("kappa"),
    )


def brier_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Brier score — mean squared error of the probability forecast
    against the 0/1 outcome, the strictly-proper scoring rule that
    punishes BOTH miscalibration and low sharpness (AUC can't see the
    former, calibration bins can't see the latter).

    Determinism without a sorted fold: scores round at 6dp and square
    as DECIMAL(18,6) — decimal subtraction/multiplication are exact, so
    the squared terms sum order-independently as DECIMAL(38,12); the
    single closing division converts via the string route.  Fully
    distributed one-aggregate plan.  Returns one row (n_rows, brier).
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    # the difference re-narrows to (18,6) — subtraction widens to
    # (19,6), and squaring THAT is precision 39 > 38, where Spark
    # silently drops the product scale to 11 (rounded products, sum
    # drift).  |score − label| ≤ 1 plus slack, so the narrow is exact.
    term = (
        F.round(s, 6).cast("decimal(18,6)")
        - y.cast("decimal(18,6)")
    ).cast("decimal(18,6)")
    agg = df.filter(s.isNotNull() & y.isNotNull()).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term * term).alias("__sq"),
    )
    return agg.select(
        "n_rows",
        (
            F.col("__sq").cast("string").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("brier"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    bins: int = 10,
) -> DataFrame:
    """ECE — the one-number summary of the :func:`calibration_bins`
    table: ``Σ_b (n_b/N) · |pos_rate_b − mean_score_b|``.  Composes the
    distributed binning operator, then folds the ≤ ``bins`` per-bin
    terms in bin order (bounded array — scale-free); every term is a
    product/difference of the bins' already-deterministic doubles, so
    the fold is bit-stable with no further rounding.

    Returns one row (bins, n_rows, ece).
    """
    tbl = calibration_bins(df, score_col, label_col, id_col, bins)
    one = tbl.agg(
        F.sum("n_rows").alias("n_rows"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("bin").alias("b"),
                    (
                        F.col("n_rows").cast("double")
                        * F.abs(F.col("pos_rate") - F.col("mean_score"))
                    ).alias("v"),
                )
            )
        ).alias("arr"),
    )
    return one.select(
        F.lit(bins).alias("bins"),
        "n_rows",
        (
            F.aggregate(
                F.col("arr"), F.lit(0.0), lambda acc, s: acc + s["v"]
            )
            / F.col("n_rows").cast("double")
        ).alias("ece"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation with AVERAGE-rank tie handling — the
    monotone-association readout for score-vs-score audits (does the
    heuristic quality score order documents like length does?) that
    Pearson gets wrong on heavy tails.

    Exactness end-to-end: a value with ``cumb`` rows strictly below and
    ``cnt`` ties has average rank ``(2·cumb + cnt + 1) / 2`` — carried
    DOUBLED as an integer (``2r``), so every moment sum
    (Σ2rx, Σ(2rx)², Σ2rx·2ry, …) is an exact DECIMAL(38,0); the halves
    cancel in the Pearson-of-ranks formula, leaving two sqrt and one
    division as the only float ops (fixed tree, string-route converts).
    Ranks come from :func:`~._scan.prefix_scan` over each variable's
    distinct-value histogram (no global window) and re-attach by value
    equi-join — the dimension-table shape.

    Returns one row (n_rows, rho); NULL rho when either side is
    constant.
    """
    x, y = F.col(x_col), F.col(y_col)
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x"), y.alias("__y")
    )
    base = cached(base)  # scanned for both rank dimensions + the join

    def ranks(col: str, out: str) -> DataFrame:
        h = base.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        ranked, _ = prefix_scan(h, [col], {"__cumb": ("sum", F.col("cnt"))})
        return ranked.select(
            F.col(col).alias(f"{out}_key"),
            (F.lit(2) * F.col("__cumb") + F.col("cnt") + F.lit(1)).alias(out),
        )

    rx, ry = ranks("__x", "__rx"), ranks("__y", "__ry")
    j = (
        base.join(rx, base["__x"] == rx["__rx_key"])
        .join(ry, base["__y"] == ry["__ry_key"])
    )
    d = lambda c: c.cast("decimal(38,0)")
    m = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(d(F.col("__rx"))).alias("sx"),
        F.sum(d(F.col("__ry"))).alias("sy"),
        F.sum(d(F.col("__rx")) * d(F.col("__rx"))).alias("sxx"),
        F.sum(d(F.col("__ry")) * d(F.col("__ry"))).alias("syy"),
        F.sum(d(F.col("__rx")) * d(F.col("__ry"))).alias("sxy"),
    )
    dbl = lambda c: c.cast("string").cast("double")
    n = F.col("n_rows").cast("decimal(38,0)")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "n_rows",
        F.when(
            (vx > 0) & (vy > 0),
            dbl(cov) / (F.sqrt(dbl(vx)) * F.sqrt(dbl(vy))),
        ).alias("rho"),
    )


def ndcg_at_k(
    ranked: DataFrame,
    rank_col: str,
    rel_col: str,
    k: int,
) -> DataFrame:
    """NDCG@k over a ranked relevance table (rank 1-based, graded
    relevance) — the retrieval-quality readout for the ANN/BM25/MMR
    stack.  ``NDCG = DCG / IDCG`` with ``DCG = Σ rel_r / log2(r+1)``
    and IDCG the same sum over relevance sorted descending.

    Engine-portability: the ``1/log2(r+1)`` discounts are PRE-COMPUTED
    Python doubles inlined as literals (engine ``log`` implementations
    differ in the last ULP; a literal parses to the identical double in
    any engine), and both sums are sequential rank-ordered folds over
    the ≤ k collected rows — bit-identical everywhere, no rounding.

    Returns one row (k, n_ranked, dcg, idcg, ndcg); ndcg NULL when no
    relevant item exists (IDCG 0).
    """
    import math

    discs = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    disc_arr = F.array(*[F.lit(d) for d in discs])
    one = (
        ranked.filter(F.col(rank_col) <= k)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(rank_col).cast("int").alias("r"),
                        F.col(rel_col).cast("double").alias("rel"),
                    )
                )
            ).alias("arr")
        )
        .select("arr", disc_arr.alias("discs"))
    )
    dcg = F.expr(
        """
        aggregate(arr, CAST(0.0 AS DOUBLE),
                  (acc, s) -> acc + s.rel * element_at(discs, s.r))
        """
    )
    idcg = F.expr(
        """
        aggregate(
          CASE WHEN size(arr) = 0 THEN array()
               ELSE sequence(1, size(arr)) END,
          CAST(0.0 AS DOUBLE),
          (acc, i) -> acc
            + element_at(array_sort(transform(arr, s -> -s.rel)), i) * -1.0
              * element_at(discs, i))
        """
    )
    return one.select(
        F.lit(k).alias("k"),
        F.size("arr").alias("n_ranked"),
        dcg.alias("dcg"),
        idcg.alias("idcg"),
        F.when(idcg > 0, dcg / idcg).alias("ndcg"),
    )


def mrr_recall_at_k(
    ranked: DataFrame,
    rank_col: str,
    rel_col: str,
    k: int,
    total_relevant: DataFrame,
) -> DataFrame:
    """Mean reciprocal rank (of the single ranked list) and recall@k:
    ``mrr = 1/rank`` of the first relevant result, ``recall_at_k`` =
    relevant results in the top k over ALL relevant items in the
    corpus (``total_relevant``: 1-row frame with column ``n_rel``).

    Both are list-sized aggregates over an already-ranked candidate
    frame (the expensive part — scoring — happened upstream);
    reciprocal rank is exact (one integer min, one division).

    Returns one row: (first_rel_rank, mrr, hits_at_k, n_rel, recall_at_k).
    """
    r, rel = F.col(rank_col), F.col(rel_col)
    agg = ranked.agg(
        F.min(F.when(rel > 0, r)).alias("first_rel_rank"),
        F.sum(
            F.when((rel > 0) & (r <= k), 1).otherwise(0)
        ).alias("hits_at_k"),
    )
    return agg.crossJoin(F.broadcast(total_relevant)).select(
        "first_rel_rank",
        F.coalesce(
            F.lit(1.0) / F.col("first_rel_rank").cast("double"),
            F.lit(0.0),
        ).alias("mrr"),
        "hits_at_k",
        "n_rel",
        F.when(
            F.col("n_rel") > 0,
            F.col("hits_at_k").cast("double")
            / F.col("n_rel").cast("double"),
        ).otherwise(F.lit(0.0)).alias("recall_at_k"),
    )


def fleiss_kappa(
    df: DataFrame,
    rater_cols: list[str],
) -> DataFrame:
    """Fleiss' kappa inter-rater agreement for m raters assigning each
    row to one of a set of categories (each ``rater_cols`` entry is one
    rater's integer category vote).

    Exact integer path: per row, per category j, ``n_ij`` = votes;
    ``Σ_i Σ_j n_ij²`` and per-category totals are BIGINT sums, so

        P̄  = (Σ n_ij² − N·m) / (N·m·(m−1))
        P̄e = Σ_j (Σ_i n_ij / (N·m))²

    and kappa = (P̄ − P̄e)/(1 − P̄e) is a handful of double ops over
    exact integers — order-independent, engine-portable.  Categories
    are discovered from the data (category-count-sized fold, sorted).

    One aggregate over the input; returns one row
    (n_rows, n_raters, p_bar, p_e, kappa).
    """
    m = len(rater_cols)
    votes = df.select(
        F.array(*[F.col(c).cast("long") for c in rater_cols]).alias(
            "__votes"
        )
    ).filter(~F.array_contains(F.transform(
        F.col("__votes"), lambda v: v.isNull()
    ), F.lit(True)))
    # per-row, per-category counts: explode votes -> (row id implicit)
    # better: per-row n_ij via array ops over the distinct categories
    cats = (
        votes.select(F.explode("__votes").alias("c"))
        .distinct()
        .orderBy("c")
    )
    cat_list = [r["c"] for r in cats.collect()]  # category-count-sized

    def _n_votes(cc):
        # single-param lambda on purpose: a 2-param lambda would be
        # called by F.filter as (element, INDEX) and shadow the capture
        return F.size(F.filter("__votes", lambda v: v == F.lit(cc)))

    nij = votes.select(
        *[
            _n_votes(c).cast("long").alias(f"__n_{i}")
            for i, c in enumerate(cat_list)
        ]
    )
    agg = nij.agg(
        F.count(F.lit(1)).alias("N"),
        F.sum(
            sum(
                (F.col(f"__n_{i}") * F.col(f"__n_{i}"))
                for i in range(len(cat_list))
            )
        ).alias("sum_sq"),
        *[
            F.sum(f"__n_{i}").alias(f"__t_{i}")
            for i in range(len(cat_list))
        ],
    )
    Nd = F.col("N").cast("double")
    md = float(m)
    p_bar = (
        (F.col("sum_sq").cast("double") - Nd * md)
        / (Nd * md * (md - 1.0))
    )
    p_e = sum(
        (
            (F.col(f"__t_{i}").cast("double") / (Nd * md))
            * (F.col(f"__t_{i}").cast("double") / (Nd * md))
        )
        for i in range(len(cat_list))
    )
    return agg.select(
        F.col("N").alias("n_rows"),
        F.lit(m).alias("n_raters"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


def mcnemar(
    df: DataFrame,
    pred_a_col: str,
    pred_b_col: str,
    label_col: str,
) -> DataFrame:
    """McNemar's test for two paired classifiers: over rows where the
    classifiers DISAGREE on correctness, ``b`` = A right / B wrong,
    ``c`` = A wrong / B right, statistic ``(b−c)²/(b+c)`` (χ², 1 dof).
    The standard "is filter B actually better than filter A" readout
    on a shared labeled slice.

    One aggregate, all-integer until the closing division.
    Returns one row: (n_rows, b_count, c_count, mcnemar_stat).
    """
    a_ok = (F.col(pred_a_col) == F.col(label_col)).cast("long")
    b_ok = (F.col(pred_b_col) == F.col(label_col)).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(a_ok * (1 - b_ok)).alias("b_count"),
        F.sum((1 - a_ok) * b_ok).alias("c_count"),
    )
    diff = F.col("b_count") - F.col("c_count")
    tot = F.col("b_count") + F.col("c_count")
    return agg.select(
        "n_rows",
        "b_count",
        "c_count",
        F.when(
            tot > 0, (diff * diff).cast("double") / tot.cast("double")
        ).alias("mcnemar_stat"),
    )


def best_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """One-pass model selection: sweep EVERY distinct score as the
    decision threshold (predict 1 iff score >= t) and return the
    accuracy-maximizing threshold with its confusion counts and F1 —
    the in-engine replacement for a driver-side grid search.

    Shape: the per-distinct-score histogram + the two-level distributed
    prefix sum gives, for each candidate threshold, the positives and
    negatives BELOW it (``__cumb`` pair) — so TP/FP/TN/FN for all
    thresholds materialize in one pass, all-integer.  The argmax picks
    (accuracy, then F1 numerator, then smallest threshold) — a total
    order, so the winner is deterministic in any engine.  No
    data-sized sort: candidates are distinct-score-sized, the argmax
    is one min(struct) aggregate.

    Returns one row: (threshold, tp, fp, tn, fn, accuracy, f1).
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    g = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.sum(y).alias("p"),
            F.sum(F.lit(1) - y).alias("n"),
        )
    )
    ranked, total = prefix_scan(
        g,
        ["__s"],
        {"__cumb": ("sum", F.col("p")), "__cumb_n": ("sum", F.col("n"))},
    )
    # totals ride on the 1-row frame: P = __cumb_total, N = __cumb_n_total
    cand = ranked.crossJoin(F.broadcast(total)).select(
        "__s",
        # predict 1 iff score >= __s: below-threshold counts are the
        # exclusive prefix sums at __s
        (F.col("__cumb_total") - F.col("__cumb")).alias("tp"),
        (F.col("__cumb_n_total") - F.col("__cumb_n")).alias("fp"),
        F.col("__cumb_n").alias("tn"),
        F.col("__cumb").alias("fn"),
    )
    # argmax by (correct count, then F1 numerator 2TP vs denominator —
    # compare as cross-multiplied integers), then smallest threshold
    pick = cand.select(
        F.struct(
            (-(F.col("tp") + F.col("tn"))).alias("neg_correct"),
            (-F.col("tp")).alias("neg_tp"),
            F.col("__s").alias("threshold"),
            F.col("tp"),
            F.col("fp"),
            F.col("tn"),
            F.col("fn"),
        ).alias("c")
    ).agg(F.min("c").alias("best"))
    b = F.col("best")
    acc = (b["tp"] + b["tn"]).cast("double") / (
        b["tp"] + b["fp"] + b["tn"] + b["fn"]
    ).cast("double")
    f1_den = (
        F.lit(2) * b["tp"] + b["fp"] + b["fn"]
    )
    return pick.select(
        b["threshold"].alias("threshold"),
        b["tp"].alias("tp"),
        b["fp"].alias("fp"),
        b["tn"].alias("tn"),
        b["fn"].alias("fn"),
        acc.alias("accuracy"),
        F.when(
            f1_den > 0,
            (F.lit(2) * b["tp"]).cast("double") / f1_den.cast("double"),
        ).otherwise(F.lit(0.0)).alias("f1"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    bins: int = 10,
) -> DataFrame:
    """Isotonic (PAVA) calibration map over exact-rank score bins —
    the monotone repair of a reliability table: the best monotone
    non-decreasing fit of observed positive rate vs score rank, the
    standard way to turn a raw quality score into a probability
    without assuming a sigmoid shape (Zadrozny & Elkan '02).

    Binning is IDENTICAL to :func:`calibration_bins` (exact-rank,
    distributed two-level prefix count — near-equal bins, no IEEE
    boundary surprises).  The fit uses the minimax characterization of
    isotonic regression (Robertson-Wright-Dykstra):

        fitted[k] = max_{i ≤ k} min_{j ≥ k}  pos(i..j) / n(i..j)

    — mathematically equal to pool-adjacent-violators, but expressible
    as pure max/min over the O(B²) contiguous segment means, so the
    DuckDB oracle can replay it without data-dependent recursion.  The
    B-row bin table is collected and the O(B³) minimax runs driver-side
    (the ``multi_ols`` parameter-sized contract; B is a config, never
    data-sized).  Segment means are IEEE divisions of exact integers
    < 2⁵³ — correctly rounded, so every compare (and the fit) is
    bit-identical in any engine.

    Returns (bin, n_rows, n_pos, pos_rate, fitted) — ``fitted`` is
    non-decreasing in ``bin`` by construction.
    """
    s, y = F.col(score_col), F.col(label_col).cast("long")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"), y.alias("__y"), F.col(id_col).alias("__id")
    )
    ranked, total = prefix_scan(
        base, ["__s", "__id"], {"__cumb": ("sum", F.lit(1))}
    )
    binned = ranked.crossJoin(F.broadcast(total)).select(
        "__y", F.expr(f"(__cumb * {int(bins)}) div __cumb_total").alias("bin")
    )
    rows = sorted(
        (
            (int(r["bin"]), int(r["n"]), int(r["p"]))
            for r in binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("p"))
            .collect()
        )
    )
    ids = [b for b, _, _ in rows]
    cn = [0]
    cp = [0]
    for _, n_k, p_k in rows:
        cn.append(cn[-1] + n_k)
        cp.append(cp[-1] + p_k)
    nb = len(rows)

    def seg_avg(i: int, j: int) -> float:  # bins i..j inclusive, 0-based
        return (cp[j + 1] - cp[i]) / (cn[j + 1] - cn[i])

    fitted = []
    for k in range(nb):
        best = None
        for i in range(k + 1):
            inner = min(seg_avg(i, j) for j in range(k, nb))
            best = inner if best is None or inner > best else best
        fitted.append(best)

    spark = df.sparkSession
    out = spark.createDataFrame(
        [
            (ids[k], rows[k][1], rows[k][2], rows[k][2] / rows[k][1],
             fitted[k])
            for k in range(nb)
        ],
        "bin long, n_rows long, n_pos long, pos_rate double, fitted double",
    )
    return out.orderBy("bin")


def split_conformal_interval(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    calib_pct: int = 50,
) -> DataFrame:
    """Split-conformal prediction intervals per group (Vovk et al.;
    Lei et al. 2018): a deterministic hash split carves a calibration
    set, the predictor is the group's calibration MEAN, and the
    interval half-width is the finite-sample-corrected order statistic

        qhat = the k-th smallest calibration |residual|,
        k = ceil((n_cal + 1) · (1 − α))

    which guarantees ≥ 1−α marginal coverage on exchangeable test rows
    — the distribution-free uncertainty audit a model-scoring pipeline
    wants next to its point metrics.

    Exactness: the split is the md5-bucket filter (engine-replayable),
    the mean is an exact DECIMAL sum cast to double, α is the RATIONAL
    ``alpha_num/alpha_den`` so k is pure integer arithmetic, and qhat
    is an ORDER STATISTIC (no interpolation) picked off the same
    distributed residual histogram + cumulative scan every other rank
    statistic uses (:func:`~._scan.prefix_scan`, size-resolved from a
    scan-side estimate) — the residual sort touches distinct values
    only, never rows.  Coverage is an exact integer
    ratio.  Returns one row per group: (group, n_calib, n_test, qhat,
    coverage, target) with target = 1 − α.
    """
    from occupation_wage_etl_spark.operators._cache import cached
    from occupation_wage_etl_spark.operators.splits import hash_bucket
    from occupation_wage_etl_spark.operators._scan import resolve_two_level

    g, v = F.col(group_col), F.col(value_col)
    rows = cached(
        df.filter(v.isNotNull()).select(
            g.alias("__g"),
            v.cast("double").alias("__y"),
            (hash_bucket(F.col(key_col)) < calib_pct).alias("__cal"),
        )
    )
    calib = rows.filter(F.col("__cal"))
    means = calib.groupBy("__g").agg(
        (
            F.sum(F.col("__y").cast("decimal(18,2)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__mu"),
        F.count(F.lit(1)).alias("n_calib"),
    )
    resid = cached(
        rows.join(F.broadcast(means), "__g").select(
            "__g",
            "__cal",
            "n_calib",
            F.abs(F.col("__y") - F.col("__mu")).alias("__r"),
        )
    )
    calib_resid = resid.filter(F.col("__cal"))
    hist = calib_resid.groupBy("__g", "__r").agg(
        F.count(F.lit(1)).alias("__cnt"), F.first("n_calib").alias("__n")
    )
    # AUTO resolution estimates SCAN-SIDE over the cached residual rows
    # (no recompute of the histogram groupBy for the estimate job — the
    # round-6 shape re-aggregated `resid` once per resolve)
    two_level = resolve_two_level(
        hist, ["__g"], rows=calib_resid, value_col="__r"
    )
    cum, _ = prefix_scan(
        hist, ["__r"], {"cum": ("sum", F.col("__cnt"))}, by=["__g"],
        inclusive=True, two_level=two_level,
    )
    # k = ceil((n+1)(1-a)) = ((n+1)(den-num) + den-1) div den, capped at n
    k = F.least(
        F.expr(
            f"((__n + 1) * CAST({alpha_den - alpha_num} AS BIGINT)"
            f" + {alpha_den - 1}) div CAST({alpha_den} AS BIGINT)"
        ),
        F.col("__n"),
    )
    qhat = (
        cum.filter(F.col("cum") >= k)
        .groupBy("__g")
        .agg(F.min("__r").alias("qhat"), F.first("__n").alias("n_calib"))
    )
    test = resid.filter(~F.col("__cal"))
    cov = (
        test.join(F.broadcast(qhat.select("__g", "qhat")), "__g")
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("__r") <= F.col("qhat")).cast("long")).alias(
                "__hit"
            ),
        )
        .select(
            "__g",
            "n_test",
            (F.col("__hit").cast("double") / F.col("n_test").cast("double"))
            .alias("coverage"),
        )
    )
    return (
        qhat.join(cov, "__g")
        .select(
            F.col("__g").alias(group_col),
            "n_calib",
            "n_test",
            "qhat",
            "coverage",
            F.lit(1.0 - alpha_num / alpha_den).alias("target"),
        )
        .orderBy(group_col)
    )


def bcubed_clustering_eval(
    pred: DataFrame,
    gold: DataFrame,
    id_col: str = "id",
    pred_col: str = "cluster",
    gold_col: str = "truth",
) -> DataFrame:
    """B-cubed precision/recall/F1 between a predicted clustering and a
    gold partition (Bagga & Baldwin 1998; the per-ITEM clustering
    metric that, unlike pairwise counting — q124's metric — does not
    let one giant cluster dominate):

        P(i) = |C(i) ∩ G(i)| / |C(i)|,   R(i) = |C(i) ∩ G(i)| / |G(i)|

    averaged over items.  Summing per-item gives
    ``Σ_cells n_cg² / n_c`` (and /n_g), so everything runs on the
    (pred, gold) intersection-cell table: two assignment joins, a cell
    count, two size joins — every shuffle keyed on cluster ids.

    Determinism at scale: the per-cell ratio is rounded at 12dp and
    summed as DECIMAL(38,12) — an ORDER-INDEPENDENT exact sum, which
    matters because the cell table is data-sized in the all-singletons
    regime (a sorted float fold would be a scale cliff there; the q161
    fold trick is only safe on bounded arrays).  Returns one row:
    (n_items, bcubed_precision, bcubed_recall, bcubed_f1).
    """
    p = pred.select(
        F.col(id_col).alias("__id"), F.col(pred_col).alias("__c")
    )
    g = gold.select(
        F.col(id_col).alias("__gid"), F.col(gold_col).alias("__g")
    )
    both = p.join(g, p["__id"] == g["__gid"]).select("__id", "__c", "__g")
    from occupation_wage_etl_spark.operators._cache import cached

    cells = cached(
        both.groupBy("__c", "__g").agg(F.count(F.lit(1)).alias("__ncg"))
    )
    nc = cells.groupBy("__c").agg(F.sum("__ncg").alias("__nc"))
    ng = cells.groupBy("__g").agg(F.sum("__ncg").alias("__ng"))
    d12 = "decimal(38,12)"
    terms = (
        cells.join(nc, "__c")
        .join(ng, "__g")
        .select(
            "__ncg",
            F.round(
                (F.col("__ncg") * F.col("__ncg")).cast("double")
                / F.col("__nc").cast("double"),
                12,
            )
            .cast(d12)
            .alias("__tp"),
            F.round(
                (F.col("__ncg") * F.col("__ncg")).cast("double")
                / F.col("__ng").cast("double"),
                12,
            )
            .cast(d12)
            .alias("__tr"),
        )
    )
    agg = terms.agg(
        F.sum("__ncg").alias("n_items"),
        F.sum("__tp").alias("__sp"),
        F.sum("__tr").alias("__sr"),
    )
    pr = F.col("__sp").cast("string").cast("double") / F.col(
        "n_items"
    ).cast("double")
    rc = F.col("__sr").cast("string").cast("double") / F.col(
        "n_items"
    ).cast("double")
    return agg.select(
        "n_items",
        pr.alias("bcubed_precision"),
        rc.alias("bcubed_recall"),
        (
            F.lit(2.0)
            * (pr * rc)
            / (pr + rc)
        ).alias("bcubed_f1"),
    )


def stratified_ate(
    df: DataFrame,
    treat_col,
    outcome_col: str,
    stratum_col: str,
) -> DataFrame:
    """Stratified average-treatment-effect estimate (standardization /
    direct adjustment — the design-based causal readout for an A/B
    with a known categorical confounder):

        ATE = Σ_s (n_s / N) · (ȳ₁ₛ − ȳ₀ₛ)

    over strata with BOTH arms present (the standard positivity
    restriction; one-armed strata are excluded from N too).  Per-arm
    means are exact DECIMAL sums cast to double; each stratum's term is
    a fixed double tree rounded at 12dp and summed as DECIMAL(38,12)
    (order-independent — strata are category-sized but the sum should
    not depend on task order anyway).  Returns one row: (n_strata,
    n_treated, n_control, ate).
    """
    t = treat_col.cast("boolean")
    y = F.col(outcome_col).cast("double")
    dec = y.cast("decimal(18,2)")
    per = (
        df.filter(F.col(stratum_col).isNotNull() & y.isNotNull())
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            F.sum(F.when(t, 1).otherwise(0)).alias("__n1"),
            F.sum(F.when(~t, 1).otherwise(0)).alias("__n0"),
            F.sum(F.when(t, dec)).alias("__s1"),
            F.sum(F.when(~t, dec)).alias("__s0"),
        )
        .filter((F.col("__n1") > 0) & (F.col("__n0") > 0))
    )
    m1 = F.col("__s1").cast("string").cast("double") / F.col("__n1").cast(
        "double"
    )
    m0 = F.col("__s0").cast("string").cast("double") / F.col("__n0").cast(
        "double"
    )
    ns = (F.col("__n1") + F.col("__n0")).cast("double")
    terms = per.crossJoin(
        F.broadcast(
            per.agg(
                F.sum(F.col("__n1") + F.col("__n0")).alias("__N"),
                F.count(F.lit(1)).alias("n_strata"),
                F.sum("__n1").alias("n_treated"),
                F.sum("__n0").alias("n_control"),
            )
        )
    ).select(
        "n_strata",
        "n_treated",
        "n_control",
        F.round(ns / F.col("__N").cast("double") * (m1 - m0), 12)
        .cast("decimal(38,12)")
        .alias("__term"),
    )
    return terms.groupBy("n_strata", "n_treated", "n_control").agg(
        F.sum("__term").cast("string").cast("double").alias("ate")
    )
