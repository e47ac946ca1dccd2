"""Time-series regularization: dense resampling with forward-fill.

Sensor/metric feeds (and the reference's monthly snapshot cadence —
a sparse time series per occupation, ``load_data.py`` snapshot dates)
arrive with gaps; training pipelines and dashboards want a DENSE grid
per key where missing slots carry the last observation forward
(pandas ``asfreq`` + ``ffill``, SQL ``GAP FILL``).

Scale shape: the grid is generated per key from that key's own
[min, max] span (``sequence`` + ``explode`` — a projection, no
shuffle), the observation join is an equi-join on (key, slot), and
the fill is ``last(value, ignorenulls)`` over a window PARTITIONED BY
KEY — never a global sort.  Span explosion is bounded by each key's
own range; keys with pathological spans (years of empty grid) should
be range-capped upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_ffill(
    obs: DataFrame,
    key_col: str,
    slot_col: str,
    val_col: str,
    step: str = "interval 1 day",
) -> DataFrame:
    """Densify (key, slot, value) observations onto a regular grid and
    forward-fill missing values.

    ``obs`` must hold ONE row per (key, slot) — pre-aggregate first
    (use an order-independent aggregate like max/count so results are
    engine-portable).  ``slot_col`` is a timestamp; ``step`` is a SQL
    interval literal matching the slotting used upstream.  Returns
    (key, slot, value, is_filled); the first slot of every key is an
    observation by construction, so no leading NULLs survive.
    """
    span = obs.groupBy(key_col).agg(
        F.min(slot_col).alias("__lo"), F.max(slot_col).alias("__hi")
    )
    grid = span.select(
        key_col,
        F.explode(F.expr(f"sequence(__lo, __hi, {step})")).alias(slot_col),
    )
    joined = grid.join(obs, [key_col, slot_col], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(slot_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        slot_col,
        F.last(val_col, ignorenulls=True).over(w).alias(val_col),
        F.col(val_col).isNull().alias("is_filled"),
    )


def activity_streaks(
    df: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Gaps-and-islands: collapse each key's active DAYS into maximal
    runs of consecutive dates — (key, streak_start, streak_end,
    streak_days) per run.  The engagement/retention primitive (login
    streaks, sensor uptime runs, crawl-coverage gaps).

    Classic row_number anchor trick: within a key, consecutive dates
    share ``day - row_number`` (both step by one), so the anchor IS the
    island id and a plain hash aggregate finishes the job — no
    self-join, no iterative pass.

    Scale shape: one distinct on (key, day) — the shuffle carries two
    narrow columns, never the payload — then ONE window partitioned by
    key (days per key are bounded: ≤366/year) and one hash agg.  No
    global sort anywhere.
    """
    days = df.select(
        F.col(key_col), F.to_date(F.col(ts_col)).alias("__day")
    ).distinct()
    w = Window.partitionBy(key_col).orderBy("__day")
    islands = days.withColumn(
        "__anchor", F.date_sub(F.col("__day"), F.row_number().over(w))
    )
    return (
        islands.groupBy(key_col, "__anchor")
        .agg(
            F.min("__day").alias("streak_start"),
            F.max("__day").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .drop("__anchor")
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order Markov transition counts + probabilities over each
    key's state sequence: (from_state, to_state, n, p) where ``p`` is
    the row-normalized transition probability.  Sequence-mining /
    user-journey primitive (and the event-order analogue of q56's
    bigram familiarity for text).

    ``p`` is a single IEEE division of two exact integers —
    bit-identical across engines, no rounding needed.

    Scale shape: one window (lead) partitioned by key — state stays
    per-key-bounded — then a hash agg whose output is |states|² rows;
    the normalizing total rides a second tiny agg joined back by
    from_state (broadcast).  The payload never shuffles twice.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(
            F.col(key_col),
            F.col(state_col).alias("from_state"),
            F.col(ts_col),
            F.col(tiebreak_col),
        )
        .withColumn("to_state", F.lead("from_state").over(w))
        .filter(F.col("to_state").isNotNull())
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy(F.col("from_state").alias("__f")).agg(
        F.sum("n").alias("__tot")
    )
    return (
        counts.join(
            F.broadcast(totals), counts["from_state"] == totals["__f"]
        )
        .select(
            "from_state",
            "to_state",
            "n",
            (F.col("n") / F.col("__tot")).alias("p"),
        )
    )


def rolling_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_sec: int,
    z_thresh: float = 2.5,
    min_n: int = 5,
) -> DataFrame:
    """Flag observations whose value deviates > ``z_thresh`` standard
    deviations from the TRAILING ``window_sec`` baseline of their own
    key — streaming-style anomaly detection as one batch window pass.

    ``value_col`` must be exact decimal (cast upstream): the RANGE-frame
    moment sums (Σv, Σv², n) are then order-independent, and z is the
    same closed-form double tree as :func:`~occupation_wage_etl_spark.
    operators.stats.grouped_zscore` — bit-stable across engines (the
    frame is defined on epoch seconds, so tie handling — RANGE includes
    all peers — is identical everywhere).

    Scale shape: ONE window partitioned by key ordered by epoch second
    (range frame state is bounded by the window span), no joins.  The
    current row is EXCLUDED from its own baseline (classic leave-one-
    out; an exact self-match never flags itself).
    """
    sec = F.unix_timestamp(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy("__sec")
        .rangeBetween(-window_sec, -1)
    )
    v = F.col(value_col)

    def dbl(c: F.Column) -> F.Column:
        return c.cast("string").cast("double")

    base = (
        df.withColumn("__sec", sec)
        .withColumn("__n", F.count(v).over(w).cast("double"))
        .withColumn("__s", dbl(F.sum(v).over(w)))
        .withColumn("__sxx", dbl(F.sum(v * v).over(w)))
    )
    n, s, sxx = F.col("__n"), F.col("__s"), F.col("__sxx")
    var = (sxx - s * s / n) / (n - F.lit(1.0))
    z = (dbl(v) - s / n) / F.sqrt(var)
    return (
        base.withColumn(
            "z",
            F.when((n >= min_n) & (var > 0), z),
        )
        .filter(F.abs(F.col("z")) > z_thresh)
        .drop("__sec", "__n", "__s", "__sxx")
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha: float = 0.25,
    window: int = 16,
) -> DataFrame:
    """Windowed-restart exponentially weighted moving average per key.

    For each row, folds the last ``window`` values (event order:
    ``ts_col`` asc, ``tiebreak_col`` asc) through
    ``s ← (1-α)·s + α·x`` seeded with the oldest value in the window —
    the online-smoothing primitive for drift/latency/metric monitors,
    restarted per window so one key's ancient history can't dominate
    and state stays O(window).

    Implementation: ``collect_list`` over a bounded ROWS window, then a
    ``F.aggregate`` left fold — the whole expression is codegen'd
    JVM-side, no UDF.  The fold order is the list order (deterministic:
    unique (ts, tiebreak) sort), so IEEE double results are bit-stable
    across engines and partition layouts.  The shuffle is one exchange
    on ``key_col``; per-row state is ``window`` doubles.

    Returns key, ts, tiebreak, value, ewma.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(-(window - 1), 0)
    )
    lst = F.collect_list(F.col(value_col).cast("double")).over(w)
    a = float(alpha)
    fold = F.aggregate(
        F.slice(lst, 2, window),
        F.element_at(lst, 1),
        lambda acc, x: acc * F.lit(1.0 - a) + F.lit(a) * x,
    )
    return df.select(
        key_col,
        ts_col,
        tiebreak_col,
        value_col,
        fold.alias("ewma"),
    )


def session_attribution(
    events: DataFrame,
    gap_minutes: int = 30,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-touch attribution: for every conversion event, the type of
    the FIRST event in its (gap-based) session plus exact microseconds
    elapsed since the session started — the marketing/behavioral question
    "which entry channel led to this purchase?".

    Sessionization matches :func:`streaming.events.sessionize`: a new
    session starts when the gap from the previous event of the same user
    exceeds ``gap_minutes``.  All computation is two window passes over
    one exchange on ``user_col`` (session-id running sum, then
    first-value within session) — no joins, no driver state; scales with
    per-user event counts, not table size.

    Returns (event_id, user_id, ts, first_touch, usecs_to_convert).
    """
    wu = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(wu)
    new_sess = (gap.isNull() | (gap > gap_minutes * 60 * 1_000_000)).cast(
        "long"
    )
    with_sess = events.select(
        id_col,
        user_col,
        ts_col,
        type_col,
        F.sum(new_sess).over(wu).alias("__sess"),
    )
    ws = Window.partitionBy(user_col, "__sess").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    attributed = with_sess.select(
        id_col,
        user_col,
        ts_col,
        type_col,
        F.first(type_col).over(ws).alias("first_touch"),
        (us - F.first(us).over(ws)).alias("usecs_to_convert"),
    )
    return attributed.filter(F.col(type_col) == conversion_type).select(
        id_col, user_col, ts_col, "first_touch", "usecs_to_convert"
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Trapezoidal time-weighted average per key — the TSDB aggregate
    for irregularly sampled signals (a value that held for an hour must
    outweigh one that held a second; a plain AVG can't know that).

    TWA = Σ((vᵢ + vᵢ₊₁)·Δtᵢ) / (2·ΣΔtᵢ) over consecutive observations.
    Exactness: values cast to decimal(18,2) and Δt is exact integer
    microseconds, so both sums accumulate EXACTLY (order-independent);
    they convert to double via string and divide in one fixed tree —
    bit-stable across engines and partition layouts.

    One lead() window partitioned by key + one hash aggregate.  Keys
    with a single observation have no interval and are dropped (their
    TWA is undefined — emit-as-NULL would be a different contract).

    Returns (key, n_intervals, span_us, twa).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col))
    v = F.col(value_col).cast("decimal(18,2)")
    seg = df.select(
        F.col(key_col),
        v.alias("__v"),
        F.lead(v).over(w).alias("__vn"),
        (F.lead(us).over(w) - us).alias("__dt"),
    ).filter(F.col("__dt").isNotNull())

    def dbl(col: F.Column) -> F.Column:
        return col.cast("string").cast("double")

    agg = seg.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__dt").alias("span_us"),
        dbl(
            F.sum((F.col("__v") + F.col("__vn")) * F.col("__dt"))
        ).alias("__num"),
    )
    return agg.select(
        key_col,
        "n_intervals",
        "span_us",
        (
            F.col("__num")
            / (F.lit(2.0) * F.col("span_us").cast("string").cast("double"))
        ).alias("twa"),
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    k: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most common session paths — the user-journey frequency view
    ("view>click>purchase happened 412 times") product analytics builds
    funnels FROM.

    Sessions use the same gap rule as :func:`session_attribution`; the
    path is the session's event types joined with ``>`` in exact event
    order (ts, then id — total order, so the string is deterministic).

    Plan: two window passes on one exchange (session ids, then the path
    via ``collect_list`` over the FULL session frame + one row_number to
    keep one row per session), a hash count on the path string, and a
    TakeOrdered top-k.  Per-window state is one session's events; the
    count shuffle carries (path, 1).  Pathologically long sessions make
    pathologically long strings — cap upstream if a key can stream
    forever.

    Returns (path, n_sessions, rank).
    """
    wu = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(wu)
    new_sess = (gap.isNull() | (gap > gap_minutes * 60 * 1_000_000)).cast(
        "long"
    )
    sess = events.select(
        user_col,
        ts_col,
        id_col,
        type_col,
        F.sum(new_sess).over(wu).alias("__sess"),
    )
    ws = Window.partitionBy(user_col, "__sess").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    paths = (
        sess.select(
            user_col,
            "__sess",
            F.concat_ws(
                ">",
                F.collect_list(type_col).over(
                    ws.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
            ).alias("path"),
            F.row_number().over(ws).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    # top-k as orderBy+limit → TakeOrderedAndProject (per-partition
    # k-row heaps + one k-row merge), NOT a global row_number window
    # (which would sort the full distinct-path table in one task just
    # to keep k rows).  The rank column is derived AFTER the limit, so
    # the only ordered window in the plan runs over k rows.
    top = counts.orderBy(F.desc("n_sessions"), F.asc("path")).limit(k)
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Exact CUSUM change-point per key: the event index where the
    cumulative deviation from the key's own mean peaks — the standard
    "when did this metric's level shift?" detector, run as one batch
    pass.

    Exactness trick: the usual CUSUM ``Σ(vⱼ − v̄)`` needs a float mean
    and an ordered float accumulation (whose addition order no two
    engines agree on).  Scaling by n removes both: ``n·Σvⱼ − k·S``
    (S = exact decimal total, k = prefix length) is pure DECIMAL
    arithmetic — order-independent, bit-identical everywhere — and
    shares its argmax with the float CUSUM.  The peak is reported
    normalized (÷ n·100 in value units) via one string→double cast.

    Plan: one exchange on the key (two window passes: prefix decimal
    sums + global n/S per key), one argmax aggregate via struct-max —
    no joins, no iteration.  Ties: earliest index wins.

    Returns (key, n, cp_index, peak) — ``cp_index`` 1-based; peak is
    |n·Σ_{j≤k}vⱼ − k·S| / n in value units, the jump magnitude.
    """
    wk = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    v = F.col(value_col).cast("decimal(18,2)")
    rows = df.select(
        F.col(key_col),
        v.alias("__v"),
        F.sum(v).over(
            wk.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__prefix"),
        F.row_number().over(wk).alias("__k"),
        F.sum(v).over(
            wk.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__s"),
        F.count(F.lit(1)).over(
            wk.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    dev = (
        F.col("__n").cast("decimal(20,0)") * F.col("__prefix")
        - F.col("__k").cast("decimal(20,0)") * F.col("__s")
    )
    scored = rows.select(
        key_col,
        "__n",
        "__k",
        F.abs(dev).alias("__adev"),
    )
    elect = scored.groupBy(key_col).agg(
        F.max("__n").alias("n"),
        F.max(
            F.struct(
                F.col("__adev").alias("a"),
                (-F.col("__k")).alias("neg_k"),
            )
        ).alias("__w"),
    )
    return elect.select(
        key_col,
        "n",
        (-F.col("__w.neg_k")).cast("long").alias("cp_index"),
        (
            F.col("__w.a").cast("string").cast("double")
            / F.col("n").cast("double")
        ).alias("peak"),
    )


def rfm_segments(
    events: DataFrame,
    conversion_type: str = "purchase",
    buckets: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic marketing scoring: each converting user gets three
    ``1..buckets`` quantile scores and a composite segment code like
    ``'545'``.

    Determinism: every score orders by an exact integer or decimal
    (recency in microseconds, count, decimal money sum) with
    ``user_col`` as the final tiebreak, so bucket boundaries are
    total-order stable; the equal-height split (earlier buckets get
    the remainder) is the ANSI ``ntile`` behavior, reproduced as exact
    integer bucket math over exact global ranks.

    Plan: one filtered hash aggregate per user, then three global
    ranks over the AGGREGATED table via
    :func:`~occupation_wage_etl_spark.operators._scan.prefix_scan`,
    not an ``ntile`` window.  Bucket assignment is then pure
    arithmetic on the rank: with ``N`` users, ``q = N div b``,
    ``r = N mod b``, the first ``r`` buckets hold ``q+1`` rows —
    exactly ANSI ntile, no window.

    Returns (user, last_us, freq, monetary, r, f, m, segment).
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    per_user = (
        events.filter(F.col(type_col) == conversion_type)
        .groupBy(user_col)
        .agg(
            F.max(F.unix_micros(F.col(ts_col))).alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__m"),
        )
        .withColumn("__negr", -F.col("last_us"))
        .withColumn("__negf", -F.col("freq"))
        .withColumn("__negm", -F.col("__m"))
    )
    one = ("sum", F.lit(1))
    ranked, total = prefix_scan(per_user, ["__negr", user_col], {"__rkr": one})
    ranked, _ = prefix_scan(ranked, ["__negf", user_col], {"__rkf": one})
    ranked, _ = prefix_scan(ranked, ["__negm", user_col], {"__rkm": one})

    scored = (
        ranked.crossJoin(
            F.broadcast(
                total.select(F.col("__rkr_total").cast("long").alias("__N"))
            )
        )
        .withColumn("__q", F.expr(f"__N div {int(buckets)}"))
        .withColumn("__r", F.expr(f"__N % {int(buckets)}"))
        .withColumn("__cut", (F.col("__q") + F.lit(1)) * F.col("__r"))
    )

    def _tile(rk_col: str) -> F.Column:
        # exact ANSI ntile from the 0-based prefix count: rank = cum+1;
        # ranks <= cut fall in the first r (size q+1) buckets, the rest
        # in size-q buckets.  CaseWhen is lazy per branch, so the div-q
        # arm is never evaluated when q == 0 (N < buckets).
        rk = f"({rk_col} + 1)"
        return (
            F.when(
                F.col(rk_col) + 1 <= F.col("__cut"),
                F.expr(f"({rk} - 1) div (__q + 1) + 1"),
            )
            .otherwise(F.expr(f"__r + ({rk} - __cut - 1) div __q + 1"))
            .cast("long")
        )

    scored = scored.select(
        user_col,
        "last_us",
        "freq",
        F.col("__m").cast("string").cast("double").alias("monetary"),
        _tile("__rkr").alias("r"),
        _tile("__rkf").alias("f"),
        _tile("__rkm").alias("m"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


def out_of_order_depth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    arrival_col: str,
) -> DataFrame:
    """Out-of-orderness profile per key: how many records arrive with an
    event time EARLIER than something already seen, and the worst
    lateness — the measurement that sizes a streaming job's watermark
    (allowed-lateness below the observed max disorder = silent drops).

    ``arrival_col`` defines arrival order (an ingest sequence / file
    offset; here the event id).  One window per key (running max of
    event time over arrival order), one aggregate; lateness is exact
    integer microseconds.

    Returns (key, n_events, n_late, max_disorder_us, p_late).
    """
    w = Window.partitionBy(key_col).orderBy(F.col(arrival_col).asc())
    us = F.unix_micros(F.col(ts_col))
    run_max = F.max(us).over(w.rowsBetween(Window.unboundedPreceding, -1))
    base = df.select(
        F.col(key_col),
        us.alias("__us"),
        run_max.alias("__seen"),
    )
    late = F.col("__seen").isNotNull() & (F.col("__us") < F.col("__seen"))
    return base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.cast("long")).alias("n_late"),
        F.max(
            F.when(late, F.col("__seen") - F.col("__us")).otherwise(F.lit(0))
        ).alias("max_disorder_us"),
        (
            F.sum(late.cast("long")).cast("double") / F.count(F.lit(1))
        ).alias("p_late"),
    )


def resample_lerp(
    obs: DataFrame,
    key_col: str,
    slot_col: str,
    val_col: str,
    step: str = "interval 1 day",
) -> DataFrame:
    """Densify per-key observations onto a regular grid with LINEAR
    interpolation — the other half of gap-filling (:func:`resample_ffill`
    holds the last value; metrics/sensor pipelines usually want the
    line between the bracketing observations instead).

    For a missing slot at time t between observations (t₀,v₀) and
    (t₁,v₁):  v = v₀ + (v₁ − v₀) · (t − t₀)/(t₁ − t₀), with the time
    fractions computed on exact epoch seconds so the only float ops are
    one subtraction, one multiply, one divide, one add — a fixed tree
    both engines evaluate identically.  Leading/trailing edges carry
    the nearest observation (no extrapolation).

    Plan: same shape as ``resample_ffill`` — per-key grid via
    ``sequence``+``explode`` (projection, no shuffle), one left join on
    (key, slot), then ONE window per direction (last/first over
    key-partitioned frames) to fetch the bracketing values and times.
    Returns (key, slot, value, is_filled).
    """
    span = obs.groupBy(key_col).agg(
        F.min(slot_col).alias("__lo"), F.max(slot_col).alias("__hi")
    )
    grid = span.select(
        key_col,
        F.explode(F.expr(f"sequence(__lo, __hi, {step})")).alias(slot_col),
    )
    joined = grid.join(obs, [key_col, slot_col], "left")
    wb = (
        Window.partitionBy(key_col)
        .orderBy(slot_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy(slot_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sec = F.unix_timestamp(F.col(slot_col)).cast("double")
    v = F.col(val_col).cast("double")
    obs_sec = F.when(v.isNotNull(), sec)
    prev_v = F.last(v, ignorenulls=True).over(wb)
    prev_t = F.last(obs_sec, ignorenulls=True).over(wb)
    next_v = F.first(v, ignorenulls=True).over(wf)
    next_t = F.first(obs_sec, ignorenulls=True).over(wf)
    lerp = prev_v + (next_v - prev_v) * (sec - prev_t) / (next_t - prev_t)
    filled = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(lerp)
    )
    return joined.select(
        key_col,
        slot_col,
        filled.alias(val_col),
        v.isNull().alias("is_filled"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator over (duration, event) subject
    rows — time-to-conversion / churn / failure curves, the standard
    right-censored survival readout (event=1 observed, event=0
    censored at its duration).

    Classic product-limit form: at each observed EVENT time t,
    ``S(t) = prod_{t_i <= t} (1 - d_i / n_i)`` with d_i = events at t_i
    and n_i = subjects still at risk (all leave times >= t_i; censored
    subjects leave the risk set too).

    Determinism and scale shape: the risk table collapses to one row
    per distinct duration (hash aggregate — the only row-sized pass);
    ``n_risk`` is an INTEGER running sum over the ordered risk table
    (integer window sums are exact in any accumulation order, so this
    is engine-portable); the survival column is ONE sequential O(m)
    left-fold over the sorted event-time array building the running
    product — each value a sequential double product in time order,
    bit-identical to an oracle's element-by-element fold, no rounding.
    The fold runs on ONE executor over m = #distinct event times —
    grid-sized, not data-sized; at 100 TB bucket durations to a coarse
    grid first (standard survival practice anyway).

    Returns (t, n_risk, n_events, survival) at event times, t asc.
    """
    d, e = F.col(duration_col), F.col(event_col)
    tbl = (
        df.filter(d.isNotNull())
        .groupBy(d.cast("long").alias("t"))
        .agg(
            F.sum(F.when(e.cast("int") == 1, 1).otherwise(0))
            .cast("long")
            .alias("d"),
            F.count(F.lit(1)).cast("long").alias("leave"),
        )
    )
    # n_risk = total - departures strictly before t: integer prefix sums
    # (exact regardless of order) over the distinct-duration table, run
    # on the two-level distributed scan — the duration axis can approach
    # subject cardinality, so no single-task window.
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    ranked, total = prefix_scan(
        tbl, ["t"], {"__cumb": ("sum", F.col("leave"))}
    )
    risk = (
        ranked.crossJoin(
            F.broadcast(total.select(F.col("__cumb_total").alias("__n")))
        )
        .select(
            "t",
            "d",
            (F.col("__n") - F.col("__cumb")).alias("n_risk"),
        )
        .filter(F.col("d") > 0)
    )
    one = risk.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "n_risk"))
        ).alias("evt")
    )
    # one O(m) fold: carry the running product, emit the output row per
    # step.  Sequential by construction -> bit-exact cross-engine.
    km = one.select(
        F.expr(
            """
            aggregate(
              evt,
              named_struct(
                'acc', CAST(1.0 AS DOUBLE),
                'out', CAST(array() AS
                  array<struct<t:bigint,n_risk:bigint,
                               n_events:bigint,survival:double>>)),
              (st, s) -> named_struct(
                'acc',
                st.acc * (CAST(1.0 AS DOUBLE)
                          - CAST(s.d AS DOUBLE) / CAST(s.n_risk AS DOUBLE)),
                'out',
                concat(st.out, array(named_struct(
                  't', s.t, 'n_risk', s.n_risk, 'n_events', s.d,
                  'survival',
                  st.acc * (CAST(1.0 AS DOUBLE)
                            - CAST(s.d AS DOUBLE)
                              / CAST(s.n_risk AS DOUBLE)))))),
              fin -> fin.out
            ) AS rows
            """
        )
    )
    return km.select(F.explode("rows").alias("r")).select(
        F.col("r.t").alias("t"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.survival").alias("survival"),
    )


def acf(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 10,
) -> DataFrame:
    """Per-group autocorrelation function at lags 1..``max_lag`` over
    the group's series in ``order_col`` order (observation-order ACF —
    gaps in the axis are treated as adjacent observations).

    For integer-valued series (event counts) the statistic is computed
    EXACTLY: with S = Σx, Q = Σx², and per lag k the cross sum
    P = Σ x_t·x_{t+k} plus head/tail sums H, T over the overlapping
    windows,

        r_k = (n²P − nS(H+T) + (n−k)S²) / (n(nQ − S²))

    — every term integer (DECIMAL(38,0) — n²P reaches ~4e18 at corpus
    scale), one closing double division.

    Scale shape: the series is collected per GROUP as a sorted array —
    valid because a per-group series is axis-sized (days/hours), orders
    of magnitude below row counts; the heavy lifting (row → per-bucket
    value) must happen upstream in a hash aggregate.  Lag sums are
    O(n·max_lag) array folds inside codegen, no shuffle beyond the one
    groupBy.

    Returns (group, lag, n_obs, acf) for groups with n_obs > lag.
    """
    arr = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(order_col).alias("o"),
                        F.col(value_col).cast("long").alias("x"),
                    )
                )
            ).alias("s")
        )
        .select(
            "grp",
            F.transform(F.col("s"), lambda s: s["x"]).alias("xs"),
        )
        .select(
            "grp",
            "xs",
            F.size("xs").alias("n"),
            F.aggregate(
                "xs",
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, x: acc + x.cast("decimal(38,0)"),
            ).alias("S"),
            F.aggregate(
                "xs",
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, x: acc
                + (x * x).cast("decimal(38,0)"),
            ).alias("Q"),
        )
    )
    lagged = arr.select(
        "grp",
        "xs",
        "n",
        "S",
        "Q",
        F.explode(
            F.expr(
                f"CASE WHEN n > 1 THEN sequence(1, least({max_lag}, n - 1)) "
                "ELSE array() END"
            )
        ).alias("lag"),
    )
    head = F.expr("slice(xs, 1, n - lag)")
    tail = F.expr("slice(xs, lag + 1, n - lag)")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = lagged.select(
        "grp",
        "lag",
        "n",
        "S",
        "Q",
        F.aggregate(
            F.zip_with(head, tail, lambda a, b: a * b),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, p: acc + dec(p),
        ).alias("P"),
        F.aggregate(
            head,
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + dec(x),
        ).alias("H"),
        F.aggregate(
            tail,
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + dec(x),
        ).alias("T"),
    )
    nD = F.col("n").cast("decimal(38,0)")
    kD = F.col("lag").cast("decimal(38,0)")
    num = (
        nD * nD * F.col("P")
        - nD * F.col("S") * (F.col("H") + F.col("T"))
        + (nD - kD) * F.col("S") * F.col("S")
    )
    den = nD * (nD * F.col("Q") - F.col("S") * F.col("S"))
    return sums.select(
        F.col("grp").alias(group_col),
        "lag",
        F.col("n").alias("n_obs"),
        F.when(
            den != F.lit(0).cast("decimal(38,0)"),
            num.cast("double") / den.cast("double"),
        ).alias("acf"),
    )


def seasonal_decompose(
    df: DataFrame,
    group_col: str,
    date_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal index per series: classical decomposition's
    seasonal component for integer-valued series (event counts) —
    trend = centered ``period``-row moving average (for EVEN periods,
    the classical 2×period MA: a ``period+1``-row window with half
    weight on both end rows, so the average stays phase-centered),
    seasonal(phase) = mean of the detrended values at that phase.

    Exactness: for integer x the detrended value scaled by ``period``
    (odd) is the INTEGER ``period*x - S_w`` (S_w = the window sum);
    for even periods scaled by ``2*period`` it is
    ``2*period*x - (S_outer + S_inner)`` (S_outer = the ``period+1``-row
    window sum, S_inner = the inner ``period-1``-row sum — end rows
    counted once, interior rows twice = the 2×MA numerator).  Either
    way the per-phase mean is a ratio of exact integers — one closing
    double division, order-independent, engine-portable.  Phase is the
    epoch-day modulo ``period`` (portable across engines, unlike
    locale-dependent dayofweek numbering).

    Scale: one window pass partitioned BY SERIES (axis-sized rows after
    the upstream per-bucket aggregate) + one phase-grain hash
    aggregate.  Only full windows contribute (edge rows are dropped),
    matching the classical definition.  Returns
    (group, phase, n_obs, seasonal).
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    half = period // 2
    x = F.col(value_col).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(date_col).alias("d"),
        x.alias("x"),
    )
    phase = (
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % period
    ).alias("phase")
    if period % 2 == 1:
        w = Window.partitionBy("grp").orderBy("d").rowsBetween(-half, half)
        base = base.withColumn("sw", F.sum("x").over(w)).withColumn(
            "wn", F.count(F.lit(1)).over(w)
        )
        full = base.filter(F.col("wn") == period).select(
            "grp",
            phase,
            (F.lit(period) * F.col("x") - F.col("sw")).alias("dev"),
        )
        scale = float(period)
    else:
        wo = Window.partitionBy("grp").orderBy("d").rowsBetween(-half, half)
        wi = (
            Window.partitionBy("grp")
            .orderBy("d")
            .rowsBetween(-(half - 1), half - 1)
        )
        base = (
            base.withColumn("swo", F.sum("x").over(wo))
            .withColumn("wno", F.count(F.lit(1)).over(wo))
            .withColumn("swi", F.sum("x").over(wi))
        )
        full = base.filter(F.col("wno") == period + 1).select(
            "grp",
            phase,
            (
                F.lit(2 * period) * F.col("x")
                - F.col("swo")
                - F.col("swi")
            ).alias("dev"),
        )
        scale = float(2 * period)
    return (
        full.groupBy(F.col("grp").alias(group_col), "phase")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            (
                F.sum("dev").cast("double")
                / (F.lit(scale) * F.count(F.lit(1)).cast("double"))
            ).alias("seasonal"),
        )
    )


def record_highs(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Running-record detection: the rows whose value STRICTLY exceeds
    every earlier value in ``key_col`` order (record-setting days — the
    classic "new all-time high" readout, also the streak primitive
    under drawdown/recovery analyses).

    The running maximum is the prefix MAX of
    :func:`~occupation_wage_etl_spark.operators._scan.prefix_scan`.
    ``key_col`` must be a total order (one row per key — aggregate
    first).

    Returns (key, value, prev_max) for record rows; the first key
    always qualifies (prev_max NULL).
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    marked, _ = prefix_scan(
        df, [key_col], {"__prev": ("max", F.col(value_col))}
    )
    return marked.filter(
        F.col("__prev").isNull() | (F.col(value_col) > F.col("__prev"))
    ).select(
        F.col(key_col),
        F.col(value_col),
        F.col("__prev").alias("prev_max"),
    )


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes between the group's DAILY aggregates — the estimator that
    shrugs off the outlier days an OLS slope (``trend_ols``) chases
    (up to ~29% contaminated days before breakdown; Sen 1968).

    Scale shape — the key property: the pair explosion runs over the
    per-(group, day) AGGREGATE, never the raw rows, so its size is
    O(days²) per group — bounded by the calendar, INDEPENDENT of row
    count.  A year of data makes ~66k pairs per group whether the group
    has 1k rows or 10B.  Plan: one row-sized hash-aggregate to daily
    sums (exact DECIMAL, so the daily means are bit-stable), a
    range-join self-pair on day < day (broadcast of the day table is
    wrong — it is group-partitioned, the self-join shuffles on the
    group key only), then the interpolated median of slopes through the
    same distributed histogram machinery as every other order statistic
    (:func:`~occupation_wage_etl_spark.operators.stats
    .percentiles_from_histogram` — bit-matches ``quantile_cont``).

    Slope = (mean_j − mean_i) / (day_j − day_i) with means = exact
    decimal sums cast to double and day distance in integer days —
    each slope one double division, deterministic.  Returns one row per
    group: (group, n_days, n_pairs, theil_sen_slope).
    """
    from occupation_wage_etl_spark.operators.stats import (
        grouped_exact_percentiles,
    )

    g, v = F.col(group_col), F.col(value_col)
    daily = (
        df.filter(v.isNotNull())
        .groupBy(
            g.alias("__g"),
            F.to_date(F.col(ts_col)).alias("__d"),
        )
        .agg(
            F.sum(v.cast("decimal(18,2)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "__g",
            F.datediff(F.col("__d"), F.lit("1970-01-01")).alias("__day"),
            (
                F.col("__s").cast("string").cast("double")
                / F.col("__n").cast("double")
            ).alias("__m"),
        )
    )
    from occupation_wage_etl_spark.operators._cache import cached

    daily = cached(daily)  # both self-join sides + the day count
    a = daily.select(
        "__g", F.col("__day").alias("__d1"), F.col("__m").alias("__m1")
    )
    b = daily.select(
        "__g", F.col("__day").alias("__d2"), F.col("__m").alias("__m2")
    )
    pairs = a.join(b, "__g").filter(F.col("__d1") < F.col("__d2"))
    slopes = pairs.select(
        "__g",
        (
            (F.col("__m2") - F.col("__m1"))
            / (F.col("__d2") - F.col("__d1")).cast("double")
        ).alias("__slope"),
    )
    med = grouped_exact_percentiles(
        slopes, "__g", "__slope", {"theil_sen_slope": 0.5}
    )
    counts = daily.groupBy("__g").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        counts.select(
            "__g",
            "n_days",
            (F.col("n_days") * (F.col("n_days") - 1) / 2)
            .cast("long")
            .alias("n_pairs"),
        )
        .join(med, "__g")
        .select(
            F.col("__g").alias(group_col),
            "n_days",
            "n_pairs",
            "theil_sen_slope",
        )
        .orderBy(group_col)
    )


def sequential_pair_support(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    item_col: str,
    k: int = 50,
) -> DataFrame:
    """Gap-allowed sequential pattern support for item PAIRS — the
    length-2 core of PrefixSpan-style sequence mining (Pei et al.
    2001): "users who did A later did B", with ANY number of events in
    between (what :func:`transition_matrix` — adjacent-only — cannot
    see).

    A user supports (a → b) iff some a-event strictly precedes some
    b-event, which reduces to ``min_ts(a) < max_ts(b)`` over the
    user's per-item time extremes — so the whole computation runs on
    the (user, item, min_ts, max_ts) aggregate: one row-sized hash
    aggregate, then a per-user self-join whose size is bounded by the
    ITEM-TYPE cardinality squared per user (catalog-sized, not
    event-sized), then a support count.  Support counts each user
    once.  Returns the top-``k`` pairs by (support desc, item_a,
    item_b): (item_a, item_b, support, support_frac) with
    support_frac = support / #users-with-events.
    """
    from occupation_wage_etl_spark.operators._cache import cached

    u, i, t = F.col(user_col), F.col(item_col), F.col(ts_col)
    ext = cached(
        df.filter(u.isNotNull() & i.isNotNull() & t.isNotNull())
        .groupBy(u.alias("__u"), i.alias("__i"))
        .agg(F.min(t).alias("__lo"), F.max(t).alias("__hi"))
    )
    n_users = ext.select("__u").distinct().count()
    a = ext.select(
        "__u", F.col("__i").alias("item_a"), F.col("__lo").alias("__alo")
    )
    b = ext.select(
        "__u", F.col("__i").alias("item_b"), F.col("__hi").alias("__bhi")
    )
    pairs = (
        a.join(b, "__u")
        .filter(
            (F.col("item_a") != F.col("item_b"))
            & (F.col("__alo") < F.col("__bhi"))
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        pairs.select(
            "item_a",
            "item_b",
            "support",
            (
                F.col("support").cast("double")
                / F.lit(float(n_users))
            ).alias("support_frac"),
        )
        .orderBy(F.desc("support"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )


def forecast_backtest(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest per series, scored with the
    forecasting-standard scale-free metrics (Hyndman & Koehler 2006):

        MASE  = MAE(seasonal-naive, lag ``season``)
                / MAE(one-step naive, lag 1)
        sMAPE = mean( 2·|ŷ − y| / (|ŷ| + |y|) )

    over each group's DAILY totals, lags positional over OBSERVED days
    (gap days are skipped, the observed-series convention — document
    gaps upstream with ``resample_ffill`` if calendar lags are wanted).
    MASE < 1 means the seasonal forecast beats the naive one — the
    go/no-go baseline check before any fancier model earns its keep.

    Exactness: daily totals are exact DECIMAL sums, both MAEs are
    exact DECIMAL sums of decimal |differences| with ONE closing double
    division, and sMAPE's per-day double ratio is rounded at 12dp and
    summed as DECIMAL(38,12) (order-independent).  Scale: everything
    past the one row-sized daily aggregate is calendar-bounded;
    per-group lag windows sort days, not rows.  Returns one row per
    group: (group, n_scored, mae_seasonal, mae_naive, mase, smape).
    """
    g, v = F.col(group_col), F.col(value_col)
    daily = (
        df.filter(v.isNotNull())
        .groupBy(
            g.alias("__g"), F.to_date(F.col(ts_col)).alias("__d")
        )
        .agg(F.sum(v.cast("decimal(18,2)")).alias("__y"))
    )
    w = Window.partitionBy("__g").orderBy("__d")
    lagged = daily.select(
        "__g",
        "__y",
        F.lag("__y", season).over(w).alias("__ys"),
        F.lag("__y", 1).over(w).alias("__y1"),
    ).filter(F.col("__ys").isNotNull())  # first `season` days unscored
    es = F.abs(F.col("__y") - F.col("__ys"))
    e1 = F.abs(F.col("__y") - F.col("__y1"))
    denom = F.abs(F.col("__ys")).cast("string").cast("double") + F.abs(
        F.col("__y")
    ).cast("string").cast("double")
    # both-zero days score 0 by convention (forecast and actual agree);
    # the explicit guard also keeps ANSI mode from raising on /0
    sm = F.when(denom > 0, F.lit(2.0) * es.cast("string").cast("double")
                / denom).otherwise(F.lit(0.0))
    agg = lagged.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(es).alias("__ses"),
        F.sum(e1).alias("__se1"),
        F.sum(F.round(sm, 12).cast("decimal(38,12)")).alias("__ssm"),
    )
    mae_s = F.col("__ses").cast("string").cast("double") / F.col(
        "n_scored"
    ).cast("double")
    mae_1 = F.col("__se1").cast("string").cast("double") / F.col(
        "n_scored"
    ).cast("double")
    return agg.select(
        F.col("__g").alias(group_col),
        "n_scored",
        mae_s.alias("mae_seasonal"),
        mae_1.alias("mae_naive"),
        # NULL when the naive MAE is 0 (a constant series has no scale
        # to normalize by — and ANSI mode would raise on the division)
        F.when(F.col("__se1").cast("string").cast("double") > 0,
               mae_s / mae_1).alias("mase"),
        (
            F.col("__ssm").cast("string").cast("double")
            / F.col("n_scored").cast("double")
        ).alias("smape"),
    ).orderBy(group_col)


def cross_correlation(
    df: DataFrame,
    group_a: str,
    group_b: str,
    group_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Lagged Pearson cross-correlation between two series' DAILY
    totals — "does A lead B?" (marketing spend → purchases, errors →
    churn): for each lag in [−max_lag, +max_lag], the correlation of
    x_t with y_{t+lag} over days where both exist; the argmax lag is
    the lead/lag estimate.

    Shape: one row-sized aggregate to (series, day, total) with exact
    DECIMAL sums, then ONE equi-join per the lag span — implemented as
    a single join on ``x.day = y.day − lag`` via a lag-exploded small
    side (2·max_lag+1 lag rows per day: calendar × lags sized, bounded
    by the calendar, never by row count).  Per-lag Pearson runs on the
    five exact decimal moments with the closed-form double tree
    (engine-replayable, same contract as q49), one row per lag.

    Returns (lag, n_days, corr) for lags with ≥ 3 overlapping days and
    nonzero variance on both sides, ordered by lag.
    """
    g, v = F.col(group_col), F.col(value_col)
    daily = (
        df.filter(v.isNotNull() & g.isin(group_a, group_b))
        .groupBy(
            (g == group_a).alias("__isa"),
            F.to_date(F.col(ts_col)).alias("__d"),
        )
        .agg(F.sum(v.cast("decimal(18,2)")).alias("__y"))
    )
    from occupation_wage_etl_spark.operators._cache import cached

    daily = cached(daily)
    a = daily.filter(F.col("__isa")).select(
        F.datediff(F.col("__d"), F.lit("1970-01-01")).alias("__da"),
        F.col("__y").alias("__x"),
    )
    b = daily.filter(~F.col("__isa")).select(
        F.datediff(F.col("__d"), F.lit("1970-01-01")).alias("__db"),
        F.col("__y").alias("__yy"),
    )
    lags = F.explode(
        F.sequence(F.lit(-max_lag), F.lit(max_lag))
    ).alias("lag")
    a_lagged = a.select("__da", "__x", lags)
    pairs = a_lagged.join(
        b, a_lagged["__da"] + F.col("lag") == b["__db"]
    )
    d2s = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("__x").alias("__sx"),
        F.sum("__yy").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__yy") * F.col("__yy")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__yy")).alias("__sxy"),
    )
    n = F.col("n_days").cast("double")
    sx, sy = d2s("__sx"), d2s("__sy")
    sxx, syy, sxy = d2s("__sxx"), d2s("__syy"), d2s("__sxy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return (
        mom.filter(F.col("n_days") >= 3)
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_days",
            F.when(
                (varx > 0) & (vary > 0),
                (n * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary)),
            ).alias("corr"),
        )
        .orderBy("lag")
    )
