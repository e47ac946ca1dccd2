"""Deterministic dataset splitting for training pipelines.

A train/val/test split over 100 TB must be (a) reproducible across
reruns and engines, (b) computable scan-side with no shuffle, and
(c) stable under repartitioning.  ``randomSplit`` fails all three (it
is seed- AND partitioning-dependent), so we derive the split from a
cryptographic hash of the row's stable id: the assignment is a pure
projection — Catalyst folds it into the parquet scan, and any engine
(the DuckDB oracle included) reproduces it bit-for-bit.

Reference analogue: the reference has no split operator (its notebook
trains nothing); this is part of the training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(id_col: Column, n_buckets: int = 100) -> Column:
    """Stable bucket in [0, n_buckets) from md5 of the id's decimal form.

    Uses the first 4 hex digits (16 bits — uniform far beyond 100
    buckets) so the DuckDB oracle can replay it as
    ``('0x' || substr(md5(id::VARCHAR), 1, 4))::INTEGER % n``.
    """
    hx = F.substring(F.md5(id_col.cast("string").cast("binary")), 1, 4)
    return (F.conv(hx, 16, 10).cast("int") % n_buckets).alias("bucket")


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Adds a ``split`` column: 'train' / 'val' / 'test' by hash bucket.

    Percentages are integers out of 100; test gets the remainder.
    """
    b = hash_bucket(F.col(id_col))
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame, strata_col: str, id_col: str, pct: int
) -> DataFrame:
    """Deterministic ~pct% sample within every stratum.

    Same hash-bucket trick keyed on (stratum, id) so adding a stratum
    never reshuffles another stratum's sample.
    """
    key = F.concat_ws("|", F.col(strata_col), F.col(id_col).cast("string"))
    b = hash_bucket(key)
    return df.filter(b < pct)


def stratified_exact_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    frac_num: int,
    frac_den: int,
) -> DataFrame:
    """Stratified sample with EXACT per-stratum allocation: precisely
    ``ceil(n_g · frac)`` rows from every stratum — the survey-sampling
    guarantee (proportional allocation with deterministic counts), vs
    :func:`stratified_sample`'s rate-based filter whose per-stratum
    count is binomial.  Evaluation sets and class-balanced subsamples
    need the exact form.

    The fraction is the RATIONAL ``frac_num/frac_den`` and the target is
    computed in integer arithmetic (``(n·num + den - 1) div den``) — an
    IEEE product like ``ceil(0.2 * n)`` rounds differently per engine at
    exact multiples.  Row choice is the md5 keystream order (uniform,
    engine-replayable), stratum-keyed so adding a stratum never changes
    another stratum's sample.

    Plan: one per-stratum count window + one rank window, both
    partitioned by the stratum — no global sort, no driver state.
    """
    key = F.md5(
        F.concat(
            F.col(strata_col).cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        ).cast("binary")
    )
    wn = Window.partitionBy(strata_col)
    wr = Window.partitionBy(strata_col).orderBy(key, F.col(id_col))
    target = F.expr(
        f"(__n * CAST({frac_num} AS BIGINT) + {frac_den - 1})"
        f" div CAST({frac_den} AS BIGINT)"
    )
    return (
        df.withColumn("__n", F.count(F.lit(1)).over(wn))
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") <= target)
        .drop("__n", "__rn")
    )


def sample_to_budget(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Dataset mixing: downsample each group (source/domain/language) so
    the corpus fits a total ``budget`` of ``weight_col`` units (tokens,
    chars, bytes), allocating the budget EVENLY across groups — the
    sampling-weights step of corpus assembly (over-represented domains
    shrink; groups under their allocation keep everything).

    keep_rate(g) = min(1, (budget / n_groups) / total_w(g)); a row
    survives iff md5-uniform(salt:id) < keep_rate(g).  Fully
    deterministic and engine-replayable: reruns, repartitions, and the
    DuckDB oracle all keep the exact same rows.  Expected kept weight
    per surviving group ≈ its allocation (hash sampling is unbiased).

    Plan: one map-side-combined aggregate computes the per-group totals
    (#groups rows — broadcast back); the filter itself is a scan-side
    projection.  Nothing ever shuffles the payload.

    Returns the surviving rows with ``keep_rate`` attached.
    """
    totals = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.sum(F.col(weight_col)).cast("double").alias("_total_w")
    )
    n_groups = F.count(F.lit(1))
    alloc = totals.agg(
        (F.lit(float(budget)) / n_groups.cast("double")).alias("_alloc")
    )
    rates = totals.crossJoin(F.broadcast(alloc)).select(
        "_g",
        F.least(F.lit(1.0), F.col("_alloc") / F.col("_total_w")).alias("keep_rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(id_col).cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(0xFFFFFFFF))
    )
    return (
        df.join(F.broadcast(rates), df[group_col] == rates["_g"])
        .filter(u < F.col("keep_rate"))
        .drop("_g")
    )


def weighted_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str,
    salt: str = "wsamp",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: k rows per group, where a
    row's inclusion probability is proportional to ``weight_col``
    (Efraimidis–Spirakis A-ES — the one-pass, merge-friendly scheme).
    Corpus-assembly primitive: pick k docs per domain biased by length/
    quality without ever materializing per-group sorts of the payload.

    A-ES key: rank by u^(1/w) desc ⟺ by ln(u)/w desc.  ``u`` is the
    md5-uniform of (salt:id) mapped to (0, 1] — deterministic across
    reruns, repartitions, and engines (the DuckDB oracle replays the
    identical keystream).  ln(u)/w is two floating ops on identical
    inputs; per the module-level determinism rules the score is rounded
    at 9dp (engines agree except vanishingly close to a boundary) and
    ties break on id.

    Scale shape: the score is a scan-side projection; the only shuffle
    keys (group, score) into a per-group TOP-K window — with bounded k
    this is a WindowGroupLimit (rank pushed into the shuffle), so no
    group's rows ever collect in one task beyond the k frontier.
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:"), F.col(id_col).cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(4294967296.0)  # (0, 1] — ln is finite
    score = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        df.withColumn("score", score)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cluster_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is decided at
    NEAR-DUP-CLUSTER granularity, so two near-duplicate documents can
    never straddle train and test (the classic eval-contamination bug a
    per-document hash split cannot prevent).

    ``clusters`` holds (id, cluster) for clustered docs (e.g. connected
    components over MinHash pairs); unclustered docs fall back to their
    own id as a singleton cluster key.  The bucket is the same md5-based
    uniform hash as :func:`hash_split`, applied to the CLUSTER key —
    deterministic, shuffle-free beyond one left join, and every member
    of a cluster lands in the same split by construction.

    ``weights`` maps split name → integer weight (e.g. train 8 / val 1 /
    test 1).  Returns (id, cluster_key, split).
    """
    total = sum(weights.values())
    cl = clusters.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("__cl")
    )
    keyed = docs.select(F.col(id_col).alias("id")).join(
        cl, "id", "left"
    ).select(
        "id", F.coalesce(F.col("__cl"), F.col("id")).alias("cluster_key")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_key").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % total
    )
    expr = None
    lo = 0
    for name, wt in weights.items():
        cond = (bucket >= lo) & (bucket < lo + wt)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += wt
    return keyed.select("id", "cluster_key", expr.alias("split"))


def temperature_mix(
    df: DataFrame,
    group_col: str,
    budget: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based dataset mixing: sample each slice with
    probability ∝ its size^α (α<1 upweights small sources, α=1 is
    proportional) to a total ``budget`` — the mixture-reweighting step
    every multi-source pre-training corpus goes through before packing.

    The per-slice keep probability ``min(1, budget·p_s / n_s)`` with
    ``p_s = n_s^α / Σ n^α`` is computed from ONE tiny per-group count
    aggregate (broadcast back), and each row keeps or drops by comparing
    its md5-uniform 32-bit hash against ``floor(keep_s · 2³²)`` — an
    INTEGER threshold compare, so membership is deterministic and
    engine-portable (no float RNG, no global sort, no second shuffle).
    The realized sample size concentrates tightly around the budget
    (binomial per slice) — exact-size sampling would need a per-slice
    rank which is :func:`~occupation_wage_etl_spark.operators.splits.
    sample_to_budget`'s job.

    Returns the kept rows: (id, group, keep_threshold).
    """
    def w(n: F.Column) -> F.Column:
        # sqrt for the canonical α=0.5 (pow(x, 0.5) is not guaranteed
        # bit-identical to sqrt across libm implementations)
        if alpha == 0.5:
            return F.sqrt(n)
        return F.pow(n, F.lit(alpha))

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # Σ n^α is a float sum whose ADDITION ORDER must be pinned for
    # engine-portability: fold the (sorted-by-group) count list
    # left-to-right instead of a hash-aggregate float sum.  The count
    # table is #slices rows — the collect_list is tiny by construction.
    tot = counts.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(group_col).alias("g"), F.col("__n").alias("n")
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + w(s["n"].cast("double")),
        ).alias("__z")
    )
    probs = counts.join(F.broadcast(tot)).select(
        F.col(group_col).alias("__g"),
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(float(budget))
                * w(F.col("__n").cast("double"))
                / F.col("__z")
                / F.col("__n").cast("double"),
            )
            * F.lit(4294967296.0)
        ).alias("__thresh"),
    )
    h32 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(probs), df[group_col] == F.col("__g"))
        .filter(h32 < F.col("__thresh"))
        .select(
            F.col(id_col).alias("id"),
            F.col(group_col),
            F.col("__thresh").alias("keep_threshold"),
        )
    )


def _portable_hash_key(col: Column, salt: str) -> Column:
    """60-bit BIGINT shuffle key from md5 of the salted decimal id —
    replayable in any engine as
    ``('0x' || substr(md5(id::VARCHAR || salt), 1, 15))::BIGINT``."""
    hx = F.substring(
        F.md5(F.concat(col.cast("string"), F.lit(salt)).cast("binary")),
        1,
        15,
    )
    return F.conv(hx, 16, 10).cast("long")


def epoch_shuffle_batches(
    df: DataFrame,
    id_col: str,
    epoch: int,
    batch_size: int,
) -> DataFrame:
    """Deterministic epoch shuffle + global batch assignment: rows are
    ordered by a salted hash of their id (salt = the epoch number, so
    every epoch is a DIFFERENT but fully reproducible permutation) and
    cut into consecutive batches of ``batch_size``.

    The global rank under (hash_key, id) comes from
    :func:`~._scan.prefix_scan`, so the shuffle order is identical on
    any cluster layout or engine
    (``randomSplit``/``rand()`` are partitioning-dependent; this is
    not).

    Returns per-batch stats (batch, n_rows, id_checksum) — the
    training loader consumes the ranked frame upstream of this
    aggregate; the checksum (sum of ids) lets two runs verify they
    built identical batches without comparing row-by-row.
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    keyed = df.select(
        F.col(id_col).alias("__id"),
        _portable_hash_key(F.col(id_col), f"#e{epoch}").alias("__k"),
    )
    ranked, _ = prefix_scan(
        keyed, ["__k", "__id"], {"__cumb": ("sum", F.lit(1))}
    )
    return (
        ranked.select(
            # integer `div`, not double division: the double quotient
            # can round up across an integer boundary once ranks exceed
            # ~2^52/batch_size, and the oracle cuts with exact rk //
            # batch_size (same discipline as calibration_bins).
            F.expr(f"__cumb div {int(batch_size)}").alias("batch"),
            "__id",
        )
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__id").alias("id_checksum"),
        )
    )


def curriculum_interleave(
    df: DataFrame,
    id_col: str,
    difficulty_col: str,
    n_buckets: int = 8,
    head: int = 20,
) -> DataFrame:
    """Curriculum schedule with difficulty mixing: rows are cut into
    ``n_buckets`` exact-rank difficulty tiers, shuffled WITHIN each
    tier by a portable hash, and interleaved round-robin (position p
    takes one row from each tier in turn) — the standard "every batch
    sees the full difficulty spectrum" ordering for curriculum or
    anti-curriculum training.

    Both ranks are distributed: the difficulty rank (tier assignment =
    ``rank * n_buckets div total``, exact-rank math as in
    :func:`~.evaluation.calibration_bins`) and the within-tier shuffle
    rank, which rides the SAME two-level prefix scan as one extra
    weight column per tier (tier count is config-bounded) — no
    per-tier single-partition window.

    Returns the first ``head`` rows of the schedule:
    (schedule_pos, id, bucket) ordered by schedule_pos.
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    keyed = df.select(
        F.col(id_col).alias("__id"),
        F.col(difficulty_col).alias("__d"),
        _portable_hash_key(F.col(id_col), "#cur").alias("__k"),
    )
    ranked, total = prefix_scan(
        keyed, ["__d", "__id"], {"__cumb": ("sum", F.lit(1))}
    )
    binned = ranked.crossJoin(F.broadcast(total)).select(
        "__id",
        "__k",
        F.expr(f"(__cumb * {n_buckets}) div __cumb_total").alias("bucket"),
    )
    pos_ranked, _ = prefix_scan(
        binned,
        ["__k", "__id"],
        {
            f"__p{b}": ("sum", (F.col("bucket") == b).cast("long"))
            for b in range(n_buckets)
        },
    )
    pos = F.lit(None).cast("long")
    for b in range(n_buckets):
        pos = F.when(F.col("bucket") == b, F.col(f"__p{b}")).otherwise(pos)
    sched = pos_ranked.select(
        "__id",
        "bucket",
        (pos * n_buckets + F.col("bucket")).alias("schedule_pos"),
    )
    return (
        sched.orderBy("schedule_pos")
        .limit(head)
        .select("schedule_pos", F.col("__id").alias("id"), "bucket")
    )
