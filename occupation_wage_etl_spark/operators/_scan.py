"""One prefix scan: running sums, maxima and minima in a total order.

A running aggregate is a window with ``ORDER BY`` and no (or a
few-valued) ``PARTITION BY``, which Spark runs as one sort per group
inside ONE task: for a global scan, a single-partition sort of the
whole input, the classic scale cliff.  :func:`prefix_scan` has two
forms with identical results:

- the window form: one window over the input, partitioned by the
  groups.  Best while one task can sort the largest group.
- the two-level form, the textbook parallel prefix:

  1. ``repartitionByRange`` on (groups, order) puts a contiguous key
     range in each partition.  The shuffled frame is persisted: range
     boundaries come from SAMPLING, so two evaluations could cut
     differently, and both consumers below must read one
     materialization for the offsets to line up.
  2. within each (partition, group) cell, a window ordered by the key:
     parallel spillable sorts, never a global one.
  3. the per-cell totals (at most shuffle partitions × groups rows)
     get their own exclusive scan over ``__pid`` and are broadcast
     back as offsets, combined with ``+``, ``greatest`` or ``least``.
     That window is the only one ordered by partition, over a
     config-bounded table.

:func:`resolve_two_level` picks the form.  Both forms carry the
aggregated columns as ``__scan<i>``, the marker ``tools/plan_audit.py``
keys its ``resolved-small`` verdict on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._cache import cached
from occupation_wage_etl_spark.operators._conf import shuffle_partitions

# kind -> (aggregate, combine of two partial results; both skip NULLs)
_KINDS = {
    "sum": (F.sum, lambda a, b: F.coalesce(a + b, a, b)),
    "max": (F.max, F.greatest),
    "min": (F.min, F.least),
}


def _frame(partition, order, end: int):
    return (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, end)
    )


def resolve_two_level(
    df: DataFrame,
    by=(),
    rows: DataFrame | None = None,
    value_col: str | None = None,
) -> bool:
    """Whether a prefix scan of ``df`` grouped by ``by`` takes the
    two-level form: iff its estimated rows reach
    ``spark.graft.distCumWindowMaxRows`` AND its estimated groups are
    fewer than ``spark.sql.shuffle.partitions`` (a global scan is one
    group).

    - Below the row bound (default 8M) one task sorts a group in
      seconds, and the two-level form's extra materialization, sampling
      job and offset stitch cost more than they save (measured at
      sf0.1: ``grouped_mad`` on a 594k-row histogram in 3 groups took
      3.0 s as a window, 6.9 s two-level).
    - With at least as many groups as partitions the window already
      keeps every partition busy; with one partition the two-level
      form has nothing to parallelise.

    Set the conf to 0 to take the two-level form wherever it applies
    (plan audits of the 100 TB shape, tests).

    Eager by design: every call runs one small job at plan-construction
    time, and nothing is remembered across calls, because a lake path
    re-read after its files grew analyzes to the same plan, and a
    remembered answer would pin the one-task window onto data past the
    bound.  Code that only builds plans passes ``two_level=`` to
    :func:`prefix_scan` to stay job-free.  The job counts ``df`` and
    HLL-estimates its groups; on a cached ``df`` it fuses with the
    cache's materialization.  ``rows``, the caller's pre-aggregation
    row frame, moves the estimate to the scan side:
    ``approx_count_distinct(by, value_col)`` estimates the histogram
    ``df`` without shuffling or caching it.  HLL's ±5% only moves which
    of two identical-result plans runs near the bound.
    """
    by = list(by)
    sp = df.sparkSession
    n_parts = shuffle_partitions(sp)
    max_rows = int(sp.conf.get("spark.graft.distCumWindowMaxRows", "8000000"))
    if not by and (n_parts <= 1 or max_rows <= 0):
        return n_parts > 1
    if rows is not None and value_col is not None:
        n = F.approx_count_distinct(F.struct(*by, value_col))
    else:
        n = F.count(F.lit(1))
    groups = F.approx_count_distinct(F.struct(*by)) if by else F.lit(1)
    est = (rows if rows is not None else df).agg(
        n.alias("__n"), groups.alias("__g")
    ).first()
    return bool(est["__n"] >= max_rows and est["__g"] < n_parts)


def prefix_scan(
    df: DataFrame,
    order,
    aggs: dict,
    by=(),
    inclusive: bool = False,
    two_level: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Running aggregates of ``df`` in ``order`` within each ``by`` group.

    ``aggs`` maps each output column to ``(kind, Column)`` with kind
    ``"sum"``, ``"max"`` or ``"min"``.  ``order`` holds column names or
    sort Columns (``F.col("v").desc()``) and must be a total order
    within a group.  Each row gets the aggregate over the rows strictly
    before it, or up to and including it when ``inclusive``.  NULL
    inputs are skipped as in SQL; an exclusive sum over no preceding
    row is 0, and an exclusive max or min is NULL.

    Returns ``(rows, totals)``: ``df`` with the output columns added
    (an existing column of that name is replaced), and one row per
    group (one row for a global scan) holding ``by`` and each aggregate
    over its whole group as ``<name>_total``.  In the window form
    ``totals`` aggregates the input again (a global scan persists an
    input the caller has not; a grouped scan's histogram is the
    caller's to persist); the two-level form derives it from the
    per-cell totals.

    ``two_level=None`` resolves with :func:`resolve_two_level`; True or
    False forces a form.  Sums over integers and decimals are exact, so
    both forms give identical values (a decimal sum's result type may
    be wider in the two-level form).
    """
    by = list(by)
    order = [F.col(c) if isinstance(c, str) else c for c in order]
    if two_level is None:
        two_level = resolve_two_level(df, by)
    end = 0 if inclusive else -1
    # (i, output name, aggregate, combine); the i-th input is __scan<i>
    specs = [
        (i, name, *_KINDS[kind])
        for i, (name, (kind, _)) in enumerate(aggs.items())
    ]
    if not (two_level or by or df.is_cached):
        # a global window form's rows and totals (and callers that read
        # the ranked rows twice) share one materialization of the input
        df = cached(df)
    base = df.withColumns({f"__scan{i}": aggs[n][1] for i, n, _, _ in specs})

    def finish(name: str, value: F.Column) -> F.Column:
        if aggs[name][0] == "sum" and not inclusive:
            return F.coalesce(value, F.lit(0))
        return value

    if not two_level:
        # the window's outputs keep the __scan<i> names, so the plan
        # marker survives the optimizer inlining a literal input
        w = _frame(by, order, end)
        rows = base.withColumns(
            {f"__scan{i}": fn(f"__scan{i}").over(w) for i, _, fn, _ in specs}
        ).withColumns(
            {n: finish(n, F.col(f"__scan{i}")) for i, n, _, _ in specs}
        )
        totals = base.groupBy(*by).agg(
            *[fn(f"__scan{i}").alias(f"{n}_total") for i, n, fn, _ in specs]
        )
        return rows.drop(*[f"__scan{i}" for i, *_ in specs]), totals

    cells = ["__pid", *by]
    n_parts = shuffle_partitions(df.sparkSession)
    parted = cached(
        base.repartitionByRange(n_parts, *[F.col(c) for c in by], *order)
        .withColumn("__pid", F.spark_partition_id())
    )
    per_cell = parted.groupBy(*cells).agg(
        *[fn(f"__scan{i}").alias(f"__pt{i}") for i, _, fn, _ in specs]
    )
    totals = per_cell.groupBy(*by).agg(
        *[fn(f"__pt{i}").alias(f"{n}_total") for i, n, fn, _ in specs]
    )
    # offsets: each cell's aggregate over its group's earlier partitions,
    # keyed by renamed columns so that NULL groups join null-safely
    w_off = _frame(by, ["__pid"], -1)
    keys = {c: f"__ok{j}" for j, c in enumerate(cells)}
    offsets = per_cell.select(
        *[F.col(c).alias(k) for c, k in keys.items()],
        *[
            fn(f"__pt{i}").over(w_off).alias(f"__off{i}")
            for i, _, fn, _ in specs
        ],
    )
    w_in = _frame(cells, order, end)
    rows = (
        parted.withColumns(
            {f"__in{i}": fn(f"__scan{i}").over(w_in) for i, _, fn, _ in specs}
        )
        .join(
            F.broadcast(offsets),
            [F.col(c).eqNullSafe(F.col(k)) for c, k in keys.items()],
        )
        .withColumns(
            {
                n: finish(n, both(F.col(f"__in{i}"), F.col(f"__off{i}")))
                for i, n, _, both in specs
            }
        )
    )
    helpers = [*keys.values(), "__pid"]
    for i, *_ in specs:
        helpers += [f"__scan{i}", f"__in{i}", f"__off{i}"]
    return rows.drop(*helpers), totals
