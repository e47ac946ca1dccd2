"""Preference (skyline / Pareto-frontier) queries.

A row dominates another when it is no worse on every criterion and
strictly better on at least one.  The skyline is the set of undominated
rows — the classic "cheapest AND biggest" shortlist query that OLAP
engines bolt on as ``SKYLINE OF`` and that a Spark user otherwise writes
as an O(n²) anti-join.

Scale design (the 2-criteria case implemented here):

1. ``groupBy(minimize_col)`` collapses the table to one row per distinct
   minimize-value carrying the group's best (max) maximize-value — a
   map-side-combined hash aggregate, so the shuffle carries at most
   ``#distinct(minimize_col)`` rows no matter how many input rows there
   are (skyline membership only depends on that per-value maximum).
2. A running-max window ordered by the minimize column finds the
   "staircase": a distinct value survives iff its group max strictly
   exceeds every strictly-cheaper group's max.  The window runs over the
   collapsed table, so its single-partition sort touches only distinct
   minimize-values — bounded for priced/sized/dated attributes.  For a
   genuinely unbounded continuous column, bucketize (or range-partition
   and apply the skyline-of-skylines identity: the skyline of a union is
   the skyline of the per-partition skylines) before calling this.
3. A final inner join (broadcastable: the staircase is tiny) re-attaches
   the surviving (minimize, maximize) pairs to the original rows.

Dominance is non-strict with a strict component, so exact ties on BOTH
criteria all stay in the skyline (none dominates the other).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skyline_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
) -> DataFrame:
    """All rows not dominated under (minimize ``minimize_col``, maximize
    ``maximize_col``).  Returns the input rows (original schema) that are
    on the Pareto frontier.
    """
    # Dominance is undefined for NULL criteria — and Spark windows sort
    # NULLs FIRST on asc (a NULL minimize group's max would wrongly seed
    # the running max), while SQL engines sort them LAST.  Dropping NULL
    # criterion rows up front pins ONE semantics for every engine.
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    df = df.filter(
        F.col(minimize_col).isNotNull() & F.col(maximize_col).isNotNull()
    )
    g = df.groupBy(minimize_col).agg(F.max(maximize_col).alias("__gmax"))
    # running max over the distinct-minimize axis via the two-level
    # distributed prefix scan (_scan.prefix_scan) — the axis
    # is value-cardinality-sized, so a plain Window.orderBy would pull
    # it through one task
    marked, _ = prefix_scan(
        g, [minimize_col], {"__prev": ("max", F.col("__gmax"))}
    )
    stair = (
        marked.filter(
            F.col("__prev").isNull() | (F.col("__gmax") > F.col("__prev"))
        )
        .select(
            F.col(minimize_col).alias("__smin"),
            F.col("__gmax").alias("__smax"),
        )
    )
    out = df.join(
        F.broadcast(stair),
        on=[
            F.col(minimize_col) == F.col("__smin"),
            F.col(maximize_col) == F.col("__smax"),
        ],
        how="inner",
    )
    return out.select(*df.columns)
