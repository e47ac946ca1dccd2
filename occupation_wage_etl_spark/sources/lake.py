"""Date-partitioned parquet snapshot lake.

Reference contract (``pipeline/load_data.py:248-254``, README.md:58-62):
one snapshot dir per dataset per day, ``data/<dataset>/<YYYY-MM-DD>/``.
Here the date is a real hive partition column (``snapshot_date``), so

- writes are idempotent per snapshot (dynamic partition overwrite
  replaces ONLY the written date — re-running a day never duplicates,
  fixing the reference's append-duplication, SURVEY.md §4),
- reads with a date predicate are partition-pruned (Catalyst skips
  other days' files entirely — at 100 TB, the difference between
  scanning one day and scanning all of history).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._cache import checkpoint, scope

PARTITION_COL = "snapshot_date"


def today() -> str:
    """Driver-side snapshot date (reference ``datetime.today_date()``,
    load_data.py:239-246 — without the stdlib-shadowing class)."""
    return _dt.date.today().isoformat()


def write_snapshot(
    df: DataFrame,
    root: str,
    dataset: str,
    snapshot_date: str | None = None,
) -> str:
    """Write one dataset snapshot, overwrite-by-partition (idempotent).

    Uses dynamic partition overwrite so only the target date's partition
    is replaced; other snapshots are untouched.
    """
    date = snapshot_date or today()
    path = f"{root}/{dataset}"
    (
        df.withColumn(PARTITION_COL, F.lit(date))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )
    return f"{path}/{PARTITION_COL}={date}"


def read_snapshot(
    spark: SparkSession,
    root: str,
    dataset: str,
    snapshot_date: str | None = None,
) -> DataFrame:
    """Read a dataset; with ``snapshot_date`` the filter is a partition
    predicate → Catalyst prunes to that one directory."""
    df = spark.read.parquet(f"{root}/{dataset}")
    if snapshot_date is not None:
        df = df.filter(F.col(PARTITION_COL) == snapshot_date)
    return df


def latest_snapshot(spark: SparkSession, root: str, dataset: str) -> DataFrame:
    """Read only the most recent snapshot (partition-pruned)."""
    df = spark.read.parquet(f"{root}/{dataset}")
    latest = df.select(F.max(PARTITION_COL).alias("d")).first()["d"]
    return df.filter(F.col(PARTITION_COL) == latest)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a catalog table bucketed (and optionally sorted) by a join
    key.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT an exchange on either side — at 100 TB this turns the
    nightly fact⋈fact join from the dominant shuffle into a local merge
    per bucket.  Bucket counts must be chosen once per key domain
    (power of two; ≈ target parallelism) because only equal counts (or
    exact multiples, with ``spark.sql.bucketing.coalesceBucketsInJoin``)
    co-locate.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def delete_by_key(
    spark: SparkSession,
    root: str,
    dataset: str,
    key_col: str,
    keys_df: DataFrame,
) -> int:
    """Targeted row deletion (GDPR-style): remove rows whose ``key_col``
    appears in ``keys_df`` and rewrite ONLY the partitions that contained
    them.

    Plain parquet has no row-level delete, so deletion is a partition
    rewrite — the scalable shape is:

      1. semi-join to find which snapshot partitions hold any victim row
         (partition-pruned scan of just the key + partition columns);
      2. anti-join those partitions' rows against the key set (broadcast
         when small);
      3. dynamic-partition-overwrite the survivors back — untouched
         partitions are never read or written.

    ``keys_df`` is evaluated exactly once (its distinct keys are
    checkpointed before both joins read them), and every block the
    function checkpoints is released before it returns.

    Returns the number of partitions rewritten.  (Table formats with
    delete files — Iceberg/Delta — replace step 3 at the metadata layer;
    the plan shape of steps 1-2 is identical.)
    """
    path = f"{root}/{dataset}"
    with scope():
        keys = checkpoint(keys_df.select(F.col(key_col)).distinct())
        df = spark.read.parquet(path)
        hit_parts = [
            r["p"]
            for r in df.join(F.broadcast(keys), key_col, "semi")
            .select(F.col(PARTITION_COL).alias("p"))
            .distinct()
            .collect()
        ]
        if not hit_parts:
            return 0
        # materialize survivors before overwriting the path they were
        # read from (Spark rejects lazy self-overwrite); cluster variant:
        # stage to a temp prefix and swap.
        survivors = checkpoint(
            df.filter(F.col(PARTITION_COL).isin(hit_parts))
            .join(F.broadcast(keys), key_col, "anti")
        )
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL)
            .parquet(path)
        )
    return len(hit_parts)


def merge_upsert(
    spark: SparkSession,
    root: str,
    dataset: str,
    key_col: str,
    updates_df: DataFrame,
    insert_snapshot: str | None = None,
) -> tuple[int, int]:
    """MERGE INTO on plain parquet: upsert ``updates_df`` by ``key_col``.

    Semantics (matched → UPDATE in place, unmatched → INSERT):

      1. broadcast-semi-join the update keys against the lake to find
         which snapshot partitions hold a matched row — only those
         partitions are ever read in full or rewritten;
      2. matched keys keep their original partition: hit partitions are
         rewritten as (old rows minus matched keys) ∪ (updates for keys
         living there), via dynamic partition overwrite;
      3. unmatched update rows are appended to the ``insert_snapshot``
         partition (default: today).

    ``updates_df`` is evaluated exactly once: the de-duplicated batch
    and the key → owning-partition map are each checkpointed, and every
    later step reads those two.  Every block the function checkpoints
    is released before it returns.

    Returns ``(n_partitions_rewritten, n_inserted)``.  Untouched
    partitions are never read or written — the same partition-pruned
    rewrite shape as :func:`delete_by_key`; Iceberg/Delta replace step 2
    with delete files but keep this plan shape.
    """
    path = f"{root}/{dataset}"
    date = insert_snapshot or today()
    lake = spark.read.parquet(path)
    with scope():
        # distinct keys only (latest-wins within a batch is the caller's
        # contract, enforced here defensively).
        updates = checkpoint(updates_df.dropDuplicates([key_col]))
        owner = checkpoint(
            lake.join(F.broadcast(updates.select(key_col)), key_col, "semi")
            .select(key_col, F.col(PARTITION_COL).alias("_owner_part"))
            .distinct()
        )
        hit_parts = [
            r["_owner_part"]
            for r in owner.select("_owner_part").distinct().collect()
        ]
        # reads only the two checkpoints, never the lake, so it is still
        # valid after the overwrite below.
        inserts = updates.join(
            F.broadcast(owner.select(key_col)), key_col, "anti"
        ).withColumn(PARTITION_COL, F.lit(date))
        n_inserted = inserts.count()
        if hit_parts:
            keep = (
                lake.filter(F.col(PARTITION_COL).isin(hit_parts))
                .join(F.broadcast(updates.select(key_col)), key_col, "anti")
            )
            replaced = (
                updates.join(F.broadcast(owner), key_col, "inner")
                .withColumn(PARTITION_COL, F.col("_owner_part"))
                .drop("_owner_part")
            )
            # materialize before overwriting the source path (see
            # delete_by_key)
            merged = checkpoint(keep.unionByName(replaced))
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(PARTITION_COL)
                .parquet(path)
            )
        if n_inserted:
            inserts.write.mode("append").partitionBy(PARTITION_COL).parquet(
                path
            )
    return len(hit_parts), n_inserted


def compact_partition(
    spark: SparkSession,
    root: str,
    dataset: str,
    snapshot_date: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite one snapshot partition into ~target-sized parquet files.

    Streaming sinks and incremental appends leave many small files;
    at scale the fix is per-partition coalesce to
    ceil(partition_bytes / target) files — computed from the actual
    on-disk size, not guessed.  Returns the new file count.
    """
    part_dir = f"{root}/{dataset}/{PARTITION_COL}={snapshot_date}"
    jvm = spark._jvm  # noqa: SLF001 — py4j filesystem access, driver-side
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(part_dir))
    total_bytes = sum(
        s.getLen()
        for s in statuses
        if s.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, -(-total_bytes // target_file_bytes))
    # the checkpoint materializes the partition BEFORE the overwrite —
    # Spark refuses (or corrupts) a lazy read-then-overwrite of the same
    # path.  On a cluster, write-to-temp + rename is the durable variant.
    with scope():
        compacted = checkpoint(
            read_snapshot(spark, root, dataset, snapshot_date)
            .drop(PARTITION_COL)
            .coalesce(int(n_files))
        )
        compacted.write.mode("overwrite").parquet(part_dir)
    return int(n_files)


def compaction_plan(
    sizes: DataFrame,
    part_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planning as a pure query: assign CONTIGUOUS
    runs of (sorted) partitions to output file groups so each group's
    byte total lands near ``target_bytes`` — the planning half of
    OPTIMIZE/compact jobs, kept contiguous so partition-range pruning
    still works on the compacted files.

    Greedy prefix-sum bucketing: group(p) = cumulative_bytes_before(p)
    div target over partitions sorted by key.  The cumulative sum runs
    on the distributed prefix scan
    (:func:`~occupation_wage_etl_spark.operators._scan.prefix_scan`) —
    the size table is one row per partition, which at lake scale is
    itself a large axis, so no single-task window.
    Exact integer arithmetic (integer ``div``, never a double quotient).

    Returns (file_group, n_parts, group_bytes, first_part, last_part).
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    summed, _ = prefix_scan(
        sizes, [part_col], {"__cumb": ("sum", F.col(size_col).cast("long"))}
    )
    assigned = summed.select(
        F.col(part_col),
        F.col(size_col),
        F.expr(f"__cumb div {int(target_bytes)}").alias("file_group"),
    )
    return assigned.groupBy("file_group").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(size_col).cast("long").alias("group_bytes"),
        F.min(part_col).alias("first_part"),
        F.max(part_col).alias("last_part"),
    )
