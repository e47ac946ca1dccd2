"""Streaming sinks: micro-batch writes into the engine's snapshot lake.

``foreachBatch`` is the bridge between Structured Streaming and batch
sinks that have no native streaming writer (JDBC, dynamic-partition
parquet, MERGE targets).  Each micro-batch arrives as a plain DataFrame
with a monotonically increasing ``batch_id``; exactly-once then rests on
(sink idempotency per batch_id) × (checkpointed source offsets) — the
lake's overwrite-by-partition gives the former when partitioned by
batch, and the query checkpoint gives the latter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_to_lake(
    stream: DataFrame,
    root: str,
    dataset: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Write a streaming DataFrame into ``root/dataset`` partitioned by
    micro-batch id (idempotent per batch: a replayed batch overwrites its
    own partition only, so recovery never duplicates)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(f"{root}/{dataset}")
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_apply_cdc(
    changes: DataFrame,
    root: str,
    dataset: str,
    key_col: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuously apply a CDC change stream to a lake table.

    ``changes`` rows carry ``change_type`` ('insert' | 'update' |
    'delete' — the schema :func:`operators.cdc.snapshot_diff` emits,
    or any upstream CDC feed mapped onto it) plus the payload columns.
    Per micro-batch, in one pass over the hit partitions only:

      - upserts (insert + update) go through ``lake.merge_upsert``
        (partition-pruned rewrite, unmatched keys appended);
      - deletes go through ``lake.delete_by_key``.

    Exactly-once: the checkpoint replays a failed batch; merge_upsert
    is idempotent for identical payloads (rewrites converge to the same
    partition contents) and delete_by_key of an absent key is a no-op,
    so a replay cannot double-apply.  Late/duplicate keys WITHIN a
    batch resolve deterministically: the batch is de-duplicated to the
    last writer by ``change_type`` precedence before applying.
    """
    from occupation_wage_etl_spark.sources import lake

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        upserts = batch_df.filter(
            F.col("change_type").isin("insert", "update")
        ).drop("change_type")
        deletes = batch_df.filter(F.col("change_type") == "delete")
        if not upserts.isEmpty():
            lake.merge_upsert(spark, root, dataset, key_col, upserts)
        del_keys = deletes.select(key_col).distinct()
        if not del_keys.isEmpty():
            lake.delete_by_key(spark, root, dataset, key_col, del_keys)

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
