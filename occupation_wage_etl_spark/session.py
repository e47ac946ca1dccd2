"""SparkSession factory tuned for this engine.

Defaults target local[:n:] test/bench runs but every knob is chosen so the
same plan shape survives a 1000-executor cluster at 100 TB:

- AQE on (runtime coalescing + skew-join splitting replace hand-tuned
  shuffle-partition counts at scale),
- broadcast threshold generous enough that dimension tables (region,
  nation, supplier, the 736-row OEWS table) always broadcast,
- session timezone pinned to UTC so event-time semantics are portable
  (and comparable against the DuckDB oracle, whose timestamps are
  UTC-naive),
- Arrow enabled for pandas conversions; per-row Python (the payload
  parsers of the source and media tiers) runs through one Arrow bridge,
  ``operators/_rows.flat_map``, and only the vectorized numpy kernels
  of ``operators/similarity.py`` use ``mapInPandas`` — everything else
  stays JVM-side in whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs applied to every session this engine creates.  At cluster scale the
# same settings hold; only master/memory/shuffle-partitions move with the
# deployment (AQE re-coalesces shuffle partitions at runtime anyway).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # cap in-memory columnar batch to keep executor memory bounded with
    # wide binary (multimodal) columns
    "spark.sql.parquet.columnarReaderBatchSize": "4096",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "occupation-wage-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so tests and bench share one code path; on a real cluster pass
    ``master=None`` with a cluster-configured spark-submit and the
    builder inherits it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    # Deployment-parameterized overrides (guide §9: configs are the
    # last-10-30% lever and deployment-specific): SPARK_GRAFT_CONF is a
    # ';'-separated k=v list merged after ENGINE_CONF, so a cluster run
    # (or a bench A/B) can retune shuffle codec / join-strategy knobs
    # without code edits.  Empty/unset = the defaults above, keeping the
    # driver's bench directly comparable across rounds.  Programmatic
    # ``extra_conf`` is applied LAST and wins over the env: its callers
    # (tests, plan_audit) state hard requirements (e.g. AQE off for
    # plan-shape assertions) that env tuning must not silently break.
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            if k.strip():
                builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    preexisting = SparkSession.getActiveSession()
    spark = builder.getOrCreate()
    if preexisting is not None and preexisting is spark and (
        extra_conf or os.environ.get("SPARK_GRAFT_CONF")
    ):
        import warnings

        warnings.warn(
            "get_spark: returning a pre-existing SparkSession; "
            "requested conf overrides were NOT applied",
            stacklevel=2,
        )
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
