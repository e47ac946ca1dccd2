"""Small shared config readers for operator internals."""

from __future__ import annotations


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int.

    Falls back to ``sparkContext.defaultParallelism`` when the conf
    value is not a plain integer literal (some AQE setups configure it
    as ``'auto'``) — the distributed prefix-scan primitives only need a
    reasonable partition COUNT, not the exact conf semantics, and a
    plan-build-time ValueError would take down every metric built on
    them (roc_auc, AP, best_threshold, spearman, KW, SNB, schedules).
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return int(spark.sparkContext.defaultParallelism)


_BROADCAST_ROW_BOUND = 4_000_000


def broadcast_row_bound(spark) -> int:
    """Row-count bound under which a COUNTED small side may be
    broadcast-hinted (``spark.graft.broadcastRowBound``, settable per
    session).

    The default is deliberately conservative: 4M narrow rows (a key +
    a count) is ~100 MB serialized, well inside a 1 GiB driver/executor
    broadcast budget and the same order as the engine's 64 MB
    ``autoBroadcastJoinThreshold`` — the point is to recover broadcast
    plans AQE declines for lack of size statistics, while keeping a
    hard counted bound so no unbounded-OOM mode exists.
    """
    try:
        return int(spark.conf.get("spark.graft.broadcastRowBound"))
    except Exception:
        return _BROADCAST_ROW_BOUND
