"""Partitioning policy: when and how to spread a too-coarse input.

Guide §2.5 "input skew": a single-file (single-row-group) parquet table
scans as ONE task, so per-row work downstream of it runs on one core
regardless of cluster size. ``spread`` repartitions such an input to
the session's shuffle parallelism before the expensive work; every
operator that spreads goes through it, so the guard logic lives in one
place.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

# Plan-size floor below which a spread costs more than it returns:
# fanning a sub-4MB scan over the task pool costs more in exchange +
# per-task (and Python-worker) overhead than the parallelism returns
# (measured: ann_ivf at sf0.1 0.87s unspread vs 1.3s spread, while
# every sf1.0 table is >10 MB and spreads).
SMALL_PLAN_BYTES = 4 * 1024 * 1024


def _tiny_plan(df: DataFrame, min_bytes: int) -> bool:
    """True when the plan's estimated input is below ``min_bytes``.
    Statistics only — no job is triggered."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j auto-converts java BigInteger to int; str() covers any
        # BigInt-like object it hands back instead
        return int(size if isinstance(size, int) else str(size)) < min_bytes
    except Exception:
        return False


def spread(df: DataFrame, by: Sequence[str] = (), min_bytes: int = 0) -> DataFrame:
    """Repartition a too-coarse input to ``spark.sql.shuffle.partitions``.

    Without ``by`` the spread is round-robin: it costs one shuffle of
    the (cheap, raw) rows and parallelizes everything downstream.
    Deterministic under retries (Spark sorts before round-robin
    repartition, SPARK-23207). With ``by`` the spread hash-partitions
    on those columns, for inputs about to be grouped on them: one
    exchange both parallelizes the downstream aggregate and already
    satisfies its clustering requirement, so the groupBy plans no
    second exchange (guide §2.4 "share one exchange").

    No-op for streams (partition introspection needs a batch plan) and
    for inputs that already have enough partitions (e.g. the 64-file
    bench pipeline dataset), so well-laid-out tables never pay an
    extra shuffle.

    ``min_bytes``: optional plan-stats floor — callers whose per-row
    work is CHEAP relative to task overhead (the similarity numpy
    stages: one matmul row per vector) skip spreading tiny inputs.
    Regex-heavy callers keep the default 0 (always spread): even a
    0.6 MB corpus measured faster spread than not.
    """
    if df.isStreaming:
        return df
    try:
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if nparts * 4 > target or (min_bytes and _tiny_plan(df, min_bytes)):
        return df
    return df.repartition(target, *by)
