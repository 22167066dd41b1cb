"""Scale-adaptive parallelism guards for tiny-input / high-fanout
plans (r6, guide §2.5 input skew + §2.2).

Two degenerate shapes show up in the dedup/ANN family:

1. A *small unsplittable input* (one parquet file, one row group) maps
   the whole tokenize/md5/signature projection onto ONE scan task.
2. A *high-fanout self-join* (LSH band buckets multiply rows ~10^3x)
   downstream of a shuffle that AQE coalesced by BYTES: the exchange
   carries a few MB of compact per-doc rows, AQE folds it to 1-2
   partitions, and the entire join fan-out + verify chain runs on 1-2
   cores. Measured on the sf0.1 corpus: the minhash verify stage went
   15.5 s -> 1.6 s (9.6x) once the fan-out input was spread
   (BENCH §11b).

Both fixes derive the partition count from the SESSION's parallelism
(``sparkContext.defaultParallelism`` — total cores on any master),
never a constant, so the same code is right on local[4], local[32]
and a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fanout_partitions(df: DataFrame, factor: int = 2) -> int:
    """Target partition count for a fan-out stage: 2x the session's
    total cores (the usual shuffle-partition rule of thumb), floored
    at 16 so even a tiny master keeps some task pipelining."""
    sc = df.sparkSession.sparkContext
    return max(int(sc.defaultParallelism) * factor, 16)


def spread_input(df: DataFrame, *key_cols: str, factor: int = 2) -> DataFrame:
    """Conditionally repartition an UNDER-PARALLEL source (shape 1).

    Fires only when an exchange-free physical plan has fewer partitions
    than the target, i.e. the local single-file scan; at real scale
    (thousands of splits) it is a no-op and the corpus is never
    gratuitously shuffled. Two targets:

    - ``factor=2`` (default): ``fanout_partitions`` — 2x the session's
      cores, floored at 16 — for JVM stages whose rows fan out
      downstream (tokenize/signature, band joins, dot products).
    - ``factor=1``: one task per core (``defaultParallelism``, no
      floor), for a Python stage that does all of its work in its one
      UDF (the mosaic's patch kernel). Every Python task pays a fixed
      set-up before its UDF body runs, even on a reused worker. Most
      of it was pyspark's per-task ``importlib.invalidate_caches()``
      re-reading pyspark.zip's directory once per zip importer
      (CPython < 3.13), which the session's worker daemon
      (aef_mosaic_spark.pyworker) now skips for an unchanged zip: an
      empty 16-task mapInPandas stage on local[4] takes ~0.5 s, down
      from 1.35-1.40 s, against ~0.1 s for a JVM-only stage
      (scripts/python_task_cost.py): ~0.1 s of task time per task
      with 4 running at a time, against ~0.3 s before. More tasks
      than cores still buy no pipelining, only that cost again.

    Hash-partitions by ``key_cols`` (deterministic keys — guide §2.5
    forbids rand-derived ones); results are identical, only placement
    changes."""
    if df.isStreaming:  # no physical partition count to inspect
        return df
    # a plan with an exchange is not the leaf-scan shape: its width is
    # the shuffle's, and counting it under AQE would run every
    # upstream stage once here and again in the real job
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    target = (fanout_partitions(df, factor) if factor > 1
              else int(df.sparkSession.sparkContext.defaultParallelism))
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def spread_fanout(df: DataFrame, *key_cols: str, factor: int = 2) -> DataFrame:
    """UNCONDITIONALLY repartition a compact table that feeds a
    high-fanout join (shape 2) with an EXPLICIT partition count —
    explicit N is what disables AQE's byte-based coalescing, which is
    fan-out-blind. Use only on thin per-item rows (ids + hashes +
    signature longs): one extra exchange of the compact table is noise
    next to the 10^2-10^3x join expansion it parallelizes, at any
    corpus size."""
    return df.repartition(fanout_partitions(df, factor),
                          *[F.col(c) for c in key_cols])


def pinned_shuffle(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition by key with the session's CONFIGURED shuffle
    parallelism pinned as an EXPLICIT count. A bare
    ``repartition(col)`` is AQE-coalescible (REPARTITION_BY_COL), so
    an iterated consumer (connected-components loop) can end up on
    1-2 byte-coalesced partitions; pinning the configured value keeps
    the scale knob (spark.sql.shuffle.partitions) in charge while
    disabling the fan-out-blind coalesce."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in key_cols])
