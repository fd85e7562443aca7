"""Scale-adaptive input fan-out for small or unsplittable scans.

Parquet assigns scan tasks by BYTE RANGES, but rows only land in the
task whose range contains a row group's midpoint: a file written as
ONE row group claims many splits yet delivers every row to a single
task, so each per-row stage above it runs single-threaded no matter
what ``spark.sql.files.maxPartitionBytes`` says (guide 2.5, "input
skew: one huge unsplittable file ... repartition immediately after
the read"). The driver's sf tables are exactly that shape — one row
group per table — which serialized the map side of every text/vector
operator on a 32-core box. ``rdd.getNumPartitions()`` cannot detect
this (it reports the CLAIMED splits), so the trigger here is the
optimizer's size estimate instead.

``spread_input`` round-robin-repartitions the (already projected)
input to the cluster's default parallelism when the whole input is
estimated under :data:`SPREAD_MAX_BYTES` (256 MiB):
small enough that the one-off shuffle is negligible next to the
per-row work it parallelizes, and far below anything a real corpus
scan produces — at scale inputs arrive in hundreds of genuinely
populated splits and this is a no-op, so nothing here is tuned to
local[32]. Keyless repartition is deterministic (Spark sorts before
round-robin distribution — ``spark.sql.execution.sortBeforeRepartition``
— so retried tasks reproduce the same assignment), and every operator
using it computes per-row / order-independent aggregates, so results
are identical under any partitioning.

``bucket_rows`` is the other half: the table a bucket self-join reads
on both sides, hash-partitioned once on the join key, with the
optional hot-bucket cap computed on that same partitioning.
"""

from __future__ import annotations

import functools
import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_log = logging.getLogger(__name__)

#: Inputs estimated smaller than this are spread to default
#: parallelism.
SPREAD_MAX_BYTES = 256 * 1024 * 1024


@functools.cache
def _warn_no_estimate() -> None:
    """Log the first missing size estimate of the process, with the
    exception being handled; later calls are no-ops."""
    _log.warning("no optimizer size estimate; spread_input leaves "
                 "the input as it is", exc_info=True)


def _estimated_bytes(df: DataFrame) -> int | None:
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = stats.sizeInBytes()
        # py4j maps scala.math.BigInt to int for values in long range;
        # fall back to its string form otherwise
        return size if isinstance(size, int) else int(size.toString())
    except Exception:
        _warn_no_estimate()
        return None


def spread_input(df: DataFrame, columns: list[str] | None = None,
                 ) -> DataFrame:
    """Project to ``columns`` (shuffle only the bytes the operator
    needs — guide 2.3) and repartition to default parallelism when the
    optimizer estimates the input below the spread threshold."""
    if columns is not None:
        df = df.select(*columns)
    size = _estimated_bytes(df)
    if size is None or size >= SPREAD_MAX_BYTES:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def bucket_rows(df: DataFrame, keys: list[str],
                max_bucket_size: int | None = None) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` for a self-join on them.

    Both join sides then read one exchange (the second is planned as a
    ``ReusedExchange``), so whatever computed ``df`` runs once per
    query and nothing is cached. ``max_bucket_size`` drops every row
    of a key holding more than that many rows; the count is a window
    over the same partitioning, so the cap adds no exchange. A hot
    key's rows still all reach one task, which sorts them for the
    window before dropping them: the cap bounds the join, not the
    exchange."""
    df = df.repartition(*keys)
    if max_bucket_size is None:
        return df
    n = F.count("*").over(Window.partitionBy(*keys))
    return (df.withColumn("_n", n)
            .filter(F.col("_n") <= max_bucket_size).drop("_n"))
