"""Scale-adaptive partitioning helpers.

``fan_out``: restore map-side parallelism after an unsplittable scan
(optimization guide SS2.5 "input skew: one huge unsplittable file ...
repartition immediately after the read"). The sandbox testdata parquet
files are single-row-group, so a scan is ONE task and every narrow
operator above it (tokenize, shingle hashing, per-row dot products,
python decode kernels) runs on one core. The target partition count is
``sparkContext.defaultParallelism`` -- the session's real core budget,
never a local[32] constant -- and the repartition is skipped entirely
when the scan already has that many splits, which is every real
multi-file corpus at scale, so the exchange costs nothing where it is
not needed.

A bonus at plan level: when several subtrees of one query consume the
same fanned-out frame, the round-robin exchanges are identical and
Spark's ReusedExchange dedups them -- the scan + shuffle run once, the
per-consumer narrow work runs 32-way above it. Two limits: a filter one
consumer pushes below the exchange (an inferred ``isnotnull`` or
``size(...) > 0``) makes its copy differ and run separately, and the
narrow work itself still runs once per consumer; ``dedup._exchanged``
adds a second exchange above a shared projection for that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    if df.isStreaming:
        # a streaming frame has no static partition count to inspect
        # (micro-batch partitioning comes from the source); leave it to
        # the stream's own maxFilesPerTrigger / source parallelism
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
