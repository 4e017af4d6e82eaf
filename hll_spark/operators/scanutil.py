"""Plan statistics, and the scan-parallelism repair built on them.

This is the ONE module that reads Spark plan statistics. Two probes:

- ``plan_bytes(df)``: the optimized logical plan's size-in-bytes
  estimate;
- ``estimated_splits(df)``: that estimate divided by
  ``files.maxPartitionBytes``, i.e. how many scan splits the plan will
  read.

Neither runs a job or plans the physical query. Both return ``None``
when the JVM probe is unavailable (Spark Connect, other non-classic
backends); every caller maps ``None`` to its own safe default:
``fan_out_scan`` leaves the plan alone, ``plan_is_small`` says False,
the sketch merge picks its scale-safe two-level topology and sequence
packing shuffles into 200 ranges.

Single-file parquet inputs written as one row group cannot be split:
however small ``files.maxPartitionBytes`` is, only the split containing
the row-group midpoint produces rows, so a CPU-heavy stage directly on
top of the scan (n-gram explosion, perplexity scoring, media decode)
runs on ONE core regardless of cluster size — the "input skew: one huge
unsplittable file" case of the optimization playbook (§2.5), whose
prescribed fix is a repartition immediately after the read.

``fan_out_scan`` applies that fix ONLY when it is provably cheap and
useful: the plan's estimated input size must be at most
``FAN_OUT_MAX_BYTES``, so one extra round-robin exchange is trivial next
to the per-row work it unlocks, and the estimated split count must be
well below the session's default parallelism. At scale neither
condition holds (a 100 TB table has thousands of natural splits and the
guard sees the size), so the exchange vanishes from the plan exactly
where it would hurt — a plan decision from input statistics, not a
local-mode constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# inputs above this are left to their natural splits (an exchange of
# this much data is no longer "trivial")
FAN_OUT_MAX_BYTES = 4 << 30


def plan_bytes(df: DataFrame) -> int | None:
    """Optimized-logical-plan size estimate in bytes, or None when the
    JVM probe is unavailable."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def estimated_splits(df: DataFrame) -> int | None:
    """Estimated scan split count (plan bytes / ``files.maxPartitionBytes``,
    at least 1), or None when the JVM probe is unavailable."""
    size = plan_bytes(df)
    if size is None:
        return None
    try:
        max_pb = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
    except Exception:
        return None
    return max(1, -(-size // max(max_pb, 1)))


def plan_is_small(df: DataFrame) -> bool:
    """True when ``df``'s plan size estimate is available and at most
    ``FAN_OUT_MAX_BYTES``.

    Use on frames whose statistics are trustworthy (scans, cached
    frames, pre-join inputs): join outputs inherit multiplied
    cardinality estimates that can read in the terabytes for
    kilobyte-sized results, so gate on the join's INPUT, not its
    output. Callers use this to force CPU-bound stages wide on small
    inputs, where AQE's byte-floor (minPartitionSize) would otherwise
    coalesce a compute-heavy shuffle down to a couple of tasks; on
    large inputs the byte volume itself gives AQE the parallelism and
    the caller leaves the plan alone."""
    size = plan_bytes(df)
    return size is not None and size <= FAN_OUT_MAX_BYTES


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when
    (and only when) its scan is parallelism-starved and small.

    Returns ``df`` unchanged when statistics are unavailable, when the
    input is estimated above ``FAN_OUT_MAX_BYTES``, or when the scan
    already yields at least half the session's default parallelism.
    Row content is untouched — only the partitioning changes, so any
    per-row map or keyed aggregation downstream computes identical
    results.
    """
    if not plan_is_small(df):
        return df
    parts = estimated_splits(df)
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # non-classic backend — leave the plan alone
        return df
    if parts is None or parts * 2 >= target:
        return df
    return df.repartition(target)
