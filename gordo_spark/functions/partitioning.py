"""Scale-adaptive partition-count derivation (optimization guide §2.2/§2.4).

Iterative operators (power iteration, label propagation, BFS) join an
edge-cardinality frame against a node-cardinality frame once or twice
per step. Pre-hash-partitioning the edge frame by the join key and
caching it removes the edge-side Exchange from every step — but the
partition count must not be a constant tuned to either local mode or
one cluster size. `adaptive_partitions` derives it from the frame's
optimizer size estimate (driver-side metadata only, no job): one
partition per ``target_bytes`` of estimated input, with NO
``defaultParallelism`` floor: the callers' per-iteration stages do
trivial per-row work, and a core-count floor forces core-count
near-empty tasks into every iteration (measured at sf0.1: hits
12 -> 22 s with a 32-partition floor — see the function body).
Callers with CPU-heavy per-row stages should size partitions
themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["adaptive_partitions"]

_MAX_PARTITIONS = 200_000  # sanity cap: 200k x 128 MB = 25.6 TB per frame

# Leaves with no computable statistics (LogicalRDD / python-created
# frames, some sources) report spark.sql.defaultSizeInBytes, whose
# default is Long.MaxValue — a sentinel, not a size. Any leaf at or
# above this bound means "unknown", and an unknown leaf must NOT feed
# the bytes-per-partition division (it would saturate the cap and emit
# _MAX_PARTITIONS near-empty tasks; measured: 200k-task stages in the
# createDataFrame-backed unit tests).
_UNKNOWN_STATS_FLOOR = 1 << 60


def adaptive_partitions(df: DataFrame, target_bytes: int = 128 << 20) -> int:
    """Partition count for pre-partitioning ``df`` by a join key:
    ``est_size // target_bytes``, at least 1 and at most
    ``_MAX_PARTITIONS``. There is no ``defaultParallelism`` floor.

    The estimate is the sum of the optimized plan's LEAF relation
    sizes (file-size-derived for scans — the only reliable layer of
    Catalyst's estimator: join/aggregate propagation multiplies
    row-count guesses and can overshoot by 1000x, measured 2.1 TB for
    a 25 MB join at sf0.1). A keyed projection of a join/union never
    exceeds its inputs by more than a small factor, so leaf bytes are
    the right scale proxy: at bench scale (MBs) this returns 1 and at
    warehouse scale enough partitions to keep each in the 128 MB - 1 GB
    band usually recommended for shuffle partitions. Returns ``defaultParallelism``
    only when there is no usable estimate: the JVM estimate is
    unavailable, or a leaf reports the unknown-size sentinel.
    """
    base = df.sparkSession.sparkContext.defaultParallelism
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        sizes = [
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        ]
        if not sizes or any(s >= _UNKNOWN_STATS_FLOOR for s in sizes):
            return base  # a sentinel-sized leaf poisons the whole sum
        est = sum(sizes)
    except Exception:  # pragma: no cover - py4j estimate unavailable
        return base
    # NO defaultParallelism floor: the callers (iterative joins over a
    # pinned layout) do trivial per-row work, so when the data is small
    # the right count is what AQE coalescing would pick — one partition
    # per target_bytes — not one per core. A core-count floor here
    # forces core-count tasks into EVERY iteration's stages (measured:
    # hits 12 -> 22 s at sf0.1 with a 32 floor, scheduling-bound). At
    # warehouse scale est/target dominates any floor. Callers with
    # CPU-heavy per-row stages should size partitions themselves.
    return max(1, min(_MAX_PARTITIONS, est // int(target_bytes)))
