"""Scale-safe global total-order ranking.

``row_number() OVER (ORDER BY ...)`` with an empty PARTITION BY clause is
the classic 100 TB trap: Spark plans a single-partition window, pulling
the entire dataset through one task. This operator produces the same
global rank with the distributed two-phase plan every large engine uses:

1. one range shuffle (``repartitionByRange`` on the total order) — the
   same shuffle a global ``ORDER BY`` needs anyway — then a
   within-partition sort;
2. ``monotonically_increasing_id`` to recover, entirely JVM-side, the
   partition ordinal (``id >> 33``) and the 1-based local row number
   (``id & (2^33 - 1)``) of each row in that sorted layout;
3. a per-partition row-count aggregate (map-side combined: the shuffle
   carries one row per partition, not per record), a running-sum of
   counts over the handful of partition ordinals, and a broadcast join
   adding each partition's global offset to its local row numbers.

The per-partition counts are a second consumer of the range exchange,
so the sorted layout is **persisted** before either consumer plans over
it. This is correctness, not just economy: ``repartitionByRange``
derives its boundaries by *sampling*, and when the optimizer declines
to reuse the exchange (AQE re-planning, differing subtrees above it)
the two consumers can execute it twice with *different* sampled
boundaries — per-partition counts that don't match the layout the row
numbers were minted in, i.e. silently wrong ranks. Observed in the
wild at sf0.1 before the persist. The tiny cumulative-sum window runs
over ``n_partitions`` rows — driver-scale, not data-scale.

The order must be a *total* order (include a unique tiebreaker):
range-partition boundaries may split runs of equal keys, and the rank of
tied rows would then depend on placement.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_MID_BITS = 33  # monotonically_increasing_id: partition ordinal << 33 | row index


def global_rank(df: DataFrame, order: list[Column | str],
                rank_col: str = "rnk",
                num_partitions: int | None = None) -> DataFrame:
    """All input columns plus ``rank_col`` = the row's 1-based position
    in the global ``order`` (which must be a total order)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (df.repartitionByRange(n, *order)
                .sortWithinPartitions(*order)
                .withColumn("__mid", F.monotonically_increasing_id())
                .withColumn("__pid", F.shiftright("__mid", _MID_BITS))
                .withColumn("__lrn",
                            (F.col("__mid") % F.lit(1 << _MID_BITS)) + 1)
                .persist(StorageLevel.MEMORY_AND_DISK))
    counts = parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(cum), F.lit(0)).alias("__off"))
    return (parted.join(F.broadcast(offsets), "__pid")
            .withColumn(rank_col, F.col("__off") + F.col("__lrn"))
            .drop("__mid", "__pid", "__lrn", "__off"))
