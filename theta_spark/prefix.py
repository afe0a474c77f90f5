"""Two-phase distributed prefix sum — the shared kernel behind
vocab_index (operators/augment.py) and pack_sequences
(functions/packing.py), extracted so the trick lives once (review r5).

A global `Window.orderBy` cumsum funnels the whole input through ONE
task (the VERDICT r4 #3 bottleneck class). The two-phase form is
bit-identical to it:

1. within-bucket inclusive cumsum — `Window.partitionBy(bucket)
   .orderBy(order)`, where the bucket is a PREFIX of the sort key
   (bucket ranges are contiguous in the global order, so (bucket,
   order) ordering == global ordering);
2. per-bucket offsets — total value of all strictly-smaller buckets, a
   running sum over the per-bucket totals in bucket order. That window
   has one partition, but its input is one row per bucket and does not
   grow with the input; pick the bucketing so |buckets| stays modest, or
   recurse the same two phases over the totals at 10^9+ buckets.

Integer values stay integer until whatever division the caller does, so
the result is bit-identical to the naive single-window formula
(pytest-pinned at both call sites).

(splits.py's `_with_global_index` is a third global-rank construction
but NOT this kernel — it range-repartitions and collects bounded
per-partition counts to rank ROWS, where this helper sums VALUES; the
two are kept separate deliberately.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def two_phase_cumsum(
    df: DataFrame, value_col: str, order_col: str, bucket_col: str
) -> DataFrame:
    """+ `_cum`: the inclusive prefix sum of `value_col` in global
    (bucket, order) order. Input columns pass through unchanged;
    `bucket_col` must be a prefix of the global sort key."""
    w_in = Window.partitionBy(bucket_col).orderBy(order_col)
    d = df.withColumn(
        "_cum_in",
        F.sum(value_col).over(w_in.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # one partition on purpose: its input is the totals, one row per bucket
    below = Window.partitionBy(F.lit(0)).orderBy(bucket_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = df.groupBy(bucket_col).agg(F.sum(value_col).alias("_bt")).select(
        bucket_col, F.coalesce(F.sum("_bt").over(below), F.lit(0)).alias("_off")
    )
    return (
        d.join(F.broadcast(offs), bucket_col)
        .withColumn("_cum", F.col("_off") + F.col("_cum_in"))
        .drop("_cum_in", "_off")
    )
