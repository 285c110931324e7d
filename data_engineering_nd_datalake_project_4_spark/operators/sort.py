"""Sort / limit / top-k (SURVEY.md §2.2 F).

``top_k`` compiles to TakeOrderedAndProject: each partition keeps a k-heap,
the driver merges k·partitions rows — no global sort shuffle. A global
``orderBy`` without limit range-partitions (sampling pass + shuffle); avoid
it at 100 TB unless the output truly must be totally ordered.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Total order must include a unique tie-break column so the selected
    k rows are deterministic (SURVEY.md §2.3 rule 3)."""
    return df.orderBy(*order_by).limit(k)


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scalable global 1-based row numbering under a TOTAL order — the
    primitive Spark's DataFrame API lacks (``row_number()`` without a
    PARTITION BY serializes the table through ONE task; RDD
    ``zipWithIndex`` leaves the optimizer). Two-pass scheme:
    range-repartition on the order columns, count rows per partition (a
    driver list bounded by the partition count, never row data),
    broadcast the cumulative offsets back, and add them to a
    per-partition ``row_number``.

    The caller's ``order_cols`` must totally order the rows (add the id
    as the last column) — ranks are then deterministic regardless of
    where the range sampler happens to place partition boundaries.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(
        num_partitions or df.sparkSession.sparkContext.defaultParallelism, *cols
    ).withColumn("__pid", F.spark_partition_id())
    d = d.localCheckpoint()  # pin partitioning: counts and ranks must see
    # the SAME placement (a recomputed range-sample could move boundaries)
    counts = sorted(
        (r["__pid"], r["n"])
        for r in d.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets, "__pid int, __off long")
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        d.join(off, "__pid")
        .withColumn(rank_col, F.row_number().over(w) + F.col("__off"))
        .drop("__pid", "__off")
    )
