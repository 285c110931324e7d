"""Window/analytic operators (SURVEY.md §2.2 E).

One shuffle on the partition key + per-partition sort. At scale the hazard
is a skewed partition key (one user with 10⁹ events) — callers with known
skew should pre-aggregate or bucket the key before windowing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def spec(partition_by: Sequence[str], order_by: Sequence[Column]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def top_n_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """row_number ≤ n per group — the greatest-n-per-group idiom (replaces
    the reference's aggregate+join-back, /root/reference/etl.py:142-146)."""
    w = spec(partition_by, order_by)
    return df.withColumn(rank_alias, F.row_number().over(w)).filter(F.col(rank_alias) <= n)


def with_rank(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    dense_alias: str = "dense_rank",
    rank_alias: str = "rank",
) -> DataFrame:
    w = spec(partition_by, order_by)
    return df.withColumn(rank_alias, F.rank().over(w)).withColumn(dense_alias, F.dense_rank().over(w))


def with_lag_lead(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    lag_alias: str = "prev",
    lead_alias: str = "next",
) -> DataFrame:
    w = spec(partition_by, order_by)
    return df.withColumn(lag_alias, F.lag(col).over(w)).withColumn(lead_alias, F.lead(col).over(w))


def running(df: DataFrame, expr: Column, partition_by: Sequence[str], order_by: Sequence[Column], alias: str) -> DataFrame:
    """ROWS UNBOUNDED PRECEDING .. CURRENT ROW running aggregate."""
    w = spec(partition_by, order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(alias, expr.over(w))


def groups_between(
    df: DataFrame,
    aggs: dict[str, Column],
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    preceding: int,
    following: int = 0,
) -> DataFrame:
    """SQL:2011 ``GROUPS BETWEEN p PRECEDING AND f FOLLOWING`` frames —
    the one standard frame type Spark's parser lacks (ROWS/RANGE only,
    tested against Spark 4.1). The exact rewrite: peer rows (ties under
    ``order_by``) share a ``dense_rank`` index, and a RANGE frame over
    that integer index counts whole peer groups, which is precisely the
    GROUPS frame semantics (frames always include entire peer groups).

    ``aggs`` maps output alias → aggregate expression. Physical: one
    shuffle on ``partition_by``; both window passes order by the same key
    sequence so the second sort is over already-sorted runs.
    """
    w_rank = spec(partition_by, order_by)
    out = df.withColumn("__grp_idx", F.dense_rank().over(w_rank))
    w_frame = (
        Window.partitionBy(*partition_by)
        .orderBy("__grp_idx")
        .rangeBetween(-preceding, following)
    )
    for alias, expr in aggs.items():
        out = out.withColumn(alias, expr.over(w_frame))
    return out.drop("__grp_idx")
