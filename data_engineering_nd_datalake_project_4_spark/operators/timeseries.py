"""Time-series operators beyond windows: SCD Type 2 interval building and
step-function (LOCF) time-weighted aggregation — the hypertable-adjacent
surface (continuous aggregates live in queries.q64/streaming).

Both are single-window-shuffle compositions: partition by the entity key,
order by event time — one exchange, then pure codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.functions import dec


def scd2_intervals(
    df: DataFrame,
    key: str,
    ts_col: str,
    attr_col: str,
    tie_break: str | None = None,
) -> DataFrame:
    """Collapse an event stream into SCD Type 2 validity intervals: one row
    per (key, run of equal ``attr_col``) with ``valid_from`` / ``valid_to``
    (NULL = current). Consecutive duplicates merge; a change opens a new
    interval at its event time.

    Ordering must be total — pass ``tie_break`` (a unique column) when
    event times can collide, or runs are nondeterministic.
    """
    order = [F.asc(ts_col)] + ([F.asc(tie_break)] if tie_break else [])
    w = Window.partitionBy(key).orderBy(*order)
    # the partition's first row ALWAYS opens an interval (detected by
    # row_number, not lag-is-NULL — a leading NULL attr would otherwise
    # eqNullSafe-match the NULL lag and open nothing); later rows open one
    # iff the attr is null-safely distinct from its predecessor.
    changed = (F.row_number().over(w) == 1) | ~F.lag(attr_col).over(w).eqNullSafe(
        F.col(attr_col)
    )
    carry = [tie_break] if tie_break and tie_break not in (key, ts_col, attr_col) else []
    change_points = df.select(
        key, ts_col, attr_col, *carry, changed.alias("__chg")
    ).filter("__chg")
    # valid_to ordering must match the change-detection ordering — two
    # change points sharing (key, ts) otherwise get nondeterministic ends.
    w2 = Window.partitionBy(key).orderBy(*order)
    return change_points.select(
        key,
        F.col(attr_col).alias("attr"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def time_weighted_avg(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tie_break: str | None = None,
) -> DataFrame:
    """Step-function (LOCF) time-weighted average per key: each value holds
    until the next observation; TWA = Σ valueᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first).
    Keys with a single observation (zero total duration) are dropped.

    Cross-engine exactness: value → exact cents (DECIMAL(18,2)·100 →
    BIGINT), duration → µs BIGINT, and the per-interval product is taken in
    DECIMAL(38,0) — one operand is cast to decimal BEFORE the multiply.
    The product itself CANNOT overflow (|bigint|² < 8.5e37 < 1e38), but the
    DECIMAL(38,0) SUM accumulator can in principle, and with ANSI off Spark
    yields NULL on decimal-sum overflow — which ``F.sum`` would otherwise
    pass through as a silently-NULL ``twa`` while the oracle's HUGEINT stays
    exact. The guard below turns that case into a loud error: if any group
    has non-NULL products but a NULL sum, the job fails with an explicit
    message (unreachable at realistic magnitudes — ~1e31 for a year of
    max-money cents — but silent-wrong is not an acceptable failure mode).
    The final division is one deterministic double op, so Spark and an
    oracle engine agree bit-for-bit.
    """
    order = [F.asc(ts_col)] + ([F.asc(tie_break)] if tie_break else [])
    w = Window.partitionBy(key).orderBy(*order)
    us = F.unix_micros(F.col(ts_col))
    stepped = df.select(
        key,
        (dec(value_col) * 100).cast("bigint").alias("__cents"),
        us.alias("__t"),
        (F.lead(us).over(w) - us).alias("__dur"),
    ).filter(F.col("__dur").isNotNull())
    prod = F.col("__cents").cast("decimal(19,0)") * F.col("__dur")
    no_overflow = F.assert_true(
        (F.col("__n_prod") == 0) | F.col("__wsum").isNotNull(),
        F.lit("time_weighted_avg: DECIMAL(38,0) cents-microseconds sum overflowed"),
    )
    return (
        stepped.groupBy(key)
        .agg(
            F.sum(prod).alias("__wsum"),
            F.sum("__dur").alias("__tot"),
            F.count(prod).alias("__n_prod"),
        )
        .filter(F.col("__tot") > 0)
        .select(
            key,
            # assert_true is NULL when it passes; adding its coalesced 0.0
            # keeps the guard alive in the plan (a dropped column would be
            # pruned) without perturbing the double result
            (
                F.col("__wsum").cast("double") / (F.col("__tot") * F.lit(100.0))
                + F.coalesce(no_overflow.cast("double"), F.lit(0.0))
            ).alias("twa"),
            F.col("__tot").alias("total_duration_us"),
        )
    )


def halflife_decay_score(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    half_life_seconds: int,
) -> DataFrame:
    """Exponentially-decayed activity score per key, the recency-weighted
    feature behind "recent engagement" ranking signals: each observation
    contributes ``value / 2^k`` where ``k = floor(age / half_life)`` and
    age is measured back from the NEWEST observation in the input (so the
    score is a property of the dataset, not of wall-clock at run time).

    Discretizing the decay to whole half-lives is what makes the score
    EXACTLY reproducible across engines (the q138/q158 discipline):

    - ``k`` is BIGINT floor division of non-negative µs ages — exact.
    - the weight denominator is ``1 << k`` (``k <= 62``), a BIGINT whose
      double cast is an exact power of two; rows older than 62
      half-lives are DROPPED in both engines (their
      weight, < 2.2e-19, is below the decimal quantum anyway) rather than
      left to underflow differently.
    - each term is ONE IEEE division ``value / 2^k`` (exact scaling by a
      power of two: only the exponent changes, never the mantissa), then
      quantized to DECIMAL(26,12) so the per-key SUM is exact and
      order-independent; the final cast back to double is the only
      rounding step and is identical cross-engine.

    NULL ``ts``/``value`` rows are excluded up front (never silently
    zero-weighted); keys with no surviving observation produce no row.

    Scale shape: one partial-aggregating 1-row MAX (broadcast back as a
    scalar — O(N·1) nested-loop on a single row, whitelisted in the plan
    audit), the k/term arithmetic entirely map-side, then one
    partial-combining groupBy on the key. No window, no per-row Python.
    """
    hl_us = half_life_seconds * 1_000_000
    t = F.unix_micros(F.col(ts_col))
    obs = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(key, t.alias("__t"), F.col(value_col).alias("__v"))
    ref = F.broadcast(obs.agg(F.max("__t").alias("__ref")))
    k = _floordiv(F.col("__ref") - F.col("__t"), hl_us)
    denom = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("__k").cast("int")
    )
    term = (F.col("__v") / denom.cast("double")).cast("decimal(26,12)")
    return (
        obs.crossJoin(ref)
        .withColumn("__k", k)
        .filter(F.col("__k") <= 62)
        .groupBy(key)
        .agg(
            F.sum(term).cast("double").alias("decay_score"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _floordiv(a: Column, b: int) -> Column:
    # exact floor division on longs: (a - pmod) is an exact multiple of b,
    # so the double divide is exact (µs epochs < 2^53) and the cast is safe
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _ceildiv(a: Column, b: int) -> Column:
    return -_floordiv(-a, b)


def resample_locf(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    tie_break: str | None = None,
) -> DataFrame:
    """Resample an irregular series onto a regular per-key time grid with
    LOCF (last-observation-carried-forward) — the hypertable
    ``time_bucket_gapfill + locf`` idiom. Grid instants are multiples of
    ``step_seconds`` from the first to the last observation of each key
    (inclusive, ceiling-aligned); the value at instant t is the latest
    observation with ``ts <= t``, so every grid row is populated (the
    first grid instant is >= the key's first observation).

    Same-timestamp collisions are resolved by ``tie_break`` (max wins)
    BEFORE filling — without it equal-ts winners are nondeterministic
    (the `latest_per_key` lesson). NULL values (and NULL timestamps) are
    treated as NO observation and dropped up front — otherwise a NULL
    observation would win its bucket and the ignorenulls fill would
    carry an OLDER value past it, which is neither "carry the NULL" nor
    "skip it" (the nulls-soak divergence class).

    Scale shape: per-key bounds are one partial-aggregating groupBy; the
    grid fans out map-side from ``sequence()`` over BUCKET INDICES (longs,
    never one row per raw observation); observations reduce to one winner
    per (key, bucket) via ``max_by`` (partial combine) before the single
    grid-vs-buckets shuffle join; the fill is one window over the same
    key partitioning. Grid size = span/step per key — a key with a year
    of span at 1s steps fans out 31M rows; pick ``step_seconds``
    accordingly (the fan-out is the POINT of gap-fill, not a leak).
    """
    step = step_seconds * 1_000_000
    t = F.unix_micros(F.col(ts_col))
    order = F.struct(t, F.col(tie_break)) if tie_break else F.struct(t)
    obs = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(key, t.alias("__t"), F.col(value_col).alias("__v"), order.alias("__o"))
    buckets = obs.groupBy(key, _ceildiv(F.col("__t"), step).alias("__i")).agg(
        F.max_by("__v", "__o").alias("__v")
    )
    grid = (
        obs.groupBy(key)
        .agg(F.min("__t").alias("__mn"), F.max("__t").alias("__mx"))
        .select(
            key,
            F.explode(
                F.sequence(_ceildiv(F.col("__mn"), step), _ceildiv(F.col("__mx"), step))
            ).alias("__i"),
        )
    )
    w = (
        Window.partitionBy(key)
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(buckets, [key, "__i"], "left")
        .select(
            key,
            F.timestamp_micros(F.col("__i") * step).alias(ts_col),
            F.last("__v", ignorenulls=True).over(w).alias(value_col),
        )
    )
