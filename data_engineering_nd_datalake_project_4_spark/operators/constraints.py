"""Deequ-style declarative data-quality constraints.

A real lakehouse pipeline validates every batch before it reaches
training/analytics (the reference's ETL loads blind —
/root/reference/etl.py has no validation stage; AWS Deequ / dbt tests are
the published shape of this operator). One call = ONE aggregate pass over
the table: every rule compiles to conditional-count expressions inside a
single groupBy().agg(), so a 100-TB validation costs one scan + one
1-row partial+final aggregate — no per-rule jobs, no driver-side data.

Metrics are exact integer-count ratios (one IEEE division each —
cross-engine deterministic, oracle-checkable). Supported rule kinds:

- ``not_null``:        metric = count(col) / count(*)
- ``unique``:          metric = countDistinct(col) / count(col)
  (distinctness over non-null values; NULLs are not_null's business)
- ``in_range``:        metric = fraction of NON-NULL values in [lo, hi]
- ``accepted_values``: metric = fraction of NON-NULL values in the set
- ``min_rows``:        metric = count(*), passed = count >= lo

``passed`` = metric >= threshold (default 1.0 — every row must comply;
lower it for tolerance-style rules). Empty-input convention: ratio rules
pass vacuously (0/0 → metric NULL → passed true), min_rows fails.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KINDS = ("not_null", "unique", "in_range", "accepted_values", "min_rows")


def _metric(rule: dict) -> Column:
    kind, col = rule["kind"], rule.get("col")
    # try_divide, not `/`: under ANSI mode a 0-row input would make the
    # ratio 0/0 THROW; try_divide yields NULL, which the passed-column
    # COALESCE turns into the vacuous pass
    if kind == "not_null":
        return F.try_divide(F.count(F.col(col)).cast("double"), F.count(F.lit(1)))
    if kind == "unique":
        return F.try_divide(
            F.countDistinct(F.col(col)).cast("double"), F.count(F.col(col))
        )
    if kind == "in_range":
        lo, hi = rule["lo"], rule["hi"]
        ok = F.when(F.col(col).between(F.lit(lo), F.lit(hi)), 1)
        return F.try_divide(F.count(ok).cast("double"), F.count(F.col(col)))
    if kind == "accepted_values":
        ok = F.when(F.col(col).isin(list(rule["values"])), 1)
        return F.try_divide(F.count(ok).cast("double"), F.count(F.col(col)))
    if kind == "min_rows":
        return F.count(F.lit(1)).cast("double")
    raise ValueError(f"unknown rule kind {kind!r}; expected one of {_KINDS}")


def mad_outliers(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Robust per-group outlier detection via median / MAD (median
    absolute deviation): flag rows where ``|value - median| > k · MAD``
    within their group — the classic data-cleaning rule that, unlike
    mean/stddev z-scores, a single wild value cannot drag (breakdown
    point 50%). Returns the flagged rows as
    ``(group_col, id_col, value_col, grp_median, grp_mad)``.

    Exactness (the half2/half4-soak-proof construction): comparing
    ``|dev| > k·MAD`` on raw doubles would tie on grid-valued money where
    engine median-interpolation formulas differ in the last ulp. Instead
    values are integerized FIRST — ``CAST(v AS DECIMAL(18,4)) · 10⁴`` is
    an exact integer (the decimal cast is the repo's
    cross-engine-aligned quantize) — so every median is an exact multiple
    of 0.5, every |dev| a multiple of 0.5, every MAD a multiple of 0.25:
    interpolation, subtraction, the k· multiply and the strict comparison
    are all EXACT in double on both engines, regardless of interpolation
    formula. The /scale rescale of the reported stats is one exact-input
    IEEE division.

    NULL values carry no evidence and are excluded; a NULL group is a
    real group (null-safe joins — the nulls-soak discipline). MAD = 0
    (≥ half the group equals its median) flags every non-median value,
    the standard MAD caveat.

    Scale shape: two grouped EXACT percentiles (per-group sort-based
    aggregate — group count is the parallel unit; for groups too large to
    sort per-key, swap ``approx_percentile`` in, same operator shape) with
    the tiny stats frames broadcast back; no window over the data, no
    driver collect.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    value_scale = 10_000
    cents = (F.col(value_col).cast("decimal(18,4)") * value_scale).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"),
        F.col(id_col),
        F.col(value_col),
        cents.alias("__c"),
    )
    med = (
        base.groupBy("__g")
        .agg(F.percentile("__c", F.lit(0.5)).alias("__med"))
        .withColumnRenamed("__g", "__gm")
    )
    j1 = base.join(
        F.broadcast(med), base["__g"].eqNullSafe(med["__gm"])
    ).drop("__gm")
    dev = F.abs(F.col("__c") - F.col("__med"))
    mad = (
        j1.groupBy("__g")
        .agg(F.percentile(dev, F.lit(0.5)).alias("__mad"))
        .withColumnRenamed("__g", "__gd")
    )
    return (
        j1.join(F.broadcast(mad), j1["__g"].eqNullSafe(mad["__gd"]))
        .filter(dev > k * F.col("__mad"))
        .select(
            F.col("__g").alias(group_col),
            id_col,
            value_col,
            (F.col("__med") / value_scale).alias("grp_median"),
            (F.col("__mad") / value_scale).alias("grp_mad"),
        )
    )


def check_constraints(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Evaluate ``rules`` in ONE aggregate pass. Each rule is a dict with
    ``name`` (output label), ``kind`` (see module docstring), ``col``
    (except min_rows), kind-specific params (``lo``/``hi``/``values``),
    and optional ``threshold`` (default 1.0; for min_rows the bound is
    ``lo``). Returns ``(rule string, metric double, passed boolean)``,
    one row per rule, in rule order.

    Shape: all metrics compute in one agg (multiple distinct aggregates
    plan through Spark's Expand — still a single scan); the 1-row result
    unpivots map-side to rule rows. Nothing is collected.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    names = [r["name"] for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in {names}")
    agg_row = df.agg(*[_metric(r).alias(f"__m{i}") for i, r in enumerate(rules)])
    entries = []
    for i, r in enumerate(rules):
        m = F.col(f"__m{i}")
        if r["kind"] == "min_rows":
            passed = m >= F.lit(float(r["lo"]))
        else:
            thr = float(r.get("threshold", 1.0))
            # vacuous pass on 0/0 (NULL metric): no values to violate
            passed = F.coalesce(m >= F.lit(thr), F.lit(True))
        entries.append(
            F.struct(
                F.lit(r["name"]).alias("rule"),
                m.alias("metric"),
                passed.alias("passed"),
            )
        )
    return agg_row.select(
        F.explode(F.array(*entries)).alias("__r")
    ).select("__r.rule", "__r.metric", "__r.passed")
