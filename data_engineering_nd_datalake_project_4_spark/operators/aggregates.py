"""Aggregation operators (SURVEY.md §2.2 D).

Everything compiles to partial+final HashAggregate (map-side combine → one
shuffle of partials). ``grouping_sets`` / rollup / cube expand in the plan,
not in storage. ``approx_count_distinct`` is the scale path for distinct
counts (HLL sketch, mergeable, no exact shuffle of the key universe).

Empty-input semantics: SQL:1999 defines the ``()`` grouping set as a global
aggregate — it yields exactly one row even over zero input rows (the same
way ``SELECT COUNT(*) FROM empty`` does). Spark's Expand-based
rollup/cube/grouping-sets implementation expands *input* rows, so an empty
input produces zero output rows — DuckDB and PostgreSQL both emit the
grand-total row. :func:`rollup` / :func:`cube` / :func:`grouping_sets` here
repair that divergence (found by the ``empty`` soak variant): the
``grouping_id() == 2^n-1`` slice is replaced by a branch that falls back to
the always-one-row ``df.limit(0).groupBy().agg(...)`` aggregate when the
real grand-total row is absent. ``limit(0)`` folds to an empty
LocalRelation, so the fallback row costs no scan; the non-total rows pass
through with no extra exchange; the two slices of the aggregate share the
shuffle via exchange reuse. Net non-empty-input behavior is unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_GID = "__gid"
_SYNTH = "__synth"


def grouped(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    return df.groupBy(*keys).agg(*aggs)


def having(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column], predicate: Column) -> DataFrame:
    """GROUP BY ... HAVING — the predicate filters the aggregated rows."""
    return df.groupBy(*keys).agg(*aggs).filter(predicate)


def _with_standard_grand_total(
    df: DataFrame,
    grouped_data,
    keys: Sequence[str],
    aggs: Sequence[Column],
    keep_grouping_id: str | None,
) -> DataFrame:
    """Aggregate ``grouped_data`` (a rollup/cube/groupingSets GroupedData
    over ``df``) and guarantee the SQL-standard grand-total row on empty
    input.

    ``aggs`` must not contain ``grouping()``/``grouping_id()`` (they only
    resolve inside a grouping-analytics aggregate, not in the empty-input
    fallback) — pass ``keep_grouping_id`` and derive the flags from its
    bits instead (bit i, MSB-first over ``keys``, is ``grouping(keys[i])``).

    Raises ``ValueError`` on name collisions the repair would otherwise
    corrupt silently: an agg alias equal to a grouping key (the fallback's
    ``withColumn(k, NULL)`` would overwrite the aggregate), or any column
    named ``__gid``/``__synth`` (reserved for the repair plumbing).
    """
    agg_names = set(df.limit(0).groupBy().agg(*aggs).columns)
    reserved = {_GID, _SYNTH}
    clashes = sorted(agg_names & set(keys))
    if clashes:
        raise ValueError(
            f"agg alias(es) {clashes} collide with grouping key name(s): the "
            "empty-input grand-total repair would overwrite them with NULL — "
            "alias the aggregate(s) differently"
        )
    # keep_grouping_id == _GID is a no-op rename of the exposed column —
    # legal; only _SYNTH (never exposed) is reserved against it
    taken = sorted(
        ((agg_names | set(df.columns)) & reserved)
        | ({keep_grouping_id} & {_SYNTH} if keep_grouping_id else set())
    )
    if taken:
        raise ValueError(f"column name(s) {taken} are reserved by the grand-total repair")
    # renaming _GID to a name an agg alias or input column already uses
    # would yield a duplicate output column downstream
    if keep_grouping_id and keep_grouping_id != _GID and keep_grouping_id in (
        agg_names | set(df.columns)
    ):
        raise ValueError(
            f"keep_grouping_id {keep_grouping_id!r} collides with an aggregate "
            "alias or input column — the rename would duplicate the name"
        )
    out = grouped_data.agg(*aggs, F.grouping_id().alias(_GID))
    maxgid = (1 << len(keys)) - 1
    rest = out.where(F.col(_GID) != maxgid)
    real_total = out.where(F.col(_GID) == maxgid).withColumn(_SYNTH, F.lit(0))

    # the standard empty-input grand total: a global aggregate over zero
    # rows (one row, count=0 / sum=NULL). limit(0) folds to an empty
    # LocalRelation — no scan.
    synth = df.limit(0).groupBy().agg(*aggs)
    for k in keys:
        synth = synth.withColumn(k, F.lit(None).cast(df.schema[k].dataType))
    synth = synth.withColumn(_GID, F.lit(maxgid).cast("bigint")).withColumn(
        _SYNTH, F.lit(1)
    )
    # ≤2 candidate rows: prefer the real grand total when it exists
    total = (
        real_total.unionByName(synth.select(*real_total.columns))
        .orderBy(_SYNTH)
        .limit(1)
        .drop(_SYNTH)
    )
    merged = rest.unionByName(total)
    if keep_grouping_id:
        return merged.withColumnRenamed(_GID, keep_grouping_id)
    return merged.drop(_GID)


def rollup(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    keep_grouping_id: str | None = None,
) -> DataFrame:
    return _with_standard_grand_total(df, df.rollup(*keys), keys, aggs, keep_grouping_id)


def cube(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    keep_grouping_id: str | None = None,
) -> DataFrame:
    return _with_standard_grand_total(df, df.cube(*keys), keys, aggs, keep_grouping_id)


def grouping_sets(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """GROUP BY GROUPING SETS (…) via the Spark 4 ``groupingSets`` API.
    ``keys`` is the union of grouped columns; the empty-input grand-total
    repair applies only when ``()`` is one of the sets."""
    gd = df.groupingSets([list(s) for s in sets], *keys)
    if any(len(s) == 0 for s in sets):
        return _with_standard_grand_total(df, gd, keys, aggs, None)
    return gd.agg(*aggs)
