"""Join operators (SURVEY.md §2.2 C).

Thin, typed builders over ``DataFrame.join`` that make the physical strategy
explicit where it matters at 100 TB:

- dimension joins broadcast the small side (no fact-table shuffle);
- large equi-joins shuffle on their keys and lean on AQE skew splitting;
- range joins are expressed as an equi-conjunct + range predicate so the
  planner can still hash/sort-merge on the equi part (a pure theta join
  would degrade to BroadcastNestedLoop).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """inner/left/right/full/semi/anti equi-join."""
    return left.join(right, on if isinstance(on, Column) else list(on), how)


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """EXISTS: rows of ``left`` with ≥1 match. Never duplicates left rows."""
    return equi_join(left, right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """NOT EXISTS: rows of ``left`` with no match."""
    return equi_join(left, right, on, "left_anti")


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    return left.crossJoin(right)


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi: Column,
    range_pred: Column,
) -> DataFrame:
    """Inner equi-join + range predicate (e.g. ship date within 30 days of
    order date). The equi conjunct keeps the join hash-partitionable; the
    range predicate is applied as a post-join filter by the planner."""
    return left.join(right, equi & range_pred)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join with the pandas ``merge_asof`` surface. Per left row:

    - ``direction="backward"`` (default): the right row with the greatest
      ``right_ts <= left_ts`` within the same ``key``;
    - ``direction="forward"``: the right row with the smallest
      ``right_ts >= left_ts``.

    Both inclusive, LEFT semantics — unmatched left rows keep NULLs.
    ``tolerance`` bounds the match gap ``|left_ts - right_ts|``: in the ts
    column's own units for numeric columns, in SECONDS for timestamp
    columns (may be fractional). A match outside tolerance becomes NULLs,
    exactly like pandas.

    Spark-first plan (Spark has no native ASOF): tag and union both sides,
    sort per key by (ts, side) — right rows first at equal ts for
    backward, left rows first for forward — and fill ``right_cols`` with
    ``last``/``first(ignorenulls)`` over a running/reversed frame — ONE
    shuffle on the key, no range nested-loop, state bounded by the
    window. The classic alternative (range-condition theta join) degrades
    to BNLJ and O(L·R) comparisons. The tolerance check is a map-side
    post-filter on the matched ts carried inside the fill struct.

    Ties on ``right_ts`` within a key are the caller's to resolve (dedupe
    the right side first); matches DuckDB ``ASOF LEFT JOIN`` semantics —
    including NULLs: right rows with NULL ``right_ts`` never match, and a
    matched right row's NULL column value stays NULL (the right columns are
    filled as ONE struct, so a non-null older row can't bleed into
    individual fields).
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    lcols = [c for c in left.columns]
    clashes = set(right_cols) & set(lcols)
    if clashes:
        raise ValueError(
            f"right_cols {sorted(clashes)} collide with left columns — "
            "alias them on the right side before the asof join"
        )
    rtypes = dict(right.dtypes)
    struct_fields = ",".join(f"{c}:{rtypes[c]}" for c in right_cols)
    tol_num = None
    if tolerance is not None:
        if tolerance < 0:
            raise ValueError(f"tolerance must be >= 0, got {tolerance}")
        is_ts = rtypes[right_ts].startswith("timestamp")

        def _num(c):
            return F.unix_micros(c) if is_ts else c.cast("double")

        tol_num = tolerance * 1_000_000 if is_ts else tolerance
        struct_fields += ",__rtsn:" + ("bigint" if is_ts else "double")
    struct_t = f"struct<{struct_fields}>"
    # backward: right (0) sorts before left (1) at equal ts so the running
    # frame sees the same-ts right row; forward: right (1) sorts AFTER
    # left (0) so the following frame includes it.
    l_ord, r_ord = (1, 0) if direction == "backward" else (0, 1)
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(l_ord).alias("__side"),
        F.lit(1).alias("__is_l"),
        F.lit(None).cast(struct_t).alias("__r"),
    )
    r_struct = [F.col(c) for c in right_cols]
    if tolerance is not None:
        r_struct.append(_num(F.col(right_ts)).alias("__rtsn"))
    r_tagged = (
        right.filter(F.col(right_ts).isNotNull())  # NULL ts never matches
        .select(
            *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c) for c in lcols if c != key],
            F.col(key),
            F.col(right_ts).alias("__ts"),
            F.lit(r_ord).alias("__side"),
            F.lit(0).alias("__is_l"),
            F.struct(*r_struct).alias("__r"),
        )
        .select(*lcols, "__ts", "__side", "__is_l", "__r")
    )
    unioned = l_tagged.unionByName(r_tagged)
    base = Window.partitionBy(key).orderBy(F.asc("__ts"), F.asc("__side"))
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fill = F.last("__r", ignorenulls=True).over(w)
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        fill = F.first("__r", ignorenulls=True).over(w)
    # A NULL left ts must never match. Backward is safe by accident (NULLS
    # FIRST puts the row before every right row, so the preceding frame is
    # empty), but forward's currentRow→following frame would see EVERY right
    # row from the NULLS-FIRST position — guard the fill explicitly.
    filled = unioned.select(
        *lcols,
        "__ts",
        "__is_l",
        F.when(F.col("__ts").isNotNull(), fill).alias("__rf"),
    )
    if tolerance is not None:
        lnum = _num(F.col("__ts"))
        gap = (
            (lnum - F.col("__rf.__rtsn"))
            if direction == "backward"
            else (F.col("__rf.__rtsn") - lnum)
        )
        filled = filled.withColumn(
            "__rf", F.when(gap <= F.lit(tol_num), F.col("__rf"))
        )
    return (
        filled.filter(F.col("__is_l") == 1)
        .select(*lcols, *[F.col("__rf")[c].alias(c) for c in right_cols])
    )


def interval_point_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_point: str,
    bin_width: int,
) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key, made hash-partitionable
    by binning: each interval explodes to the bins it overlaps, each point
    maps to exactly one bin, the join is equi on bin id + exact containment
    filter. A point matches inside one specific bin of an interval, so no
    dedup pass is needed.

    Columns must be LONG (for timestamps: ``unix_micros`` first, with
    ``bin_width`` in the same unit). Without this, Spark plans a pure range
    predicate as BroadcastNestedLoopJoin — O(L·R) comparisons; binned, the
    cost is O((L·avg_bins + R) shuffle + per-bin candidates). Choose
    ``bin_width`` ≈ the typical interval length so avg_bins stays ~2.
    """
    l = left.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (F.col(left_start) / bin_width).cast("long"),
                (F.col(left_end) / bin_width).cast("long"),
            )
        ),
    )
    r = right.withColumn("__bin", (F.col(right_point) / bin_width).cast("long"))
    return (
        l.join(r, "__bin")
        .filter(
            (F.col(right_point) >= F.col(left_start))
            & (F.col(right_point) <= F.col(left_end))
        )
        .drop("__bin")
    )


def build_bloom_words(
    df: DataFrame, key_col: str, num_bits: int = 1 << 20, num_hashes: int = 5
) -> list[int]:
    """Distributed Bloom-filter build over a key column: k seeded xxhash64
    positions per key, OR'd into a dense ``num_bits``-bit bitmap. The
    reduction is Catalyst end-to-end (explode positions → per-word
    ``bit_or`` with map-side partial aggregation); only the finished
    ``num_bits/64``-word bitmap reaches the driver — bounded MODEL state
    (the k-means-centroid precedent), not data. 2^20 bits ≈ 1% false
    positives at ~100k distinct keys; size num_bits ≈ 10·n_keys for ~1%.
    """
    if num_bits <= 0 or num_bits % 64 != 0:
        raise ValueError(f"num_bits ({num_bits}) must be a positive multiple of 64")
    if num_hashes <= 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be positive")
    pos = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]
    words = (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*pos)).alias("__p"))
        .select(
            (F.col("__p") / 64).cast("int").alias("__w"),
            F.expr("shiftleft(1L, cast(__p % 64 AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__bits"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["__w"]] = r["__bits"]
    return dense


def bloom_might_contain(
    words: list[int], key: Column, num_hashes: int = 5
) -> Column:
    """Catalyst membership probe against :func:`build_bloom_words` output:
    k seeded hash positions, each tested with one array lookup + bit test
    on the broadcast literal bitmap. No false negatives; NULL keys probe
    to a deterministic constant position set — Spark's xxhash64 SKIPS a
    NULL argument and hashes only the remaining seed literal, so a NULL
    key probes at the xxhash64(lit(i)) positions (not the raw seed).
    Harmless: NULL keys never equi-match downstream anyway."""
    num_bits = len(words) * 64
    arr = F.lit(words)
    pred = F.lit(True)
    for i in range(num_hashes):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        # shiftleft's Python wrapper only takes an int shift; the SQL
        # function itself accepts expressions (1L << 63 wraps to the sign
        # bit in Java shift semantics — exactly the mask we need, where a
        # pow(2,63)->long cast would ANSI-overflow)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        pred = pred & (word.bitwiseAND(mask) != 0)
    return pred


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    how: str = "inner",
    num_bits: int = 1 << 20,
) -> DataFrame:
    """Semi-join reduction: filter the big ``probe`` side through a Bloom
    filter of ``build``'s join keys BEFORE the join's shuffle — at 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling only the ~matching fraction. Spark's runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) does this
    automatically within one query when its thresholds hit; this operator
    makes the reduction explicit, reusable across queries (build once,
    probe many), and independent of optimizer heuristics.

    No false negatives (bloom property) ⇒ the result is EXACTLY the plain
    join for match-only join types (false positives just ride through to
    the real join and fall out there). Outer types keep non-matching
    probe rows, so prefiltering would change the result — refused loudly.
    """
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(
            f"bloom_prefilter_join supports match-only join types "
            f"(inner/left_semi), got {how!r}: outer types keep "
            "non-matching probe rows, which the prefilter would drop"
        )
    words = build_bloom_words(build, on, num_bits)
    filtered = probe.where(bloom_might_contain(words, F.col(on)))
    return filtered.join(build, on, "left_semi" if how == "semi" else how)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bin_width: int,
    how: str = "inner",
) -> DataFrame:
    """Pure interval-overlap join (closed intervals, NO equi key): pairs
    where ``[l_start, l_end]`` and ``[r_start, r_end]`` intersect. This is
    the join :func:`range_join` can't plan — without an equi conjunct
    Spark degenerates to a nested-loop O(N·M) scan — so both sides are
    binned to a grid of ``bin_width``-wide cells (an interval joins every
    cell it touches) and the join becomes a hash join on the cell id.

    Duplicate suppression is free: a pair overlapping across several
    shared cells is emitted ONLY at the canonical cell containing
    ``max(l_start, r_start)`` (the first cell where both are present), so
    no distinct shuffle is needed.

    Bounds must be NUMERIC (epoch days/seconds — convert timestamps
    first) and column names must be disjoint across the two inputs (the
    self-join shared-attribute trap). NULL bounds produce no cells and no
    pairs. ``bin_width`` ≈ the median interval length is a good default:
    cells per interval = len/bin_width + 1 (fan-out) vs intervals per
    cell (join width) — tune for the data. Only ``how='inner'`` is
    supported (outer overlap semantics are ambiguous under binning).
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width ({bin_width}) must be positive")
    if how != "inner":
        raise ValueError(f"interval_overlap_join supports how='inner' only (got {how!r})")
    overlap_cols = set(left.columns) & set(right.columns)
    if overlap_cols:
        raise ValueError(
            f"left/right share column names {sorted(overlap_cols)}: rename "
            "before joining (shared attribute ids make the join condition "
            "ambiguous)"
        )
    w = F.lit(bin_width)

    def cells(s: str, e: str) -> Column:
        return F.sequence(
            F.floor(F.col(s) / w).cast("long"), F.floor(F.col(e) / w).cast("long")
        )

    lb = left.withColumn("__cell", F.explode(cells(l_start, l_end)))
    rb = right.withColumn("__rcell", F.explode(cells(r_start, r_end)))
    canonical = F.floor(F.greatest(F.col(l_start), F.col(r_start)) / w).cast("long")
    return (
        lb.join(rb, lb["__cell"] == rb["__rcell"])
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
            & (F.col("__cell") == canonical)
        )
        .drop("__cell", "__rcell")
    )
