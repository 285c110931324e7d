"""Mergeable sketch operators: Count-Min frequency estimation.

Completes the engine's sketch family (HLL distinct counts via
``approx_count_distinct`` — q45; rank/percentile sketch via
``approx_percentile`` — q60) with a frequency sketch. The point of a CMS
at 100 TB: the sketch table is a FIXED ``depth × width`` grid of counters
(kilobytes) built in one scan with map-side partial aggregation; point
queries after that are O(depth) lookups against the tiny table — no
second scan of the data, and sketches from separate partitions/days merge
by cell-wise addition.

Pure Catalyst: one ``xxhash64`` per value, reduced into the Mersenne
field, and the d hash rows derive from it by universal-hash reseeds
(``(a_i·h + b_i) mod M mod width``). No UDF, no driver-side state.

The reference has no sketches (it has no aggregates beyond MAX —
/root/reference/etl.py:143); this is a north-star extension.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Mersenne field for the universal-hash reseeds (shared with MinHash).
_M31 = (1 << 31) - 1


def cms_coeffs(depth: int) -> tuple[list[int], list[int]]:
    """Universal-hash coefficient schedule for the CMS rows —
    the SAME fixed-seed LCG draw as ``dedup.minhash_coeffs`` (aᵢ ∈
    [1, M-1], bᵢ ∈ [0, M-1], M = 2³¹-1), re-exported here so the oracle
    twin can inline the literals without importing the dedup module."""
    from data_engineering_nd_datalake_project_4_spark.operators.dedup import minhash_coeffs

    return minhash_coeffs(depth)


def _hash_m31(value: Column) -> Column:
    """The one string hash per value that every CMS row derives from:
    ``pmod(xxhash64(v), M)``, M = 2³¹-1."""
    return F.pmod(F.xxhash64(value), F.lit(_M31))


def _bucket_array(hash_col: Column, width: int, depth: int) -> Column:
    """Array of ``depth`` bucket ids derived from ONE string hash
    (:func:`_hash_m31` — pass it as ``hash_col``, staged in its own
    projection): bucketⱼ = ((aⱼ·h mod M) + bⱼ) mod M mod width.
    This is the MinHash universal-hashing trick (dedup.py): the hash runs
    once per value instead of once per (value × depth), and every product
    stays < 2⁶² (aⱼ, h < 2³¹), so no ANSI overflow. The caller must
    materialize ``hash_col`` as a named column in a separate select: it
    is referenced ``depth`` times here, and a non-cheap
    multiply-referenced alias is what stops CollapseProject from
    re-inlining the hash into every element."""
    a, b = cms_coeffs(depth)
    return F.array(
        *[
            F.pmod(
                F.pmod(F.lit(a[j]) * hash_col, F.lit(_M31)) + F.lit(b[j]),
                F.lit(_M31),
            )
            % F.lit(width)
            for j in range(depth)
        ]
    )


def build_cms(
    df: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 5,
    weight_col: str | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """One-scan Count-Min sketch: DataFrame[row, bucket, cnt] with
    ``depth`` hash rows of ``width`` buckets. Error: overestimate only,
    ≤ e/width · N with probability 1 - e^-depth. ONE xxhash64 per value
    plus arithmetic universal-hash reseeds for the depth rows (not one
    hash per value×row), so the whole sketch — and every estimate from it
    — is bit-identical in the DuckDB oracle's pure-SQL XXH64 twin.

    The ungrouped build pre-aggregates (value → count) before hashing:
    the hash runs once per distinct value and the count rides as an integer weight
    into the cell sum — identical counters (SUM(n) ≡ COUNT(*) per
    instance), one map-side-combining shuffle on the value, and hashing
    cost proportional to the vocabulary instead of the corpus. A caller
    that already holds per-value counts (e.g. it also probes the same
    vocabulary) passes them via ``weight_col`` and skips the internal
    aggregate — one corpus pass total.

    ``group_cols`` builds one independent sketch per group in the same
    single pass (the ``hll_registers`` shape): output keys become
    ``(*group_cols, row, bucket)``. Grouped mode deliberately SKIPS the
    value pre-aggregate — a per-(group, value) aggregate would
    materialize exactly the cross product the grouped sketch exists to
    avoid (domain × token at corpus scale); instead the depth rows
    aggregate straight into the ≤ depth·width cells per group, so the
    shuffle stays bounded by sketch state whatever the value
    cardinality. The hashing price is one string hash per INSTANCE
    (still 1, not depth — the universal reseeds are arithmetic).

    NULL contract: NULL values are DROPPED (xxhash64 would hash NULL to
    the seed and count it as one value). Sketch the NULL class explicitly
    via COALESCE to a sentinel if it matters."""
    gcols = list(group_cols)
    df = df.filter(F.col(col).isNotNull())
    if weight_col is not None:
        counts = df.select(
            *gcols, F.col(col).alias("__v"), F.col(weight_col).cast("long").alias("__n")
        )
    elif not gcols:
        counts = df.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__n")
        )
    else:
        counts = df.select(*gcols, F.col(col).alias("__v"), F.lit(1).alias("__n"))
    hashed = counts.select(*gcols, _hash_m31(F.col("__v")).alias("__h"), "__n")
    bucketed = hashed.select(
        *gcols,
        "__n",
        F.posexplode(_bucket_array(F.col("__h"), width, depth)).alias("row", "bucket"),
    )
    return bucketed.groupBy(*gcols, "row", "bucket").agg(F.sum("__n").alias("cnt"))


def merge_cms(a: DataFrame, b: DataFrame | None = None, group_cols: Sequence[str] = ()) -> DataFrame:
    """Merge sketches built with the same (width, depth):
    cell-wise addition — the property that makes CMS distributable
    (per-partition / per-day sketches combine without touching row data).

    ``group_cols`` names the OUTPUT group keys: sketch rows carrying
    finer keys (e.g. built per ``(domain, day)``) merge UP to the coarser
    grouping (``domain``) by dropping the finer column from the list —
    the incremental-state pattern: keep daily sketch tables, answer
    any-period questions by re-summing kilobytes of cells, never
    rescanning the raw data. With ``b=None`` the single input (already a
    union of states, or finer-keyed) is just re-aggregated."""
    u = a if b is None else a.unionByName(b)
    return (
        u.groupBy(*list(group_cols), "row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hll_merge(registers: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Merge :func:`hll_registers` states: register-wise MAX — the HLL
    merge theorem (max of per-shard registers == registers of the union),
    so the merged estimate is EXACTLY the estimate a direct build over
    the union would produce, bit-for-bit (no approximation is added by
    merging; the oracle twin exploits this).

    ``group_cols`` names the OUTPUT group keys, as in :func:`merge_cms`:
    states built per ``(event_type, day)`` merge up to ``event_type`` by
    MAX over the dropped ``day``. State moved is ≤ 2^p rows per input
    group — at 100 TB the merge is a kilobyte-scale shuffle, independent
    of corpus size. Pass the union of several stored state tables (or
    one finer-keyed table) as ``registers``."""
    return (
        registers.groupBy(*list(group_cols), "bucket")
        .agg(F.max("reg").alias("reg"))
    )


def _probe_rows(items: DataFrame, width: int, depth: int) -> DataFrame:
    """``(item, row, bucket)`` probe cells of a one-column ``item`` frame —
    the same hashing as :func:`build_cms`."""
    hashed = items.select("item", _hash_m31(F.col("item")).alias("__h"))
    return hashed.select(
        "item",
        F.posexplode(_bucket_array(F.col("__h"), width, depth)).alias("row", "bucket"),
    )


def cms_estimate(
    cms: DataFrame,
    items: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Estimated frequency for each distinct value in ``items[col]``:
    min over the depth hash rows of the matching bucket counters. The
    sketch side is broadcast (it is depth × width rows at most).
    ``width``/``depth`` must match the sketch's build. ``items`` is probed
    as given, without a dedup exchange: repeated values hash to the same
    cells, and the closing per-item MIN gives them one estimate. Probing
    the counts frame that built the sketch lets AQE's ReuseExchange share
    that subtree between build and probe."""
    probes = _probe_rows(items.select(F.col(col).alias("item")), width, depth)
    return (
        probes.join(F.broadcast(cms), ["row", "bucket"], "left")
        .fillna(0, subset=["cnt"])
        .groupBy("item")
        .agg(F.min("cnt").alias("est"))
    )


def grouped_heavy_hitters(
    df: DataFrame,
    col: str,
    group_cols: Sequence[str],
    k: int = 10,
    candidate_pool: int = 64,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Approximate top-``k`` values per group WITHOUT materializing the
    (group × value) cross product — the published end-to-end CMS use
    (per-domain term statistics at corpus scale; Cormode & Muthukrishnan
    2005 §4). Two bounded-state passes:

    1. one per-group CMS (``build_cms(group_cols=...)``) — the shuffle is
       capped at depth·width cells PER GROUP whatever the value
       cardinality (a direct per-(group, value) groupBy is exactly the
       blow-up this avoids);
    2. a ``candidate_pool``-sized GLOBAL candidate vocabulary (one
       value-keyed map-side-combining count, top-C by count desc / value
       asc — deterministic), probed against every group's sketch:
       est(group, v) = min over depth cells, 0 when any cell is absent
       (CMS never underestimates, so an absent cell proves absence).

    Returns ``(*group_cols, item, est)`` for the top-``k`` per group by
    (est desc, item asc), est > 0 only. Approximation contract: est ≥
    true within each group (property-tested); a group-local heavy hitter
    that is globally rare can be missed — size ``candidate_pool`` for
    the head you care about (the "frequent somewhere → frequent overall"
    assumption; at 100 TB the candidate count is the only driver-free
    knob and stays a C×depth-row broadcast).
    """
    from pyspark.sql import Window

    if k <= 0 or candidate_pool < k:
        raise ValueError(
            f"need candidate_pool ({candidate_pool}) >= k ({k}) > 0: the "
            "per-group top-k is drawn from the global candidate pool"
        )
    gcols = list(group_cols)
    if not gcols:
        raise ValueError("group_cols must be non-empty — use cms_estimate for "
                         "the ungrouped top-k")
    cms = build_cms(df, col, width=width, depth=depth, group_cols=gcols)
    candidates = (
        df.groupBy(F.col(col).alias("item"))
        .agg(F.count(F.lit(1)).alias("__gc"))
        .orderBy(F.desc("__gc"), F.asc("item"))
        .limit(candidate_pool)
        .select("item")
    )
    return heavy_hitters_from_cms(
        cms, candidates, gcols, k=k, width=width, depth=depth
    )


def heavy_hitters_from_cms(
    cms: DataFrame,
    candidates: DataFrame,
    group_cols: Sequence[str],
    k: int = 10,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Per-group top-``k`` from a PREBUILT grouped CMS — the probe half of
    :func:`grouped_heavy_hitters`, factored out so persisted/streamed
    sketch state (``run_cms_state_stream`` snapshots, daily cell tables
    merged with :func:`merge_cms`) answers heavy-hitter questions without
    rescanning raw data. ``candidates`` is a 1-column ``item`` frame of
    probe values (the global head vocabulary); ``cms`` must have been
    built with the same (width, depth). est(group, v) = min over
    depth cells, 0 when any cell is absent (CMS never underestimates, so
    an absent cell proves absence)."""
    from pyspark.sql import Window

    gcols = list(group_cols)
    probes = _probe_rows(candidates, width, depth)
    per_cell = cms.join(F.broadcast(probes), ["row", "bucket"])
    est = (
        per_cell.groupBy(*gcols, "item")
        .agg(F.min("cnt").alias("__mn"), F.count(F.lit(1)).alias("__ncells"))
        .select(
            *gcols,
            "item",
            F.when(F.col("__ncells") < depth, F.lit(0).cast("long"))
            .otherwise(F.col("__mn"))
            .alias("est"),
        )
        .filter(F.col("est") > 0)
    )
    w = Window.partitionBy(*gcols).orderBy(F.desc("est"), F.asc("item"))
    return (
        est.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# Explicit HyperLogLog on xxhash64 (oracle-checkable distinct count)
# ---------------------------------------------------------------------------

def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias-correction constant for m >= 128."""
    return 0.7213 / (1 + 1.079 / m)


def hll_registers(
    df: DataFrame, col: str, p: int = 12, group_cols: Sequence[str] = ()
) -> DataFrame:
    """HyperLogLog registers as a DataFrame[bucket, reg] — the classic
    algorithm implemented as ONE partial-aggregating groupBy over a
    60-bit hash — the top 60 bits of ``xxhash64`` of the key's string
    form (``shiftrightunsigned(h, 4)``: non-negative, and the exact
    integer indicator sum in :func:`hll_estimate` stays inside a long) —
    so (unlike ``approx_count_distinct`` / ``hll_sketch_agg``, whose
    register layout is engine-internal) the sketch is exactly computable
    by a DuckDB oracle with its pure-SQL XXH64 twin:

    - bucket = low ``p`` hash bits; w = the remaining ``60 - p`` bits;
    - rho(w) = trailing-zero count of w + 1, computed EXACTLY in integer
      arithmetic as ``bit_count((w & -w) - 1) + 1`` (w = 0 → 60 - p + 1)
      — no float log2, whose rounding at exact powers of two differs
      between libm implementations;
    - reg = MAX(rho) per bucket. Empty buckets are NOT materialized —
      estimators recover them as ``m - count(buckets)``.

    The register table is ≤ 2^p rows of two ints: mergeable across
    shards/days by MAX, broadcastable, and the only state at 100 TB.
    NULLs are excluded (COUNT DISTINCT semantics).

    ``group_cols`` builds one independent sketch per group (≤ 2^p rows
    EACH) in the same single pass — the "distinct per tag/day/shard"
    shape without per-group scans.

    Repeated keys need no dedup first: registers are a MAX per bucket, so
    repeats cannot change them, and Spark's optimizer
    (``RemoveRedundantAggregates``) drops a ``distinct()`` put below this
    aggregate anyway."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    maxrho = 60 - p + 1
    h = F.shiftrightunsigned(F.xxhash64(F.col(col).cast("string")), 4)
    w = F.shiftright(h, p)
    lsb = w.bitwiseAND(-w)
    rho = F.when(w == 0, F.lit(maxrho)).otherwise(F.bit_count(lsb - 1) + 1)
    gcols = list(group_cols)
    return (
        df.filter(F.col(col).isNotNull())
        .select(*gcols, F.pmod(h, F.lit(m)).alias("bucket"), rho.alias("rho"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, p: int = 12, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Distinct-count estimate from :func:`hll_registers` output — one
    row, ``est`` (double, rounded to 3).

    Determinism across engines: the indicator sum Z = Σ 2^-reg is scaled
    by 2^(60-p+1) so every term is an INTEGER (exact, order-independent —
    a float Σ2^-reg loses associativity once exponents spread past the
    53-bit significand) and only the final alpha·m²/Z division happens in
    doubles (single correctly-rounded op). The small-range branch uses
    linear counting m·ln(m/V) — ln is the one transcendental: 1-ulp
    libm divergence can flip a ROUND(·,3) boundary with probability
    ~measure-zero per CLAUDE.md's accepted class."""
    m = 1 << p
    scale = 60 - p + 1
    # exact integer indicator: empty buckets (m - n) contribute 2^scale
    num = float(_hll_alpha(m) * m * m * (1 << scale))
    gcols = list(group_cols)
    agg = registers.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.lit(scale) - F.col("reg")).cast("int")
            )
        ).alias("__z"),
    )
    v = F.lit(m) - F.col("__n")
    z = F.coalesce(F.col("__z"), F.lit(0)) + v * F.lit(1 << scale).cast("long")
    raw = F.lit(num) / z.cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    ).otherwise(raw)
    return agg.select(*gcols, F.round(est, 3).alias("est"))
