"""Deterministic expression builders shared by operators, queries and tests.

These pin the cross-engine semantics from SURVEY.md §2.3:
- money/measure aggregates go through DECIMAL(18,2) (never raw float sums);
- unavoidable float outputs are ROUNDed with a stated scale;
- weekday is Monday=1 via the reference formula (/root/reference/etl.py:216);
- ISO week; µs timestamp truncation (parquet ns → Spark µs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

DEC18_2 = DecimalType(18, 2)


def dec(col: Column | str) -> Column:
    """Cast to DECIMAL(18,2) — the determinism policy for money/measures."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC18_2)


#: widest decimal — the exact-integer carrier for summed cents (below)
_DEC38_0 = DecimalType(38, 0)


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact integer 'cents' of the money/measure decimal policy: the
    DECIMAL(18,scale) cast (the semantic rounding step — repr-based HALF_UP,
    identical to the oracle's VARCHAR-routed cast) scaled to an integer and
    carried as LONG.

    Why (r13 optimization, guide §1.2 per-task work / §2.3 narrower types):
    ``SUM`` over DECIMAL(18,2) widens to DECIMAL(28,2), whose 28-digit
    precision exceeds Spark's compact-long representation (18 digits), so
    every row's accumulate goes through boxed ``BigDecimal`` + overflow
    checks. Measured at sf0.1 (600k-row lineitem, warmed noop medians):
    raw double sum 0.31s, decimal sum 0.57s, cents-long sum 0.33s — the
    boxed accumulator is ~0.24s per aggregate per 600k rows and the
    long accumulator removes ~all of it. The per-row decimal CAST (the
    part that defines cross-engine semantics) is unchanged.

    Exactness: the cast value has exactly ``scale`` decimal digits, so
    ``* 10^scale`` is integral and the decimal→long cast is lossless.
    Range contract: LONG overflow needs |Σ| ≥ 2^63 integer cents
    (9.2e16 money units at scale 2; 9.2e14 at scale 4) — ~400× above a
    100 TB TPC-H global revenue sum. The bound applies to every PARTIAL
    sum, not just the final total: partial aggregates over mixed-sign
    data can transiently exceed a smaller final total (order/partition
    dependent), so headroom must hold for the worst same-sign prefix,
    which the ~400× margin does. Unlike a silent wrap, ANSI mode
    makes an overflow THROW (measured: ARITHMETIC_OVERFLOW), so a feed
    that ever outgrows the contract fails loudly, never corrupts.
    Between 2^53 and 2^63 the sum stays exact (the decimal-division
    finalizer avoids the double-rounding a float division would add).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast(DecimalType(18, scale)) * F.lit(10**scale)).cast("long")


def cents_sum_to_double(sum_col: Column, scale: int = 2) -> Column:
    """Finalize a ``SUM(cents(...))`` back to the bit-identical DOUBLE the
    decimal-sum path produced: route through an exact DECIMAL division
    (DECIMAL(38,0) / 10^scale → DECIMAL(38,6), exact for any value with
    ``scale`` decimal digits), then ONE decimal→double cast — correctly
    rounded at every magnitude, exactly like CAST(SUM(decimal) AS DOUBLE).
    (A plain ``sum/10^scale`` double division would double-round once the
    integer sum exceeds 2^53.) Per-GROUP cost, negligible."""
    return (sum_col.cast(_DEC38_0) / F.lit(10**scale)).cast("double")


def dec_sum_d(col: Column | str, alias: str) -> Column:
    """Render-proof money sum: numerically identical to
    ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` (the oracle twin),
    computed with an exact integer-cents LONG accumulator instead of the
    boxed wide-decimal one — see :func:`cents`.

    The sum is exact integer arithmetic (order-independent, safe to
    shuffle/partial-aggregate at any scale); only the final value is cast
    to DOUBLE via an exact decimal division (:func:`cents_sum_to_double`),
    so both engines produce the bit-identical float — which renders
    identically under every canonicalizer (no declared-scale trailing
    zeros). Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``.

    Never leave a DECIMAL sum in a *final* projection: decimal outputs
    render scale-dependently ("995.80" vs "995.8") and the driver's
    canonical-CSV hasher reads the two engines through different paths
    (Spark collect → ``Decimal`` at declared scale; DuckDB → float64), so
    any value with a trailing zero in its last decimal digit
    hash-mismatches even when numerically identical (round-1 failures
    q02/q08/q12/q14/q15/q17/q19/q31/q44 were exactly this).
    """
    return cents_sum_to_double(F.sum(cents(col, 2)), 2).alias(alias)


def dec4_sum_d(expr: Column, alias: str) -> Column:
    """Render-proof derived-measure sum at scale 4: numerically identical
    to ``CAST(SUM(CAST(expr AS DECIMAL(18,4))) AS DOUBLE)`` via the exact
    integer-ten-thousandths LONG accumulator. See :func:`dec_sum_d`,
    :func:`cents` and :func:`dec4`."""
    return cents_sum_to_double(F.sum(cents(expr, 4)), 4).alias(alias)


def weekday_monday(date_col: Column | str) -> Column:
    """Monday=1..Sunday=7, the reference's formula ``((dayofweek+5)%7)+1``
    (/root/reference/etl.py:216). Equivalent to ISO dow."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return ((F.dayofweek(c) + F.lit(5)) % 7 + F.lit(1)).cast("int")


def dot_product(a: Column, b: Column) -> Column:
    """Elementwise left-to-right dot product of two double arrays (pure
    Catalyst: zip_with + aggregate, inside codegen)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def as_double_array(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity between two ``array<float|double>`` columns, computed
    elementwise left-to-right in DOUBLE (SURVEY.md Q30 pinned formula).

    Pure Catalyst expression — ``zip_with`` + ``aggregate`` run inside codegen;
    no Python on the data path.

    Zero-norm vectors: ``try_divide`` yields NULL instead of the ANSI
    DIVIDE_BY_ZERO error — which is also exactly what DuckDB's plain ``/``
    returns on a zero divisor, so every cosine oracle aligns without a
    CASE guard. NULL then drops out of thresholds and top-k ranks on both
    engines identically (advembed soak: planted all-zero embeddings).
    """
    ad = as_double_array(a)
    bd = as_double_array(b)
    return F.try_divide(dot_product(ad, bd), l2_norm(ad) * l2_norm(bd))


#: DuckDB twin of :func:`valid_vector` — substitute the column name with
#: ``VALID_VECTOR_SQL.format(c="embedding")`` in oracles. Kept next to the
#: Spark predicate so the two sides can never drift independently.
VALID_VECTOR_SQL = (
    "({c} IS NOT NULL AND len({c}) > 0"
    " AND len(list_filter({c}, x -> x IS NULL)) = 0)"
)


def valid_vector(a: Column) -> Column:
    """The repo-wide degenerate-vector gate: a vector participates in
    vector-space operators (similarity, bucketing, clustering, coding)
    iff it is non-NULL, non-EMPTY and contains no NULL elements.

    Why each class is excluded rather than "computed": an EMPTY array
    hits the ``sequence(1, 0)`` DESCENDING trap in plane projections and
    folds to 0-or-NULL depending on the kernel; a NULL ELEMENT makes the
    HOF fold NULL-propagate where DuckDB's SUM-over-unnest null-skips
    into a partial sum — so no cross-engine value exists to agree on, and
    numpy kernels see ragged shapes. Both classes come from real feeds
    (truncated ingest, schema drift) — the advembed soak plants them.
    Operators either FILTER on this (assignment/coding outputs drop the
    row, with the oracle's :data:`VALID_VECTOR_SQL` twin) or PASS the row
    THROUGH untouched (dedup-style keep decisions, like NULL text)."""
    return a.isNotNull() & (F.size(a) > 0) & ~F.exists(a, lambda x: x.isNull())


def tokens(text_col: Column | str) -> Column:
    """Single-space tokenization used across the text operators."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


DEC18_4 = DecimalType(18, 4)


def dec4(col: Column | str) -> Column:
    """Cast to DECIMAL(18,4) — for derived measures like price*(1-discount)
    whose exact value has 4 decimal digits. Rounding at 4 digits is
    unambiguous (the double error ~1e-11 is far from the 5e-5 boundary), so
    HALF_UP (Spark) and HALF_EVEN (DuckDB) casts agree — unlike a 2-digit
    cast, which lands exactly on half-cent boundaries."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC18_4)
