"""SemDeDup-style semantic dedup — operators.similarity.semantic_dedup.

Oracle equivalence at sf0.001/sf0.01 + advembed/nulls soak is covered by
q142; these tests pin the operator semantics on planted vectors:
keep-earliest removal, banding recall on true near-duplicates, zero-norm
safety, and determinism of the banded keys.
"""

from __future__ import annotations

import pytest

from data_engineering_nd_datalake_project_4_spark.operators import similarity as S


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _status(df):
    return {r["vec_id"]: r["sem_removed"] for r in df.collect()}


def test_exact_duplicates_keep_earliest(spark):
    base = [1.0, 2.0, -0.5, 3.0] * 4
    rows = [(1, base), (2, base), (3, base), (4, [-x for x in base])]
    out = _status(S.semantic_dedup(_vecs(spark, rows), threshold=0.9))
    # identical vectors share every band key, so banding can never miss
    # them; smallest id survives, later ids are removed
    assert out[1] is False
    assert out[2] is True and out[3] is True
    # the negated twin has cosine -1: never removed
    assert out[4] is False


def test_near_duplicate_above_threshold_removed(spark):
    base = [1.0, 2.0, -0.5, 3.0, 0.25, -1.5, 2.5, 0.75]
    near = list(base)
    near[0] += 1e-3  # cosine ~ 1 - 1e-8
    rows = [(10, base), (20, near), (30, [b * -1.0 + 0.9 for b in base])]
    out = _status(S.semantic_dedup(_vecs(spark, rows), threshold=0.99))
    assert out[10] is False and out[20] is True
    assert out[30] is False


def test_zero_norm_is_never_removed_and_never_removes(spark):
    z = [0.0] * 8
    rows = [(1, z), (2, z), (3, [1.0] * 8)]
    out = _status(S.semantic_dedup(_vecs(spark, rows), threshold=0.1))
    # cosine(zero, anything) is NULL (try_divide) -> no removal either way
    assert out == {1: False, 2: False, 3: False}


def test_banded_keys_shape_and_determinism(spark):
    rows = [(i, [float(i + d) for d in range(16)]) for i in range(20)]
    df = _vecs(spark, rows)
    k1 = sorted(map(tuple, S.banded_sign_lsh_keys(df, bands=3, band_bits=5).collect()))
    k2 = sorted(map(tuple, S.banded_sign_lsh_keys(df, bands=3, band_bits=5).collect()))
    assert k1 == k2  # deterministic planes, no RNG state
    assert len(k1) == 20 * 3  # one row per (vector, band)
    assert all(0 <= key < 2 ** 5 for (_, band, key) in k1)
    assert {band for (_, band, key) in k1} == {0, 1, 2}


def test_parameter_validation(spark):
    df = _vecs(spark, [(1, [1.0, 2.0])])
    with pytest.raises(ValueError, match="bands"):
        S.banded_sign_lsh_keys(df, bands=0)
    with pytest.raises(ValueError, match="band_bits"):
        S.banded_sign_lsh_keys(df, band_bits=-1)


def test_sized_band_bits_discipline():
    """band_bits must grow ~log2(N) above the target occupancy and hold
    the floor below it — the sizing rule that keeps semantic-dedup
    candidate volume linear across decades (at a FIXED 6 bits the
    sf1.0->sf10 lane step built a ~1.25G-pair candidate set and died on
    disk spill; see sized_band_bits docstring)."""
    assert S.sized_band_bits(0) == 6
    assert S.sized_band_bits(256) == 6
    assert S.sized_band_bits(2_000) == 6      # sf0.1: registry calibration
    assert S.sized_band_bits(20_000) == 7     # sf1.0
    assert S.sized_band_bits(200_000) == 10   # sf10
    assert S.sized_band_bits(2_000_000) == 13
    # expected occupancy n/2^bits never exceeds 2x the target above it
    for n in (300, 1_000, 50_000, 1_000_000, 10**9):
        bits = S.sized_band_bits(n)
        assert n / (1 << bits) <= 2 * 256 or bits == 6
    # and removals stay consistent: higher bits only SHRINK the candidate
    # set (monotone key refinement), never widen it
    assert S.sized_band_bits(10**12) >= S.sized_band_bits(10**9)


def test_bucket_rescore_empty_and_null_inputs(spark):
    """Empty frame -> typed empty result; NULL vectors are never removed
    and never remove others (NaN in the bucket kernel compares False, as
    the NULL cosine does in the oracle)."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    empty = spark.createDataFrame([], schema)
    out = S.semantic_dedup(empty)
    assert out.count() == 0 and "sem_removed" in out.columns

    rows = [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0]), (4, [0.0, 0.0])]
    out = {r["vec_id"]: r["sem_removed"]
           for r in S.semantic_dedup(
               spark.createDataFrame(rows, schema),
               threshold=0.99, band_bits=2
           ).collect()}
    assert out[3] is True       # exact duplicate of id 1
    assert out[2] is False      # NULL vector never removed
    assert out[4] is False      # zero norm -> NULL cosine -> kept
    assert out[1] is False      # keep-earliest


def test_mixed_dimension_contract(spark):
    """The raggeddim contract (r11): pairwise vector semantics exist only
    for EQUAL dimensions. Planted exact-duplicate pairs at dim 8 AND dim
    16 in ONE table must both dedup (no ragged np.stack crash in the
    bucket kernel), and a dim-8 prefix of a dim-16 vector must never
    remove / be removed by it (cross-dim cosine is undefined)."""
    from data_engineering_nd_datalake_project_4_spark.operators import similarity

    base16 = [float(i % 5) - 2.0 for i in range(16)]
    rows = [
        (0, base16),            # dup pair at dim 16...
        (1, list(base16)),      # ...1 removed (copy of 0)
        (2, base16[:8]),        # dup pair at dim 8 (prefix of 0 — the trap)...
        (3, base16[:8]),        # ...3 removed (copy of 2)
        (4, [9.0] * 16),        # singleton dim 16
    ]
    out = similarity.semantic_dedup(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>"),
        "vec_id", "embedding", threshold=0.99, bands=4, band_bits=4,
    )
    got = {r["vec_id"]: r["sem_removed"] for r in out.collect()}
    assert got[0] is False and got[1] is True       # same-dim dup removed
    assert got[3] is True                            # same-dim dup removed
    assert got[2] is False                           # prefix never cross-removes
    assert got[4] is False
