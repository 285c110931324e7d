"""Equality tests for the expression shapes of the LSH dedup path:
``dedup._shingles`` against a pure-Python word n-gram reference, and
``dedup.minhash_band_rows`` (one fixed-size signature expression and one
fixed-size band-key expression) against the unrolled builder it
replaced, kept here as the model: one ``array_min`` lambda per hash lane
and one ``xxhash64`` per band."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.catalog import load_table
from data_engineering_nd_datalake_project_4_spark.operators import dedup, ensure_map_parallelism
from tests.test_plans import _is, _node_lists, optimized_plan_json

TEXTS = [
    "",  # empty text: one empty token
    "solo",
    "two words",  # fewer tokens than n for n >= 3
    "one two three",  # exactly n tokens for n = 3
    "one two three four five",  # exactly n tokens for n = 5
    "x x x x x x x",  # repeated shingles
    "a b a b a b a b",
    "a  b   c d",  # double spaces: empty tokens
    " lead and trail ",
    "naïve café 東京 ß Straße ǅ 👍🏽 é",  # unicode, multi-byte
    None,
]


def _ref_shingles(text: str | None, n: int) -> list[str | None] | None:
    """Word n-grams over a split on single spaces, distinct in first-seen
    order; fewer than n tokens make one shingle of the whole run."""
    if text is None:
        return None if n == 1 else [None]
    toks = text.split(" ")
    if n == 1:
        grams = toks
    elif len(toks) >= n:
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    else:
        grams = [" ".join(toks)]
    return list(dict.fromkeys(grams))


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingles_match_python_reference(spark, n):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", dedup._shingles(F.col("text"), n).alias("sh")).collect()
    }
    assert got == {i: _ref_shingles(t, n) for i, t in enumerate(TEXTS)}


def _unrolled_band_rows(df, text_col, id_col, num_hashes, bands, shingle_n):
    """The model: the signature as ``num_hashes`` array_min lambdas, one
    per coefficient pair, and the band keys as ``bands`` xxhash64 calls."""
    rows_per_band = num_hashes // bands
    M = (1 << 31) - 1
    rng_a, rng_b = dedup.minhash_coeffs(num_hashes)
    hashed = ensure_map_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.transform(
            dedup._shingles(F.col(text_col), shingle_n), lambda s: F.pmod(F.xxhash64(s), F.lit(M))
        ).alias("__h"),
    )
    signed = hashed.select(
        "__id",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        F.col("__h"),
                        (lambda a, b: lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(M))(rng_a[i], rng_b[i]),
                    )
                )
                for i in range(num_hashes)
            ]
        ).alias("__sig"),
    )
    keys = [
        F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        )
        for b in range(bands)
    ]
    return signed.select("__id", F.posexplode(F.array(*keys)).alias("__band", "__bucket"))


@pytest.fixture(scope="module")
def band_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(TEXTS)], docs.schema
    )
    return docs.unionByName(extra)


@pytest.mark.parametrize("num_hashes,bands,shingle_n", [(32, 8, 3), (16, 4, 2), (8, 8, 1), (128, 16, 5)])
def test_minhash_band_rows_match_unrolled_model(band_docs, num_hashes, bands, shingle_n):
    got = dedup.minhash_band_rows(band_docs, "text", "doc_id", num_hashes, bands, shingle_n)
    want = _unrolled_band_rows(band_docs, "text", "doc_id", num_hashes, bands, shingle_n)
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert len(got_rows) == bands * band_docs.count()


def _lambda_count(df) -> int:
    return sum(
        _is(node, "LambdaFunction")
        for nodes in _node_lists(optimized_plan_json(df))
        for node in nodes
    )


def test_minhash_band_rows_expression_size_is_fixed(band_docs):
    """The signature and band keys are one expression each whatever the
    lane count: (32, 8) and (128, 16) plan the same number of lambdas."""
    small = dedup.minhash_band_rows(band_docs, "text", "doc_id", 32, 8)
    large = dedup.minhash_band_rows(band_docs, "text", "doc_id", 128, 16)
    assert _lambda_count(small) == _lambda_count(large) > 0
