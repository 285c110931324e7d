"""Focused equivalence tests for the r13 optimization-round internals.

Each optimization replaced an operator's physical strategy while keeping
its results bit-identical; these tests pin the equivalence DIRECTLY
(the oracle suite pins it end-to-end):

- functions.cents / cents_sum_to_double == CAST(SUM(decimal) AS DOUBLE)
  on half-boundary, negative, NULL, empty and >2^53 inputs;
- text._dup_flagged_spans == the COUNT(DISTINCT)-agg formulation for
  min_docs=2 (min/max path) AND min_docs=3 (dense_rank path — no graded
  query exercises it);
- sketches.hll_registers over heavily repeated keys == the registers of
  the distinct key set (MAX per bucket, so q45 needs no distinct);
- similarity.banded_sign_lsh_keys(keep_vec=True) == the key frame plus
  the staged double vector (the bucket-rescore join removal).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.functions import (
    cents,
    cents_sum_to_double,
    dec,
    dec4,
)
from data_engineering_nd_datalake_project_4_spark.operators import sketches, similarity, text


@pytest.fixture(scope="module")
def spark():
    from data_engineering_nd_datalake_project_4_spark.session import get_spark

    return get_spark(app_name="r13-opt-tests", shuffle_partitions=4)


def test_cents_sum_matches_decimal_sum_bitwise(spark):
    # half-boundaries (the x.xx5 class the half2/half4 soaks force),
    # negatives, NULL, and a magnitude past 2^53 cents where a float
    # division would double-round
    rows = [(0.005,), (1.115,), (-2.675,), (None,), (123456789.125,),
            (0.0,), (9.995,), (90071992547409.92,), (90071992547409.93,)]
    df = spark.createDataFrame(rows, "x double")
    r = df.agg(
        F.sum(dec("x")).cast("double").alias("old2"),
        cents_sum_to_double(F.sum(cents("x", 2)), 2).alias("new2"),
        F.sum(dec4("x")).cast("double").alias("old4"),
        cents_sum_to_double(F.sum(cents("x", 4)), 4).alias("new4"),
    ).collect()[0]
    assert r.old2 == r.new2
    assert r.old4 == r.new4


def test_cents_sum_empty_and_all_null_is_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    r = df.agg(
        F.sum(dec("x")).cast("double").alias("old"),
        cents_sum_to_double(F.sum(cents("x", 2)), 2).alias("new"),
    ).collect()[0]
    assert r.old is None and r.new is None
    r = df.filter("x IS NOT NULL").agg(
        cents_sum_to_double(F.sum(cents("x", 2)), 2).alias("new")
    ).collect()[0]
    assert r.new is None


def _span_docs(spark):
    # doc 1/2 share an 8-gram; doc 3 shares it too (3 distinct docs for
    # one gram); doc 4 is unique; doc 5 repeats doc 1 verbatim TWICE in
    # one text (same-doc repetition must not count as cross-doc)
    shared = "a b c d e f g h"
    rows = [
        (1, shared + " tail one"),
        (2, "lead " + shared),
        (3, shared + " x y z"),
        (4, "q r s t u v w x y"),
        (5, "solo gram m n o p q r s solo gram m n o p q r s"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _agg_join_flags(spans, id_col, min_docs):
    """The pre-r13 formulation: COUNT(DISTINCT id) per gram + join-back."""
    dup = (
        spans.groupBy("gram_h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("gram_h", F.lit(True).alias("__dup_old"))
    )
    return spans.join(dup, "gram_h", "left").withColumn(
        "__dup_old", F.coalesce(F.col("__dup_old"), F.lit(False))
    )


@pytest.mark.parametrize("min_docs", [2, 3])
def test_dup_flagged_spans_equals_agg_join(spark, min_docs):
    d = _span_docs(spark)
    spans = text._span_hash_rows(d, "text", "doc_id", 8)
    new = text._dup_flagged_spans(spans, "doc_id", min_docs).select(
        "doc_id", "start_pos", "gram_h", "__dup"
    )
    old = _agg_join_flags(spans, "doc_id", min_docs).select(
        "doc_id", "start_pos", "gram_h", "__dup_old"
    )
    joined = new.join(old, ["doc_id", "start_pos", "gram_h"])
    assert joined.count() == spans.count()
    assert joined.filter(F.col("__dup") != F.col("__dup_old")).count() == 0
    # sanity: at min_docs=2 the shared gram IS flagged; at 3 it still is
    # (three docs share it); doc 4's grams never are
    flagged_docs = {r.doc_id for r in new.filter("__dup").select("doc_id").distinct().collect()}
    assert 4 not in flagged_docs
    assert {1, 2, 3} <= flagged_docs


@pytest.mark.parametrize("min_docs", [2, 3])
def test_dup_flagged_spans_duplicate_rows_are_safe(spark, min_docs):
    # duprows-style: exact duplicate span rows (at-least-once feed) must
    # not manufacture cross-doc duplication
    d = spark.createDataFrame(
        [(1, "a b c d e f g h unique1"), (2, "z y x w v u t s unique2")],
        "doc_id long, text string",
    )
    spans = text._span_hash_rows(d, "text", "doc_id", 8)
    doubled = spans.unionAll(spans)
    flagged = text._dup_flagged_spans(doubled, "doc_id", min_docs)
    assert flagged.filter("__dup").count() == 0


def test_hll_pre_distinct_registers_identical(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("tag"),
        (F.col("id") % 137).alias("k"),  # heavy key repetition
    )
    base = sketches.hll_registers(df, "k", group_cols=["tag"])
    pre = sketches.hll_registers(df.distinct(), "k", group_cols=["tag"])
    a = sorted(tuple(r) for r in base.collect())
    b = sorted(tuple(r) for r in pre.collect())
    assert a == b


def test_banded_keys_keep_vec_rides_identical_keys(spark):
    df = spark.createDataFrame(
        [(1, [0.1, -0.2, 0.3]), (2, [0.5, 0.4, -0.1]), (3, None), (4, [])],
        "vec_id long, embedding array<double>",
    )
    plain = similarity.banded_sign_lsh_keys(df, bands=2, band_bits=3)
    kept = similarity.banded_sign_lsh_keys(df, bands=2, band_bits=3, keep_vec=True)
    assert kept.columns == ["vec_id", "band", "band_key", "__vd"]
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted((r.vec_id, r.band, r.band_key) for r in kept.collect())
    assert a == b
    # the ridden vector is the staged double array of the input
    # Row.__getattr__ refuses dunder-prefixed names — use item access
    vd = {r["vec_id"]: r["__vd"] for r in kept.select("vec_id", "__vd").distinct().collect()}
    assert vd[1] == [0.1, -0.2, 0.3] and vd[2] == [0.5, 0.4, -0.1]
    # degenerate vectors emit no band rows at all (valid_vector gate)
    assert 3 not in vd and 4 not in vd
