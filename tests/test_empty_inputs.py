"""Empty-input (zero-row) behavior — the ops-reality class the ``empty``
soak variant gates: at 100 TB a day's partition, a filtered slice, or a
cold-start feed is routinely empty, and every operator must return the
contract schema (with SQL-standard empty-aggregate values), not crash.

Traps covered (each bitten once, found by ``tools/soak_regen.py empty``):
- Spark's Expand-based rollup/cube/grouping-sets drops the SQL:1999
  grand-total row on empty input (DuckDB/Postgres emit it);
- k-means / PQ / IVFADC driver-side model fits over zero vectors
  (NULL-typed literal arrays, ``first()`` of nothing);
- a fingerprint store built from an empty corpus is a directory with zero
  data files — schema inference fails where a declared schema reads empty.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators import aggregates, incremental, similarity


def _empty(spark):
    return spark.createDataFrame([], "a string, b string, x long")


def test_rollup_empty_emits_grand_total(spark):
    out = aggregates.rollup(
        _empty(spark), ["a", "b"],
        [F.count(F.lit(1)).alias("cnt"), F.sum("x").alias("s")],
    )
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["cnt"], r["s"]) == (None, None, 0, None)


def test_cube_empty_emits_grand_total(spark):
    rows = aggregates.cube(
        _empty(spark), ["a", "b"], [F.count(F.lit(1)).alias("cnt")]
    ).collect()
    assert len(rows) == 1 and rows[0]["cnt"] == 0


def test_grouping_sets_empty_only_with_total_set(spark):
    e = _empty(spark)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    with_total = aggregates.grouping_sets(e, [["a"], ["b"], []], ["a", "b"], aggs)
    assert [r["cnt"] for r in with_total.collect()] == [0]
    without = aggregates.grouping_sets(e, [["a"], ["b"]], ["a", "b"], aggs)
    assert without.count() == 0


def test_rollup_nonempty_unchanged_vs_native(spark):
    df = spark.createDataFrame(
        [("r1", "n1", 1), ("r1", "n2", 2), ("r2", "n3", 3)], "a string, b string, x long"
    )
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("x").alias("s")]
    key = lambda t: tuple(("", v) if v is None else ("x", v) for v in t)  # noqa: E731
    ours = sorted(
        ((r["a"], r["b"], r["cnt"], r["s"])
         for r in aggregates.rollup(df, ["a", "b"], aggs).collect()), key=key
    )
    native = sorted(
        ((r["a"], r["b"], r["cnt"], r["s"])
         for r in df.rollup("a", "b").agg(*aggs).collect()), key=key
    )
    assert ours == native


def test_rollup_keep_grouping_id_bits(spark):
    # data NULL vs rollup NULL disambiguation: gid bits are grouping() flags
    df = spark.createDataFrame([(None, "n1", 1)], "a string, b string, x long")
    out = aggregates.rollup(
        df, ["a", "b"], [F.count(F.lit(1)).alias("cnt")], keep_grouping_id="gid"
    )
    gids = {(r["a"], r["b"]): r["gid"] for r in out.collect()}
    assert gids[(None, "n1")] == 0  # data NULL, fully grouped
    assert gids[(None, None)] in (1, 3)  # subtotal and/or grand total present
    assert max(gids.values()) == 3  # grand total row exists


def _empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def test_kmeans_empty_input(spark):
    assignments, centroids = similarity.kmeans(
        _empty_vecs(spark), "vec_id", "embedding", k=4, iters=2
    )
    assert centroids == []
    assert assignments.count() == 0
    assert [f.name for f in assignments.schema.fields] == ["id", "cluster"]


def test_pq_empty_roundtrip(spark):
    e = _empty_vecs(spark)
    books = similarity.pq_train(e, m=2, k=4, iters=1)
    assert books == []
    encoded = similarity.pq_encode(e, books)
    assert encoded.count() == 0 and "pq_codes" in encoded.columns
    out = similarity.pq_adc_topk(encoded, e, books, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "adc_dist"]


def test_ivfpq_empty_roundtrip(spark):
    e = _empty_vecs(spark)
    coarse, books = similarity.ivfpq_train(e, nlist=2, m=2, k=4, iters=1)
    assert coarse == [] and books == []
    encoded = similarity.ivfpq_encode(e, coarse, books)
    assert encoded.count() == 0
    assert {"ivf_cell", "pq_codes"} <= set(encoded.columns)
    out = similarity.ivfpq_adc_topk(encoded, e, coarse, books, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "adc_dist"]


def test_empty_model_pass_through_keeps_all_rows(spark):
    """A NON-empty frame encoded with an EMPTY model must pass every row
    through with typed empty codes — including degenerate vectors: the
    valid_vector/dim filters are properties of a trained model, so they
    must not run in the empty-model branch (ADVICE r11)."""
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None), (3, []), (4, [0.5, None])],
        "vec_id long, embedding array<float>",
    )
    enc = similarity.pq_encode(df, [])
    assert enc.count() == 4 and "pq_codes" in enc.columns
    assert all(r["pq_codes"] == [] for r in enc.collect())
    enc2 = similarity.ivfpq_encode(df, [], [])
    assert enc2.count() == 4
    assert all(r["ivf_cell"] is None and r["pq_codes"] == [] for r in enc2.collect())


def test_train_sample_backfills_past_offdim_prefix(spark):
    """_collect_train_sample resolves the model dim from the lowest-id
    valid vector, then back-fills the bounded sample with later same-dim
    rows (the kmeans rule) instead of letting a ragged low-id prefix
    shrink it (ADVICE r11)."""
    rows = [(0, [1.0, 2.0]), (1, [9.0, 9.0, 9.0]), (2, [3.0, 4.0]),
            (3, None), (4, [5.0, 6.0]), (5, [7.0, 8.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    X = similarity._collect_train_sample(df, "vec_id", "embedding", n=3)
    # dim=2 (vec 0); the 3-dim vec 1 and NULL vec 3 don't consume slots
    assert X.shape == (3, 2)
    assert X.tolist() == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]


def test_incremental_dedup_against_empty_store(spark, tmp_path):
    docs = spark.createDataFrame([], "doc_id long, text string")
    store = str(tmp_path / "store")
    incremental.build_fingerprint_store(docs, "text", "doc_id", store)
    batch = spark.createDataFrame(
        [(10, "alpha"), (11, "alpha"), (12, "beta")], "doc_id long, text string"
    )
    out = incremental.incremental_dedup(spark, batch, "text", "doc_id", store)
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 12]
    # and a fully empty batch against the empty store
    out2 = incremental.incremental_dedup(spark, docs, "text", "doc_id", store)
    assert out2.count() == 0


def test_rollup_rejects_alias_colliding_with_key(spark):
    """An agg alias equal to a grouping key would be silently NULLed by
    the grand-total repair's fallback withColumn — must raise instead."""
    import pytest

    df = _empty(spark)
    with pytest.raises(ValueError, match="collide with grouping key"):
        aggregates.rollup(df, ["a"], [F.count(F.lit(1)).alias("a")])
    with pytest.raises(ValueError, match="reserved"):
        aggregates.rollup(df, ["a"], [F.count(F.lit(1)).alias("__gid")])
    # keep_grouping_id colliding with the internal synth marker
    with pytest.raises(ValueError, match="reserved"):
        aggregates.cube(
            df, ["a"], [F.count(F.lit(1)).alias("cnt")], keep_grouping_id="__synth"
        )
    # keep_grouping_id == "__gid" is a no-op rename of the exposed column
    # (q59 uses it) — must NOT raise
    assert aggregates.rollup(
        df, ["a"], [F.count(F.lit(1)).alias("cnt")], keep_grouping_id="__gid"
    ).collect()
    # keep_grouping_id equal to an agg alias or an existing df column
    # would duplicate the output column name after the rename
    with pytest.raises(ValueError, match="duplicate the name"):
        aggregates.rollup(
            df, ["a"], [F.count(F.lit(1)).alias("cnt")], keep_grouping_id="cnt"
        )
    with pytest.raises(ValueError, match="duplicate the name"):
        aggregates.rollup(
            df, ["a"], [F.count(F.lit(1)).alias("cnt")], keep_grouping_id="b"
        )
