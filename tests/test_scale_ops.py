"""Scale machinery: salted joins equal plain joins; bucketed tables join
without a shuffle; skewed-key detection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark import plans
from data_engineering_nd_datalake_project_4_spark.operators.skew import (
    hot_cold_join,
    salted_join,
    sampled_hot_keys,
    skewed_keys,
)
from data_engineering_nd_datalake_project_4_spark.sources.sinks import write_bucketed_table


@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows share key=0; keys 1..9 split the rest."""
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise((F.col("id") % 9) + 1).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame([(i, f"dim_{i}") for i in range(10)], "k INT, name STRING")
    return big, small


def test_skewed_keys_detection(skewed):
    big, _ = skewed
    hot = skewed_keys(big, "k", min_share=0.5)
    assert [r["k"] for r in hot.collect()] == [0]


def test_salted_join_equals_plain_join(skewed):
    big, small = skewed
    plain = big.join(small, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
    )
    salted = salted_join(big, small, "k", n_salts=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (99, "b")], "k INT, v STRING")
    small = spark.createDataFrame([(1, "dim")], "k INT, name STRING")
    out = salted_join(big, small, "k", n_salts=4, how="left").collect()
    by_k = {r["k"]: r["name"] for r in out}
    assert by_k == {1: "dim", 99: None}


def test_sampled_hot_keys_finds_the_head(skewed):
    big, _ = skewed
    # 90% of rows are key 0: any sane sample must surface it (seeded)
    hot = sampled_hot_keys(big, "k", min_share=0.5, sample_fraction=0.05)
    assert hot == [0]


def test_hot_cold_join_equals_plain_join(skewed):
    big, small = skewed

    def summarize(df):
        return sorted(
            map(tuple, df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
            ).collect())
        )

    plain = summarize(big.join(small, "k"))
    # explicit hot set and the default sampled-detection path
    assert summarize(hot_cold_join(big, small, "k", hot_keys=[0])) == plain
    assert summarize(hot_cold_join(big, small, "k", min_share=0.5)) == plain


def test_hot_cold_join_all_join_types_with_nulls(spark):
    """hot/cold partitions BOTH sides consistently, so every join type —
    including right/full — matches the plain join; NULL keys ride the
    cold branch and null-extend exactly as the plain join does."""
    from collections import Counter

    big = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (None, "bn"), (99, "z")], "k INT, v STRING"
    )
    small = spark.createDataFrame(
        [(1, "d1"), (None, "dn"), (2, "d2")], "k INT, name STRING"
    )
    for how in ["inner", "left", "right", "full", "left_semi", "left_anti"]:
        plain = Counter(map(tuple, big.join(small, "k", how).collect()))
        hc = Counter(
            map(tuple, hot_cold_join(big, small, "k", how=how, hot_keys=[1]).collect())
        )
        assert hc == plain, f"how={how}"


def test_hot_cold_join_empty_hot_set_degrades_to_plain(skewed):
    big, small = skewed
    out = hot_cold_join(big, small, "k", hot_keys=[])
    assert out.count() == big.join(small, "k").count()


def test_hot_cold_join_plan_head_broadcasts_tail_shuffles(spark, skewed):
    """The whole point: the hot head must be a BroadcastHashJoin (its keys
    never enter a shuffle) while the cold tail takes the shuffle join —
    checked with auto-broadcast disabled so the hint is doing the work."""
    big, small = skewed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plans.explain_str(hot_cold_join(big, small, "k", hot_keys=[0]))
        assert "BroadcastHashJoin" in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark):
    # tables land in the session's default warehouse dir (gitignored);
    # warehouse.dir is a static conf and can't be pointed at tmp_path
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed_table(a, "bt_a", ["k"], 8, sort_by=["k"])
    write_bucketed_table(b, "bt_b", ["k"], 8, sort_by=["k"])
    try:
        ta = spark.table("bt_a")
        tb = spark.table("bt_b")
        # forbid broadcast so the only shuffle-free path is bucket co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ta.join(tb, "k")
        assert plans.shuffle_count(joined) == 0, plans.explain_str(joined, "simple")
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_scale_conf_sizing():
    from data_engineering_nd_datalake_project_4_spark.session import scale_conf

    # 100 TB at 128 MB targets ~800k initial shuffle partitions (AQE coalesces)
    big = scale_conf(100 * 1024**4)
    assert int(big["spark.sql.shuffle.partitions"]) == 819200
    # tiny inputs never drop below the core floor
    small = scale_conf(10 * 1024**2, executor_cores_total=32)
    assert int(small["spark.sql.shuffle.partitions"]) == 32


def test_upsert_partitioned(spark, tmp_path):
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 1, 10), (2, "b", 1, 10), (3, "c", 2, 10)],
        "id INT, v STRING, part INT, ver INT",
    )
    upsert_partitioned(spark, base, path, ["id"], "ver", ["part"])
    # update id=1, insert id=4 — only partition 1 touched; partition 2 untouched
    upd = spark.createDataFrame(
        [(1, "a2", 1, 20), (4, "d", 1, 20)], "id INT, v STRING, part INT, ver INT"
    )
    upsert_partitioned(spark, upd, path, ["id"], "ver", ["part"])
    got = {r["id"]: (r["v"], r["ver"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 10), 4: ("d", 20)}


def test_upsert_older_version_loses(spark, tmp_path):
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "tbl2")
    upsert_partitioned(
        spark,
        spark.createDataFrame([(1, "new", 1, 30)], "id INT, v STRING, part INT, ver INT"),
        path, ["id"], "ver", ["part"],
    )
    upsert_partitioned(
        spark,
        spark.createDataFrame([(1, "old", 1, 5)], "id INT, v STRING, part INT, ver INT"),
        path, ["id"], "ver", ["part"],
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_upsert_never_sets_the_session_overwrite_mode(spark, tmp_path, monkeypatch):
    """The dynamic overwrite is a per-write option: flipping the session
    conf would make every other write running in the session meanwhile a
    dynamic overwrite that keeps stale partitions."""
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    set_calls = []
    real_set = spark.conf.set
    monkeypatch.setattr(spark.conf, "set", lambda k, v: (set_calls.append(k), real_set(k, v)))
    path = str(tmp_path / "tbl")
    schema = "id INT, v STRING, part INT, ver INT"
    base = spark.createDataFrame([(1, "a", 1, 10), (2, "b", 2, 10)], schema)
    upsert_partitioned(spark, base, path, ["id"], "ver", ["part"])
    upd = spark.createDataFrame([(1, "a2", 1, 20)], schema)
    upsert_partitioned(spark, upd, path, ["id"], "ver", ["part"])
    assert key not in set_calls
    assert spark.conf.get(key) == before
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a2", 2: "b"}, "the untouched partition survives"


def test_compact_parquet_dir(spark, tmp_path):
    import os
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import compact_parquet_dir

    path = str(tmp_path / "many")
    spark.range(10000).repartition(40).write.parquet(path)
    before = sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    assert before >= 40
    compact_parquet_dir(spark, path)
    after = sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    assert after < before
    assert spark.read.parquet(path).count() == 10000


def test_upsert_many_partitions_semi_join_fallback(spark, tmp_path):
    """Above max_touched_partitions the touched-partition list must never
    be collected: the existing table is pruned by a LEFT SEMI join on the
    partition tuples (runtime DPP) instead of driver-side literals — and
    the merge result is identical to the literal path."""
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "manyparts")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 40, 10) for i in range(200)],
        "id INT, v STRING, part INT, ver INT",
    )
    upsert_partitioned(spark, base, path, ["id"], "ver", ["part"])

    # updates touch 30 of 40 partitions; cap=10 forces the semi-join path
    upd = spark.createDataFrame(
        [(i, f"new{i}", i % 40, 20) for i in range(0, 120, 4)],
        "id INT, v STRING, part INT, ver INT",
    )
    upsert_partitioned(
        spark, upd, path, ["id"], "ver", ["part"], max_touched_partitions=10
    )
    got = {r["id"]: (r["v"], r["ver"]) for r in spark.read.parquet(path).collect()}
    assert len(got) == 200
    for i in range(200):
        if i < 120 and i % 4 == 0:
            assert got[i] == (f"new{i}", 20), i
        else:
            assert got[i] == (f"v{i}", 10), i


def test_salted_join_rejects_non_equivalent_how(skewed):
    big, small = skewed
    with pytest.raises(ValueError, match="duplicate every unmatched"):
        salted_join(big, small, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="right")


def test_salted_join_spreads_duplicate_rows(spark):
    """A hot key made of EXACT-duplicate rows must still spread across
    salts (per-row default salt) — a content hash would give every copy
    the same salt and leave the straggler in place."""
    from pyspark.sql import functions as F

    big = spark.range(10_000).select(F.lit(0).alias("k"), F.lit(1).alias("payload"))
    small = spark.createDataFrame([(0, "dim")], "k INT, name STRING")
    salted = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)).cast("int")
    )
    n_salts_used = salted.select("__salt").distinct().count()
    assert n_salts_used > 1  # duplicates really do get distinct salts
    out = salted_join(big, small, "k", n_salts=8)
    assert out.count() == 10_000  # join result unchanged by the salting


def test_upsert_schema_drift_errors_not_data_loss(spark, tmp_path):
    """An updates frame missing a column of the existing table must FAIL,
    not be treated as a first write that replaces touched partitions."""
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 1, "a", 10), (2, 1, "a", 20)], "id INT, ver INT, part STRING, c INT"
    )
    upsert_partitioned(spark, base, path, ["id"], "ver", ["part"])
    drifted = spark.createDataFrame(
        [(1, 2, "a", 11, "extra")], "id INT, ver INT, part STRING, c INT, d STRING"
    )
    with pytest.raises(Exception):
        upsert_partitioned(spark, drifted, path, ["id"], "ver", ["part"])
    # the existing table is untouched
    assert spark.read.parquet(path).count() == 2


def test_upsert_refuses_a_table_mid_compaction_swap(spark, tmp_path):
    """A compaction that stopped between its two renames leaves the live
    path missing and the whole table under ``<path>__old``. An upsert must
    refuse, not treat the table as a first write: the live path would then
    hold only the update, and the next compaction would delete the aside
    with every other row in it."""
    import os

    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, 1, f"p{i % 3}") for i in range(30)], "id INT, ver INT, part STRING"
    )
    upsert_partitioned(spark, base, path, ["id"], "ver", ["part"])
    os.rename(path, path + "__old")
    spark.catalog.refreshByPath(path)
    upd = spark.createDataFrame([(1, 2, "p1")], "id INT, ver INT, part STRING")
    with pytest.raises(IOError, match="__old"):
        upsert_partitioned(spark, upd, path, ["id"], "ver", ["part"])
    assert not os.path.exists(path)
    rows = {(r["id"], r["ver"]) for r in spark.read.parquet(path + "__old").collect()}
    assert rows == {(i, 1) for i in range(30)}


def test_upsert_null_partition_value_preserved(spark, tmp_path):
    """Existing rows in the NULL partition must survive an upsert that
    touches that partition (eqNullSafe pruning)."""
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 1, None), (2, 1, None), (3, 1, "x")], "id INT, ver INT, part STRING"
    )
    upsert_partitioned(spark, base, path, ["id"], "ver", ["part"])
    upd = spark.createDataFrame([(1, 2, None)], "id INT, ver INT, part STRING")
    upsert_partitioned(spark, upd, path, ["id"], "ver", ["part"])
    rows = {(r["id"], r["ver"]) for r in spark.read.parquet(path).collect()}
    # id 1 updated; id 2 (same NULL partition) SURVIVES; id 3 untouched
    assert rows == {(1, 2), (2, 1), (3, 1)}
