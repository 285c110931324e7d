"""Streaming CDC materialization (streaming.run_cdc_upsert_stream):
batch-equivalence vs apply_changelog, multi-batch sequencing, replay
idempotence, and the committed-version read rule."""

from __future__ import annotations

from pathlib import Path

from data_engineering_nd_datalake_project_4_spark.operators.incremental import apply_changelog
from data_engineering_nd_datalake_project_4_spark.streaming import (
    latest_snapshot_version,
    run_cdc_upsert_stream,
)

CHANGE_SCHEMA = "ckey long, op string, seq long, val string"
#: snapshot roots as plain paths and as ``file://`` URIs
ROOT_FORMS = (str, Path.as_uri)


def _snap(spark, root):
    v = latest_snapshot_version(spark, root)
    assert v is not None
    return spark.read.parquet(f"{root}/v{v}")


def test_stream_matches_batch_apply(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("cdc_src"))
    root = str(tmp_path_factory.mktemp("cdc_snap"))
    chk = str(tmp_path_factory.mktemp("cdc_chk"))

    initial = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "ckey long, val string"
    )
    changes = [
        (2, "U", 1, "b2"),   # update
        (4, "I", 1, "d"),    # insert
        (3, "D", 1, None),   # delete
        (2, "U", 2, "b3"),   # later update wins by seq
    ]
    spark.createDataFrame(changes, CHANGE_SCHEMA).coalesce(1).write.parquet(src + "/b1")

    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(src + "/*")
    run_cdc_upsert_stream(
        stream, root, "ckey", ["seq"], chk, initial=initial, query_name="cdc_t1"
    )

    got = {(r.ckey, r.val) for r in _snap(spark, root).collect()}
    batch = apply_changelog(
        initial, spark.createDataFrame(changes, CHANGE_SCHEMA), "ckey", ["seq"]
    )
    expect = {(r.ckey, r.val) for r in batch.collect()}
    assert got == expect == {(1, "a"), (2, "b3"), (4, "d")}


def test_incremental_batches_compose(spark, tmp_path_factory):
    # each root form in turn: a snapshot listing that misreads one
    # restarts every micro-batch from empty state
    for as_root in ROOT_FORMS:
        src = str(tmp_path_factory.mktemp("cdc2_src"))
        root = as_root(tmp_path_factory.mktemp("cdc2_snap"))
        chk = str(tmp_path_factory.mktemp("cdc2_chk"))

        initial = spark.createDataFrame([(1, "a")], "ckey long, val string")
        spark.createDataFrame([(2, "I", 1, "b")], CHANGE_SCHEMA).coalesce(1).write.parquet(src + "/b1")

        stream = lambda: spark.readStream.schema(CHANGE_SCHEMA).parquet(src + "/*")  # noqa: E731
        run_cdc_upsert_stream(stream(), root, "ckey", ["seq"], chk, initial=initial, query_name="cdc_t2a")
        assert {(r.ckey, r.val) for r in _snap(spark, root).collect()} == {(1, "a"), (2, "b")}

        # second feed file → a NEW run with the same checkpoint applies only it
        spark.createDataFrame(
            [(1, "D", 2, None), (2, "U", 2, "b2")], CHANGE_SCHEMA
        ).coalesce(1).write.parquet(src + "/b2")
        spark.catalog.refreshByPath(src)
        run_cdc_upsert_stream(stream(), root, "ckey", ["seq"], chk, initial=initial, query_name="cdc_t2b")
        assert {(r.ckey, r.val) for r in _snap(spark, root).collect()} == {(2, "b2")}

        # replay with the SAME checkpoint and no new files: snapshot unchanged
        run_cdc_upsert_stream(stream(), root, "ckey", ["seq"], chk, initial=initial, query_name="cdc_t2c")
        assert {(r.ckey, r.val) for r in _snap(spark, root).collect()} == {(2, "b2")}


def test_cold_start_without_initial(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("cdc3_src"))
    root = str(tmp_path_factory.mktemp("cdc3_snap"))
    chk = str(tmp_path_factory.mktemp("cdc3_chk"))
    spark.createDataFrame(
        [(1, "I", 1, "x"), (2, "I", 1, "y"), (2, "D", 2, None)], CHANGE_SCHEMA
    ).coalesce(1).write.parquet(src + "/b1")

    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(src + "/*")
    run_cdc_upsert_stream(stream, root, "ckey", ["seq"], chk, query_name="cdc_t3")
    assert {(r.ckey, r.val) for r in _snap(spark, root).collect()} == {(1, "x")}


def test_uncommitted_versions_are_invisible(spark, tmp_path_factory):
    import os

    root = str(tmp_path_factory.mktemp("cdc4_snap"))
    os.makedirs(f"{root}/v3")  # half-written: no _SUCCESS
    os.makedirs(f"{root}/v1")
    open(f"{root}/v1/_SUCCESS", "w").close()
    assert latest_snapshot_version(spark, root) == 1
    assert latest_snapshot_version(spark, root, before=1) is None
    assert latest_snapshot_version(spark, Path(root).as_uri()) == 1
    assert latest_snapshot_version(spark, str(tmp_path_factory.mktemp("empty"))) is None
    assert latest_snapshot_version(spark, f"{root}/missing") is None
