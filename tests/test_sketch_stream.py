"""Streaming HLL sketch-state maintenance (streaming.run_sketch_state_stream):
batch-equivalence vs a from-scratch build, incremental multi-batch merge,
and the at-least-once idempotence the MAX-merge gives for free."""

from __future__ import annotations

from pathlib import Path

from data_engineering_nd_datalake_project_4_spark.operators.sketches import hll_estimate, hll_merge, hll_registers
from data_engineering_nd_datalake_project_4_spark.streaming import (
    latest_snapshot_version,
    run_sketch_state_stream,
)

SCHEMA = "uid long, typ string"
#: snapshot roots as plain paths and as ``file://`` URIs
ROOT_FORMS = (str, Path.as_uri)


def _state(spark, root):
    v = latest_snapshot_version(spark, root)
    assert v is not None
    return spark.read.parquet(f"{root}/v{v}")


def _regs(df):
    return {(r["typ"], r["bucket"]): r["reg"] for r in df.collect()}


def test_stream_state_matches_batch_build(spark, tmp_path_factory):
    # each root form in turn: a snapshot listing that misreads one
    # restarts every micro-batch from empty state
    for as_root in ROOT_FORMS:
        src = str(tmp_path_factory.mktemp("hll_src"))
        root = as_root(tmp_path_factory.mktemp("hll_snap"))
        chk = str(tmp_path_factory.mktemp("hll_chk"))

        b1 = [(i, "view") for i in range(200)] + [(i, "click") for i in range(50)]
        spark.createDataFrame(b1, SCHEMA).coalesce(1).write.parquet(src + "/b1")

        stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731
        run_sketch_state_stream(stream(), root, "uid", chk, p=8, group_cols=["typ"], query_name="hll_t1a")

        direct = hll_registers(spark.createDataFrame(b1, SCHEMA), "uid", p=8, group_cols=["typ"])
        assert _regs(_state(spark, root)) == _regs(direct)

        # second feed file: a NEW run with the same checkpoint merges only it,
        # and the state equals the from-scratch build over EVERYTHING consumed
        b2 = [(i, "view") for i in range(150, 400)] + [(7, "signup")]
        spark.createDataFrame(b2, SCHEMA).coalesce(1).write.parquet(src + "/b2")
        spark.catalog.refreshByPath(src)
        run_sketch_state_stream(stream(), root, "uid", chk, p=8, group_cols=["typ"], query_name="hll_t1b")

        both = spark.createDataFrame(b1 + b2, SCHEMA)
        direct_all = hll_registers(both, "uid", p=8, group_cols=["typ"])
        assert _regs(_state(spark, root)) == _regs(direct_all)

        # and the estimates read from state equal the from-scratch estimates
        est_state = {r["typ"]: r["est"]
                     for r in hll_estimate(_state(spark, root), p=8, group_cols=["typ"]).collect()}
        est_direct = {r["typ"]: r["est"]
                      for r in hll_estimate(direct_all, p=8, group_cols=["typ"]).collect()}
        assert est_state == est_direct


def test_at_least_once_merge_is_idempotent(spark, sf_dir):
    """max(a, a) = a: merging the same batch registers into the state any
    number of times yields the identical state — the guarantee that makes
    the sink safe under at-least-once delivery with NO sequence columns."""
    rows = [(i % 97, "t") for i in range(500)]
    df = spark.createDataFrame(rows, SCHEMA)
    regs = hll_registers(df, "uid", p=8, group_cols=["typ"])
    once = hll_merge(regs.unionByName(regs), group_cols=["typ"])
    assert _regs(once) == _regs(regs)


def test_empty_first_batch_cold_start(spark, tmp_path_factory):
    """An empty cold-start feed writes a valid (empty, schema'd) v0 state;
    a later real batch merges onto it correctly — the empty-soak shape for
    the streaming sink (non-partitioned writes keep a schema'd part file,
    so the read-back never hits schema inference of nothing)."""
    src = str(tmp_path_factory.mktemp("hll_e_src"))
    root = str(tmp_path_factory.mktemp("hll_e_snap"))
    chk = str(tmp_path_factory.mktemp("hll_e_chk"))

    spark.createDataFrame([], SCHEMA).coalesce(1).write.parquet(src + "/b1")
    stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731
    run_sketch_state_stream(stream(), root, "uid", chk, p=8, group_cols=["typ"], query_name="hll_t2a")
    assert _state(spark, root).count() == 0

    rows = [(i, "view") for i in range(80)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src + "/b2")
    spark.catalog.refreshByPath(src)
    run_sketch_state_stream(stream(), root, "uid", chk, p=8, group_cols=["typ"], query_name="hll_t2b")
    direct = hll_registers(spark.createDataFrame(rows, SCHEMA), "uid", p=8, group_cols=["typ"])
    assert _regs(_state(spark, root)) == _regs(direct)
