"""ensure_map_parallelism cheap probe: file-listing estimate instead of
plan→RDD materialization; repartition only when the scan is genuinely
under-parallel."""

from __future__ import annotations

from data_engineering_nd_datalake_project_4_spark.operators import (
    _estimated_scan_splits,
    _parse_byte_conf,
    ensure_map_parallelism,
)


def test_parse_byte_conf():
    assert _parse_byte_conf("134217728b") == 134217728
    assert _parse_byte_conf("128m") == 128 << 20
    assert _parse_byte_conf("128MB") == 128 << 20
    assert _parse_byte_conf("1g") == 1 << 30
    assert _parse_byte_conf("4096") == 4096
    assert _parse_byte_conf("garbage", default=7) == 7


def test_single_file_scan_is_spread(spark, tmp_path):
    p = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(p)
    out = ensure_map_parallelism(spark.read.parquet(p), min_partitions=8)
    assert out is not spark  # sanity
    assert out.rdd.getNumPartitions() == 8


def test_many_small_files_still_spread(spark, tmp_path, monkeypatch):
    """8 tiny files coalesce into ~1 real scan partition (openCost packing)
    — the probe must see the COALESCED count and still repartition, and
    must do it without ever materializing the RDD."""
    p = str(tmp_path / "many")
    spark.range(1000).repartition(8).write.parquet(p)
    df = spark.read.parquet(p)

    def boom(self):  # the probe must never materialize the RDD here
        raise AssertionError("df.rdd touched on the file-scan fast path")

    # the frame's own class: Spark 4's classic DataFrame overrides `rdd`,
    # so a patch on the pyspark.sql.DataFrame base would never fire
    monkeypatch.setattr(type(df), "rdd", property(boom))
    out = ensure_map_parallelism(df, min_partitions=4)
    assert out is not df  # tiny files pack into < 4 partitions → spread


def test_enough_real_partitions_is_noop(spark, tmp_path, monkeypatch):
    """With openCost ≈ maxPartitionBytes each file is its own partition —
    ≥ target real partitions → identical plan, still no RDD probe."""
    p = str(tmp_path / "many2")
    spark.range(1000).repartition(8).write.parquet(p)
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    prev_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", "4194304b")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4194305b")
        df = spark.read.parquet(p)

        def boom(self):
            raise AssertionError("df.rdd touched on the file-scan fast path")

        monkeypatch.setattr(type(df), "rdd", property(boom))
        out = ensure_map_parallelism(df, min_partitions=4)
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_max)


def test_few_large_files_counted_by_size(spark, tmp_path):
    """One multi-MB file with a tiny maxPartitionBytes must count as many
    splits → no repartition even though there is a single file."""
    p = str(tmp_path / "big")
    spark.range(300_000).coalesce(1).write.parquet(p)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536b")
        df = spark.read.parquet(p)
        out = ensure_map_parallelism(df, min_partitions=4)
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_in_memory_input_falls_back_to_rdd_probe(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "x LONG")
    out = ensure_map_parallelism(df, min_partitions=4)
    assert out.rdd.getNumPartitions() >= 4 or out is df


def test_multi_scan_plan_rejects_file_estimate(spark, tmp_path):
    """ADVICE r4: inputFiles() on a join/union of scans returns the UNION
    of all files, so the cheap estimate would describe no real stage —
    the leaf-count guard must force the accurate RDD probe (None)."""
    pa = str(tmp_path / "a")
    pb = str(tmp_path / "b")
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(pa)
    spark.range(100).selectExpr("id", "id * 3 AS w").write.parquet(pb)
    a = spark.read.parquet(pa)
    b = spark.read.parquet(pb)
    assert _estimated_scan_splits(a) is not None  # single scan: fast path
    assert _estimated_scan_splits(a.join(b, "id")) is None
    assert _estimated_scan_splits(a.unionByName(b.selectExpr("id", "w AS v"))) is None
