"""Source/sink coverage (SURVEY §2.2 A): CSV scan, multiline JSON, schema'd
reads, partitioned sink options."""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.catalog import load_table
from data_engineering_nd_datalake_project_4_spark.sources import read_csv, read_json
from data_engineering_nd_datalake_project_4_spark.sources.sinks import write_parquet


def test_csv_scan_with_schema(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id,name,score\n1,alpha,0.5\n2,beta,0.75\n")
    df = read_csv(spark, str(p), "id INT, name STRING, score DOUBLE")
    rows = df.orderBy("id").collect()
    assert [r["name"] for r in rows] == ["alpha", "beta"]
    assert df.schema["score"].dataType.simpleString() == "double"


def test_multiline_json_object_per_file(spark, tmp_path):
    d = tmp_path / "nested" / "a" / "b"
    d.mkdir(parents=True)
    (d / "one.json").write_text(json.dumps({"k": 1, "v": "x"}, indent=2))
    (d / "two.json").write_text(json.dumps({"k": 2, "v": "y"}, indent=2))
    df = read_json(spark, str(tmp_path / "nested"), "k INT, v STRING", multiline=True)
    assert df.count() == 2


def test_partitioned_sink_max_records(spark, tmp_path):
    df = spark.range(100).withColumn("bucket", (F.col("id") % 2).cast("int"))
    out = str(tmp_path / "parted")
    write_parquet(df, out, partition_by=["bucket"], max_records_per_file=10)
    files = []
    for root, _, fns in os.walk(out):
        files += [f for f in fns if f.endswith(".parquet")]
    assert len(files) >= 10  # 100 rows / ≤10 per file
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert {r["bucket"] for r in back.select("bucket").distinct().collect()} == {0, 1}


def test_partitioned_sink_one_file_per_partition(spark, tmp_path):
    """Every task holds rows of every key, yet each partition directory
    gets exactly one data file, and the rows come back unchanged."""
    df = (
        spark.range(3000)
        .withColumn("key", (F.col("id") % 60).cast("int"))
        .withColumn("v", (F.col("id") * 7 % 11).cast("int"))
        .repartition(8)
    )
    out = str(tmp_path / "clustered")
    write_parquet(df, out, partition_by=["key"])
    part_dirs = [d for d in os.listdir(out) if d.startswith("key=")]
    assert len(part_dirs) == 60
    for d in part_dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    cols = ["id", "key", "v"]
    back = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    assert back == sorted(map(tuple, df.select(*cols).collect()))


def test_object_store_style_roundtrip(spark, sf_dir, tmp_path):
    """The reference's day-1 path: write partitioned parquet to a BUCKET-style
    URI and read it back through the same API (reference R04/R07,
    /root/reference/etl.py:259, spark_setup.py:20-23). No credentials exist in
    this container, so a file:// root stands in for s3a:// — what this
    exercises is the URI-qualified path handling (scheme parsing, partition
    discovery under a qualified root, overwrite semantics) that a real
    object store goes through, minus the network."""
    from data_engineering_nd_datalake_project_4_spark.sources import read_parquet
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import write_parquet

    bucket_root = f"file://{tmp_path}/lake-bucket/warehouse"
    nation = load_table(spark, sf_dir, "nation")
    write_parquet(nation, f"{bucket_root}/nation", partition_by=["n_regionkey"])
    # overwrite must replace, not append
    write_parquet(nation, f"{bucket_root}/nation", partition_by=["n_regionkey"])
    back = read_parquet(spark, f"{bucket_root}/nation")
    a = sorted(tuple(r) for r in nation.collect())
    b = sorted(
        tuple(r)
        for r in back.select(*nation.columns)
        .withColumn("n_regionkey", F.col("n_regionkey").cast("long"))
        .collect()
    )
    assert a == b


def test_rate_stream_micro_batch_deterministic(spark, tmp_path):
    """rate-micro-batch emits exactly rowsPerBatch rows per trigger — one
    trigger(once) batch gives a deterministic count with (timestamp, value)
    schema (SURVEY §2.2 J rate source)."""
    from data_engineering_nd_datalake_project_4_spark.streaming import read_rate_stream

    stream = read_rate_stream(spark, micro_batch=True, rows_per_batch=7, num_partitions=2)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["timestamp", "value"]
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("rate_smoke").count() == 7


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a later batch adds a column; merge_schema=True
    reads both batches as one table with NULL backfill for old rows."""
    from data_engineering_nd_datalake_project_4_spark.sources import read_parquet

    root = str(tmp_path / "evolving")
    spark.range(3).selectExpr("id", "id * 2 AS a").write.parquet(root)
    spark.range(3, 6).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b"
    ).write.mode("append").parquet(root)

    merged = read_parquet(spark, root, merge_schema=True)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r["id"]: (r["a"], r["b"]) for r in merged.collect()}
    assert rows[1] == (2, None)       # old batch: evolved column NULL-filled
    assert rows[4] == (8, "4")        # new batch: value present
    assert len(rows) == 6


def test_jsonl_sink_roundtrip_nested(spark, tmp_path):
    """JSONL export: nested arrays survive (unlike CSV), files are
    line-delimited gzip, maxRecordsPerFile bounds shard size, and
    read_json round-trips the exact rows."""
    import gzip
    import json as jsonlib
    from pathlib import Path

    from data_engineering_nd_datalake_project_4_spark.sources import read_json
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(i, f"doc {i}", [float(i), i + 0.5], "en" if i % 2 else "fr")
         for i in range(20)],
        "doc_id LONG, text STRING, emb ARRAY<DOUBLE>, lang STRING",
    )
    out = str(tmp_path / "shards")
    write_jsonl(df, out, partition_by=["lang"], max_records_per_file=4)

    files = sorted(Path(out).rglob("*.json.gz"))
    assert files, "expected gzip jsonl shard files"
    # shard bound respected and each line is one standalone JSON object
    for f in files:
        lines = gzip.decompress(f.read_bytes()).decode().splitlines()
        assert 0 < len(lines) <= 4
        for ln in lines:
            obj = jsonlib.loads(ln)
            assert set(obj) <= {"doc_id", "text", "emb"}
    # partition dirs per lang
    assert {p.name for p in Path(out).iterdir() if p.is_dir()} == {
        "lang=en", "lang=fr",
    }
    # recursive=False: recursiveFileLookup disables Hive-style partition
    # discovery, which must supply the lang column from the dir names
    back = read_json(
        spark, out, "doc_id LONG, text STRING, emb ARRAY<DOUBLE>, lang STRING",
        recursive=False,
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_malformed_permissive_capture(spark, tmp_path):
    """PERMISSIVE + corrupt_record_col: torn line kept with its RAW text
    captured (the pre-round-5 behavior was a silent all-NULL row)."""
    p = tmp_path / "feed.json"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        '{"id": 2 "v": TORN\n'
        '{"id": 3, "v": "c"}\n'
    )
    df = read_json(spark, str(p), "id INT, v STRING", corrupt_record_col="_corrupt")
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(bad) == 1
    assert "TORN" in bad[0]["_corrupt"] and bad[0]["id"] is None
    assert sorted(r["id"] for r in rows if r["_corrupt"] is None) == [1, 3]


def test_json_malformed_drop_and_failfast(spark, tmp_path):
    import pytest

    p = tmp_path / "feed.json"
    p.write_text('{"id": 1}\nNOT JSON AT ALL\n{"id": 3}\n')
    dropped = read_json(spark, str(p), "id INT", mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_json(spark, str(p), "id INT", mode="FAILFAST").collect()


def test_json_bad_records_path_audit_files(spark, tmp_path):
    """bad_records_path: torn rows are dropped from the result and land
    as JSON audit records (path + raw record + reason) under the dir."""
    import json as jsonlib

    p = tmp_path / "feed.json"
    p.write_text('{"id": 1}\n{"id": BAD-2\n{"id": 3}\n')
    audit = tmp_path / "badrecords"
    df = read_json(spark, str(p), "id INT", bad_records_path=str(audit))
    assert sorted(r["id"] for r in df.collect()) == [1, 3]
    audit_files = sorted(Path(audit).rglob("part-*"))
    assert audit_files, "expected bad-record audit files"
    recs = [jsonlib.loads(ln) for f in audit_files for ln in f.read_text().splitlines()]
    assert len(recs) == 1 and "BAD-2" in recs[0]["record"]


def test_csv_malformed_row_capture_and_drop(spark, tmp_path):
    from pyspark.sql.types import StructType

    p = tmp_path / "feed.csv"
    p.write_text("id,name,score\n1,a,2.5\n2,b,oops,extra\n3,c,1.0\n")
    # StructType schema path for the corrupt-column append
    schema = StructType.fromDDL("id INT, name STRING, score DOUBLE")
    df = read_csv(spark, str(p), schema, corrupt_record_col="_corrupt")
    rows = {r["id"]: r for r in df.collect()}
    assert rows[2]["_corrupt"] is not None and "extra" in rows[2]["_corrupt"]
    assert rows[1]["_corrupt"] is None and rows[3]["_corrupt"] is None
    dropped = read_csv(spark, str(p), "id INT, name STRING, score DOUBLE",
                       mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]


def test_malformed_option_validation(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="mode must be one of"):
        read_json(spark, str(tmp_path), "id INT", mode="LENIENT")
    with pytest.raises(ValueError, match="PERMISSIVE"):
        read_json(spark, str(tmp_path), "id INT", mode="DROPMALFORMED",
                  corrupt_record_col="_c")
    with pytest.raises(ValueError, match="PERMISSIVE"):
        read_csv(spark, str(tmp_path), "id INT", corrupt_record_col="_c",
                 bad_records_path=str(tmp_path / "bad"))


#: literals that name the lake's filesystem conventions; only
#: ``sources/lakefs.py`` may spell them out in code (docs may mention them)
_LAKEFS_LITERALS = ("__old", "__compacting", "PATH_NOT_FOUND")


def _lakefs_violations(pkg: Path) -> list[str]:
    """Code outside ``sources/lakefs.py`` that reaches the filesystem
    itself: a Hadoop FileSystem call (an attribute chain through
    ``hadoop.fs`` or ``getFileSystem``), a non-docstring string literal
    holding one of ``_LAKEFS_LITERALS``, or an ``os`` import under
    ``streaming/``. Configuration keys such as ``spark.hadoop.fs.s3a.impl``
    are strings, not calls, and pass."""
    import ast

    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "sources/lakefs.py":
            continue
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and (
                node.attr == "getFileSystem" or ast.unparse(node).endswith("hadoop.fs")
            ):
                found.append(f"{rel}:{node.lineno} {ast.unparse(node)}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and any(lit in node.value for lit in _LAKEFS_LITERALS)
            ):
                found.append(f"{rel}:{node.lineno} {node.value!r}")
            elif rel.startswith("streaming/") and (
                (isinstance(node, ast.Import) and any(a.name.split(".")[0] == "os" for a in node.names))
                or (isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "os")
            ):
                found.append(f"{rel}:{node.lineno} imports os")
    return found


def test_lake_filesystem_conventions_live_in_lakefs():
    """One module owns the lake's on-disk conventions (missing-table reads,
    the compaction swap, snapshot versions, markers); a second copy is how
    the snapshot sinks came to lose state on ``file://`` roots and the
    upsert came to overwrite a table that sat mid-swap."""
    import data_engineering_nd_datalake_project_4_spark as pkg

    assert _lakefs_violations(Path(pkg.__file__).parent) == []


class TestBinaryFileIngest:
    """binaryFile source → multimodal decode: the raw-media ingestion path."""

    def _write_images(self, root: Path) -> dict[str, bytes]:
        import numpy as np

        from data_engineering_nd_datalake_project_4_spark.operators.multimodal import encode_netpbm

        root.mkdir(parents=True, exist_ok=True)
        files = {}
        rng = np.random.default_rng(3)
        for i in range(4):
            arr = rng.integers(0, 256, size=(8, 6, 1), dtype=np.uint8)
            payload = encode_netpbm(arr)
            (root / f"img_{i}.pgm").write_bytes(payload)
            files[f"img_{i}.pgm"] = payload
        (root / "notes.txt").write_text("not an image")
        return files

    def test_reads_content_and_metadata(self, spark, tmp_path):
        from data_engineering_nd_datalake_project_4_spark.sources import read_binary_files

        files = self._write_images(tmp_path / "media")
        df = read_binary_files(spark, str(tmp_path / "media"))
        rows = {Path(r.path).name: r for r in df.collect()}
        assert set(rows) == set(files) | {"notes.txt"}
        for name, payload in files.items():
            assert bytes(rows[name].content) == payload
            assert rows[name].length == len(payload)

    def test_glob_prunes_at_listing(self, spark, tmp_path):
        from data_engineering_nd_datalake_project_4_spark.sources import read_binary_files

        self._write_images(tmp_path / "media")
        df = read_binary_files(spark, str(tmp_path / "media"), glob="*.pgm")
        names = {Path(r.path).name for r in df.select("path").collect()}
        assert names == {f"img_{i}.pgm" for i in range(4)}

    def test_recursive_lookup(self, spark, tmp_path):
        from data_engineering_nd_datalake_project_4_spark.sources import read_binary_files

        self._write_images(tmp_path / "nested" / "deep")
        flat = read_binary_files(spark, str(tmp_path / "nested"), glob="*.pgm")
        rec = read_binary_files(
            spark, str(tmp_path / "nested"), glob="*.pgm", recursive=True
        )
        assert rec.count() == 4
        # without recursiveFileLookup the scan reads direct children only
        assert flat.count() == 0

    def test_ingest_to_multimodal_features_end_to_end(self, spark, tmp_path):
        import numpy as np

        from data_engineering_nd_datalake_project_4_spark.operators.multimodal import (
            _grid_features,
            decode_netpbm,
            image_features,
        )
        from data_engineering_nd_datalake_project_4_spark.sources import read_binary_files

        from data_engineering_nd_datalake_project_4_spark.operators.multimodal import binary_files_to_media

        files = self._write_images(tmp_path / "media")
        df = read_binary_files(spark, str(tmp_path / "media"), glob="*.pgm")
        media = binary_files_to_media(df, "image")
        feats = image_features(media, dim=16, strict=True)
        ids = {Path(r.path).name: r.media_id for r in media.select("path", "media_id").collect()}
        got = {r.media_id: list(r.features) for r in feats.collect()}
        assert len(got) == len(files)
        for name, payload in files.items():
            expect = _grid_features(decode_netpbm(payload), 16)
            assert np.allclose(got[ids[name]], expect)
