"""Sinks (SURVEY.md §2.2 A; reference R05-R07).

Partitioned snappy parquet, written natively — including to s3a:// — never
via an ``aws s3 cp`` subprocess side-channel (reference anti-pattern,
/root/reference/etl.py:239-251).

Scale notes: ``write_parquet`` is a static overwrite — a rerun replaces the
whole output; only ``upsert_partitioned`` rewrites just the partitions an
update touches. ``max_records_per_file`` bounds file sizes so a skewed
partition key cannot produce multi-GB files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.sources import lakefs


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """A partitioned write is repartitioned on the partition columns first,
    so each output directory is produced by ONE task — otherwise every
    task touches every directory it holds rows for, and a high-cardinality
    partition key (e.g. the reference's ``artist_id`` layout, etl.py:107)
    explodes into tasks×dirs tiny files. Costs one shuffle; at scale that
    shuffle is far cheaper than the small-file storm.
    """
    if partition_by:
        df = df.repartition(*partition_by)
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table,
    replacing any table of that name.

    Two tables bucketed identically on their join key join WITHOUT a
    shuffle (both sides already hash-partitioned on disk) — at 100 TB this
    turns the recurring fact⋈fact join from the dominant cost into a local
    merge. Requires the session catalog (saveAsTable), not a bare path.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def upsert_partitioned(
    spark,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str,
    partition_by: Sequence[str],
    max_touched_partitions: int = 1000,
) -> None:
    """Upsert (merge) into a partitioned parquet table without a table
    format: union the existing rows of the TOUCHED partitions with the
    updates, keep the highest-``order_col`` row per key, and dynamically
    overwrite only those partitions.

    Scale shape: the touched-partition filter prunes the read to the
    partitions present in ``updates`` (partition pruning, not a full-table
    scan); the merge itself is one window shuffle on ``keys``. A real table
    format (Delta/Iceberg) adds ACID + concurrent writers; the data motion
    is the same.

    Assumes partition-stable keys: an update that moves a key to a new
    partition value leaves the stale row in its old (untouched) partition —
    the same contract as Hive-style INSERT OVERWRITE upserts.

    The touched-partition list is collected to the driver ONLY while it has
    at most ``max_touched_partitions`` entries (static pruning literals —
    planner-time directory skip, zero runtime cost). Past the cap the list
    is never materialized: the existing table is LEFT SEMI joined to the
    distinct partition tuples of ``updates``, and dynamic partition pruning
    does the directory skip at runtime — bounded driver memory at any
    partition cardinality.

    Only a MISSING table is a first write (:func:`.lakefs.read_or_none`).
    A table that exists but cannot be read raises, and so does a missing
    table with ``<path>__old`` beside it — a compaction swap that stopped
    between its renames: the upsert raises ``IOError`` naming the aside
    and writes nothing. Treated as a first write, the live path would hold
    only the updates, and the next compaction would delete the aside with
    every other row in it. Paths are Hadoop paths: ``file://``,
    ``hdfs://`` and ``s3a://`` work alike.
    """
    from pyspark.sql import Window

    # the updates plan drives THREE consumers (touched-partition collect,
    # the merge union, and — past the cap — the semi-join build side):
    # persist so an expensive/nondeterministic upstream runs once and the
    # partition list cannot disagree with the rows actually merged
    updates = updates.persist()
    try:
        # limit(cap+1): detect overflow without an unbounded collect
        touched = [
            tuple(r)
            for r in updates.select(*partition_by)
            .distinct()
            .limit(max_touched_partitions + 1)
            .collect()
        ]
        existing = lakefs.read_or_none(spark, path)
        if existing is not None:
            if len(touched) <= max_touched_partitions:
                pred = F.lit(False)
                for combo in touched:
                    clause = F.lit(True)
                    for col, val in zip(partition_by, combo):
                        # eqNullSafe: a NULL partition value must still
                        # match its existing partition or its rows are
                        # dropped by the merge yet overwritten on disk
                        clause = clause & F.col(col).eqNullSafe(F.lit(val))
                    pred = pred | clause
                existing = existing.filter(pred)
            else:
                upd_parts = updates.select(*partition_by).distinct()
                cond = F.lit(True)
                for col in partition_by:
                    cond = cond & existing[col].eqNullSafe(upd_parts[col])
                existing = existing.join(upd_parts, cond, "left_semi")
            existing = existing.select(*updates.columns)
            merged = existing.unionByName(updates)
        else:  # first write: nothing to merge
            merged = updates
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # per-write option, never the session conf: flipping
        # spark.sql.sources.partitionOverwriteMode would turn every other
        # write running in the session meanwhile into a dynamic overwrite
        latest.repartition(*partition_by).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*partition_by).parquet(path)
    finally:
        updates.unpersist()


#: the file size :func:`compact_parquet_dir` coalesces to (Spark's default
#: ``spark.sql.files.maxPartitionBytes``: one file per scan task)
_TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_parquet_dir(
    spark,
    path: str,
    schema: str | None = None,
    transform=None,
) -> int:
    """Compact a small-file parquet directory in place: read, coalesce to
    ~128 MiB files, swap in via rename. Returns the post-compaction
    data-file count. The antidote to streaming sinks, append-heavy stores
    (:mod:`..operators.incremental`'s signature stores) and over-parallel
    writes accumulating thousands of KB-sized files (each file costs a
    task + footer fetch on every downstream scan). The rewrite is flat:
    a partition column comes back as a data column.

    ``schema`` (a DDL string) makes an EMPTY table — a valid directory
    with zero data files (round-7 rule) — compact to itself instead of
    failing schema inference. ``transform`` (optional ``df -> df``) is
    applied to the whole table before the rewrite — the hook row-level
    maintenance rides on (e.g.
    :func:`..operators.incremental.compact_band_store`'s reclaim of
    at-least-once replay duplicates). The default (None) preserves the row
    multiset exactly.

    Sizing and the swap go through :mod:`.lakefs` (the Hadoop FileSystem
    API), so ``file://``, ``hdfs://`` and ``s3a://`` paths work alike; the
    swap's crash contract is :func:`.lakefs.swap_in`'s — a crash can leave
    the table under the ``__old`` name (recoverable by a rename), never
    half-deleted.
    """
    import math

    df = (spark.read.schema(schema) if schema else spark.read).parquet(path)
    if transform is not None:
        df = transform(df)
    n_files = max(1, math.ceil(lakefs.size_bytes(spark, path) / _TARGET_FILE_BYTES))
    lakefs.swap_in(
        spark,
        path,
        lambda tmp: df.coalesce(n_files).write.mode("overwrite").parquet(tmp),
    )
    return lakefs.data_file_count(spark, path)


def write_jsonl(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Gzipped JSON-Lines sink — the training-data interchange format (one
    JSON object per line; nested arrays/structs serialize natively, unlike
    CSV). Spark's json writer IS line-delimited; ``max_records_per_file``
    bounds shard sizes for data-loader consumption, ``partition_by`` gives
    source/language-split exports, gzip keeps text shards ~5x smaller
    (gzip splits per FILE, not within — bound shard size accordingly)."""
    w = df.write.mode("overwrite").option("compression", "gzip")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    seed: int = 42,
    epoch: int = 0,
    n_shards: int = 8,
) -> DataFrame:
    """Materialize one training epoch on disk: deterministic shuffle
    (``packing.epoch_shuffle``), then EXACTLY ONE parquet file per shard
    with rows in shuffled ``pos`` order — the layout a data-loader fleet
    consumes (worker k streams shard k sequentially; no shared scan, no
    runtime shuffling). Returns the per-shard manifest DataFrame
    ``(shard_id, n_docs[, n_tokens, content_xor])`` computed from the
    FILES JUST WRITTEN (read-back, not the plan), so the manifest attests
    what actually landed; it is written alongside the data under
    ``<path>/_manifest`` (underscore-prefixed → invisible to parquet
    readers of ``path``).

    Scale shape: one shuffle (repartition on shard_id, ~n_shards tasks,
    each sorting corpus/n_shards rows); the per-shard file is written by
    exactly one task because every shard's rows hash to one partition.
    Determinism: same (seed, epoch) → byte-identical shard order on any
    cluster size, and shard manifests XOR-merge to the corpus manifest
    (``text.corpus_manifest`` property). Re-writing the same path with a
    new epoch refreshes the session file-status cache — without that, a
    reader session pins the OLD file listing (CLAUDE.md round-5 trap).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards ({n_shards}) must be positive")
    from data_engineering_nd_datalake_project_4_spark.operators.packing import epoch_shuffle
    from data_engineering_nd_datalake_project_4_spark.operators.text import corpus_manifest

    shuffled = epoch_shuffle(df, id_col, seed, epoch, n_shards)
    (
        shuffled.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    spark = df.sparkSession
    spark.catalog.refreshByPath(path)
    written = spark.read.parquet(path)
    if text_col is not None:
        manifest = corpus_manifest(written, text_col, id_col, by="shard_id")
    else:
        manifest = written.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n_docs"))
    manifest = manifest.orderBy("shard_id")
    manifest.coalesce(1).write.mode("overwrite").json(f"{path}/_manifest")
    return manifest
