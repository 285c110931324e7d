"""The lake's filesystem conventions, through the Hadoop FileSystem API.

Every path goes through ``Path.getFileSystem``, so ``file://``, ``hdfs://``
and ``s3a://`` lakes (and plain local paths) behave alike. This module is
the only code that touches the filesystem directly; a repo-wide audit
(``tests/test_sources.py``) keeps it that way. The conventions:

- a missing table reads as "no table yet" (:func:`read_or_none`), unless
  ``<path>__old`` sits beside it: that is a compaction swap interrupted
  between its renames (:func:`swap_in`), and the read refuses;
- versioned snapshots are ``<root>/v<n>`` directories committed by Spark's
  ``_SUCCESS`` marker (:func:`latest_snapshot_version`);
- one-line text markers (the Sparkify ``_FINGERPRINT``) are written with
  :func:`write_marker` and read with :func:`read_marker`.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_ASIDE = "__old"
_STAGED = "__compacting"


def _fs(spark: SparkSession, path: str):
    """(Hadoop Path, its FileSystem) for ``path``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/"))
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _sibling(spark: SparkSession, jpath, suffix: str):
    return spark._jvm.org.apache.hadoop.fs.Path(jpath.toString() + suffix)


def read_or_none(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """The parquet table at ``path`` (read with ``schema`` when given), or
    None when no table exists there yet — the cold-start contract of the
    incremental stores and of :func:`.sinks.upsert_partitioned`.

    Two hard lines inside that leniency:

    - a read that fails while the path EXISTS propagates (a corrupt footer,
      a permission error or an empty directory must never read as "no
      table", or a dedup batch passes every duplicate and an upsert
      overwrites touched partitions with the updates alone);
    - a missing path WITH ``<path>__old`` beside it is a compaction swap
      that stopped between its renames (:func:`swap_in`, window 2). Treating
      it as a cold start would rebuild state from nothing, and the next
      compaction would delete the aside. Raises ``IOError`` naming the
      one-rename recovery instead.
    """
    reader = spark.read.schema(schema) if schema else spark.read
    try:
        return reader.parquet(path)
    except AnalysisException:
        jpath, fs = _fs(spark, path)
        if fs.exists(jpath):
            raise
        if fs.exists(_sibling(spark, jpath, _ASIDE)):
            raise IOError(
                f"table missing at {path} but {path}{_ASIDE} exists: a "
                "compaction swap stopped between its renames (or is in "
                f"flight). Recover by renaming {path}{_ASIDE} back to "
                f"{path}; refusing to treat an interrupted swap as a first "
                "write."
            ) from None
        return None


def swap_in(spark: SparkSession, path: str, write_tmp) -> None:
    """Replace the table at ``path`` with a rewritten copy:
    ``write_tmp(tmp_path)`` writes the copy to ``<path>__compacting``
    (while the live path is still readable), then the swap goes
    live→``<path>__old``, copy→live, delete ``__old``.

    Crash contract, per window (pinned, through
    :func:`.sinks.compact_parquet_dir`, its one caller, by
    ``tests/test_incremental_lsh.py::test_compact_band_store_crash_windows``):

    1. die during/after ``write_tmp`` → live table untouched; the orphaned
       ``__compacting`` is overwritten by the next compaction.
    2. die between the renames → the ONLY window where the live path is
       missing; the full table sits intact under ``__old`` — recoverable
       by exactly one rename (+ ``refreshByPath`` in a live session).
       :func:`read_or_none` refuses in this window, so neither a dedup
       probe nor an upsert mistakes it for a first write.
    3. die before the aside delete → live is already the rewritten copy
       (written in full before any rename); the stale ``__old`` is cleared
       by the next compaction.

    Never half-deleted, and readers see the same rows in every readable
    state. Single-WRITER assumption: don't append while a swap runs. On a
    rename-less object store the two renames are copies, not atomic — a
    table format (Delta/Iceberg) is the real answer there; the data motion
    is identical. Finishes with ``refreshByPath``: the session
    FileStatusCache pins file listings, so without the refresh this same
    session would keep reading the file set it listed before the swap."""
    jpath, fs = _fs(spark, path)
    tmp = _sibling(spark, jpath, _STAGED)
    old = _sibling(spark, jpath, _ASIDE)
    write_tmp(tmp.toString())
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(jpath, old):
        raise IOError(f"compact: could not move {path} aside")
    if not fs.rename(tmp, jpath):
        # put the original back before failing — never leave the live
        # path missing
        fs.rename(old, jpath)
        raise IOError(f"compact: could not swap in compacted {path}")
    fs.delete(old, True)
    spark.catalog.refreshByPath(path)


def size_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of every file under ``path``."""
    jpath, fs = _fs(spark, path)
    return fs.getContentSummary(jpath).getLength()


def data_file_count(spark: SparkSession, path: str) -> int:
    """Data files under ``path``, recursively; ``_``/``.``-prefixed files
    (``_SUCCESS``, ``.crc``, markers) are not data."""
    jpath, fs = _fs(spark, path)
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n


def latest_snapshot_version(
    spark: SparkSession, snapshot_root: str, before: int | None = None
) -> int | None:
    """Highest COMMITTED snapshot version under ``snapshot_root`` (dirs
    named ``v<number>`` containing Spark's ``_SUCCESS`` commit marker),
    optionally restricted to versions < ``before``. None if no committed
    snapshot exists (or the root does not)."""
    root, fs = _fs(spark, snapshot_root)
    if not fs.exists(root):
        return None
    versions = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        try:
            ver = int(name[1:]) if name.startswith("v") else None
        except ValueError:
            continue
        if ver is not None and (before is None or ver < before):
            versions[ver] = status.getPath()
    for ver in sorted(versions, reverse=True):  # newest first: usually committed
        if fs.exists(_sibling(spark, versions[ver], "/_SUCCESS")):
            return ver
    return None


def read_marker(spark: SparkSession, path: str) -> str | None:
    """First line of the marker file at ``path``; None when there is none."""
    jpath, fs = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    jio = spark._jvm.java.io
    reader = jio.BufferedReader(jio.InputStreamReader(fs.open(jpath), "UTF-8"))
    try:
        return reader.readLine()
    finally:
        reader.close()


def write_marker(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to the marker file at ``path``, replacing it."""
    jpath, fs = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
