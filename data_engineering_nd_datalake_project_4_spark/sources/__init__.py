"""Source readers (SURVEY.md §2.2 A; reference R01-R04).

Explicit schemas always (skips the inference scan — the one good performance
decision the reference made, /root/reference/etl.py:85,95). Recursive lookup
for nested directory fan-outs (the song_data ``A/<L1>/<L2>/`` layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

#: Spark parser modes for semi-structured scans (JSON/CSV)
_PARSE_MODES = {"PERMISSIVE", "DROPMALFORMED", "FAILFAST"}

#: internal corrupt-capture column backing the bad_records_path emulation
_AUDIT_COL = "__corrupt_record_audit"


def _malformed_options(
    reader,
    schema: StructType | str,
    mode: str,
    corrupt_record_col: str | None,
    bad_records_path: str | None,
):
    """Apply the malformed-record surface shared by JSON and CSV scans.

    Real feeds contain torn lines (the reference ingests raw S3 JSON,
    /root/reference/etl.py:83-95, with no handling at all — a torn line
    silently becomes an all-NULL row). Three explicit postures:

    - ``mode='PERMISSIVE'`` (Spark default) + ``corrupt_record_col``:
      keep every row; unparseable ones land with the RAW text captured in
      the named extra string column (appended to the schema here — Spark
      only populates it when the column exists in the schema) so bad
      input is visible and quarantinable instead of silent NULLs.
    - ``mode='DROPMALFORMED'``: parser drops unparseable rows.
    - ``mode='FAILFAST'``: the scan throws on the first bad record —
      the right posture for feeds that are contractually clean.
    - ``bad_records_path``: each bad record lands as a JSON audit row
      ``{path, record}`` under the directory and is dropped from the
      result. Databricks implements this as a reader option; OSS Spark
      SILENTLY IGNORES that option, so it is emulated here via corrupt
      capture + :func:`_bad_records_split` — never pass the raw option
      through, a silently-ignored audit sink is a data-loss trap.
    """
    mode = mode.upper()
    if mode not in _PARSE_MODES:
        raise ValueError(f"mode must be one of {sorted(_PARSE_MODES)}, got {mode!r}")
    if bad_records_path is not None:
        if mode != "PERMISSIVE" or corrupt_record_col is not None:
            raise ValueError(
                "bad_records_path supersedes the parser posture: use it "
                "with mode='PERMISSIVE' (default) and no corrupt_record_col"
            )
        corrupt_record_col = _AUDIT_COL
    reader = reader.option("mode", mode)
    if corrupt_record_col is not None:
        if mode != "PERMISSIVE":
            raise ValueError(
                "corrupt_record_col captures raw text into the result and "
                "requires mode='PERMISSIVE'"
            )
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        schema = schema.add(StructField(corrupt_record_col, StringType()))
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    return reader.schema(schema)


def _bad_records_split(df: DataFrame, bad_records_path: str) -> DataFrame:
    """Write ``{path, record}`` JSON audit rows for every corrupt-captured
    record, then return the clean rows with the capture column dropped.

    The audit write is an eager side-effect at DataFrame-construction time
    (one scan of the feed; the caller's later action re-scans — the same
    two consumers Databricks' native implementation pays). Each invocation
    writes into its own ``<ts>-<nonce>/`` subdirectory of
    ``bad_records_path`` — Databricks does the same (timestamped run dirs)
    — so constructing the same read twice (a retry, a test re-run, a
    pipeline building the frame in two places) produces two audit dirs
    rather than silently appending duplicate rows into one. The transient
    ``cache()`` is required: Spark refuses queries whose only referenced
    data column is the internal corrupt-record column unless the parsed
    frame is cached, and it is released as soon as the audit rows are on
    disk.
    """
    import time
    import uuid

    from pyspark.sql import functions as F

    run_dir = "{}/{}-{}".format(
        bad_records_path.rstrip("/"),
        time.strftime("%Y%m%dT%H%M%S"),
        uuid.uuid4().hex[:8],
    )
    df = df.cache()
    try:
        (
            df.filter(F.col(_AUDIT_COL).isNotNull())
            .select(
                F.input_file_name().alias("path"),
                F.col(_AUDIT_COL).alias("record"),
            )
            .write.mode("error")
            .json(run_dir)
        )
    finally:
        df.unpersist()
    return df.filter(F.col(_AUDIT_COL).isNull()).drop(_AUDIT_COL)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    recursive: bool = True,
    multiline: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
    bad_records_path: str | None = None,
) -> DataFrame:
    """JSON scan with a declared schema. ``recursive`` handles per-day /
    nested-dir fan-outs (reference R01/R02, /root/reference/etl.py:83-95).
    Malformed-record posture via ``mode`` / ``corrupt_record_col`` /
    ``bad_records_path`` — see :func:`_malformed_options`. NOTE:
    ``bad_records_path`` triggers an EAGER audit scan+write at call time
    (into a per-invocation timestamped subdir) — see
    :func:`_bad_records_split`."""
    reader = spark.read.option("recursiveFileLookup", str(recursive).lower())
    if multiline:
        reader = reader.option("multiLine", "true")
    df = _malformed_options(
        reader, schema, mode, corrupt_record_col, bad_records_path
    ).json(path)
    if bad_records_path is not None:
        df = _bad_records_split(df, bad_records_path)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
    bad_records_path: str | None = None,
) -> DataFrame:
    """Headered, comma-separated CSV scan with a declared schema. Same
    malformed-record posture as :func:`read_json`; ``bad_records_path`` is
    an EAGER audit scan+write at call time into a per-invocation subdir
    (:func:`_bad_records_split`)."""
    reader = spark.read.option("header", "true")
    df = _malformed_options(
        reader, schema, mode, corrupt_record_col, bad_records_path
    ).csv(path)
    if bad_records_path is not None:
        df = _bad_records_split(df, bad_records_path)
    return df


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan (local or object storage via s3a://). Predicate pushdown,
    column pruning and partition pruning all apply — keep plans declarative.

    ``merge_schema=True`` unions the schemas of all footers (schema
    evolution: batches written with added columns read back as one table,
    missing columns NULL-filled). Off by default — merging reads every
    footer up front, which matters at 100k-file scale; evolved tables
    should flip it on explicitly or maintain a metastore schema."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw media/file ingest via Spark's built-in ``binaryFile`` source:
    one row per file with ``path string, modificationTime timestamp,
    length long, content binary`` — the ingestion front door for the
    multimodal operators (``operators.multimodal.image_features`` /
    ``audio_features`` / ``image_perceptual_hashes`` consume the
    ``content`` column directly).

    ``glob`` maps to ``pathGlobFilter`` (pattern pruning happens at file
    LISTING time — unmatched files are never opened), ``recursive`` to
    ``recursiveFileLookup``. Scale notes: the source honors
    ``spark.sql.files.maxPartitionBytes`` for task packing but never
    splits a file, so one pathological multi-GB blob pins one task —
    shard giant media upstream. Reading only metadata columns
    (path/length) prunes ``content`` and reads no file bodies.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
