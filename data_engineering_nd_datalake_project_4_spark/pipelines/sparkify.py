"""The Sparkify data-lake pipeline — the reference's entire capability
(/root/reference/etl.py) rebuilt as a library of pure DataFrame transforms.

Differences from the reference, all documented in SURVEY.md:
- users: ONE window pass instead of groupBy+self-join (etl.py:134-147);
  ``fidelity=True`` reproduces the reference's duplicate rows on
  ``(userId, ts)`` ties, default adds a deterministic tie-break.
- timestamps converted once at the edge (``timestamp_millis``), not with
  the ``timestamp 'epoch' + interval`` idiom per query (etl.py:166,202-206).
- no double computation: the reference re-reads staging and recomputes
  every table for its ``show(10)`` (etl.py:110-111 etc.); here each table
  is built once and the caller decides about actions.
- S3 push is native ``df.write`` to ``s3a://`` — never an ``aws s3 cp``
  subprocess (etl.py:239-251).

Scale notes: songs/artists dedup and the users window shuffle on their
keys; songplays' LEFT JOIN broadcasts the song catalog (dimension-sized).

Rewrite rule: a table is rewritten only when the rows of the feeds it is
built from (``TABLE_SOURCES``) or the plan that builds it changed — its
content fingerprint (``table_fingerprint``) is kept in
``<table>/_FINGERPRINT`` and a run whose fingerprint matches skips the
write. A rewrite is still a static overwrite of the whole table
(partitions the new feed no longer produces are removed, not kept). To
force one, delete the table's ``_FINGERPRINT`` or the table; a lake
written before the markers existed is rewritten once.
"""

from __future__ import annotations

import hashlib
import logging
import re
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark import schemas
from data_engineering_nd_datalake_project_4_spark.functions import weekday_monday
from data_engineering_nd_datalake_project_4_spark.operators.dedup import latest_per_key
from data_engineering_nd_datalake_project_4_spark.sources import lakefs, read_json
from data_engineering_nd_datalake_project_4_spark.sources.sinks import write_parquet

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class SparkifyConfig:
    """Replaces the reference's INI parsing (/root/reference/etl.py:50-59)."""

    log_data_path: str
    song_data_path: str
    output_root: str
    declared_schemas: bool = False  # True = reference's FLOAT schemas
    #: malformed-record posture for the raw JSON feeds. The reference has
    #: none (/root/reference/etl.py:83-95 — a torn S3 line silently became
    #: an all-NULL row); PERMISSIVE default keeps that fidelity, real
    #: deployments should run DROPMALFORMED or set bad_records_path.
    ingest_mode: str = "PERMISSIVE"
    bad_records_path: str | None = None


def ingest_logs(spark: SparkSession, cfg: SparkifyConfig) -> DataFrame:
    """R01: recursive JSON-lines scan of the event log
    (/root/reference/etl.py:83-85)."""
    ddl = schemas.LOG_EVENTS_DECLARED_DDL if cfg.declared_schemas else schemas.LOG_EVENTS_DDL
    return read_json(
        spark, cfg.log_data_path, ddl, recursive=True,
        mode=cfg.ingest_mode, bad_records_path=cfg.bad_records_path,
    )


def ingest_songs(spark: SparkSession, cfg: SparkifyConfig) -> DataFrame:
    """R02: recursive one-object-per-file JSON scan of the song catalog
    (/root/reference/etl.py:93-95)."""
    ddl = schemas.SONGS_DECLARED_DDL if cfg.declared_schemas else schemas.SONGS_DDL
    return read_json(
        spark, cfg.song_data_path, ddl, recursive=True,
        mode=cfg.ingest_mode, bad_records_path=cfg.bad_records_path,
    )


def songs_table(songs: DataFrame) -> DataFrame:
    """5-col distinct projection (/root/reference/etl.py:98-111)."""
    return songs.select("song_id", "title", "artist_id", "year", "duration").distinct()


def artists_table(songs: DataFrame) -> DataFrame:
    """/root/reference/etl.py:113-122."""
    return songs.select(
        "artist_id", "artist_name", "artist_location", "artist_latitude", "artist_longitude"
    ).distinct()


def users_table(logs: DataFrame, fidelity: bool = False) -> DataFrame:
    """Latest event per user (/root/reference/etl.py:124-149).

    Reference semantics retained: logged-out events with ``userId = ''``
    (empty string, NOT null) are KEPT — the output contains an
    empty-string user (SURVEY.md §1.3).

    fidelity=False (default): one window, tie-break larger sessionId then
    itemInSession — deterministic, no duplicates.
    fidelity=True: the reference's aggregate + join-back on
    ``(userId, MAX(ts))``, which emits duplicate rows when a user has two
    events at the same ms (observed multiplicity 2 in the real data).
    """
    cols = ["userId", "firstName", "lastName", "gender", "level"]
    if fidelity:
        latest = logs.groupBy("userId").agg(F.max("ts").alias("ts"))
        return logs.join(latest, ["userId", "ts"], "inner").select(*cols)
    return latest_per_key(
        logs,
        ["userId"],
        [F.desc("ts"), F.desc("sessionId"), F.desc("itemInSession")],
    ).select(*cols)


def songplays_table(logs: DataFrame, songs: DataFrame) -> DataFrame:
    """NextSong fact table (/root/reference/etl.py:151-184): LEFT JOIN on
    title only — unmatched plays are retained with NULL song/artist ids
    (4 of 6,820 matched in the reference's own data, SURVEY.md §1.3).

    The song catalog is dimension-sized → broadcast; the event log never
    shuffles for this join.
    """
    plays = logs.filter(F.col("page") == "NextSong")
    t = F.timestamp_millis(F.col("ts"))
    return (
        plays.join(F.broadcast(songs), songs["title"] == plays["song"], "left")
        .select(
            plays["ts"].alias("ts"),
            F.year(t).alias("year"),
            F.month(t).alias("month"),
            "userId",
            "level",
            "song_id",
            "artist_id",
            "sessionId",
            "location",
            "userAgent",
        )
    )


def time_table(logs: DataFrame) -> DataFrame:
    """Distinct timestamps with calendar parts (/root/reference/etl.py:186-223):
    ISO week, weekday Monday=1 via ``((dayofweek+5)%7)+1`` (etl.py:216)."""
    t = F.timestamp_millis(F.col("ts"))
    d = F.to_date(t)
    return logs.select(
        t.alias("start_time"),
        F.hour(t).alias("hour"),
        F.dayofmonth(d).alias("day"),
        F.weekofyear(d).alias("week"),
        F.month(d).alias("month"),
        F.year(d).alias("year"),
        weekday_monday(d).alias("weekday"),
    ).distinct()


#: table name → (builder over (logs, songs), partition columns)
TABLE_SPECS = {
    "songs": (lambda logs, songs: songs_table(songs), ("year", "artist_id")),
    "artists": (lambda logs, songs: artists_table(songs), None),
    "users": (lambda logs, songs: users_table(logs), None),
    "songplays": (lambda logs, songs: songplays_table(logs, songs), ("year", "month")),
    "time": (lambda logs, songs: time_table(logs), ("year", "month")),
}

#: table name → the feeds its builder reads. ``run_pipeline`` passes every
#: other feed as ``None``, so a builder reading an undeclared feed fails
#: instead of leaving its table stale when only that feed changed.
TABLE_SOURCES = {
    "songs": ("songs",),
    "artists": ("songs",),
    "users": ("logs",),
    "songplays": ("logs", "songs"),
    "time": ("logs",),
}

#: the marker a written table carries: the fingerprint it was written under
FINGERPRINT_FILE = "_FINGERPRINT"

#: jobs ``run_pipeline`` keeps in flight at once (see its docstring)
CONCURRENCY = 3

_EXPR_ID = re.compile(r"#\d+")


def feed_fingerprint(feed: DataFrame) -> str:
    """Content fingerprint of a feed: its schema, row count and the
    order-insensitive sum of one 64-bit hash per row — ONE aggregate job,
    which also materialises a persisted feed.

    ``xxhash64`` skips NULL inputs, so ``("Ann", NULL)`` and
    ``(NULL, "Ann")`` would hash alike: the row's null positions are
    hashed in as a 0/1 string. The sum runs as ``decimal(38,0)``: a
    ``LONG`` sum of 64-bit hashes overflows after a few rows, which raises
    under ANSI (the Spark 4 default)."""
    cols = [feed[c] for c in feed.columns]
    nulls = F.concat(*[F.when(c.isNull(), "1").otherwise("0") for c in cols])
    row_hash = F.xxhash64(nulls, *cols).cast("decimal(38,0)")
    rows, total = feed.agg(F.count(F.lit(1)), F.sum(row_hash)).first()
    return f"{feed.schema.json()}|{rows}|{total or 0}"


def table_fingerprint(
    name: str, df: DataFrame, partition_by, feed_fingerprints
) -> str | None:
    """sha256 over the table name and partition columns, ``df``'s analyzed
    plan with its expression ids (``#123``, per session) removed, its
    output schema and the fingerprints of the feeds it is built from —
    identical across sessions and JVMs for the same builder over the same
    rows. The plan is printed without the per-node field cap; an
    expression that still printed cut at ``spark.sql.debug.maxToStringFields``
    (``... N more fields``) could hide a difference, so such a plan gets
    no fingerprint (``None``: always rewritten)."""
    plan = df._jdf.queryExecution().analyzed().treeString(True, False, 2**31 - 1, False, False)
    if " more fields" in plan:
        return None
    digest = hashlib.sha256()
    for part in (name, repr(partition_by), _EXPR_ID.sub("", plan), df.schema.json(),
                 *feed_fingerprints):
        digest.update(part.encode() + b"\0")
    return digest.hexdigest()


def run_pipeline(spark: SparkSession, cfg: SparkifyConfig) -> dict[str, DataFrame]:
    """Build all five tables and write those whose fingerprint changed;
    returns the built DataFrames (every table, written or not).

    Each JSON feed is parsed ONCE into a persisted frame
    (``MEMORY_AND_DISK``, materialised by one action per feed) and all
    five tables are built from those frames — the JSON is parsed one time
    instead of once per table write, and nothing but the five tables
    lands in the lake. (The reference staged a parquet copy of the feeds
    beside its tables, etl.py:86,96, and re-read it for every table —
    SURVEY.md §4.1.) Both frames are unpersisted on the way out, also
    when a write fails, so repeated runs in one session never pile up
    cached feeds; the returned DataFrames re-read the JSON if the caller
    runs them again.

    Rewrite rule: the action that materialises a feed is
    :func:`feed_fingerprint`'s aggregate, so the content fingerprint costs
    no extra job. Each builder gets only its ``TABLE_SOURCES`` feeds, and
    its table is written only when :func:`table_fingerprint` differs from
    the table's ``_FINGERPRINT`` marker (or there is none); the marker is
    written after the table. The reference re-derives and overwrites all
    five tables every run (etl.py:263-279); here a re-run over an
    unchanged song catalog rewrites neither ``songs`` nor ``artists``.
    A rewrite is a static overwrite, which deletes the table directory —
    old marker included — before writing, so a failed or interrupted
    write leaves no marker and the next run rewrites the table. Force a
    rewrite by deleting ``_FINGERPRINT`` or the table. Each table logs
    one INFO line: ``written`` or ``unchanged`` with the first 12 hex
    digits of its fingerprint.

    Scale note: ``MEMORY_AND_DISK`` keeps the parsed feed in executor
    memory and spills what does not fit to executor-local disk
    (``spark.local.dir``) — never to the lake, so an ``s3a://`` output
    root is not sent a second copy of the feed on every run.

    ``CONCURRENCY`` (r13, guide §2.6 "overlap independent jobs"): the two
    feed materialisations and the five table writes are INDEPENDENT jobs
    (pure builders, disjoint output dirs), but the driver used to submit
    them one at a time, leaving most of the cluster idle through each
    job's tail. A small thread pool lets the next job's tasks back-fill
    freed executors — Spark's scheduler runs concurrent jobs FIFO, which
    is exactly the back-fill behaviour wanted; the driver DataFrame API is
    thread-safe for this use. Table contents and layouts are unchanged
    (same builders, same writes — threads only change submission order).
    Measured warm end-to-end at the bench workload (100k events):
    ~5.0 s serial → ~3.0 s with three jobs in flight.
    """
    def submit(fn, items):
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=CONCURRENCY) as pool:
            return list(pool.map(fn, items))

    def build_write(item):
        name, (builder, parts) = item
        sources = TABLE_SOURCES[name]
        df = builder(*(feeds[f] if f in sources else None for f in feeds))
        path = f"{cfg.output_root}/{name}"
        marker = f"{path}/{FINGERPRINT_FILE}"
        fingerprint = table_fingerprint(name, df, parts, [fingerprints[f] for f in sources])
        if fingerprint is not None and lakefs.read_marker(spark, marker) == fingerprint:
            status = "unchanged"
        else:
            write_parquet(df, path, partition_by=parts)
            if fingerprint is not None:
                lakefs.write_marker(spark, marker, fingerprint)
            status = "written"
        log.info("table %-9s %-9s %s -> %s", name, status, (fingerprint or "none")[:12], path)
        return name, df

    feeds = {"logs": ingest_logs(spark, cfg), "songs": ingest_songs(spark, cfg)}
    for feed in feeds.values():
        feed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fingerprints = dict(zip(feeds, submit(feed_fingerprint, feeds.values())))
        return dict(submit(build_write, TABLE_SPECS.items()))
    finally:
        for feed in feeds.values():
            feed.unpersist()
