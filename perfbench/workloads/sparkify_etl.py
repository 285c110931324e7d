"""``sparkify_etl``: the reference's own job.

A pass calls ``pipelines.sparkify.run_pipeline`` as shipped (staging on,
``concurrency=3``): once over a 30-day feed into an empty lake, then once
per new day after that day's file lands in the feed — each re-run reads
the whole feed and overwrites the lake, as the reference job does every
day. Write-heavy: it stresses ``sources`` JSON ingest,
``sources.sinks.write_parquet`` and the fan-out of partitioned writes
(``songs`` is partitioned by ``year, artist_id``, about one directory per
song). It never touches ``operators.similarity`` or ``operators.text``.

Checks: every table in the lake has the row count and content hash of
the same table computed by DuckDB from the final feed.
"""
from __future__ import annotations

import os
import shutil
import time

import duckdb

from perfbench import gen
from perfbench.harness import median_by_key, tree_size
from perfbench.workloads import PassResult, Request

_LOG_COLS = (
    "{artist: 'VARCHAR', auth: 'VARCHAR', firstName: 'VARCHAR', gender: 'VARCHAR', "
    "itemInSession: 'INTEGER', lastName: 'VARCHAR', length: 'DOUBLE', level: 'VARCHAR', "
    "location: 'VARCHAR', method: 'VARCHAR', page: 'VARCHAR', registration: 'DOUBLE', "
    "sessionId: 'INTEGER', song: 'VARCHAR', status: 'INTEGER', ts: 'BIGINT', "
    "userAgent: 'VARCHAR', userId: 'VARCHAR'}"
)
_SONG_COLS = (
    "{num_songs: 'INTEGER', artist_id: 'VARCHAR', artist_latitude: 'DOUBLE', "
    "artist_longitude: 'DOUBLE', artist_location: 'VARCHAR', artist_name: 'VARCHAR', "
    "song_id: 'VARCHAR', title: 'VARCHAR', duration: 'DOUBLE', year: 'INTEGER'}"
)

#: table -> (DuckDB reference query over views ``logs``/``songs``, the
#: canonical column list hashed on both sides)
_REFERENCE = {
    "songs": (
        "SELECT DISTINCT song_id, title, artist_id, year, duration FROM songs",
        "song_id::VARCHAR, title::VARCHAR, artist_id::VARCHAR, year::BIGINT, duration::DOUBLE",
    ),
    "artists": (
        "SELECT DISTINCT artist_id, artist_name, artist_location, artist_latitude, "
        "artist_longitude FROM songs",
        "artist_id::VARCHAR, artist_name::VARCHAR, artist_location::VARCHAR, "
        "artist_latitude::DOUBLE, artist_longitude::DOUBLE",
    ),
    "users": (
        "SELECT userId, firstName, lastName, gender, level FROM ("
        " SELECT *, row_number() OVER (PARTITION BY userId"
        "  ORDER BY ts DESC, sessionId DESC, itemInSession DESC) AS rn FROM logs)"
        " WHERE rn = 1",
        "userId::VARCHAR, firstName::VARCHAR, lastName::VARCHAR, gender::VARCHAR, level::VARCHAR",
    ),
    "songplays": (
        "SELECT l.ts, year(epoch_ms(l.ts)) AS year, month(epoch_ms(l.ts)) AS month, "
        "l.userId, l.level, s.song_id, s.artist_id, l.sessionId, l.location, l.userAgent "
        "FROM logs l LEFT JOIN songs s ON s.title = l.song WHERE l.page = 'NextSong'",
        "ts::BIGINT, year::BIGINT, month::BIGINT, userId::VARCHAR, level::VARCHAR, "
        "song_id::VARCHAR, artist_id::VARCHAR, sessionId::BIGINT, location::VARCHAR, "
        "userAgent::VARCHAR",
    ),
    "time": (
        "SELECT DISTINCT epoch_ms(ts) AS start_time, hour(epoch_ms(ts)) AS hour, "
        "day(epoch_ms(ts)) AS day, week(epoch_ms(ts)) AS week, month(epoch_ms(ts)) AS month, "
        "year(epoch_ms(ts)) AS year, isodow(epoch_ms(ts)) AS weekday FROM logs",
        "epoch_ms(start_time)::BIGINT, hour::BIGINT, day::BIGINT, week::BIGINT, "
        "month::BIGINT, year::BIGINT, weekday::BIGINT",
    ),
}


def _lines(path: str) -> int:
    files = [os.path.join(path, f) for f in os.listdir(path)] if os.path.isdir(path) else [path]
    total = 0
    for name in files:
        with open(name) as f:
            total += sum(1 for _ in f)
    return total


def _count_and_hash(con, relation: str, canon: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({canon})), 0) FROM ({relation})"
    ).fetchone()
    return int(n), int(h)


def check_tables(out_root: str, log_glob: str, song_glob: str) -> list[str]:
    """Row count and order-insensitive content hash of every written
    table against DuckDB's reference over the same JSON."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW logs AS SELECT * FROM read_json('{log_glob}', "
                    f"format = 'newline_delimited', columns = {_LOG_COLS})")
        con.execute(f"CREATE VIEW songs AS SELECT * FROM read_json('{song_glob}', "
                    f"columns = {_SONG_COLS})")
        failures = []
        for table, (ref_sql, canon) in _REFERENCE.items():
            got = _count_and_hash(con, f"SELECT * FROM read_parquet('{out_root}/{table}/**/*.parquet', "
                                       f"hive_partitioning = true)", canon)
            want = _count_and_hash(con, ref_sql, canon)
            if got != want:
                failures.append(f"{table}: (rows, hash) {got} != DuckDB {want}")
        return failures
    finally:
        con.close()


class SparkifyEtl:
    name = "sparkify_etl"

    def __init__(self, n_events: int, n_songs: int, new_days: int, days: int = 30):
        self.n_events = n_events
        self.n_songs = n_songs
        self.n_new_days = new_days
        self.days = days
        self.inputs: gen.SparkifyInputs | None = None

    def generate(self, d: str, seed: int) -> None:
        """A feed of ``days`` daily files, plus ``new_days`` later days
        held out in ``new_days/``, one to arrive before each increment."""
        self.inputs = gen.sparkify_inputs(d, seed, self.n_events, self.n_songs,
                                          days=self.days + self.n_new_days)
        held_out = os.path.join(d, "new_days")
        os.makedirs(held_out)
        self.new_days = []
        for day in sorted(os.listdir(self.inputs.log_dir))[self.days:]:
            self.new_days.append(os.path.join(held_out, day))
            os.rename(os.path.join(self.inputs.log_dir, day), self.new_days[-1])
        self.feed_rows = _lines(self.inputs.log_dir)
        self.new_day_rows = [_lines(day) for day in self.new_days]

    def describe(self) -> dict:
        return {"feed_events": self.feed_rows, "feed_days": self.days, "songs": self.n_songs,
                "new_day_events": self.new_day_rows}

    def input_rows(self) -> int:
        """Rows read by a pass: the initial run, then each increment's
        whole grown feed."""
        feed, rows = self.feed_rows, self.feed_rows + self.n_songs
        for added in self.new_day_rows:
            feed += added
            rows += feed + self.n_songs
        return rows

    def _cfg(self, log_path: str, out_root: str):
        from data_engineering_nd_datalake_project_4_spark.pipelines.sparkify import SparkifyConfig

        return SparkifyConfig(log_data_path=log_path, song_data_path=self.inputs.song_dir,
                              output_root=out_root)

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        """The initial load of the feed into the lake, then one increment
        per new day: the day lands in the feed and the job re-runs over the
        whole feed, overwriting the lake — the reference job has no
        incremental mode."""
        from data_engineering_nd_datalake_project_4_spark.pipelines.sparkify import run_pipeline

        res = PassResult(out_dir=out)
        feed, lake = os.path.join(out, "feed"), os.path.join(out, "lake")
        shutil.copytree(self.inputs.log_dir, feed)
        runs = [("initial", None)] + [(f"increment-{k}", day)
                                      for k, day in enumerate(self.new_days, 1)]
        t0 = time.perf_counter()
        for label, new_day in runs:
            if new_day:
                shutil.copy(new_day, feed)
            err = None
            with tracer.span("sparkify.run_pipeline") as sp:
                try:
                    run_pipeline(spark, self._cfg(feed, lake))
                except Exception as e:  # noqa: BLE001 — a failed request is counted, the pass goes on
                    err = f"{type(e).__name__}: {e}"[:300]
            res.requests.append(Request(label, sp.seconds, sp.seconds if new_day else None, err))
        res.seconds = time.perf_counter() - t0
        res.extra["last"] = runs[-1][0]
        return res

    def check(self, spark, result: PassResult) -> dict[str, str]:
        """The lake the last run left, against DuckDB over the final feed."""
        problems = check_tables(os.path.join(result.out_dir, "lake"),
                                os.path.join(result.out_dir, "feed", "*.json"),
                                f"{self.inputs.song_dir}/**/*.json")
        return {result.extra["last"]: "; ".join(problems)} if problems else {}

    def output_size(self, result: PassResult) -> tuple[int, int]:
        return tree_size(os.path.join(result.out_dir, "lake"))

    def probe_layers(self, spark, tracer, result: PassResult) -> dict:
        """The full run again, composed serially from the same public
        pieces ``run_pipeline`` uses, one span per table; then
        ``run_pipeline`` once more, so the overlap it saves compares two
        runs made in the same (warm) state."""
        from data_engineering_nd_datalake_project_4_spark.pipelines import sparkify
        from data_engineering_nd_datalake_project_4_spark.sources.sinks import write_parquet

        root = os.path.join(result.out_dir, "serial")
        cfg = self._cfg(self.inputs.log_dir, root)
        probe = {}
        with tracer.span("sparkify.stage") as sp:
            write_parquet(sparkify.ingest_logs(spark, cfg), f"{root}/_staging/logs")
            write_parquet(sparkify.ingest_songs(spark, cfg), f"{root}/_staging/songs")
        probe["sparkify.stage.s"] = sp.seconds
        logs = spark.read.parquet(f"{root}/_staging/logs")
        songs = spark.read.parquet(f"{root}/_staging/songs")
        serial = sp.seconds
        con = duckdb.connect()
        try:
            for name, (builder, parts) in sparkify.TABLE_SPECS.items():
                path = f"{root}/{name}"
                with tracer.span(f"sparkify.{name}") as sp:
                    write_parquet(builder(logs, songs), path, partition_by=parts)
                serial += sp.seconds
                n_bytes, n_files = tree_size(path)
                rows = con.execute(
                    f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]
                probe.update({
                    f"sparkify.{name}.s": sp.seconds,
                    f"sparkify.{name}.files": n_files,
                    f"sparkify.{name}.bytes": n_bytes,
                    f"sparkify.{name}.rows": rows,
                    f"sparkify.{name}.jobs": sp.counts["jobs"],
                    f"sparkify.{name}.tasks": sp.counts["tasks"],
                })
        finally:
            con.close()
        with tracer.span("sparkify.run_pipeline") as sp:
            sparkify.run_pipeline(spark, self._cfg(self.inputs.log_dir,
                                                   os.path.join(result.out_dir, "overlapped")))
        probe["sparkify.overlap_saved_s"] = serial - sp.seconds
        return probe

    @staticmethod
    def layer_metrics(passes: list[PassResult], probes: list[dict]) -> dict:
        return median_by_key(probes)
