"""Reference-fidelity tests for the Sparkify pipeline (SURVEY.md §5.2):
synthetic reference-shaped inputs (FIXTURES.md §A), semantic invariants
from SURVEY.md §1.3."""

from __future__ import annotations

import json
import logging
import os
import re

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.pipelines import sparkify

BASE_TS = 1_541_000_000_000  # epoch ms, Nov 2018 (the reference's month)


def _write_fixture(tmpdir: str) -> sparkify.SparkifyConfig:
    log_dir = os.path.join(tmpdir, "log_data", "2018", "11")
    song_dir = os.path.join(tmpdir, "song_data", "A", "B", "C")
    os.makedirs(log_dir)
    os.makedirs(song_dir)

    songs = [
        {
            "num_songs": 1, "artist_id": f"AR{i:03d}", "artist_latitude": None if i % 2 else 35.0 + i,
            "artist_longitude": None if i % 2 else -80.0 - i, "artist_location": "" if i % 3 else f"City {i}",
            "artist_name": f"Artist {i}", "song_id": f"SO{i:03d}", "title": f"Song Title {i}",
            "duration": 180.0 + i, "year": 0 if i % 2 else 2000 + i,
        }
        for i in range(10)
    ]
    for i, s in enumerate(songs):
        with open(os.path.join(song_dir, f"TR{i:03d}.json"), "w") as f:
            json.dump(s, f)

    events = []
    # user 1: level changes free→paid; latest event must win
    for k in range(5):
        events.append(
            {
                "artist": "Artist 1", "auth": "Logged In", "firstName": "Ada", "gender": "F",
                "itemInSession": k, "lastName": "L", "length": 200.0, "level": "free" if k < 4 else "paid",
                "location": "X", "method": "PUT", "page": "NextSong", "registration": 1.54e12,
                "sessionId": 100, "song": "Song Title 1" if k == 0 else f"Unknown {k}",
                "status": 200, "ts": BASE_TS + k * 60_000, "userAgent": "UA", "userId": "1",
            }
        )
    # user 2: tie on ts (two events, same ms) — fidelity mode must emit 2 rows
    for k, lvl in enumerate(["free", "paid"]):
        events.append(
            {
                "artist": None, "auth": "Logged In", "firstName": "Bob", "gender": "M",
                "itemInSession": k, "lastName": "M", "length": None, "level": lvl,
                "location": "Y", "method": "GET", "page": "Home", "registration": 1.54e12,
                "sessionId": 200 + k, "song": None, "status": 200,
                "ts": BASE_TS + 1_000_000, "userAgent": "UA", "userId": "2",
            }
        )
    # logged-out events: userId EMPTY STRING, registration null
    events.append(
        {
            "artist": None, "auth": "Logged Out", "firstName": None, "gender": None,
            "itemInSession": 0, "lastName": None, "length": None, "level": "free",
            "location": None, "method": "GET", "page": "Home", "registration": None,
            "sessionId": 300, "song": None, "status": 200,
            "ts": BASE_TS + 2_000_000, "userAgent": None, "userId": "",
        }
    )
    with open(os.path.join(log_dir, "2018-11-01-events.json"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))

    return sparkify.SparkifyConfig(
        log_data_path=os.path.join(tmpdir, "log_data"),
        song_data_path=os.path.join(tmpdir, "song_data"),
        output_root=os.path.join(tmpdir, "lake"),
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("sparkify"))
    cfg = _write_fixture(tmpdir)
    tables = sparkify.run_pipeline(spark, cfg)
    return cfg, tables, sparkify.ingest_logs(spark, cfg), sparkify.ingest_songs(spark, cfg)


def test_recursive_ingest(built):
    _, _, logs, songs = built
    assert logs.count() == 8
    assert songs.count() == 10
    assert len(logs.columns) == 18 and len(songs.columns) == 10


def test_songs_table_partition_layout(built):
    cfg, tables, _, _ = built
    assert tables["songs"].count() == 10
    years = os.listdir(os.path.join(cfg.output_root, "songs"))
    assert any(y.startswith("year=") for y in years)
    inner = os.listdir(
        os.path.join(cfg.output_root, "songs", next(y for y in years if y.startswith("year=")))
    )
    assert any(a.startswith("artist_id=") for a in inner)


def test_lake_holds_only_the_five_tables(built):
    """The feeds are parsed into persisted frames, not staged into the lake."""
    cfg, tables, _, _ = built
    assert sorted(os.listdir(cfg.output_root)) == sorted(sparkify.TABLE_SPECS)
    assert sorted(tables) == sorted(sparkify.TABLE_SPECS)


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_feeds_are_persisted_then_released(spark, tmp_path, monkeypatch):
    """Both feeds are cached while the tables are built, and released once
    ``run_pipeline`` returns."""
    cfg = _write_fixture(str(tmp_path))
    before = _persisted_rdds(spark)
    during: set[int] = set()
    build_users, parts = sparkify.TABLE_SPECS["users"]

    def spying_users(logs, songs):
        during.update(_persisted_rdds(spark))
        return build_users(logs, songs)

    monkeypatch.setitem(sparkify.TABLE_SPECS, "users", (spying_users, parts))
    sparkify.run_pipeline(spark, cfg)
    assert len(during - before) == 2, "logs and songs are each persisted once"
    assert _persisted_rdds(spark) - before == set()


def test_failed_write_releases_the_feeds(spark, tmp_path, monkeypatch):
    """A table write that fails mid-job still unpersists both feeds."""
    cfg = _write_fixture(str(tmp_path))
    before = _persisted_rdds(spark)

    def failing_users(logs, songs):
        boom = F.raise_error(F.lit("planted write failure"))
        return logs.select(F.when(F.col("ts").isNotNull(), boom).otherwise(F.col("ts")).alias("ts"))

    monkeypatch.setitem(sparkify.TABLE_SPECS, "users", (failing_users, None))
    with pytest.raises(Exception, match="planted write failure"):
        sparkify.run_pipeline(spark, cfg)
    assert _persisted_rdds(spark) - before == set()


def _lake_files(root: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) of every file in the lake, markers
    and checksums included."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _spy_writes(monkeypatch) -> list[str]:
    """Table names ``run_pipeline`` hands to ``write_parquet``, in order."""
    written: list[str] = []
    real = sparkify.write_parquet

    def spy(df, path, **kw):
        written.append(os.path.basename(path))
        real(df, path, **kw)

    monkeypatch.setattr(sparkify, "write_parquet", spy)
    return written


def _marker_text(cfg, table: str) -> str | None:
    path = os.path.join(cfg.output_root, table, sparkify.FINGERPRINT_FILE)
    return open(path).read() if os.path.exists(path) else None


def test_rerun_over_unchanged_feeds_writes_nothing(spark, tmp_path, monkeypatch):
    cfg = _write_fixture(str(tmp_path))
    first = {n: sorted(map(tuple, df.collect())) for n, df in sparkify.run_pipeline(spark, cfg).items()}
    before = _lake_files(cfg.output_root)
    assert all(_marker_text(cfg, t) for t in sparkify.TABLE_SPECS)
    written = _spy_writes(monkeypatch)
    again = sparkify.run_pipeline(spark, cfg)
    assert written == []
    assert _lake_files(cfg.output_root) == before, "no data file or marker touched"
    assert {n: sorted(map(tuple, df.collect())) for n, df in again.items()} == first


def test_new_log_file_rewrites_only_the_log_tables(spark, tmp_path, monkeypatch):
    cfg = _write_fixture(str(tmp_path))
    sparkify.run_pipeline(spark, cfg)
    songs_files = {k: v for k, v in _lake_files(cfg.output_root).items()
                   if k.split(os.sep)[0] in ("songs", "artists")}
    event = {
        "artist": "Artist 3", "auth": "Logged In", "firstName": "Cy", "gender": "F",
        "itemInSession": 0, "lastName": "N", "length": 183.0, "level": "free",
        "location": "Z", "method": "PUT", "page": "NextSong", "registration": 1.54e12,
        "sessionId": 400, "song": "Song Title 3", "status": 200,
        "ts": BASE_TS + 90_000_000, "userAgent": "UA", "userId": "3",
    }
    with open(os.path.join(cfg.log_data_path, "2018", "11", "2018-11-02-events.json"), "w") as f:
        f.write(json.dumps(event))
    written = _spy_writes(monkeypatch)
    tables = sparkify.run_pipeline(spark, cfg)
    assert sorted(written) == ["songplays", "time", "users"]
    assert {k: v for k, v in _lake_files(cfg.output_root).items()
            if k.split(os.sep)[0] in ("songs", "artists")} == songs_files
    back = spark.read.parquet(os.path.join(cfg.output_root, "users"))
    assert back.filter(F.col("userId") == "3").count() == 1
    assert tables["songplays"].count() == 6


def test_edited_song_file_rewrites_the_song_tables(spark, tmp_path, monkeypatch):
    cfg = _write_fixture(str(tmp_path))
    sparkify.run_pipeline(spark, cfg)
    song_file = os.path.join(cfg.song_data_path, "A", "B", "C", "TR003.json")
    with open(song_file) as f:
        song = json.load(f)
    song["title"] = "Song Title 1 (remaster)"
    with open(song_file, "w") as f:
        json.dump(song, f)
    written = _spy_writes(monkeypatch)
    sparkify.run_pipeline(spark, cfg)
    assert sorted(written) == ["artists", "songplays", "songs"]
    back = spark.read.parquet(os.path.join(cfg.output_root, "songs"))
    assert back.filter(F.col("title") == "Song Title 1 (remaster)").count() == 1


def test_changed_builder_rewrites_only_its_table(spark, tmp_path, monkeypatch):
    cfg = _write_fixture(str(tmp_path))
    sparkify.run_pipeline(spark, cfg)
    markers = {t: _marker_text(cfg, t) for t in sparkify.TABLE_SPECS}
    monkeypatch.setitem(sparkify.TABLE_SPECS, "users",
                        (lambda logs, songs: sparkify.users_table(logs, fidelity=True), None))
    written = _spy_writes(monkeypatch)
    sparkify.run_pipeline(spark, cfg)
    assert written == ["users"]
    assert _marker_text(cfg, "users") != markers["users"]
    assert all(_marker_text(cfg, t) == markers[t] for t in markers if t != "users")


def test_table_fingerprint_is_stable_and_sensitive(spark, tmp_path):
    """Fresh DataFrames of the same code (new expression ids) share a
    fingerprint; an output column name, a column type or the declared
    feed schemas change it."""
    import dataclasses

    cfg = _write_fixture(str(tmp_path))
    fps = ["feed"]

    def fingerprint(df, name="songs"):
        return sparkify.table_fingerprint(name, df, ("year", "artist_id"), fps)

    a = sparkify.songs_table(sparkify.ingest_songs(spark, cfg))
    b = sparkify.songs_table(sparkify.ingest_songs(spark, cfg))
    plan = lambda df: df._jdf.queryExecution().analyzed().toString()  # noqa: E731
    assert plan(a) != plan(b), "fresh frames carry new expression ids"
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a.withColumnRenamed("title", "name")) != fingerprint(a)
    assert fingerprint(a.withColumn("year", F.col("year").cast("long"))) != fingerprint(a)
    assert fingerprint(a, name="songs2") != fingerprint(a)
    # an expression prints cut at spark.sql.debug.maxToStringFields (25),
    # so the text could hide a difference past the cut: no fingerprint
    wide = a.select(F.xxhash64(*[F.col("duration") + i for i in range(30)]).alias("h"))
    assert fingerprint(wide) is None
    declared = sparkify.ingest_songs(spark, dataclasses.replace(cfg, declared_schemas=True))
    assert fingerprint(sparkify.songs_table(declared)) != fingerprint(a)
    # users' output and plan text are the same under both schemas: the
    # feed fingerprint carries the difference
    logs = sparkify.ingest_logs(spark, cfg)
    logs_declared = sparkify.ingest_logs(spark, dataclasses.replace(cfg, declared_schemas=True))
    assert sparkify.feed_fingerprint(logs) != sparkify.feed_fingerprint(logs_declared)


def test_failed_write_leaves_no_marker_and_is_retried(spark, tmp_path, monkeypatch):
    cfg = _write_fixture(str(tmp_path))
    sparkify.run_pipeline(spark, cfg)
    build_users, _ = sparkify.TABLE_SPECS["users"]

    def failing_users(logs, songs):
        boom = F.raise_error(F.lit("planted write failure"))
        return build_users(logs, songs).withColumn("level", boom)

    with monkeypatch.context() as m:
        m.setitem(sparkify.TABLE_SPECS, "users", (failing_users, None))
        with pytest.raises(Exception, match="planted write failure"):
            sparkify.run_pipeline(spark, cfg)
    assert _marker_text(cfg, "users") is None
    written = _spy_writes(monkeypatch)
    sparkify.run_pipeline(spark, cfg)
    assert written == ["users"]
    assert _marker_text(cfg, "users")
    assert spark.read.parquet(os.path.join(cfg.output_root, "users")).count() == 3


def test_feed_fingerprint_sees_null_positions_and_never_overflows(spark):
    schema = "a STRING, b STRING"
    ann_a = spark.createDataFrame([("Ann", None)], schema)
    ann_b = spark.createDataFrame([(None, "Ann")], schema)
    assert sparkify.feed_fingerprint(ann_a) != sparkify.feed_fingerprint(ann_b)

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    ids = spark.range(2000)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        ids.agg(F.sum(F.xxhash64("id"))).first()  # the trap a LONG sum falls into
    fp = sparkify.feed_fingerprint(ids)
    assert fp.rsplit("|", 2)[1] == "2000"
    assert sparkify.feed_fingerprint(ids.orderBy(F.desc("id"))) == fp, "order-insensitive"


def test_builder_reading_an_undeclared_feed_raises(spark, tmp_path, monkeypatch):
    cfg = _write_fixture(str(tmp_path))
    monkeypatch.setitem(sparkify.TABLE_SPECS, "users",
                        (lambda logs, songs: songs.select("artist_id"), None))
    with pytest.raises(AttributeError):
        sparkify.run_pipeline(spark, cfg)


def test_each_table_logs_written_or_unchanged(spark, tmp_path, caplog):
    cfg = _write_fixture(str(tmp_path))
    caplog.set_level(logging.INFO, logger=sparkify.__name__)
    line = re.compile(r"table (\w+)\s+(written|unchanged)\s+([0-9a-f]{12}) ")

    def run() -> dict[str, tuple[str, str]]:
        caplog.clear()
        sparkify.run_pipeline(spark, cfg)
        found = [line.match(r.getMessage()) for r in caplog.records if r.name == sparkify.__name__]
        return {m[1]: (m[2], m[3]) for m in found if m}

    first, second = run(), run()
    assert sorted(first) == sorted(second) == sorted(sparkify.TABLE_SPECS)
    assert {s for s, _ in first.values()} == {"written"}
    assert {s for s, _ in second.values()} == {"unchanged"}
    assert {t: fp for t, (_, fp) in first.items()} == {t: fp for t, (_, fp) in second.items()}
    assert all(_marker_text(cfg, t).startswith(fp) for t, (_, fp) in first.items())


def test_users_retains_empty_string_user(built):
    _, tables, _, _ = built
    users = tables["users"]
    ids = [r["userId"] for r in users.select("userId").collect()]
    assert "" in ids, "reference keeps logged-out userId='' rows (SURVEY.md §1.3)"


def test_users_latest_wins(built):
    _, tables, _, _ = built
    lvl = tables["users"].filter(F.col("userId") == "1").select("level").collect()
    assert [r["level"] for r in lvl] == ["paid"], "level change must be latest-wins"


def test_users_fidelity_mode_duplicates_on_ties(built, spark):
    _, _, logs, _ = built
    fid = sparkify.users_table(logs, fidelity=True)
    dup = fid.filter(F.col("userId") == "2").count()
    assert dup == 2, "reference join-back emits duplicate rows on (userId, ts) ties"
    default = sparkify.users_table(logs).filter(F.col("userId") == "2").count()
    assert default == 1, "default mode tie-breaks deterministically"


def test_songplays_left_join_keeps_unmatched(built):
    _, tables, _, _ = built
    sp = tables["songplays"]
    assert sp.count() == 5  # NextSong events only
    matched = sp.filter(F.col("song_id").isNotNull()).count()
    assert matched == 1, "only the one title present in the catalog matches"
    assert sp.filter(F.col("song_id").isNull()).count() == 4


def test_time_table_weekday_monday(built):
    _, tables, _, _ = built
    t = tables["time"]
    # BASE_TS = 2018-10-31T16:13:20 UTC, a Wednesday → weekday 3 under Monday=1
    row = t.orderBy("start_time").first()
    assert row["weekday"] == 3
    assert 1 <= row["week"] <= 53
    assert t.count() == 7  # 8 events, one ts duplicated (user 2 tie)


def test_partitioned_readback_roundtrip(built, spark):
    cfg, tables, _, _ = built
    back = spark.read.parquet(os.path.join(cfg.output_root, "songplays"))
    assert back.count() == tables["songplays"].count()
    assert set(back.columns) == set(tables["songplays"].columns)


def test_declared_float_schema_variant(spark, tmp_path_factory, built):
    """The reference declares registration/length as FLOAT (schema.py:12,17),
    which destroys epoch-ms precision — the declared-schema mode reproduces
    that faithfully; the default mode preserves it (SURVEY.md §1.2)."""
    cfg, *_ = built
    import dataclasses

    declared_cfg = dataclasses.replace(cfg, declared_schemas=True)
    logs_declared = sparkify.ingest_logs(spark, declared_cfg)
    logs_default = sparkify.ingest_logs(spark, cfg)
    assert dict(logs_declared.dtypes)["registration"] == "float"
    assert dict(logs_default.dtypes)["registration"] == "double"
    reg_declared = logs_declared.filter(F.col("registration").isNotNull()).first()["registration"]
    reg_default = logs_default.filter(F.col("registration").isNotNull()).first()["registration"]
    # float32 of 1.54e12 loses the low-order digits; double keeps them
    assert reg_default == 1.54e12
    assert reg_declared != reg_default


def test_cli_main_runs_pipeline(spark, tmp_path, caplog):
    """python -m data_engineering_nd_datalake_project_4_spark (the reference's `python etl.py` twin) runs
    the full pipeline from argv and writes all five tables. Called in-process
    (main(argv)) so it reuses the test session instead of forking a JVM."""
    from data_engineering_nd_datalake_project_4_spark.__main__ import main

    caplog.set_level(logging.INFO, logger=sparkify.__name__)
    cfg = _write_fixture(str(tmp_path))
    rc = main(
        [
            "--log-data", cfg.log_data_path,
            "--song-data", cfg.song_data_path,
            "--output", cfg.output_root,
        ]
    )
    assert rc == 0
    for table in ("songs", "artists", "users", "songplays", "time"):
        assert os.path.exists(os.path.join(cfg.output_root, table)), table
        assert any(r.getMessage().startswith(f"table {table} ") and " written " in r.getMessage()
                   for r in caplog.records), table


def test_pipeline_corrupt_feed_dropmalformed_matches_clean_run(spark, tmp_path_factory):
    """A torn line planted in the event feed: DROPMALFORMED ingest must
    yield tables identical to the clean feed (the reference's raw-S3 read
    would have turned it into an all-NULL event, /root/reference/etl.py:83-85),
    and the bad_records_path posture must both match AND leave the torn
    line in the audit dir."""
    import dataclasses

    tmpdir = str(tmp_path_factory.mktemp("sparkify_corrupt"))
    cfg = _write_fixture(tmpdir)
    clean = {
        name: sorted(map(tuple, df.collect()))
        for name, df in sparkify.run_pipeline(spark, cfg).items()
    }

    log_file = os.path.join(tmpdir, "log_data", "2018", "11", "2018-11-01-events.json")
    # leading \n matters: the fixture file has no trailing newline, and a
    # bare append would glue onto the last (valid) line — Jackson parses
    # the first object of a line and ignores trailing garbage
    with open(log_file, "a") as f:
        f.write('\n{"ts": 999, "userId": TORN-MID-TRANSFER\n')
    # the clean run cached this path's file listing (size included) in the
    # session FileStatusCache — without a refresh the appended torn line
    # is invisible and every later assertion would pass vacuously
    spark.catalog.refreshByPath(cfg.log_data_path)

    cfg_drop = dataclasses.replace(cfg, ingest_mode="DROPMALFORMED")
    dropped = {
        name: sorted(map(tuple, df.collect()))
        for name, df in sparkify.run_pipeline(spark, cfg_drop).items()
    }
    assert dropped == clean

    audit = os.path.join(tmpdir, "badrecords")
    cfg_audit = dataclasses.replace(cfg, bad_records_path=audit)
    audited = {
        name: sorted(map(tuple, df.collect()))
        for name, df in sparkify.run_pipeline(spark, cfg_audit).items()
    }
    assert audited == clean
    recs = []
    for root, _, files in os.walk(audit):
        for fn in files:
            if fn.startswith("part-"):
                with open(os.path.join(root, fn)) as f:
                    recs += [json.loads(ln) for ln in f.read().splitlines()]
    assert any("TORN-MID-TRANSFER" in r["record"] for r in recs), recs
