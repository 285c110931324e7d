"""Reference-fidelity tests for the Sparkify pipeline (SURVEY.md §5.2):
synthetic reference-shaped inputs (FIXTURES.md §A), semantic invariants
from SURVEY.md §1.3."""

from __future__ import annotations

import json
import os

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


def test_cli_main_runs_pipeline(spark, tmp_path):
    """python -m data_engineering_nd_datalake_project_4_spark (the reference's `python etl.py` twin) runs
    the full pipeline from argv and writes all five tables. Called in-process
    (main(argv)) so it reuses the test session instead of forking a JVM."""
    from data_engineering_nd_datalake_project_4_spark.__main__ import main

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
