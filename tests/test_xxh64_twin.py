"""The oracles' pure-SQL XXH64 (``queries._xxh64`` / ``_xxh64_long``) must
equal Spark's ``xxhash64`` bit for bit: every hashed sketch and dedup
oracle builds on it."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.queries import _xxh64, _xxh64_long


def _corpus() -> list[str | None]:
    """Strings around XXH64's 4/8/32-byte boundaries, long multi-stripe
    strings, multibyte UTF-8 (2-, 3- and 4-byte sequences, so byte length
    differs from character length), tab and newline, empty, and NULL."""
    rng = random.Random(12)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789 .,\t\néßÀ中文😀"
    out: list[str | None] = [None, "", " ", "\t", "\n", "a\tb\nc", "é", "中", "😀"]
    for n in list(range(0, 80)) + [200, 1000]:
        for _ in range(5):
            out.append("".join(rng.choice(alpha) for _ in range(n)))
    # ASCII at exact byte lengths (multibyte picks above blur them)
    out += ["x" * n for n in (3, 4, 5, 7, 8, 9, 31, 32, 33, 63, 64, 65)]
    return out


LONGS = [0, 1, -1, 42, -42, 2**31 - 1, -(2**31), 2**32, 2**63 - 1, -(2**63),
         1234567890123, -987654321987]


def _duck(sql: str, rows: list, schema: str):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({schema})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    return con.execute(sql).fetchall()


def test_string_twin_equals_spark_xxhash64(spark):
    strs = _corpus()
    rows = [(i, s) for i, s in enumerate(strs)]
    want = {
        r["i"]: r["h"]
        for r in spark.createDataFrame(rows, "i long, s string")
        .select("i", F.xxhash64("s").alias("h"))
        .collect()
    }
    got = dict(_duck(f"SELECT i, {_xxh64('s')} FROM t", rows, "i BIGINT, s VARCHAR"))
    assert got[0] == 42  # NULL hashes to the seed
    bad = {strs[i]: (got[i], want[i]) for i in want if got[i] != want[i]}
    assert bad == {}


def test_long_twin_and_chains_equal_spark_xxhash64(spark):
    """Longs hash as 8 bytes; ``xxhash64(a, b)`` chains b under the seed
    hash(a) — for longs (winnowing's window chain) and strings."""
    pairs = [(a, b) for a in LONGS for b in LONGS]
    want = {
        (r["a"], r["b"]): (r["ha"], r["hab"])
        for r in spark.createDataFrame(pairs, "a long, b long")
        .select("a", "b", F.xxhash64("a").alias("ha"), F.xxhash64("a", "b").alias("hab"))
        .collect()
    }
    got = _duck(
        f"SELECT a, b, {_xxh64_long('a')}, {_xxh64_long('b', _xxh64_long('a'))} FROM t",
        pairs, "a BIGINT, b BIGINT",
    )
    assert {(a, b): (ha, hab) for a, b, ha, hab in got} == want

    strs = [s for s in _corpus() if s is not None][::7]
    spairs = [(i, s, t) for i, (s, t) in enumerate(zip(strs, reversed(strs)))]
    swant = {
        r["i"]: r["h"]
        for r in spark.createDataFrame(spairs, "i long, s string, t string")
        .select("i", F.xxhash64("s", "t").alias("h"))
        .collect()
    }
    sgot = dict(_duck(
        f"SELECT i, {_xxh64('t', _xxh64('s'))} FROM t", spairs, "i BIGINT, s VARCHAR, t VARCHAR"
    ))
    assert sgot == swant
