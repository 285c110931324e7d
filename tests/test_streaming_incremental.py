"""Versioned (replay-stable) incremental dedup + its streaming wrappers:
src_batch stamp-filter semantics on one append-only store, exactly-once
decisions across micro-batch replays, coexistence with bootstrap rows,
versioned compaction, and stream/batch equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators import incremental
from data_engineering_nd_datalake_project_4_spark.streaming import (
    run_incremental_exact_dedup_stream,
    run_incremental_lsh_dedup_stream,
    run_incremental_semantic_dedup_stream,
)

_KW = dict(num_hashes=32, bands=8, shingle_n=3)


def _doc(i: int) -> str:
    # token-disjoint docs: only planted relations can collide
    return " ".join(f"w{i}t{j}" for j in range(10))


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


@pytest.fixture()
def lsh_world(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(10)], "doc_id LONG, text STRING"
    )
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    return corpus, store


def test_versioned_lsh_dedup_replay_stability(spark, lsh_world, tmp_path):
    """A replayed batch with the SAME src_batch reproduces the IDENTICAL
    survivor set, and later batches decide the same whether or not the
    replay happened (duplicate stamped rows are decision-neutral)."""
    _, store = lsh_world
    b0 = spark.createDataFrame(
        [(100, _doc(0)),                 # dup of corpus -> dropped
         (101, "fresh alpha " + _doc(41)), (102, None)],
        "doc_id LONG, text STRING",
    )
    s0 = _ids(incremental.incremental_lsh_dedup(
        spark, b0, "text", "doc_id", store, src_batch=0, **_KW))
    assert s0 == [101, 102]  # NULL passes through

    b1 = spark.createDataFrame(
        [(200, "fresh alpha " + _doc(41)),  # dup of batch-0 survivor 101
         (201, "fresh beta " + _doc(42))],
        "doc_id LONG, text STRING",
    )
    s1 = _ids(incremental.incremental_lsh_dedup(
        spark, b1, "text", "doc_id", store, src_batch=1, **_KW))
    assert s1 == [201]

    # replay batch 1: identical survivors (the versioned contract)
    s1_replay = _ids(incremental.incremental_lsh_dedup(
        spark, b1, "text", "doc_id", store, src_batch=1, **_KW))
    assert s1_replay == s1 == [201]

    # a batch decided AFTER the replay sees the same world: dup of 201
    # drops, fresh survives — the replay's duplicate stamped rows changed
    # nothing
    b2 = spark.createDataFrame(
        [(300, "fresh beta " + _doc(42)), (301, "fresh gamma " + _doc(43))],
        "doc_id LONG, text STRING",
    )
    s2 = _ids(incremental.incremental_lsh_dedup(
        spark, b2, "text", "doc_id", store, src_batch=2, **_KW))
    assert s2 == [301]

    # and the versioned store still serves probe-only batches (no
    # src_batch): they see every row (bootstrap + all stamps)
    s2_probe_only = _ids(incremental.incremental_lsh_dedup(
        spark, b2, "text", "doc_id", store, **_KW))
    assert s2_probe_only == []  # both hit stored bands (301's own)


def test_versioned_store_compaction_preserves_stamps(spark, lsh_world):
    """compact_band_store keeps src_batch stamps, so replay stability
    holds across a compaction (a rewrite that dropped the column would
    make every stamped row bootstrap-visible)."""
    _, store = lsh_world
    b0 = spark.createDataFrame(
        [(100, "fresh alpha " + _doc(41))], "doc_id LONG, text STRING"
    )
    assert _ids(incremental.incremental_lsh_dedup(
        spark, b0, "text", "doc_id", store, src_batch=5, **_KW)) == [100]
    incremental.compact_band_store(spark, store)
    # replay after compaction: still the identical survivor set
    assert _ids(incremental.incremental_lsh_dedup(
        spark, b0, "text", "doc_id", store, src_batch=5, **_KW)) == [100]
    # and a later batch still sees 100's bands (stamp 5 < 6)
    b1 = spark.createDataFrame(
        [(200, "fresh alpha " + _doc(41))], "doc_id LONG, text STRING"
    )
    assert _ids(incremental.incremental_lsh_dedup(
        spark, b1, "text", "doc_id", store, src_batch=6, **_KW)) == []


def test_lsh_dedup_stream_end_to_end(spark, lsh_world, tmp_path):
    """Two-file feed -> two micro-batches through the foreachBatch sink:
    per-batch decisions land in decisions_root/v<id>, corpus dups drop,
    fresh docs survive, and the union matches the batch operator's
    sequential result (content is batch-order-invariant by construction:
    docs either dup the CORPUS or are globally unique)."""
    _, store = lsh_world
    feed = str(tmp_path / "feed")
    f0 = spark.createDataFrame(
        [(100, _doc(1)), (101, "stream alpha " + _doc(51))],
        "doc_id LONG, text STRING",
    )
    f1 = spark.createDataFrame(
        [(200, _doc(2)), (201, "stream beta " + _doc(52))],
        "doc_id LONG, text STRING",
    )
    f0.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0")
    f1.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f1")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed}/f*")
    )
    decisions = str(tmp_path / "decisions")
    run_incremental_lsh_dedup_stream(
        stream, "text", "doc_id", store, decisions,
        checkpoint=str(tmp_path / "ckpt"), **_KW,
    )

    got = spark.read.parquet(f"{decisions}/v*")
    # corpus dups (100, 200) dropped whichever batch carried them;
    # unique stream docs survive
    assert _ids(got) == [101, 201]
    # one decisions version per micro-batch
    import os

    versions = sorted(d for d in os.listdir(decisions) if d.startswith("v"))
    assert len(versions) == 2


def test_lsh_stream_crash_between_store_append_and_decisions_write(
    spark, tmp_path, monkeypatch
):
    """Crash-window contract for the streaming sink's TWO-EFFECT commit
    (VERDICT r12 task 3, mirror of test_compact_band_store_crash_windows):
    each micro-batch performs (a) the stamped survivor-band store append
    (eager, inside incremental_lsh_dedup) and then (b) the
    decisions_root/v<batch_id> write — non-atomic. GUARANTEE: a crash
    BETWEEN (a) and (b) is fully healed by Structured Streaming's replay
    of the uncommitted batch — the versioned probe ignores the batch's
    own earlier append (src_batch stamp filter), so the replay reproduces
    the IDENTICAL survivor set, completes write (b), and the final
    decisions and DISTINCT store state equal an uninterrupted run's. The
    only delta is duplicate stamped band rows from the double append,
    which are decision-neutral (existence + min-id semantics) — asserted
    here by running a later batch against both stores and getting the
    same survivors."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(10)], "doc_id LONG, text STRING"
    )
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(100, _doc(1)), (101, "stream alpha " + _doc(51))],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0")
    spark.createDataFrame(
        [(200, _doc(2)), (201, "stream beta " + _doc(52))],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f1")

    def make_stream():
        return (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{feed}/f*")
        )

    def run(tag, kill_batch=None):
        store = str(tmp_path / f"store_{tag}")
        decisions = str(tmp_path / f"decisions_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
        real = incremental.incremental_lsh_dedup
        state = {"killed": False}

        def killing(*a, **kw):
            out = real(*a, **kw)  # store append (a) happens eagerly inside
            if kw.get("src_batch") == kill_batch and not state["killed"]:
                state["killed"] = True
                raise RuntimeError("injected crash between store append and decisions write")
            return out

        monkeypatch.setattr(incremental, "incremental_lsh_dedup", killing)
        try:
            if kill_batch is not None:
                with pytest.raises((StreamingQueryException, Py4JJavaError)):
                    run_incremental_lsh_dedup_stream(
                        make_stream(), "text", "doc_id", store, decisions,
                        checkpoint=ckpt, **_KW,
                    )
                # the crash window is real: batch-1 decisions never landed
                assert not os.path.isdir(f"{decisions}/v1")
            # (re)start from the same checkpoint: availableNow replays the
            # uncommitted batch with the SAME batch_id, then drains
            run_incremental_lsh_dedup_stream(
                make_stream(), "text", "doc_id", store, decisions,
                checkpoint=ckpt, **_KW,
            )
        finally:
            monkeypatch.setattr(incremental, "incremental_lsh_dedup", real)
        return store, decisions

    store_ok, decisions_ok = run("control")
    store_cr, decisions_cr = run("crashed", kill_batch=1)

    # decisions identical, batch by batch
    for v in ("v0", "v1"):
        ok = spark.read.parquet(f"{decisions_ok}/{v}")
        cr = spark.read.parquet(f"{decisions_cr}/{v}")
        assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, cr.collect()))
    assert _ids(spark.read.parquet(f"{decisions_cr}/v*")) == [101, 201]

    # distinct store state identical; the multiset delta is exactly the
    # replayed batch-1 duplicate stamped rows (decision-neutral)
    read = lambda p: spark.read.schema(  # noqa: E731
        "band INT, bucket LONG, first_id LONG, src_batch LONG"
    ).parquet(p)
    rows_ok = sorted(map(tuple, read(store_ok).collect()))
    rows_cr_distinct = sorted(map(tuple, read(store_cr).distinct().collect()))
    assert rows_ok == rows_cr_distinct
    dup_delta = read(store_cr).count() - len(rows_ok)
    assert dup_delta > 0  # the double append really happened

    # and a later batch decides identically against both stores
    b2 = spark.createDataFrame(
        [(300, "stream beta " + _doc(52)), (301, "stream gamma " + _doc(53))],
        "doc_id LONG, text STRING",
    )
    for store in (store_ok, store_cr):
        assert _ids(incremental.incremental_lsh_dedup(
            spark, b2, "text", "doc_id", store, src_batch=2, **_KW)) == [301]


def test_lsh_stream_compact_every_is_decision_neutral(spark, tmp_path):
    """compact_every=1 (reclaim after every batch's decisions commit)
    yields the SAME per-batch decisions as the uncompacted run, and the
    store ends smaller-or-equal in files with identical distinct rows —
    in-stream compaction is pure maintenance. foreachBatch serializes
    batches, so the single-writer assumption holds by construction."""
    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(10)], "doc_id LONG, text STRING"
    )
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(100, _doc(1)), (101, "stream alpha " + _doc(51))],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0")
    spark.createDataFrame(
        [(200, "stream alpha " + _doc(51)), (201, "stream beta " + _doc(52))],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f1")

    def run(tag, compact_every):
        store = str(tmp_path / f"store_{tag}")
        decisions = str(tmp_path / f"dec_{tag}")
        incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{feed}/f*")
        )
        run_incremental_lsh_dedup_stream(
            stream, "text", "doc_id", store, decisions,
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            compact_every=compact_every, **_KW,
        )
        return store, decisions

    store_plain, dec_plain = run("plain", None)
    store_cmp, dec_cmp = run("cmp", 1)
    for v in ("v0", "v1"):
        a = spark.read.parquet(f"{dec_plain}/{v}")
        b = spark.read.parquet(f"{dec_cmp}/{v}")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    read = lambda p: spark.read.schema(  # noqa: E731
        "band INT, bucket LONG, first_id LONG, src_batch LONG"
    ).parquet(p)
    assert (sorted(map(tuple, read(store_plain).distinct().collect()))
            == sorted(map(tuple, read(store_cmp).distinct().collect())))
    # and the compacted store still answers a later batch identically
    b2 = spark.createDataFrame(
        [(300, "stream beta " + _doc(52)), (301, "stream gamma " + _doc(53))],
        "doc_id LONG, text STRING",
    )
    for store in (store_plain, store_cmp):
        assert _ids(incremental.incremental_lsh_dedup(
            spark, b2, "text", "doc_id", store, src_batch=2, **_KW)) == [301]


def test_versioned_exact_dedup_replay_stability(spark, tmp_path):
    """Exact-fingerprint twin of the LSH versioned contract (q172): a
    replayed batch with the SAME src_batch reproduces the IDENTICAL
    survivor set; duplicate stamped rows are decision-neutral for later
    batches; NULL-text docs form ONE dedup class (xxhash64(NULL) = seed,
    unlike LSH pass-through)."""
    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(10)], "doc_id LONG, text STRING"
    )
    store = str(tmp_path / "fpstore")
    KW = dict(mode="exact")
    incremental.build_fingerprint_store(corpus, "text", "doc_id", store, **KW)

    b0 = spark.createDataFrame(
        [(100, _doc(0)),          # exact dup of corpus -> dropped
         (101, "fresh alpha"), (102, None), (103, None)],
        "doc_id LONG, text STRING",
    )
    s0 = _ids(incremental.incremental_dedup(
        spark, b0, "text", "doc_id", store, src_batch=0, **KW))
    # NULL class: 102 survives as the first NULL doc, 103 dups it
    assert s0 == [101, 102]

    b1 = spark.createDataFrame(
        [(200, "fresh alpha"),    # dup of batch-0 survivor 101
         (201, "fresh beta"), (202, None)],  # 202 dups the NULL class
        "doc_id LONG, text STRING",
    )
    s1 = _ids(incremental.incremental_dedup(
        spark, b1, "text", "doc_id", store, src_batch=1, **KW))
    assert s1 == [201]
    # replay: identical survivors
    assert _ids(incremental.incremental_dedup(
        spark, b1, "text", "doc_id", store, src_batch=1, **KW)) == s1

    # later batch decides the same despite the replay's duplicate rows
    b2 = spark.createDataFrame(
        [(300, "fresh beta"), (301, "fresh gamma")], "doc_id LONG, text STRING"
    )
    assert _ids(incremental.incremental_dedup(
        spark, b2, "text", "doc_id", store, src_batch=3, **KW)) == [301]


def test_compact_fingerprint_store_preserves_stamps_and_reclaims(spark, tmp_path):
    """Compacting a fingerprint store (compact_band_store, the one
    compactor) always carries src_batch (the ADVICE r12 stamp-erasure
    class) and reclaims replay duplicates with identical decisions."""
    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(10)], "doc_id LONG, text STRING"
    )
    store = str(tmp_path / "fpstore")
    KW = dict(mode="exact")
    VSCHEMA = "band INT, bucket LONG, first_id LONG, src_batch LONG"
    incremental.build_fingerprint_store(corpus, "text", "doc_id", store, **KW)
    b0 = spark.createDataFrame(
        [(100, "fresh alpha"), (101, "fresh beta")], "doc_id LONG, text STRING"
    )
    s0 = _ids(incremental.incremental_dedup(
        spark, b0, "text", "doc_id", store, src_batch=5, **KW))
    assert s0 == [100, 101]
    rows = lambda: spark.read.schema(VSCHEMA).parquet(store).count()  # noqa: E731
    after_first = rows()
    for _ in range(2):  # sustained replay
        assert _ids(incremental.incremental_dedup(
            spark, b0, "text", "doc_id", store, src_batch=5, **KW)) == s0
    assert rows() == after_first + 2 * 2  # +2 survivor fp rows per replay
    incremental.compact_band_store(spark, store)
    assert rows() == after_first
    # stamps survived: same-id replay still returns identical survivors,
    # and a later batch still sees batch-5 fingerprints (5 < 6)
    assert _ids(incremental.incremental_dedup(
        spark, b0, "text", "doc_id", store, src_batch=5, **KW)) == s0
    b1 = spark.createDataFrame(
        [(200, "fresh alpha")], "doc_id LONG, text STRING"
    )
    assert _ids(incremental.incremental_dedup(
        spark, b1, "text", "doc_id", store, src_batch=6, **KW)) == []


def test_exact_dedup_stream_end_to_end(spark, tmp_path):
    """foreachBatch wrapper for the exact-dedup member of the trio:
    per-batch decisions land in decisions_root/v<id>; corpus dups drop,
    cross-batch dups drop, fresh docs survive."""
    import os

    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(10)], "doc_id LONG, text STRING"
    )
    store = str(tmp_path / "fpstore")
    incremental.build_fingerprint_store(
        corpus, "text", "doc_id", store, mode="exact"
    )
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(100, _doc(1)), (101, "stream alpha")], "doc_id LONG, text STRING"
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0")
    spark.createDataFrame(
        [(200, "stream alpha"), (201, "stream beta")], "doc_id LONG, text STRING"
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f1")
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed}/f*")
    )
    decisions = str(tmp_path / "decisions")
    run_incremental_exact_dedup_stream(
        stream, "text", "doc_id", store, decisions,
        checkpoint=str(tmp_path / "ckpt"), mode="exact",
    )
    # 100 dups corpus; 200 dups whichever batch carried "stream alpha"
    got = spark.read.parquet(f"{decisions}/v*")
    assert _ids(got) == [101, 201]
    versions = sorted(d for d in os.listdir(decisions) if d.startswith("v"))
    assert len(versions) == 2


def test_semantic_versioned_replay(spark, tmp_path):
    """Sign-LSH twin: versioned replay returns identical sem_removed
    flags; degenerate vectors pass through kept."""
    corpus = spark.createDataFrame(
        [(i, [float(i + 1), 0.5, -0.25, 1.0]) for i in range(8)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    store = str(tmp_path / "vstore")
    incremental.build_sign_band_store(
        corpus, "vec_id", "embedding", store, bands=4, band_bits=6
    )
    batch = spark.createDataFrame(
        [(100, [2.0, 0.5, -0.25, 1.0]),   # same signature as corpus vec 1
         (101, [-5.0, -0.5, 0.25, -1.0]),  # negated: different signs
         (102, None)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )

    def flags(src):
        out = incremental.incremental_semantic_dedup(
            spark, batch, "vec_id", "embedding", store,
            bands=4, band_bits=6, src_batch=src,
        )
        return {r["vec_id"]: r["sem_removed"] for r in out.collect()}

    first = flags(0)
    assert first[100] is True and first[101] is False and first[102] is False
    assert flags(0) == first  # replay-stable


def test_semantic_dedup_stream_smoke(spark, tmp_path):
    """foreachBatch wrapper writes per-batch flagged decisions."""
    corpus = spark.createDataFrame(
        [(i, [float(i + 1), 0.5, -0.25, 1.0]) for i in range(8)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    store = str(tmp_path / "vstore")
    incremental.build_sign_band_store(
        corpus, "vec_id", "embedding", store, bands=4, band_bits=6
    )
    feed = str(tmp_path / "vfeed")
    spark.createDataFrame(
        [(100, [2.0, 0.5, -0.25, 1.0]), (101, [-5.0, -0.5, 0.25, -1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0")
    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<DOUBLE>")
        .parquet(f"{feed}/f*")
    )
    decisions = str(tmp_path / "vdecisions")
    run_incremental_semantic_dedup_stream(
        stream, "vec_id", "embedding", store, decisions,
        checkpoint=str(tmp_path / "vckpt"),
        bands=4, band_bits=6,
    )
    got = {r["vec_id"]: r["sem_removed"]
           for r in spark.read.parquet(f"{decisions}/v*").collect()}
    assert got == {100: True, 101: False}
