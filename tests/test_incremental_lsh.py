"""Incremental MinHash-LSH near-dedup vs a persisted band-bucket store:
equivalence to the band-candidate rule computed from scratch, NULL-text
pass-through, empty-corpus store, duplicate feed
rows, multi-batch sequencing; and, for every store kind (fingerprint,
MinHash, sign-LSH), the one flat layout, its zero-job probe and its
compaction."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators import incremental
from data_engineering_nd_datalake_project_4_spark.operators.dedup import minhash_band_rows

_KW = dict(num_hashes=32, bands=8, shingle_n=3)


@pytest.fixture()
def corpus_and_batch(spark):
    """Corpus ids 0..9; batch ids 100..109. Planted: 100/101 are exact
    copies of corpus texts (identical signature — every band collides,
    deterministically dropped); 104/105 are exact in-batch copies (105
    deterministically dropped); 106 is a near-copy of corpus doc 2 (one
    token changed — dropped iff a band collides, decided by the
    equivalence rule, not asserted directly); 108 has NULL text."""
    # token-DISJOINT corpus docs: no two corpus docs (hence no two of
    # their batch copies) share a shingle, so only the planted relations
    # can produce band collisions
    def doc(i):
        return " ".join(f"w{i}t{j}" for j in range(10))

    corpus_rows = [(i, doc(i)) for i in range(10)]
    batch_rows = [
        (100, doc(0)),                        # exact dup of corpus 0
        (101, doc(3)),                        # exact dup of corpus 3
        (102, "completely fresh text one with enough tokens"),
        (103, "another fresh document two with enough tokens"),
        (104, "same in batch twice with enough tokens here"),
        (105, "same in batch twice with enough tokens here"),
        (106, doc(2).replace("w2t5", "CHANGED")),  # near-copy of corpus 2
        (107, "yet another fresh document three tokens here"),
        (108, None),
        (109, "final fresh document four with tokens here"),
    ]
    schema = "doc_id LONG, text STRING"
    return (
        spark.createDataFrame(corpus_rows, schema),
        spark.createDataFrame(batch_rows, schema),
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def _expected_survivors(corpus, batch):
    """The pairwise-greedy rule computed from scratch via the same
    minhash_band_rows fan-out: drop a batch doc iff any of its band
    buckets exists in the corpus or holds a smaller batch id; NULL-text
    docs pass through."""
    cb = minhash_band_rows(
        corpus.filter(F.col("text").isNotNull()), "text", "doc_id",
        num_hashes=32, bands=8, shingle_n=3,
    ).collect()
    bb = minhash_band_rows(
        batch.filter(F.col("text").isNotNull()), "text", "doc_id",
        num_hashes=32, bands=8, shingle_n=3,
    ).collect()
    corpus_buckets = {(r["__band"], r["__bucket"]) for r in cb}
    bucket_min: dict[tuple, int] = {}
    for r in bb:
        k = (r["__band"], r["__bucket"])
        bucket_min[k] = min(bucket_min.get(k, r["__id"]), r["__id"])
    dropped = {
        r["__id"]
        for r in bb
        if (r["__band"], r["__bucket"]) in corpus_buckets
        or bucket_min[(r["__band"], r["__bucket"])] < r["__id"]
    }
    nn_ids = {r["__id"] for r in bb}
    null_ids = [
        r["doc_id"]
        for r in batch.filter(F.col("text").isNull()).select("doc_id").collect()
    ]
    return sorted((nn_ids - dropped) | set(null_ids))


def test_equivalent_to_band_candidate_rule(spark, corpus_and_batch, tmp_path):
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    got = _ids(
        incremental.incremental_lsh_dedup(spark, batch, "text", "doc_id", store, **_KW)
    )
    assert got == _expected_survivors(corpus, batch)
    # the deterministic subset: exact copies share every band bucket
    assert 100 not in got and 101 not in got  # exact dups of corpus docs
    assert 105 not in got                     # exact in-batch dup of 104
    assert 104 in got                         # first copy wins
    assert 108 in got                         # NULL text passes through
    assert {102, 103, 107, 109} <= set(got)   # fresh docs survive


def test_multi_batch_sequencing(spark, corpus_and_batch, tmp_path):
    """A second batch near-dup of a FIRST-batch survivor is dropped: the
    store accumulated the survivors' band buckets."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    first = incremental.incremental_lsh_dedup(
        spark, batch, "text", "doc_id", store, src_batch=1, **_KW
    )
    assert 102 in _ids(first)
    batch2 = spark.createDataFrame(
        [
            (200, "completely fresh text one with enough tokens"),  # = doc 102
            (201, "a genuinely new second batch document here"),
        ],
        "doc_id LONG, text STRING",
    )
    second = _ids(
        incremental.incremental_lsh_dedup(spark, batch2, "text", "doc_id", store, **_KW)
    )
    assert second == [201]


def test_missing_store_is_first_batch(spark, corpus_and_batch, tmp_path):
    """No store at all = first batch: in-batch rule only."""
    _, batch = corpus_and_batch
    store = str(tmp_path / "never_built")
    got = _ids(
        incremental.incremental_lsh_dedup(spark, batch, "text", "doc_id", store, **_KW)
    )
    empty = batch.filter(F.lit(False))
    assert got == _expected_survivors(empty, batch)
    assert 100 in got and 101 in got  # corpus no longer exists to drop them


def test_empty_corpus_store_reads_with_declared_schema(spark, corpus_and_batch, tmp_path):
    """A store built from an EMPTY corpus is a directory with zero data
    files (round-7 rule) — the batch must still dedup in-batch."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(
        corpus.filter(F.lit(False)), "text", "doc_id", store, **_KW
    )
    got = _ids(
        incremental.incremental_lsh_dedup(spark, batch, "text", "doc_id", store, **_KW)
    )
    assert 105 not in got and 104 in got
    assert 100 in got  # nothing stored, exact corpus copies survive


def test_duplicate_feed_rows_emit_once(spark, corpus_and_batch, tmp_path):
    """At-least-once delivery (duprows): exact copies of a surviving row
    collapse to ONE output row; copies never kill their own id."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    fed = batch.unionByName(batch.filter(F.col("doc_id").isin(102, 108)))
    out = incremental.incremental_lsh_dedup(spark, fed, "text", "doc_id", store, **_KW)
    ids = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert sorted(ids) == sorted(set(ids))  # one row per id
    assert 102 in ids and 108 in ids
    assert sorted(set(ids)) == _expected_survivors(corpus, batch)


def test_streaming_ingest_with_incremental_lsh_dedup(spark, tmp_path):
    """The production composition (q130's streaming test, near-dup twin):
    a file stream ingested via foreachBatch, each micro-batch deduped
    against the band store (versioned: src_batch = 1, 2, 3) and survivors
    appended to the corpus. Token-disjoint base texts make every planted relation an
    exact copy, so the pairwise-greedy rule's expectations are
    deterministic: first occurrence wins within and across batches."""
    import os

    from data_engineering_nd_datalake_project_4_spark.streaming import (
        read_file_stream,
        run_foreach_batch,
    )

    def doc(w):
        return " ".join(f"{w}{j}" for j in range(8))

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    files = [
        [(1, doc("alpha")), (2, doc("beta")), (3, doc("alpha"))],   # intra-batch dup
        [(4, doc("beta")), (5, doc("gamma"))],                      # inter-batch dup
        [(6, doc("gamma")), (7, doc("delta")), (8, doc("alpha"))],  # both
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(
            1
        ).write.parquet(os.path.join(src, f"b{i}"))

    def ingest(batch_df, batch_id):
        survivors = incremental.incremental_lsh_dedup(
            spark, batch_df, "text", "doc_id", store, src_batch=batch_id + 1, **_KW
        )
        survivors.write.mode("append").parquet(corpus)

    stream = read_file_stream(
        spark, src + "/*", "doc_id LONG, text STRING", "parquet",
        max_files_per_trigger=1,
    )
    run_foreach_batch(stream, ingest, chk, query_name="inc_lsh_ingest")

    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(corpus).collect()}
    assert got == {
        (1, doc("alpha")), (2, doc("beta")), (5, doc("gamma")), (7, doc("delta"))
    }


# ---------------------------------------------------------------------------
# incremental_semantic_dedup (sign-LSH band store — the embedding twin)
# ---------------------------------------------------------------------------

_SKW = dict(bands=4, band_bits=6)


@pytest.fixture()
def vec_corpus_and_batch(spark):
    """Corpus ids 0..5; batch ids 100..106. Planted relations are EXACT
    vector copies (identical signature — every band collides,
    deterministic): 100 copies corpus 0; 103/104 copy each other in-batch;
    105/106 are zero vectors (all-zero signature class — and corpus 5 is a
    zero vector too, so both are store hits); 102 is a NULL vector
    (pass-through)."""
    import math

    def vec(seed):
        return [math.sin(seed * (i + 1)) * (1 if i % 2 else -1) for i in range(16)]

    corpus_rows = [(i, vec(i + 1)) for i in range(5)] + [(5, [0.0] * 16)]
    batch_rows = [
        (100, vec(1)),            # exact copy of corpus 0
        (101, vec(99)),           # fresh
        (102, None),              # NULL vector: pass-through
        (103, vec(77)),           # in-batch pair...
        (104, vec(77)),           # ...104 dropped (smaller id wins)
        (105, [0.0] * 16),        # zero class: hits corpus 5's signature
        (106, [0.0] * 16),        # zero class: also a store hit
    ]
    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    return (
        spark.createDataFrame(corpus_rows, schema),
        spark.createDataFrame(batch_rows, schema),
    )


def _sem_expected(corpus, batch):
    """Pairwise-greedy rule from the same sign-LSH fan-out."""
    cb = incremental._sign_band_rows(corpus, "vec_id", "embedding", 4, 6).collect()
    bb = incremental._sign_band_rows(batch, "vec_id", "embedding", 4, 6).collect()
    corpus_keys = {(r["__band"], r["__bucket"]) for r in cb}
    kmin: dict[tuple, int] = {}
    for r in bb:
        k = (r["__band"], r["__bucket"])
        kmin[k] = min(kmin.get(k, r["__id"]), r["__id"])
    removed = {
        r["__id"]
        for r in bb
        if (r["__band"], r["__bucket"]) in corpus_keys
        or kmin[(r["__band"], r["__bucket"])] < r["__id"]
    }
    return removed


def test_semantic_equivalent_to_band_rule(spark, vec_corpus_and_batch, tmp_path):
    corpus, batch = vec_corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_sign_band_store(corpus, "vec_id", "embedding", store, **_SKW)
    out = incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, **_SKW
    )
    got = {r["vec_id"]: r["sem_removed"] for r in out.collect()}
    removed = _sem_expected(corpus, batch)
    assert got == {
        i: (i in removed) for i in (100, 101, 102, 103, 104, 105, 106)
    }
    # the deterministic planted subset
    assert got[100] is True        # exact copy of corpus vector
    assert got[104] is True and got[103] in (True, False)  # 103 only by chance collision
    assert got[105] is True and got[106] is True  # zero class hits corpus zero
    assert got[102] is False       # NULL vector passes through


def test_semantic_replay_idempotent(spark, vec_corpus_and_batch, tmp_path):
    """Once a versioned batch has appended, the same vectors fed again by a
    later probe are all store hits — except the NULL vector, which is never
    recorded."""
    corpus, batch = vec_corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_sign_band_store(corpus, "vec_id", "embedding", store, **_SKW)
    incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, src_batch=1, **_SKW
    ).collect()
    replay = incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, **_SKW
    )
    # every non-NULL survivor's keys are now stored: only NULL re-survives
    kept = sorted(r["vec_id"] for r in replay.collect() if not r["sem_removed"])
    assert kept == [102]


def test_semantic_duplicate_feed_rows_emit_once(spark, vec_corpus_and_batch, tmp_path):
    corpus, batch = vec_corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_sign_band_store(corpus, "vec_id", "embedding", store, **_SKW)
    fed = batch.unionByName(batch.filter(F.col("vec_id").isin(101, 102)))
    out = incremental.incremental_semantic_dedup(
        spark, fed, "vec_id", "embedding", store, **_SKW
    )
    ids = [r["vec_id"] for r in out.collect()]
    assert sorted(ids) == sorted(set(ids)) == [100, 101, 102, 103, 104, 105, 106]

def test_semantic_degenerate_vectors_pass_through(spark, vec_corpus_and_batch, tmp_path):
    """EMPTY vectors and vectors with NULL elements get NO signature
    (pass-through, never recorded) — exactly like NULL vectors. Guards the
    two latent divergences the round-10 advice found: an empty array's
    sequence(1, 0) fold and a NULL-element fold would both otherwise
    collapse to the all-zero signature and dedup against the zero class,
    while the q170 oracle's unnest/list_filter keeps all three classes."""
    corpus, _ = vec_corpus_and_batch
    store = str(tmp_path / "store")
    # corpus contains a zero vector (id 5) → the all-zero signature IS in
    # the store; degenerate batch rows must still survive
    incremental.build_sign_band_store(corpus, "vec_id", "embedding", store, **_SKW)
    batch = spark.createDataFrame(
        [
            (200, []),                         # EMPTY vector
            (201, [None] + [0.5] * 15),        # NULL element
            (202, None),                       # NULL vector
            (203, [0.0] * 16),                 # zero class: store hit
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, src_batch=1, **_SKW
    )
    got = {r["vec_id"]: r["sem_removed"] for r in out.collect()}
    assert got == {200: False, 201: False, 202: False, 203: True}
    # nothing recorded for the degenerate rows: replaying them against the
    # updated store still keeps all three (no signature ever stored)
    replay = incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, **_SKW
    )
    got2 = {r["vec_id"]: r["sem_removed"] for r in replay.collect()}
    assert got2[200] is False and got2[201] is False and got2[202] is False


# ---------------------------------------------------------------------------
# compact_band_store: compaction of the append-only stores
# ---------------------------------------------------------------------------

#: every store kind shares one format: these tests run once per builder
_KINDS = ["fingerprint", "band", "sign"]
_VSCHEMA = "band INT, bucket LONG, first_id LONG, src_batch LONG"


def _store_world(spark, kind, corpus_and_batch, vec_corpus_and_batch):
    """One store kind: its builder over the fixture corpus, its operator
    as ``kept(batch, store, **kw)`` → sorted kept ids, the fixture batch
    and a fresh later-batch row."""
    import math
    from types import SimpleNamespace

    if kind == "sign":
        corpus, batch = vec_corpus_and_batch

        def kept(df, store, **kw):
            out = incremental.incremental_semantic_dedup(
                spark, df, "vec_id", "embedding", store, **_SKW, **kw
            )
            return sorted(r["vec_id"] for r in out.collect() if not r["sem_removed"])

        fresh = spark.createDataFrame(
            [(201, [math.cos(7.0 * (i + 1)) for i in range(16)])], batch.schema
        )
        return SimpleNamespace(
            id_col="vec_id", content="embedding", batch=batch, kept=kept,
            fresh=fresh,
            build=lambda store: incremental.build_sign_band_store(
                corpus, "vec_id", "embedding", store, **_SKW),
        )
    corpus, batch = corpus_and_batch
    if kind == "fingerprint":
        kw = dict(mode="exact")
        build, op = incremental.build_fingerprint_store, incremental.incremental_dedup
    else:
        kw = _KW
        build, op = incremental.build_band_store, incremental.incremental_lsh_dedup
    fresh = spark.createDataFrame(
        [(201, "brand new round thirteen document with tokens")], batch.schema
    )
    return SimpleNamespace(
        id_col="doc_id", content="text", batch=batch, fresh=fresh,
        build=lambda store: build(corpus, "text", "doc_id", store, **kw),
        kept=lambda df, store, **k: _ids(op(spark, df, "text", "doc_id", store, **kw, **k)),
    )


@pytest.mark.parametrize("kind", _KINDS)
def test_store_layout_is_flat(
    spark, kind, corpus_and_batch, vec_corpus_and_batch, tmp_path
):
    """Every builder writes the one layout: a flat parquet directory — no
    partition directories — that reads back, once a versioned batch has
    appended to it, with exactly the declared ``_STORE_SCHEMA``."""
    w = _store_world(spark, kind, corpus_and_batch, vec_corpus_and_batch)
    store = str(tmp_path / "store")
    w.build(store)
    w.kept(w.batch, store, src_batch=1)
    assert not [p for p in Path(store).iterdir() if p.is_dir()]
    got = spark.read.option("mergeSchema", "true").parquet(store).schema
    want = spark.createDataFrame([], incremental._STORE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in want]


def _new_job_ids(spark, fn):
    """Ids of the Spark jobs that ``fn()`` started."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None)) | set(tracker.getActiveJobsIds())

    before = job_ids()
    fn()
    return job_ids() - before


def test_probe_store_runs_no_job(spark, corpus_and_batch, tmp_path):
    """The probe only plans a two-column scan: building it, probe-only or
    versioned, starts no Spark job, and it still returns every stored
    ``(band, bucket)`` the stamp filter admits."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    incremental.incremental_lsh_dedup(
        spark, batch, "text", "doc_id", store, src_batch=1, **_KW
    ).collect()
    rows = spark.read.schema(_VSCHEMA).parquet(store).collect()
    for src_batch, visible in ((None, rows), (1, [r for r in rows if r[3] is None])):
        seen = []
        assert not _new_job_ids(
            spark, lambda: seen.append(incremental._probe_store(spark, store, src_batch))
        )
        want = sorted((r[0], r[1]) for r in visible)
        assert sorted(map(tuple, seen[0].collect())) == want


def _store_rows(spark, store, schema="band INT, bucket LONG, first_id LONG"):
    return sorted(
        tuple(r) for r in spark.read.schema(schema).parquet(store).collect()
    )


def _data_files(store):
    return [
        p for p in Path(store).rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    ]


def test_compact_band_store_preserves_rows_and_replay(spark, corpus_and_batch, tmp_path):
    """Compaction is a pure layout change: row multiset identical, the
    small store comes back as one flat file, and decisions hold ACROSS
    the compaction — the store a batch appended to yesterday answers
    identically after tonight's compaction."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    incremental.incremental_lsh_dedup(
        spark, batch, "text", "doc_id", store, src_batch=1, **_KW
    ).collect()
    before_rows = _store_rows(spark, store)
    before_files = len(_data_files(store))
    n_after = incremental.compact_band_store(spark, store)
    assert _store_rows(spark, store) == before_rows          # multiset unchanged
    assert before_files > 1
    assert len(_data_files(store)) == n_after == 1           # KBs: one file
    assert not [p for p in Path(store).iterdir() if p.is_dir()]  # still flat
    # the batch probed again across the compaction: only the NULL-text
    # pass-through survives
    replay = _ids(
        incremental.incremental_lsh_dedup(
            spark, batch, "text", "doc_id", store, **_KW
        )
    )
    assert replay == [108]


@pytest.mark.parametrize("kind", _KINDS)
def test_compact_band_store_dedup_exact_reclaims_replay_duplicates(
    spark, kind, corpus_and_batch, vec_corpus_and_batch, tmp_path
):
    """Sustained at-least-once replay growth + its reclaim, for every
    store kind: each replayed delivery of a versioned batch re-appends its
    surviving rows verbatim (identical stamp → identical rows), so k extra
    deliveries add exactly k× the batch's surviving rows.
    compact_band_store collapses exact duplicates and
    carries every stamp through: replay of the same batch decides the
    same, and a LATER batch still sees the batch's rows."""
    w = _store_world(spark, kind, corpus_and_batch, vec_corpus_and_batch)
    store = str(tmp_path / "store")
    w.build(store)
    base_rows = len(_store_rows(spark, store, _VSCHEMA))
    s0 = w.kept(w.batch, store, src_batch=1)
    after_first = len(_store_rows(spark, store, _VSCHEMA))
    appended = after_first - base_rows
    assert appended > 0
    replays = 3
    for _ in range(replays):
        assert w.kept(w.batch, store, src_batch=1) == s0
    # growth law: +appended rows per extra delivery, all exact duplicates
    assert len(_store_rows(spark, store, _VSCHEMA)) == after_first + replays * appended
    distinct_before = sorted(set(_store_rows(spark, store, _VSCHEMA)))
    uncompacted = str(tmp_path / "uncompacted")
    shutil.copytree(store, uncompacted)
    incremental.compact_band_store(spark, store)
    rows_after = _store_rows(spark, store, _VSCHEMA)
    assert rows_after == distinct_before          # exact dups reclaimed
    assert len(rows_after) == after_first         # back to single-delivery size
    assert sum(r[3] == 1 for r in rows_after) == appended  # stamps carried
    # decisions identical post-reclaim: the same-id replay (an erased
    # stamp would make it hit its own rows), and a later batch — batch-1's
    # signed survivors re-fed under new ids, plus one fresh row — decides
    # as it does against the uncompacted copy, dropping every re-fed row
    assert w.kept(w.batch, store, src_batch=1) == s0
    refed = (
        w.batch.filter(F.col(w.content).isNotNull() & F.col(w.id_col).isin(s0))
        .withColumn(w.id_col, F.col(w.id_col) + 1000)
    )
    assert refed.count() > 0
    later = refed.unionByName(w.fresh)
    got = w.kept(later, store, src_batch=2)
    assert got == w.kept(later, uncompacted, src_batch=2)
    assert not set(got) & {i + 1000 for i in s0}


def test_compact_band_store_semantic_replay(spark, vec_corpus_and_batch, tmp_path):
    """The sign-LSH store compaction twin: decisions identical across the
    compaction (versioned batch → compact → probe keeps only NULL)."""
    corpus, batch = vec_corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_sign_band_store(corpus, "vec_id", "embedding", store, **_SKW)
    incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, src_batch=1, **_SKW
    ).collect()
    before_rows = _store_rows(spark, store)
    incremental.compact_band_store(spark, store)
    assert _store_rows(spark, store) == before_rows
    replay = incremental.incremental_semantic_dedup(
        spark, batch, "vec_id", "embedding", store, **_SKW
    )
    kept = sorted(r["vec_id"] for r in replay.collect() if not r["sem_removed"])
    assert kept == [102]


def test_compact_fingerprint_store(spark, corpus_and_batch, tmp_path):
    """The exact-dedup (one-band) store compacts with compact_band_store:
    rows unchanged, and probing the batch again still yields zero new
    survivors."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_fingerprint_store(corpus, "text", "doc_id", store)
    incremental.incremental_dedup(
        spark, batch, "text", "doc_id", store, src_batch=1
    ).collect()
    before_rows = _store_rows(spark, store)
    assert before_rows and {r[0] for r in before_rows} == {0}  # one band
    incremental.compact_band_store(spark, store)
    assert _store_rows(spark, store) == before_rows
    replay = incremental.incremental_dedup(spark, batch, "text", "doc_id", store)
    # exact mode HAS a NULL class (xxhash64(NULL)=seed): replay yields zero
    assert replay.count() == 0


def test_compact_empty_band_store(spark, corpus_and_batch, tmp_path):
    """An empty-corpus store (zero data files, round-7 rule) compacts to
    itself — the declared-schema read keeps the rewrite legal — and the
    store still answers afterwards."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(
        corpus.filter(F.lit(False)), "text", "doc_id", store, **_KW
    )
    incremental.compact_band_store(spark, store)
    got = _ids(
        incremental.incremental_lsh_dedup(spark, batch, "text", "doc_id", store, **_KW)
    )
    assert 105 not in got and 104 in got and 100 in got


def test_compact_band_store_crash_windows(spark, corpus_and_batch, tmp_path):
    """Pin ``lakefs.swap_in``'s crash contract (VERDICT r11 task 7). The
    swap is: write ``__compacting`` → rename live→``__old`` →
    rename ``__compacting``→live → delete ``__old``. A crash in ANY
    window leaves either the original or the fully-written compacted copy
    on disk — never a half-deleted store, and never one whose REPLAY
    DECISIONS differ — and the single non-readable window (live moved
    aside, window 2) is recoverable by exactly one rename +
    ``refreshByPath``. Single-writer assumption unchanged: a batch
    appending DURING the swap is out of contract (documented at
    compact_band_store)."""
    import os
    import shutil

    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_band_store(corpus, "text", "doc_id", store, **_KW)
    incremental.incremental_lsh_dedup(
        spark, batch, "text", "doc_id", store, src_batch=1, **_KW
    ).collect()
    baseline_rows = _store_rows(spark, store)

    def replay_ids():
        return _ids(
            incremental.incremental_lsh_dedup(
                spark, batch, "text", "doc_id", store, **_KW
            )
        )

    expected = replay_ids()  # decisions against the post-append store
    tmp, old = store + "__compacting", store + "__old"

    # window 1: crash AFTER the compacted copy is written, BEFORE any
    # rename — live store untouched, replays identically; the next
    # compaction overwrites the orphaned __compacting and completes.
    shutil.copytree(store, tmp)
    assert replay_ids() == expected
    incremental.compact_band_store(spark, store)
    assert not os.path.exists(tmp) and not os.path.exists(old)
    assert _store_rows(spark, store) == baseline_rows
    assert replay_ids() == expected

    # window 2: crash BETWEEN the two renames — the one state where the
    # live path is missing. The store is intact under __old ("never
    # half-deleted"); recovery = one rename + refreshByPath. Crucially a
    # batch replay in this window must fail LOUDLY: the operator's
    # cold-start contract (missing store = first batch) would otherwise
    # silently rebuild dedup state from scratch and pass every duplicate
    # — lakefs.read_or_none detects the __old aside and refuses.
    shutil.copytree(store, tmp)  # the compacted copy the crash abandoned
    os.rename(store, old)
    spark.catalog.refreshByPath(store)
    with pytest.raises(IOError, match="__old"):
        replay_ids()
    os.rename(old, store)
    shutil.rmtree(tmp)
    spark.catalog.refreshByPath(store)
    assert _store_rows(spark, store) == baseline_rows
    assert replay_ids() == expected

    # window 3: crash AFTER the compacted copy swapped in, BEFORE the
    # stale __old delete — live already answers identically; the next
    # compaction clears the leftover aside.
    shutil.copytree(store, old)
    assert replay_ids() == expected
    incremental.compact_band_store(spark, store)
    assert not os.path.exists(old)
    assert _store_rows(spark, store) == baseline_rows
    assert replay_ids() == expected
