"""Incremental dedup vs a persisted fingerprint store: equivalence to
full-corpus dedup, versioned store appends, canonical-mode permutation
capture. The store layout and its probe are tested for every store kind
in test_incremental_lsh.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators import incremental


@pytest.fixture()
def corpus_and_batch(spark):
    """Corpus ids 0..9; batch ids 100..109. Planted duplicates:
    batch 100/101 duplicate corpus texts, 104+105 duplicate each other,
    106 is a token-permutation of corpus doc 2."""
    corpus_rows = [(i, f"alpha beta gamma doc{i}") for i in range(10)]
    batch_rows = [
        (100, "alpha beta gamma doc0"),       # exact dup of corpus 0
        (101, "alpha beta gamma doc3"),       # exact dup of corpus 3
        (102, "fresh text one"),
        (103, "fresh text two"),
        (104, "same in batch twice"),
        (105, "same in batch twice"),         # in-batch dup of 104
        (106, "doc2 gamma beta alpha"),       # permutation of corpus 2
        (107, "fresh text three"),
        (108, ""),                            # degenerate empty doc
        (109, "fresh text four"),
    ]
    schema = "doc_id LONG, text STRING"
    return (
        spark.createDataFrame(corpus_rows, schema),
        spark.createDataFrame(batch_rows, schema),
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_equivalent_to_full_dedup(spark, corpus_and_batch, tmp_path):
    """corpus ∪ incremental-survivors must equal a from-scratch exact dedup
    of corpus ∪ batch (first doc_id wins) — the defining contract."""
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_fingerprint_store(corpus, "text", "doc_id", store)
    survivors = incremental.incremental_dedup(
        spark, batch, "text", "doc_id", store
    )
    # the model: the minimum doc_id per distinct text over corpus ∪ batch
    first_per_text: dict[str, int] = {}
    for r in corpus.unionByName(batch).collect():
        t, i = r["text"], r["doc_id"]
        first_per_text[t] = min(first_per_text.get(t, i), i)
    assert sorted(_ids(corpus) + _ids(survivors)) == sorted(first_per_text.values())
    # exact mode: 100/101 (corpus dups) and 105 (in-batch dup) dropped;
    # the permutation 106 and empty 108 survive
    assert _ids(survivors) == [102, 103, 104, 106, 107, 108, 109]


def test_nondeterministic_batch_store_matches_survivors(spark, tmp_path):
    """A nondeterministic upstream batch (sampled feed) must append to the
    store EXACTLY the fingerprints of the survivors it returns — the batch
    and the survivor set are checkpointed so the in-batch window, the
    store append and the returned rows share one evaluation (ADVICE r4).
    """
    import random

    from pyspark.sql.types import BooleanType

    keep = F.udf(lambda: random.random() < 0.5, BooleanType()).asNondeterministic()
    base = spark.createDataFrame(
        [(i, f"nondet doc {i}") for i in range(40)], "doc_id LONG, text STRING"
    )
    batch = base.filter(keep())
    store = str(tmp_path / "store")
    incremental.build_fingerprint_store(
        spark.createDataFrame([(0, "seed corpus doc")], "doc_id LONG, text STRING"),
        "text", "doc_id", store,
    )
    before = {r["bucket"] for r in spark.read.parquet(store).select("bucket").collect()}
    survivors = incremental.incremental_dedup(
        spark, batch, "text", "doc_id", store, src_batch=1
    )
    got_fps = {
        r["fp"]
        for r in survivors.select(F.xxhash64("text").alias("fp")).collect()
    }
    after = {r["bucket"] for r in spark.read.parquet(store).select("bucket").collect()}
    assert after - before == got_fps
    # and the frozen survivors are stable across re-collection
    assert _ids(survivors) == _ids(survivors)


def test_canonical_mode_catches_permutations(spark, corpus_and_batch, tmp_path):
    corpus, batch = corpus_and_batch
    store = str(tmp_path / "store")
    incremental.build_fingerprint_store(
        corpus, "text", "doc_id", store, mode="canonical"
    )
    survivors = incremental.incremental_dedup(
        spark, batch, "text", "doc_id", store, mode="canonical"
    )
    # 106 (permutation of corpus 2) is now also dropped
    assert _ids(survivors) == [102, 103, 104, 107, 108, 109]


def test_first_batch_without_store(spark, corpus_and_batch, tmp_path):
    """No store yet: in-batch first-wins dedup only, nothing errors."""
    _, batch = corpus_and_batch
    survivors = incremental.incremental_dedup(
        spark, batch, "text", "doc_id", str(tmp_path / "absent")
    )
    assert _ids(survivors) == [100, 101, 102, 103, 104, 106, 107, 108, 109]


def test_unknown_mode_raises(spark, corpus_and_batch, tmp_path):
    corpus, _ = corpus_and_batch
    with pytest.raises(ValueError, match="unknown fingerprint mode"):
        incremental.build_fingerprint_store(
            corpus, "text", "doc_id", str(tmp_path / "s"), mode="fuzzy"
        )


def test_streaming_ingest_with_incremental_dedup(spark, tmp_path):
    """The production composition: a file stream ingested via foreachBatch,
    each micro-batch incrementally deduped against the fingerprint store
    (versioned: src_batch = 1, 2, 3) and survivors appended to the corpus.
    Across three
    micro-batches with intra- and inter-batch duplicates, the corpus must
    equal a from-scratch batch dedup of all input."""
    import os

    from data_engineering_nd_datalake_project_4_spark.streaming import (
        read_file_stream,
        run_foreach_batch,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    files = [
        [(1, "alpha"), (2, "beta"), (3, "alpha")],      # intra-batch dup
        [(4, "beta"), (5, "gamma")],                     # inter-batch dup
        [(6, "gamma"), (7, "delta"), (8, "alpha")],      # both
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(
            1
        ).write.parquet(os.path.join(src, f"b{i}"))

    def ingest(batch_df, batch_id):
        survivors = incremental.incremental_dedup(
            spark, batch_df, "text", "doc_id", store, src_batch=batch_id + 1
        )
        survivors.write.mode("append").parquet(corpus)

    stream = read_file_stream(
        spark, src + "/*", "doc_id LONG, text STRING", "parquet",
        max_files_per_trigger=1,
    )
    run_foreach_batch(stream, ingest, chk, query_name="inc_dedup_ingest")

    got = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(corpus).collect()
    }
    # first-occurrence doc per distinct text, in doc_id order per batch
    assert got == {(1, "alpha"), (2, "beta"), (5, "gamma"), (7, "delta")}
