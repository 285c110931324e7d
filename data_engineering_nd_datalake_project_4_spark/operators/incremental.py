"""Incremental deduplication against a persisted band store.

The reference's only "incremental" idiom is overwrite-everything
(/root/reference/etl.py:225-237: each run rewrites the full output table).
At 100 TB that is the one thing you cannot do: deduping a NEW batch of
documents must not rescan — let alone rewrite — the existing corpus. This
module persists only the corpus *signatures*, in one flat parquet directory.

One store format serves the whole family (``_STORE_SCHEMA``): one
``(band, bucket, first_id[, src_batch])`` row per band bucket the corpus
claimed. The exact/canonical fingerprint of :func:`incremental_dedup`
is a ONE-band signature (band 0, bucket = the 8-byte ``xxhash64``); MinHash
(:func:`incremental_lsh_dedup`) and sign-LSH
(:func:`incremental_semantic_dedup`) signatures have ``bands`` bands. All
three share the store-rows builder, the writer, the probe and
:func:`compact_band_store`.

Data motion per batch at any corpus scale:
- the batch maps to ~24-byte ``(id, band, bucket)`` rows — text never moves;
- the probe is a columnar scan of the store's ``band, bucket`` columns
  (plus ``src_batch`` in versioned mode) — signature bytes, never text;
- every shuffle carries hash/id keys only;
- the store append writes only the survivors' buckets. Periodic
  :func:`compact_band_store` (replay-safe) keeps file counts bounded.

Each operator has two uses, chosen by ``src_batch`` alone. Without it the
batch only PROBES the store (q130, q169, q170). With a monotone
``src_batch`` id it probes the store as of the earlier batches and
appends its survivors' buckets stamped with the id, so a replayed batch
returns the same survivors (q171/q172, the streaming wrappers). There is
no unstamped append: it could not tell a replay from a new batch.

The store is flat on purpose. Hash-partitioning it on the bucket would let
a batch skip the partitions none of its buckets hash to, but a batch with
r distinct band rows leaves only ~P·(1-1/P)^r of P partitions untouched
(~2·10⁻⁹ of 64 at r = 1,600): a 200-doc, 8-band batch touched all 64 of
64, so such a layout prunes nothing below ~33-doc batches while every
append writes a file into each partition directory it touches.

Fingerprint modes of :func:`incremental_dedup`:
- ``exact``: ``xxhash64(text)`` — byte-identical duplicates.
- ``canonical``: ``xxhash64(canonical_text_key(text))`` — token-set
  duplicates (permutations/repetitions collide), same store machinery.

Equality of hashes stands in for equality of texts: a false-duplicate
requires a 64-bit collision (~n²/2⁶⁵ for n docs); the q130 oracle joins on
the raw text and the driver gate would surface any collision as a mismatch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators.dedup import (
    canonical_text_key,
    latest_per_key,
    minhash_band_rows,
)
from data_engineering_nd_datalake_project_4_spark.sources import lakefs

#: the one store format: a row per (band, bucket) the corpus claimed,
#: ``first_id`` the minimum id that claimed it, ``src_batch`` the versioned
#: append stamp (NULL for the bootstrap rows ``build_*_store`` writes
#: without the column). Declared on every read: a store built from an
#: EMPTY corpus is a valid directory with zero data files, where schema
#: inference would fail UNABLE_TO_INFER_SCHEMA (empty soak).
_STORE_SCHEMA = "band INT, bucket LONG, first_id LONG, src_batch LONG"


def _fingerprint(text_col: str, mode: str) -> Column:
    # NULL text: xxhash64 of a NULL arg returns the seed hash (constant),
    # so all NULL-text docs form ONE duplicate class — "no content" dedups
    # against "no content". Oracles must compare null-safely
    # (IS NOT DISTINCT FROM) to reproduce this (nulls soak, q130).
    if mode == "exact":
        return F.xxhash64(F.col(text_col))
    if mode == "canonical":
        return F.xxhash64(canonical_text_key(text_col))
    raise ValueError(f"unknown fingerprint mode: {mode!r}")


def _one_band(df: DataFrame, fp: Column, id_col: str) -> DataFrame:
    """A fingerprint as a one-band signature in the fan-out shape
    ``(__id, __band, __bucket)``: band 0, bucket = the fingerprint."""
    return df.select(
        F.col(id_col).alias("__id"), F.lit(0).alias("__band"), fp.alias("__bucket")
    )


def _minhash_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """MinHash band fan-out ``(__id, __band, __bucket)``. NULL-text rows
    get no signature (see :func:`incremental_lsh_dedup` for the contract)."""
    return minhash_band_rows(
        df.filter(F.col(text_col).isNotNull()),
        text_col, id_col, num_hashes, bands, shingle_n,
    )


def _first_claims(fanout: DataFrame) -> DataFrame:
    """One ``(__band, __bucket, __id)`` row per distinct band bucket of the
    fan-out: the minimum id that claimed it. One groupBy shuffle on
    (int, 8-byte hash) keys."""
    return fanout.groupBy("__band", "__bucket").agg(F.min("__id").alias("__id"))


def _store_rows(claims: DataFrame, src_batch: int | None = None) -> DataFrame:
    """``(__band, __bucket, __id)`` claims, one per bucket, in the store
    format; with ``src_batch`` every row carries the versioned stamp."""
    cols = [
        F.col("__band").cast("int").alias("band"),
        F.col("__bucket").cast("long").alias("bucket"),
        F.col("__id").cast("long").alias("first_id"),
    ]
    if src_batch is not None:
        # replay re-appends the same stamped rows — duplicates with an
        # identical stamp, invisible to the replaying batch itself and
        # decision-neutral for later ones (existence + min id)
        cols.append(F.lit(int(src_batch)).cast("long").alias("src_batch"))
    return claims.select(*cols)


def _write_store(rows: DataFrame, store_path: str, mode: str) -> None:
    # one file per write task; AQE coalesces the shuffle feeding it, so a
    # batch append is ~one file
    rows.write.mode(mode).parquet(store_path)


def _build_store(fanout: DataFrame, store_path: str) -> None:
    _write_store(_store_rows(_first_claims(fanout)), store_path, "overwrite")


def _probe_store(
    spark: SparkSession, store_path: str, src_batch: int | None
) -> DataFrame | None:
    """The store's ``(band, bucket)`` rows, or None when no store exists
    yet (first batch). Plans only — it runs no job; the caller's semi/anti
    join reads the two columns.

    Missing store = first batch; mid-swap / corrupt stores fail loudly
    (:func:`..sources.lakefs.read_or_none`, read with the declared
    ``_STORE_SCHEMA``).

    ``src_batch`` (VERSIONED mode — the exactly-once-decisions contract
    for at-least-once feeds, used by the streaming wrappers): the probe
    sees only rows whose stamp is NULL (the bootstrap rows written by
    ``build_*_store`` — always visible) or STRICTLY BELOW this batch id,
    so a replayed batch ignores its own earlier append. Requires monotone
    batch ids (Structured Streaming's foreachBatch guarantee; for
    scheduled jobs, any monotone run counter).
    """
    store = lakefs.read_or_none(spark, store_path, _STORE_SCHEMA)
    if store is None:
        return None
    if src_batch is not None:
        store = store.filter(
            F.col("src_batch").isNull() | (F.col("src_batch") < F.lit(int(src_batch)))
        )
    return store.select("band", "bucket")


def build_fingerprint_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    mode: str = "exact",
) -> None:
    """Materialize the corpus fingerprint store: one one-band row per
    distinct fingerprint (``first_id`` the minimum ``id_col`` carrying
    it). One-time full scan of the corpus; every later batch reads only
    the store's fingerprint columns, never the corpus."""
    _build_store(_one_band(df, _fingerprint(text_col, mode), id_col), store_path)


def incremental_dedup(
    spark: SparkSession,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    mode: str = "exact",
    src_batch: int | None = None,
) -> DataFrame:
    """Rows of ``batch`` that are new to the corpus: not fingerprinted in
    the store, and the first (minimum-``id_col``) occurrence within the
    batch itself. Without ``src_batch`` the store is only probed.

    ``src_batch`` (VERSIONED mode — the exactly-once-decisions contract,
    identical to :func:`incremental_lsh_dedup`'s): pass a MONOTONE batch
    id and the survivors' fingerprints are appended to the store stamped
    with the id; the probe sees only bootstrap rows (NULL stamp:
    ``build_fingerprint_store``) or STRICTLY-earlier stamps, so re-running
    the same batch with the same id returns the IDENTICAL survivor set.
    Parquet schema evolution merges stamped and unstamped files in one
    store, and :func:`compact_band_store` always carries the stamp
    through.

    Multi-consumer consistency (BOTH paths): the batch plan feeds several
    consumers — the in-batch first-wins window, the survivor anti-join the
    caller later actions, and (versioned) the store append. A
    nondeterministic or sampled upstream must not evaluate once per
    consumer, or the store could permanently record fingerprints disagreeing
    with the survivors returned. So the keyed batch is
    ``localCheckpoint(eager=True)``-frozen ONCE up front — every consumer,
    including the caller's consumption after this function returns, reads
    the same materialized rows (a ``persist()`` released in ``finally``
    could not cover that last consumer). In versioned mode the survivor
    set is additionally checkpointed so the append and the caller share one
    evaluation of the anti-join. Both checkpoints hold only *batch*-sized
    rows (never corpus-sized); on a real cluster with executor loss in
    scope, swap for a reliable ``checkpoint()`` dir.
    """
    fp = _fingerprint(text_col, mode)
    keyed = batch.withColumn("__fp", fp).localCheckpoint(eager=True)
    # first-wins within the batch: one window shuffle on the 8-byte hash
    firsts = latest_per_key(keyed, ["__fp"], [F.col(id_col)])
    seen = _probe_store(spark, store_path, src_batch)
    if seen is not None:
        # one band: the fingerprint is the bucket
        survivors = firsts.join(seen, firsts["__fp"] == seen["bucket"], "left_anti")
    else:  # no store yet: everything survives in-batch dedup
        survivors = firsts

    if src_batch is not None:
        # freeze the survivor set once; append and caller share it. The
        # survivors are already one per fingerprint: no claim aggregation
        survivors = survivors.localCheckpoint(eager=True)
        _write_store(
            _store_rows(_one_band(survivors, F.col("__fp"), id_col), src_batch),
            store_path, "append",
        )
    return survivors.drop("__fp")


def build_band_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Materialize the corpus MinHash band-bucket store: one row per
    distinct band bucket the corpus occupies (``first_id`` the minimum
    ``id_col`` that claimed it). One-time full scan of the corpus; every
    later batch reads only the store's signature columns — the near-dup
    twin of :func:`build_fingerprint_store`. NULL-text rows contribute
    nothing. On disk the store is ~bands·20 bytes per distinct corpus
    document signature, never the corpus itself."""
    _build_store(
        _minhash_rows(df, text_col, id_col, num_hashes, bands, shingle_n),
        store_path,
    )


def incremental_lsh_dedup(
    spark: SparkSession,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    src_batch: int | None = None,
) -> DataFrame:
    """NEAR-duplicate incremental dedup: rows of ``batch`` that are not
    LSH-near-duplicates of the persisted corpus, nor of a lower-``id_col``
    document within the batch itself. The MinHash+LSH twin of
    :func:`incremental_dedup` — "dedupe today's crawl against the 100 TB
    historical corpus" without rescanning (or even storing) corpus text:
    only band-bucket hashes persist (~bands·20 B/doc).

    Drop rule (pairwise-greedy, deliberately non-iterative so the full
    operator is exactly expressible in ANSI SQL — the q169 oracle):
    a batch document is dropped iff ANY of its ``bands`` band buckets
    (a) exists in the corpus store, or (b) contains a smaller-id batch
    document. Every survivor is therefore the minimum id in all of its
    buckets; two survivors never share a bucket. This is the pairwise
    variant of :func:`..dedup.lsh_near_dedup`'s connected-components
    keep-min (q152): a chain a<b<c with buckets {a,b} and {b,c} keeps
    {a} under CC but {a, c} here — c has no DIRECT candidate with a
    smaller id. Within one batch that difference is the standard
    greedy-vs-transitive dedup policy choice; across batches CC would
    require corpus-wide component state, which is exactly what an
    incremental operator must not maintain.

    NULL-text rows PASS THROUGH (no signature, nothing recorded): under
    xxhash64 a NULL→seed class would near-dup "no content" against every
    other NULL doc, which is not near-duplication — route NULL/empty docs to
    :func:`incremental_dedup` (exact mode) instead. Consequence: a LATER
    batch repeating a NULL-text document keeps it too — the store records
    nothing for it.

    Each surviving document is emitted ONCE even when the feed delivered
    duplicate copies of the row (at-least-once delivery — the duprows
    soak): exact copies share an id and collapse to one row.

    ``src_batch`` (versioned mode): pass a MONOTONE batch id and the
    survivors' buckets are appended to the store stamped with the id; the
    probe sees only strictly-earlier stamps (bootstrap rows always), so
    re-running the same batch with the same id returns the IDENTICAL
    survivor set. This is the exactly-once-decisions contract the
    streaming wrapper (:func:`..streaming.run_incremental_lsh_dedup_stream`)
    builds on. Without ``src_batch`` the store is only probed.

    Data motion per batch at any corpus scale: the batch maps to
    ~24-byte ``(id, band, bucket)`` rows (text stays in the projection);
    the store probe scans its ``band, bucket`` columns; every shuffle
    carries hash/id keys; the final anti-join on ``id_col`` is the one
    move that carries batch payload columns — batch-sized, and column
    pruning keeps ``text_col`` out of it whenever the caller's projection
    drops it (the q169 shape).

    Multi-consumer consistency (the :func:`incremental_dedup` rule): the
    batch is frozen once up front, the band rows once after the map, and
    the dropped-id set once before the store append, so the in-batch
    window, the survivor set the caller actions, and the store append all
    read the same materialized rows. All three checkpoints hold
    batch-sized (never corpus-sized) rows. Single-writer store assumption,
    as for the fingerprint store.
    """
    keyed = batch.localCheckpoint(eager=True)
    banded = _minhash_rows(
        keyed, text_col, id_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=True)
    dropped = _banded_store_dropped(spark, banded, store_path, src_batch)
    survivors = keyed.join(
        dropped, keyed[id_col] == dropped["__id"], "left_anti"
    )
    # one output row per surviving id (exact feed copies collapse; ties
    # are identical rows, so the row_number pick is deterministic content)
    return latest_per_key(survivors, [id_col], [F.col(id_col)])


def _banded_store_dropped(
    spark: SparkSession,
    banded: DataFrame,
    store_path: str,
    src_batch: int | None,
) -> DataFrame:
    """The shared banded-store decision core behind
    :func:`incremental_lsh_dedup` (MinHash bands over text) and
    :func:`incremental_semantic_dedup` (sign-LSH bands over vectors):
    given eagerly-checkpointed ``(__id, __band, __bucket)`` fan-out rows
    for the batch, return the CHECKPOINTED distinct set of dropped ids
    under the pairwise-greedy rule — any band bucket present in the
    store, or holding a smaller batch id.

    ``src_batch`` given: the versioned probe (:func:`_probe_store`) plus
    an append of the survivors' buckets stamped with it, written before
    returning so the append and the caller's consumption share one
    evaluation of the decision. A replayed batch reproduces IDENTICAL
    decisions: its own earlier append is invisible to its probe.
    ``src_batch=None``: probe only."""
    from pyspark.sql import Window

    seen = _probe_store(spark, store_path, src_batch)
    w = Window.partitionBy("__band", "__bucket")
    killed_in_batch = (
        banded.withColumn("__min", F.min("__id").over(w))
        .filter(F.col("__min") < F.col("__id"))
        .select("__id")
    )
    if seen is not None:
        hit_store = (
            banded.join(
                seen,
                (banded["__band"] == seen["band"])
                & (banded["__bucket"] == seen["bucket"]),
                "left_semi",
            ).select("__id")
        )
        dropped = killed_in_batch.union(hit_store)
    else:
        dropped = killed_in_batch
    dropped = dropped.distinct().localCheckpoint(eager=True)

    if src_batch is not None:
        survivors = banded.join(dropped, on="__id", how="left_anti")
        _write_store(
            _store_rows(_first_claims(survivors), src_batch),
            store_path, "append",
        )
    return dropped


def _sign_band_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    band_bits: int,
) -> DataFrame:
    """Sign-LSH fan-out in the core's ``(__id, __band, __bucket)`` shape.

    Degenerate vectors get NO signature (pass-through, the q169 NULL-text
    rule): NULL vectors, EMPTY vectors (``sequence(1, 0)`` is the
    documented DESCENDING trap — the fold would otherwise yield a NULL
    proj and the all-zero signature), and vectors containing NULL
    elements (the fold NULL-propagates to all-zero where the oracle's
    ``unnest``+SUM would skip NULLs into partial sums). The q170 oracle
    excludes the NULL-element class from banding with the same
    ``list_filter`` predicate, so both engines keep all three classes.
    Zero-NORM (non-empty, all-zero) vectors still band: every plane
    projects to exactly 0 in both engines, so they dedup as a class.
    """
    from data_engineering_nd_datalake_project_4_spark.functions import valid_vector
    from data_engineering_nd_datalake_project_4_spark.operators.similarity import banded_sign_lsh_keys

    clean = df.filter(valid_vector(F.col(vec_col)))
    return banded_sign_lsh_keys(clean, id_col, vec_col, bands, band_bits).select(
        F.col(id_col).alias("__id"),
        F.col("band").alias("__band"),
        F.col("band_key").cast("long").alias("__bucket"),
    )


def build_sign_band_store(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    store_path: str,
    bands: int = 4,
    band_bits: int = 6,
) -> None:
    """Materialize the corpus sign-LSH band-key store (the embedding twin
    of :func:`build_band_store`): one ``(band, bucket, first_id)`` row per
    distinct corpus (band, key). On disk ~bands·20 B per distinct vector
    signature — the corpus VECTORS never persist and are never
    rescanned."""
    _build_store(_sign_band_rows(df, id_col, vec_col, bands, band_bits), store_path)


def compact_band_store(spark: SparkSession, store_path: str) -> int:
    """Compact an append-only store in place — any store of this module
    (fingerprint, MinHash or sign-LSH; they share one format): every
    versioned (``src_batch``) batch appends ~one small file, so months of
    daily batches leave thousands of KB-sized files whose per-file task +
    footer fetch eventually dominates the probe scan. One rewrite
    (:func:`..sources.sinks.compact_parquet_dir`) restores ~target-sized
    files. Same single-writer assumption as the appends themselves:
    don't compact concurrently with a batch. Returns the post-compaction
    data-file count.

    The rewrite collapses EXACT duplicate rows — the row-level reclaim
    for sustained at-least-once replay: every replayed delivery of a
    batch re-appends its surviving ``(band, bucket, first_id,
    src_batch)`` rows VERBATIM (same stamp → identical rows), so k extra
    deliveries grow the store by k× the batch's surviving rows. Identical
    rows are probe-invisible (existence + min-id semantics, and the stamp
    filter treats equal stamps equally), so batch decisions — and replay
    stability — are identical before and after
    (``tests/test_incremental_lsh.py`` proves it). Distinct rows from
    DIFFERENT batches/stamps are never collapsed.

    ``src_batch`` is ALWAYS carried through the rewrite: files without
    the column read it as NULL and the rewrite writes the NULL column
    back, which is decision-neutral for probe-only batches (they never
    read the column) AND for a later versioned probe (explicit NULL ==
    absent == bootstrap-visible). Dropping it would make every stamped
    row bootstrap-visible and silently break the streaming wrappers'
    replay-stability contract."""
    from data_engineering_nd_datalake_project_4_spark.sources.sinks import compact_parquet_dir

    return compact_parquet_dir(
        spark, store_path, schema=_STORE_SCHEMA, transform=lambda df: df.distinct()
    )


def incremental_semantic_dedup(
    spark: SparkSession,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    store_path: str,
    bands: int = 4,
    band_bits: int = 6,
    src_batch: int | None = None,
) -> DataFrame:
    """Incremental SEMANTIC dedup: batch vectors dropped when any of their
    sign-LSH band keys (a) exists in the persisted corpus store or (b) is
    held by a smaller-id batch vector — completing the incremental family
    (exact q130, lexical MinHash q169, semantic q170) with the same
    pairwise-greedy, exactly-SQL-expressible rule and the same
    checkpoint/probe/append machinery (:func:`_banded_store_dropped`).

    SIGNATURE-level semantics, stated honestly: batch-mode
    :func:`..similarity.semantic_dedup` (q142) rescores candidates with
    true cosine before removing; an incremental operator cannot — the
    store holds ~bands·20 B/vec of band keys, never vectors, so there is
    nothing to rescore against without rescanning the corpus. A band-key
    hit IS the drop decision (SemDeDup-style banding as the decision
    rule, size band_bits ~ log2(N) via :func:`..similarity.
    sized_band_bits` to hold the false-collision rate flat). Routes
    needing exact-threshold semantics keep the batch operator.

    Degenerate geometry contract (the advembed soak classes): an all-zero
    vector projects to 0 on every plane (sign bit 0 everywhere), so all
    zero-norm vectors share one signature and dedup as a class — unlike
    q142, where NULL cosine never removes. NULL vectors, EMPTY vectors
    and vectors containing NULL elements all pass through (no signature,
    not recorded — see :func:`_sign_band_rows`), as q169's NULL text.

    Output: one row per distinct batch id, the batch's columns plus
    ``sem_removed`` (true = near-dup of corpus or of a smaller batch id).
    Exact feed copies collapse to one row (duprows contract)."""
    keyed = batch.localCheckpoint(eager=True)
    banded = _sign_band_rows(
        keyed, id_col, vec_col, bands, band_bits
    ).localCheckpoint(eager=True)
    # src_batch: versioned/replay-stable append, incremental_lsh_dedup's
    # contract (monotone ids); None probes only
    dropped = _banded_store_dropped(spark, banded, store_path, src_batch)
    annotated = keyed.join(
        dropped, keyed[id_col] == dropped["__id"], "left"
    ).select(*keyed.columns, F.col("__id").isNotNull().alias("sem_removed"))
    return latest_per_key(annotated, [id_col], [F.col(id_col)])


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-versioning diff: classify every document across two corpus
    snapshots as ``added`` (id only in new), ``removed`` (id only in old),
    ``changed`` (id in both, content differs) or ``unchanged``. The audit
    record behind "what moved between corpus v1 and v2" — pairs with
    ``text.corpus_manifest`` (the manifest says THAT something changed;
    the diff says WHAT).

    Returns ``(id_col, status)`` — one row per id in either snapshot.

    Scale shape: each side reduces to (id, xxhash64(id, text)) 16-byte
    rows before the single full-outer shuffle join — corpus text never
    moves. Content comparison is null-safe: a NULL text on both sides is
    'unchanged' (xxhash64(NULL)=seed on both — the nulls-soak trap works
    FOR us here), NULL vs non-NULL is 'changed'.
    """
    o = old.select(
        F.col(id_col), F.xxhash64(F.col(id_col), F.col(text_col)).alias("__oh")
    )
    n = new.select(
        F.col(id_col), F.xxhash64(F.col(id_col), F.col(text_col)).alias("__nh")
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(
            F.col(id_col),
            F.when(F.col("__oh").isNull(), F.lit("added"))
            .when(F.col("__nh").isNull(), F.lit("removed"))
            .when(F.col("__oh") == F.col("__nh"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


def compact_changelog(
    changes: DataFrame,
    key: str,
    seq_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Collapse a CDC changelog to its net effect: one row per key — the
    change with the highest ``seq_cols`` value (lexicographic). This is the
    standard log-compaction step Delta/Hudi/Kafka-compacted-topics apply
    before merging a change feed into a snapshot.

    Physical: ONE ``max_by(struct(payload), struct(seq))`` hash aggregate —
    partial map-side combine reduces each partition to its per-key winner
    before the shuffle, so shuffle volume is ~|distinct keys|, not
    |changelog|. (A row_number window would shuffle the full changelog.)

    ``seq_cols`` must totally order each key's changes (add a unique
    tie-break column — the reference's `latest_per_key` lesson,
    /root/reference/etl.py:142-146); equal-seq winners are otherwise
    nondeterministic. NULL seq values sort first in Spark's struct
    comparison (asc NULLS FIRST) — give real changes non-NULL seqs.
    """
    payload = [c for c in changes.columns if c != key]
    return changes.groupBy(key).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in seq_cols]),
        ).alias("__last")
    ).select(key, *[F.col(f"__last.{c}").alias(c) for c in payload if c not in seq_cols])


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    seq_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change feed (insert / update / delete rows) to a base
    snapshot and return the new snapshot — the batch half of a Delta/Hudi
    `MERGE`-from-changelog, composed from public DataFrame ops.

    ``changes`` carries ``key``, ``op_col`` (``'I'`` insert, ``'U'``
    update, ``'D'`` delete — I and U are both upserts here, the usual
    changelog-relaxation), ``seq_cols`` (change ordering within a key,
    must be total — see :func:`compact_changelog`) and payload columns
    named like snapshot columns. Payload columns REPLACE the snapshot
    value on upsert; snapshot columns with no payload twin are kept on
    update and NULL on fresh insert. Net-``D`` keys are dropped (a delete
    of an absent key is a no-op). Unknown op codes fail the job loudly
    (``assert_true``) rather than silently keeping or dropping rows.

    Scale shape: changelog compaction is one partial-aggregating shuffle
    on ~|distinct keys| (see :func:`compact_changelog`); the apply is one
    full-outer hash join snapshot-vs-compacted on the key. Snapshot rows
    never move twice and nothing collects. With the snapshot bucketed on
    the key (``sinks.write_bucketed_table``) its shuffle disappears.
    """
    last = compact_changelog(changes, key, seq_cols, op_col)
    payload = [c for c in last.columns if c not in (key, op_col)]
    src = last.select(
        F.col(key).alias("__chg_key"),
        F.col(op_col).alias("__chg_op"),
        *[F.col(c).alias(f"__chg_{c}") for c in payload],
    )
    j = snapshot.join(src, F.col(key) == F.col("__chg_key"), "full_outer")
    op = F.col("__chg_op")
    has_chg_row = F.col("__chg_key").isNotNull()
    # op is legitimately NULL only on unmatched SNAPSHOT rows (no change row).
    # A change row with NULL op must trip assert_true loudly — `op.isNull() |`
    # would admit it, and the three-valued delete filter below would then
    # silently DROP its key (~NULL -> NULL -> filtered).
    known = ~has_chg_row | op.isin("I", "U", "D")
    # concat NULL-propagates: coalesce op or a NULL-op failure reports "null"
    guard = F.assert_true(
        known,
        F.concat(
            F.lit("apply_changelog: unknown op "), F.coalesce(op, F.lit("<NULL>"))
        ),
    )
    has_chg = F.col("__chg_key").isNotNull()
    src_only = F.col(key).isNull() & has_chg
    upsert = has_chg & op.isin("I", "U")
    out = []
    for c in snapshot.columns:
        if c == key:
            col = F.coalesce(F.col(key), F.col("__chg_key"))
        elif c in payload:
            col = F.when(upsert, F.col(f"__chg_{c}")).otherwise(F.col(c))
        else:
            # no payload twin: kept on update, NULL on fresh insert
            col = F.when(src_only, F.lit(None)).otherwise(F.col(c))
        out.append(col.alias(c))
    # assert_true is NULL when it passes; filtering on its coalesced TRUE
    # keeps the guard alive in the plan without dropping rows
    # coalesce: NULL op must not three-valued-NULL the predicate (the row
    # survives here so the assert_true guard gets to see it and fail)
    return j.filter(~(has_chg & F.coalesce(op == "D", F.lit(False)))).filter(
        F.coalesce(guard.cast("boolean"), F.lit(True))
    ).select(*out)
