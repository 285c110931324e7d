"""Structured Streaming surface (SURVEY.md §2.2 J).

Batch/stream parity by construction: the windowing transformations are
plain DataFrame functions applied to either a batch read or a
``readStream`` — the same logical plan, so Q31's batch-equivalence check
is an identity property, not luck.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_engineering_nd_datalake_project_4_spark.operators import incremental
from data_engineering_nd_datalake_project_4_spark.sources.lakefs import latest_snapshot_version


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def read_rate_stream(
    spark: SparkSession,
    num_partitions: int | None = None,
    micro_batch: bool = False,
    rows_per_batch: int | None = None,
) -> DataFrame:
    """Built-in rate source (SURVEY §2.2 J "file/rate source"): synthetic
    ``(timestamp, value)`` rows for load tests and pipeline smoke runs, 10
    rows a second.

    ``micro_batch=True`` selects the ``rate-micro-batch`` provider, which
    emits exactly ``rows_per_batch`` rows (default 10) per trigger —
    deterministic row counts (the plain ``rate`` provider is
    wall-clock-driven), which is what tests and reproducible load
    generators want.
    """
    if micro_batch:
        reader = spark.readStream.format("rate-micro-batch").option(
            "rowsPerBatch", str(rows_per_batch or 10)
        )
    else:
        reader = spark.readStream.format("rate").option("rowsPerSecond", "10")
    if num_partitions:
        reader = reader.option("numPartitions", str(num_partitions))
    return reader.load()


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window aggregate; works identically on batch and stream
    inputs. ``watermark`` (streams only) bounds state and drops late data.
    A tumbling window is the slide == duration case of :func:`sliding_agg`."""
    return sliding_agg(df, ts_col, duration, duration, keys, aggs, watermark)


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window aggregate (each event lands in duration/slide
    windows); identical plan on batch and stream inputs (q90)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(ts_col, duration, slide).alias("window"), *keys).agg(*aggs)


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Session-window aggregate (gap-based). Session = [first event, last
    event + gap); an event exactly ``gap`` after the previous starts a NEW
    session (half-open interval semantics)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.session_window(ts_col, gap).alias("session"), *keys).agg(*aggs)


def run_available_now(
    stream_df: DataFrame, query_name: str = "snapshot", output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame with trigger=availableNow into an
    in-memory sink, block until drained, and return the materialized result
    as a batch DataFrame (used by the Q31 batch-equivalence test).
    ``output_mode='append'`` for non-aggregating streams (dedup, maps)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint: str,
    query_name: str = "foreach_batch",
):
    """Run a stream through ``foreachBatch`` with trigger=availableNow and
    block until drained. ``batch_fn(batch_df, batch_id)`` gets each
    micro-batch as a BATCH DataFrame — the escape hatch for sinks without
    native streaming support (JDBC, multi-table fan-out, merge/upsert) and
    for exactly-once-per-batch side effects keyed on ``batch_id``."""
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()


def stream_dedup(
    df: DataFrame, keys: list[str], ts_col: str | None = None, watermark: str | None = None
) -> DataFrame:
    """Stateful streaming dedup. With a watermark, state is bounded
    (``dropDuplicatesWithinWatermark``); without, state grows forever —
    batch callers just get dropDuplicates."""
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    if watermark and ts_col:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_static_join(
    stream_df: DataFrame,
    static_df: DataFrame,
    on: list[str] | Column,
) -> DataFrame:
    """Inner-join a stream to a static dimension (the reference ETL joins
    log events to its song/artist dims — here as a continuous stream).
    Stateless: the static side is re-planned per micro-batch, and a
    broadcast keeps every micro-batch shuffle-free."""
    return stream_df.join(F.broadcast(static_df), on)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    watermark: str | None = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition: match
    left/right rows sharing ``key`` where ``right_ts`` lies in
    ``[left_ts - lower, left_ts + upper]`` (attribution joins: a purchase
    within N minutes of a view, a response within N of a request).

    BOTH sides carry a watermark and the join condition bounds event time
    in BOTH directions — together they let Spark evict buffered state
    once the watermark passes ``upper``; an unbounded condition would
    buffer each side forever (OOM at scale, and Spark refuses outer
    variants without it). State size ≈ rate × (watermark + upper), not
    corpus size. Rows later than the watermark drop from state and stop
    matching — the documented late-data semantics, same as the windowed
    aggregates'.

    Column naming: both inputs keep their own columns; alias the ts/key
    columns distinctly before calling if they collide (the self-join
    shared-attribute trap, CLAUDE.md).

    ``how``: ``"inner"`` (default), ``"left_outer"``, ``"right_outer"``
    or ``"full_outer"``. Outer semantics are WATERMARK-DRIVEN: an
    unmatched left row is NOT emitted the moment its micro-batch ends —
    Spark cannot know a match won't still arrive — but only once the
    watermark passes the end of that row's join window
    (``left_ts + upper``) and its buffered state is evicted; the
    NULL-completed row comes out in a LATER micro-batch (see
    test_stream_stream_left_outer_null_completion). This is why Spark
    refuses outer variants without both watermarks and two-sided time
    bounds: null-completion would otherwise never be decidable.
    """
    if how not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ValueError(
            f"how must be inner/left_outer/right_outer/full_outer, got {how!r}"
        )
    # watermark=None means the caller already applied one (Spark refuses a
    # second withWatermark on the same stream: "Redefining watermark")
    lw = left.withWatermark(left_ts, watermark) if (watermark and left.isStreaming) else left
    rw = right.withWatermark(right_ts, watermark) if (watermark and right.isStreaming) else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lower}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, how)


def _run_snapshot_stream(stream: DataFrame, root: str, checkpoint: str, name: str, step) -> None:
    """The body of the four versioned-snapshot sinks: per micro-batch,
    read the latest COMMITTED version below the batch id (``prior``, or
    None when there is none), and overwrite ``<root>/v<batch_id>`` with
    ``step(batch_df, prior)``.

    Crash-safety without a transaction log:
    - versions are keyed by ``batch_id``, so a replayed batch OVERWRITES
      its own version (idempotent);
    - a half-written version has no ``_SUCCESS`` marker and is never read
      (:func:`latest_snapshot_version`);
    - reading "latest committed below my batch id" means a replay never
      consumes its own output, failed or complete — so even a merge that
      is not idempotent (a CDC apply, a cell SUM) applies exactly once per
      batch id however often the batch fires.

    This is the public-Spark equivalent of a Delta/Hudi streaming MERGE;
    real object stores want a conditional-put pointer instead of a
    directory listing. Old versions are retention garbage for an external
    vacuum. Roots are Hadoop paths (plain, ``file://``, ``hdfs://``,
    ``s3a://``)."""

    def batch_fn(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ver = latest_snapshot_version(spark, root, before=int(batch_id))
        prior = None if ver is None else spark.read.parquet(f"{root}/v{ver}")
        step(batch_df, prior).write.mode("overwrite").parquet(f"{root}/v{int(batch_id)}")

    run_foreach_batch(stream, batch_fn, checkpoint, name)


def run_cdc_upsert_stream(
    stream_changes: DataFrame,
    snapshot_root: str,
    key: str,
    seq_cols,
    checkpoint: str,
    op_col: str = "op",
    initial: DataFrame | None = None,
    query_name: str = "cdc_upsert",
) -> None:
    """Streaming CDC materialization: consume a change feed (Debezium/DMS
    shape — ``key``, ``op_col`` I/U/D, ``seq_cols`` ordering, payload
    columns) and maintain a queryable snapshot table on disk, one
    versioned parquet directory per micro-batch: each batch is
    :func:`operators.incremental.apply_changelog`-ed onto the prior
    snapshot (crash-safety: :func:`_run_snapshot_stream`).

    Scale: batch cost = one changelog compaction + one full-outer join vs
    the snapshot (see apply_changelog). Bootstrap: pass ``initial``; it is
    written once as version ``-1`` (``v-1``), which sorts below every
    batch id. Without one, the first batch applies against an empty
    frame shaped like the payload (every change becomes an upsert).
    """
    spark = stream_changes.sparkSession
    if initial is not None and latest_snapshot_version(spark, snapshot_root) is None:
        initial.write.mode("overwrite").parquet(f"{snapshot_root}/v-1")

    def step(batch_df, snap):
        if snap is None:
            payload = [c for c in batch_df.columns if c != op_col and c not in seq_cols]
            snap = batch_df.sparkSession.createDataFrame([], batch_df.select(*payload).schema)
        return incremental.apply_changelog(snap, batch_df, key, list(seq_cols), op_col)

    _run_snapshot_stream(stream_changes, snapshot_root, checkpoint, query_name, step)


def run_sketch_state_stream(
    stream_df: DataFrame,
    snapshot_root: str,
    col: str,
    checkpoint: str,
    p: int = 12,
    group_cols=(),
    query_name: str = "hll_state",
) -> None:
    """Streaming distinct-count state maintenance — the streaming face of
    the q168 sketch-state rollup: each micro-batch builds
    ``hll_registers`` over its own rows and MAX-merges them into a
    versioned on-disk register table (crash-safety:
    :func:`_run_snapshot_stream`).

    Register MAX-merge is idempotent AND commutative, so a replayed or
    duplicated batch merges to the identical state (``max(a, a) = a``)
    even without the versioning: at-least-once delivery converges to the
    exact union registers — no dedup, no ordering requirements. Any
    committed version answers distinct-count questions via
    ``sketches.hll_estimate`` (and the estimate equals a from-scratch
    batch build over everything consumed so far, by the merge theorem).

    Scale shape: per batch the state moved is the batch's own registers
    plus the latest snapshot — each bounded by ≤ 2^p rows PER GROUP —
    never raw history; the snapshot is the entire state whatever the
    stream's lifetime.
    """
    from data_engineering_nd_datalake_project_4_spark.operators.sketches import hll_merge, hll_registers

    gcols = list(group_cols)

    def step(batch_df, prior):
        regs = hll_registers(batch_df, col, p=p, group_cols=gcols)
        if prior is not None:
            regs = prior.unionByName(regs)
        return hll_merge(regs, group_cols=gcols)

    _run_snapshot_stream(stream_df, snapshot_root, checkpoint, query_name, step)


def run_cms_state_stream(
    stream_df: DataFrame,
    snapshot_root: str,
    col: str,
    checkpoint: str,
    width: int = 2048,
    depth: int = 5,
    group_cols=(),
    query_name: str = "cms_state",
) -> None:
    """Streaming FREQUENCY state maintenance — the CMS face of
    :func:`run_sketch_state_stream`: each micro-batch builds a Count-Min
    sketch over its own rows and cell-SUM-merges it into a versioned
    on-disk cell table. Unlike HLL register MAX, cell SUM is NOT
    idempotent — blindly re-adding a replayed batch double-counts; the
    versioned snapshots (:func:`_run_snapshot_stream`) are what make
    at-least-once delivery safe anyway.

    Any committed version answers frequency questions via
    :func:`operators.sketches.cms_estimate` / ``heavy_hitters_from_cms``
    and merges across state tables with ``merge_cms`` — and because cell
    addition is exact, the streamed state is BIT-IDENTICAL to a
    from-scratch ``build_cms`` over everything consumed (property-tested),
    not just estimate-equivalent.

    Scale shape: per batch the state moved is the batch's own cells plus
    the snapshot — each bounded by depth·width rows PER GROUP — never raw
    history.
    """
    from data_engineering_nd_datalake_project_4_spark.operators.sketches import build_cms, merge_cms

    gcols = list(group_cols)

    def step(batch_df, prior):
        cells = build_cms(batch_df, col, width=width, depth=depth, group_cols=gcols)
        if prior is not None:
            cells = prior.unionByName(cells)
        return merge_cms(cells, group_cols=gcols)

    _run_snapshot_stream(stream_df, snapshot_root, checkpoint, query_name, step)


def run_topk_candidate_stream(
    stream_df: DataFrame,
    snapshot_root: str,
    col: str,
    checkpoint: str,
    pool: int = 64,
    query_name: str = "topk_candidates",
) -> None:
    """Streaming candidate-vocabulary maintenance — the missing half of
    the all-from-state heavy-hitter story: :func:`run_cms_state_stream`
    keeps per-group frequency CELLS, but probing them needs a candidate
    item set, which batch mode derives from a global count
    (``grouped_heavy_hitters``). This sink maintains that head
    vocabulary from the stream itself: each micro-batch's per-item
    counts are SUM-merged with the prior state and the top-``pool``
    rows (count desc, item asc — total order) are kept (crash-safety:
    :func:`_run_snapshot_stream`).

    Approximation contract (the lossy-counting / SpaceSaving shape,
    Metwally et al. 2005): state is ≤ ``pool`` rows forever. An item
    that stays in the pool across merges carries its EXACT total; an
    item evicted and later re-entered loses the counts from its absent
    epochs — so ``cnt`` is a LOWER bound (one-sided, like CMS's upper
    bound from the other side), and a persistent head item is retained
    as long as fewer than ``pool`` items out-count it. Size ``pool``
    well above the k you query (the same guidance as
    ``grouped_heavy_hitters``'s candidate_pool). For exact counts,
    probe the items against the CMS state — the intended pairing:
    candidates from THIS sink, estimates from the cell state, zero
    raw-data rescans (see ``heavy_hitters_from_cms``).

    QUANTIFIED error bound (the lossy-counting ε·N shape, Manku &
    Motwani 2002): define per truncation j the eviction threshold
    ``θ_j`` = the pool-th largest merged count if the merge overflowed
    the pool, else 0 (observable as ``min(cnt)`` of snapshot ``v_j``
    when it holds exactly ``pool`` rows). Every count an item loses, it
    loses at an eviction, and an evicted item's accumulated-since-last-
    eviction count is ≤ θ_j (it ranked below every kept row under the
    (cnt desc, item asc) total order) — so for EVERY item x, over B
    processed batches with stream mass N:

        true(x) − cnt(x)  ≤  Σ_{j∈evictions(x)} θ_j  ≤  Σ_j θ_j
                          ≤  B·N/pool        (θ_j ≤ M_j/pool ≤ N/pool,
                                              since ≥ pool items tie or
                                              out-count an evicted one)

    i.e. the lossy-counting bound with ε = B/pool — items absent from
    the state implicitly carry cnt 0 and satisfy the same bound. The
    Σθ_j certificate is computable from the committed snapshots alone;
    tests/test_cms_stream.py::test_candidate_stream_lossy_counting_bound
    measures the worst-case undercount against exact counts across 24
    churning micro-batches and asserts both inequalities.

    Scale shape: per batch the state moved is the batch's own item
    counts (one map-side-combining groupBy) plus ≤ pool state rows;
    NULL items are dropped (the build_cms NULL contract).
    """
    def step(batch_df, prior):
        counts = (
            batch_df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).alias("item"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if prior is not None:
            counts = prior.unionByName(counts)
        return (
            counts.groupBy("item")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("item"))
            .limit(pool)
        )

    _run_snapshot_stream(stream_df, snapshot_root, checkpoint, query_name, step)


def _run_versioned_dedup_stream(
    stream: DataFrame, operator, cols: tuple[str, str], store_path: str,
    decisions_root: str, checkpoint: str, query_name: str,
    compact_every: int | None, **kw,
) -> None:
    """The body of the three incremental dedup stream wrappers: per
    micro-batch, ``operator(spark, batch, *cols, store_path, **kw)`` in
    versioned mode overwrites ``decisions_root/v<batch_id>``; every
    ``compact_every``-th batch then runs ``compact_band_store``."""

    def batch_fn(batch_df, batch_id: int) -> None:
        out = operator(
            batch_df.sparkSession, batch_df, *cols, store_path,
            src_batch=int(batch_id), **kw,
        )
        out.write.mode("overwrite").parquet(f"{decisions_root}/v{int(batch_id)}")
        if compact_every and int(batch_id) % compact_every == compact_every - 1:
            incremental.compact_band_store(batch_df.sparkSession, store_path)

    run_foreach_batch(stream, batch_fn, checkpoint, query_name)


def run_incremental_lsh_dedup_stream(
    stream_docs: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    decisions_root: str,
    checkpoint: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    query_name: str = "incremental_lsh_dedup",
    compact_every: int | None = None,
) -> None:
    """Continuous-ingest NEAR-dup dedup: q169's incremental MinHash-LSH
    operator as a Structured Streaming sink — "dedupe the crawl feed
    against the historical corpus as it arrives". Each micro-batch runs
    :func:`..operators.incremental.incremental_lsh_dedup` in VERSIONED
    mode (``src_batch = batch_id``) against the shared band store
    (bootstrap it with ``build_band_store``; batch and streaming appends
    coexist — unstamped rows are always visible) and writes the batch's
    SURVIVORS to ``decisions_root/v<batch_id>`` (overwrite).

    Exactly-once decisions on an at-least-once feed, without versioned
    store copies: the store append is stamped with the batch id and the
    probe sees only strictly-earlier stamps, so a replayed micro-batch
    ignores its own earlier append and reproduces the identical survivor
    set, overwriting ``v<batch_id>`` with the same rows (the CDC/HLL
    sinks' "read state below my id" rule, implemented as a stamp filter
    on ONE append-only store instead of per-batch snapshots — the store
    gains only duplicate stamped rows on replay, which are decision-
    neutral). Crash between append and decisions-write = the replay
    re-appends duplicates and completes the write: same rows.

    Scale shape per batch: identical to the batch operator (24-byte band
    rows, a two-column store scan, batch-sized checkpoints); decisions
    are batch-sized. Store maintenance: ``compact_band_store`` (the
    compaction ALWAYS carries ``src_batch`` through). Crash between the
    store append and the decisions write is healed by the replay
    (test_lsh_stream_crash_between_store_append_and_decisions_write pins
    it); sustained replay grows the store by one duplicate stamped row
    per surviving (band, bucket) per extra delivery —
    ``compact_band_store`` reclaims them (decision-identical:
    exact-duplicate rows are probe-invisible).

    ``compact_every=N`` runs that reclaim IN-STREAM after every Nth
    batch's decisions commit (batch_id % N == N-1). Safe by
    construction: foreachBatch serializes micro-batches, so the
    single-writer assumption holds — the compaction never races an
    append. A crash mid-swap leaves the ``__old`` aside and the next
    batch's store read refuses loudly with the one-rename recovery
    (:func:`..sources.lakefs.read_or_none`); a replayed batch
    harmlessly re-compacts. Decisions are identical with or without
    (compaction is decision-neutral — tested).
    """
    _run_versioned_dedup_stream(
        stream_docs, incremental.incremental_lsh_dedup, (text_col, id_col),
        store_path, decisions_root, checkpoint, query_name, compact_every,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )


def run_incremental_exact_dedup_stream(
    stream_docs: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    decisions_root: str,
    checkpoint: str,
    mode: str = "exact",
    query_name: str = "incremental_exact_dedup",
) -> None:
    """The EXACT-fingerprint member of the continuous-ingest dedup trio
    (exact here / MinHash-LSH :func:`run_incremental_lsh_dedup_stream` /
    sign-LSH :func:`run_incremental_semantic_dedup_stream`): each
    micro-batch runs :func:`..operators.incremental.incremental_dedup`
    in VERSIONED mode (``src_batch = batch_id``) against the shared
    fingerprint store (bootstrap with ``build_fingerprint_store``;
    batch-mode unstamped appends coexist — NULL stamps are always
    visible) and writes the batch's SURVIVORS to
    ``decisions_root/v<batch_id>`` (overwrite).

    Same exactly-once contract as the LSH wrapper: the stamped append +
    strictly-earlier-stamp probe make a replayed micro-batch reproduce
    the identical survivor set and overwrite ``v<batch_id>`` with the
    same rows; a crash between the store append and the decisions write
    is healed by the replay. Store maintenance: ``compact_band_store``
    between runs (the fingerprint store is a one-band band store; stamps
    always carried; replay-duplicate rows reclaimed)."""
    _run_versioned_dedup_stream(
        stream_docs, incremental.incremental_dedup, (text_col, id_col),
        store_path, decisions_root, checkpoint, query_name, None,
        mode=mode,
    )


def run_incremental_semantic_dedup_stream(
    stream_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    store_path: str,
    decisions_root: str,
    checkpoint: str,
    bands: int = 4,
    band_bits: int = 6,
    query_name: str = "incremental_semantic_dedup",
) -> None:
    """The sign-LSH twin of :func:`run_incremental_lsh_dedup_stream` for
    embedding feeds (q170's operator, versioned mode): per micro-batch,
    every row lands in ``decisions_root/v<batch_id>`` with its
    ``sem_removed`` flag (degenerate vectors pass through flagged False,
    the q170 contract). Same stamp-filter exactly-once contract, same
    store coexistence with batch-mode appends and
    ``build_sign_band_store`` bootstraps; the same ``compact_band_store``
    maintenance (every incremental store shares one format)."""
    _run_versioned_dedup_stream(
        stream_vecs, incremental.incremental_semantic_dedup, (id_col, vec_col),
        store_path, decisions_root, checkpoint, query_name, None,
        bands=bands, band_bits=band_bits,
    )
