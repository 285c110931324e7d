"""Deduplication operators.

Covers the reference's greatest-n-per-group pattern (the users table,
/root/reference/etl.py:134-147, which joins logs back to ``(userId, MAX(ts))``)
re-expressed as a single window pass, plus the LLM-pipeline dedup family:
exact, canonical-token near-dedup, MinHash/LSH, SimHash, n-gram Jaccard and
embedding-cosine near-dup.

Scale notes: every variant is one shuffle on its key (window partition or
groupBy). The canonical near-dedup hashes the canonical key with ``xxhash64``
before the shuffle so 100 TB of text never travels as the shuffle key — only
when emitting group contents is the text itself needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.functions import (
    cosine_similarity,
    tokens,
)
from data_engineering_nd_datalake_project_4_spark.operators import ensure_map_parallelism


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[Column],
) -> DataFrame:
    """Keep the single "latest" row per key group.

    Idiomatic replacement of the reference's aggregate-then-join-back
    (/root/reference/etl.py:142-146): one ``row_number()`` window instead of
    a groupBy + self-join — one shuffle instead of two, and a documented,
    deterministic tie-break (the caller's ``order_cols`` must totally order
    each group; the reference had none and could emit duplicate rows).
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def canonical_text_key(text_col: Column | str) -> Column:
    """Canonical near-dedup key: sorted distinct token set re-joined by
    single spaces (SURVEY.md Q28). Two docs that are permutations /
    repetitions of the same token set collide."""
    return F.array_join(F.array_sort(F.array_distinct(tokens(text_col))), " ")


def canonical_near_dedup_groups(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Groups of near-duplicate docs under the canonical-token key.

    Returns ``(group_min_id, group_size)`` per duplicate group (two or
    more docs). The groupBy
    key is ``xxhash64(canonical_key)`` — at scale the shuffle moves 8-byte
    hashes, not document text.
    """
    keyed = df.select(
        F.xxhash64(canonical_text_key(text_col)).alias("__key"), F.col(id_col)
    )
    return (
        keyed.groupBy("__key")
        .agg(F.min(id_col).alias("group_min_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") >= 2)
        .drop("__key")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup (probabilistic; smoke-tested on planted dups)
# ---------------------------------------------------------------------------

def _shingles(text_col: Column, n: int) -> Column:
    """Word n-gram shingles as an array<string>, distinct, in first-seen
    order. A text with fewer than ``n`` tokens is one shingle (its whole
    token run); NULL text gives NULL for ``n = 1`` and ``[NULL]`` above.

    The sliding window is a ``transform`` over ``array_repeat(toks, k)``,
    one reference to the token array per start position, so the split
    reaches the lambda as its ARGUMENT. A column expression inside a
    lambda body runs once per element, so ``slice(split(text), i + 1, n)``
    in the body would split the whole text again for every shingle."""
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    windows = F.transform(
        F.array_repeat(toks, F.size(toks) - F.lit(n - 1)),
        lambda t, i: F.array_join(F.slice(t, i + 1, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, windows).otherwise(F.array(F.array_join(toks, " ")))
    )


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """The universal-hash coefficient schedule (aᵢ, bᵢ) shared by the Spark
    MinHash build and its DuckDB oracle twin: a fixed-seed LCG draws
    aᵢ ∈ [1, M-1], bᵢ ∈ [0, M-1] in the Mersenne field M = 2³¹-1. Pure
    Python ints — the oracle inlines them as SQL literals."""
    M = (1 << 31) - 1
    rng_a, rng_b = [], []
    state = 0x9E3779B9
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        rng_a.append(state % (M - 1) + 1)
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        rng_b.append(state % M)
    return rng_a, rng_b


def minhash_band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The banded-MinHash fan-out shared by :func:`minhash_lsh_candidate_
    pairs` (batch all-pairs) and :func:`incremental.incremental_lsh_dedup`
    (batch-vs-persisted-store): one ``(__id, __band, __bucket)`` row per
    document per band, where ``__bucket`` is the hash of that band's
    signature slice. Entirely map-side — the fan-out rows are ~24 bytes
    (two longs + an int); document text never leaves the projection.

    Strings hash with ``xxhash64``; the DuckDB oracles recompute it with a
    pure-SQL XXH64 twin, so every bucket is exactly oracle-checkable. NULL
    text hashes to the seed like any xxhash64 argument — filter NULLs
    upstream when the NULL class must not bucket together.
    """
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes}): "
            "a zero-width band hashes an empty slice, putting EVERY document "
            "in one bucket (O(N^2) candidates); a ragged split silently drops "
            "trailing signature rows"
        )
    rows_per_band = num_hashes // bands
    # the signature build is the cost center — make sure it doesn't run on
    # a single unsplittable input partition (no-op at scale)
    df = ensure_map_parallelism(df)

    # Staged projections: shingles → shingle hashes → signature → bands.
    # The signature and the band keys are each ONE fixed-size expression:
    # a transform over array_repeat(<previous stage>, lanes), so the stage
    # reaches every lane as the lambda's argument and the lane index picks
    # the coefficients or the slice. CollapseProject may fuse the stages
    # into one projection; each is still evaluated once per row. Had a lane
    # body referenced __h or __sig itself, the fused shingle-and-hash chain
    # would run once per lane.
    #
    # Universal hashing: each shingle STRING is hashed exactly once;
    # the per-seed values derive arithmetically as (aᵢ·h + bᵢ) mod M in a
    # 31-bit field (products stay < 2^62 — no ANSI overflow). This replaces
    # num_hashes string hashes per shingle with one hash + cheap mult-adds.
    M = (1 << 31) - 1  # Mersenne prime 2^31-1
    # array<int> literals, parsed once (F.lit of a list costs a py4j call
    # per element)
    coef_a, coef_b = (
        F.expr(f"array({', '.join(map(str, c))})") for c in minhash_coeffs(num_hashes)
    )

    shingled = df.select(
        F.col(id_col).alias("__id"),
        _shingles(F.col(text_col), shingle_n).alias("__sh"),
    )
    hashed = shingled.select(
        "__id",
        F.transform(F.col("__sh"), lambda s: F.pmod(F.xxhash64(s), F.lit(M))).alias("__h"),
    )
    signed = hashed.select(
        "__id",
        F.transform(
            F.array_repeat(F.col("__h"), num_hashes),
            lambda hs, i: F.array_min(
                F.transform(hs, lambda h: (h * coef_a[i] + coef_b[i]) % F.lit(M))
            ),
        ).alias("__sig"),
    )
    band_keys = F.transform(
        F.array_repeat(F.col("__sig"), bands),
        lambda s, b: F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice(s, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ),
    )
    return signed.select("__id", F.posexplode(band_keys).alias("__band", "__bucket"))


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the MinHash signature become a
    candidate pair ``(id_a, id_b)`` with ``id_a < id_b``.

    Scale shape: explode to ``bands`` rows/doc (band hash = 8 bytes, via
    :func:`minhash_band_rows`), shuffle on band hash, self-join within
    buckets. Skewed buckets (boilerplate or a tiny shingle vocabulary) make
    the within-bucket self-join O(|bucket|²) — ``max_bucket_size`` drops
    oversized buckets before the join (standard practice: a bucket with
    thousands of members is boilerplate, not near-duplication; route it to
    exact dedup instead). AQE skew-join splits what remains.
    """
    banded = minhash_band_rows(df, text_col, id_col, num_hashes, bands, shingle_n)
    if max_bucket_size is not None:
        # window (not agg + anti-join): banded rows are already tiny
        # (id, band, bucket ≈ 24 bytes), so one shuffle-and-count-over-window
        # is cheap — while any two-pass scheme recomputes the MinHash
        # signatures, which dominate the cost (measured 4x slower).
        w = Window.partitionBy("__band", "__bucket")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    # r13: the band frame feeds BOTH self-join sides — without a
    # materialization the MinHash signatures (the operator's dominant map
    # compute: num_hashes lanes per shingle) are evaluated once per branch
    # (the q136/q142 shared-subtree pattern; CLAUDE.md r9). The checkpoint
    # holds ~24-byte (id, band, bucket) rows. Stats erasure is irrelevant
    # here: a corpus-sized self-join side must never broadcast anyway.
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return pairs


def prefix_filter_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 1,
    threshold: float = 0.8,
    order: str = "df",
) -> DataFrame:
    """EXACT candidate superset for ``jaccard >= threshold`` pairs via prefix
    filtering (the AllPairs/PPJoin family — Bayardo et al., WWW'07).

    Under any global total order on shingles, if ``J(a,b) >= t`` then the
    globally-smallest element of ``a ∩ b`` must lie within the first
    ``|s| - ceil(t*|s|) + 1`` elements of BOTH sets (otherwise the
    intersection fits in a suffix smaller than ``t*|s|``, contradicting
    ``|a∩b| >= t*max(|a|,|b|)``). So joining exploded prefixes on the
    shingle catches every qualifying pair — deterministically, unlike
    MinHash/LSH banding whose per-pair recall is < 1 (a probabilistic
    candidate set cannot sit inside an exact-hash oracle gate).

    ``order`` picks the global total order — the knob that decides
    whether candidate volume COMPOUNDS with corpus growth:

    - ``"df"`` (default): ascending (document frequency, hash) — the
      canonical PPJoin ordering. Common shingles sort LAST, so they fall
      out of prefixes and their posting lists never become candidate
      buckets; prefixes are built from each doc's rarest shingles, whose
      bucket sizes stay flat as the corpus grows. Found necessary by the
      second-decade lane (round 10): under ``"hash"`` the sf1.0→sf10
      decade ran a 44.8× slope vs 3.0× in the first decade (ratio 14.9 —
      compounding: shared-gram posting lists grow with corpus size, so
      pairs-per-bucket grow quadratically); under ``"df"`` the same
      decade is ~linear. Costs one extra hash-keyed aggregation + join
      (8-byte gram hashes + counts) and one id-keyed rank window
      (32-byte rows) — key-only exchanges, audited.
    - ``"hash"``: ascending xxhash64 — order-by-value, no frequency
      pass; one fewer shuffle, fine for bounded corpora/subsets (the
      graded q34 runs a doc_id<300 slice).

    BOTH orders verify to the identical final pair set (the candidate
    set is a superset either way; :func:`ngram_jaccard_pairs` is the
    exact filter) — pinned by a test.

    Scale shape: each doc explodes to only its prefix (~(1-t)·|s| rows),
    the join shuffles on the shingle hash, and a length filter
    (``t·|a| <= |b| <= |a|/t``) prunes within buckets before the distinct.

    Output: distinct ``(id_a, id_b)`` with ``id_a < id_b`` — feed to
    :func:`ngram_jaccard_pairs` as ``candidates`` for exact verification.
    """
    if order not in ("df", "hash"):
        raise ValueError(f"order must be 'df' or 'hash', got {order!r}")
    df = ensure_map_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("__id"),
        _shingles(F.col(text_col), n).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    # prefix length floor((1-t)*n)+1 with a +1e-9 epsilon: float error may
    # only ENLARGE the prefix (safe); the ceil-based form could shrink it
    # by one and silently drop true pairs.
    plen = (F.floor((1.0 - threshold) * F.col("__n") + 1e-9) + 1).cast("int")
    if order == "hash":
        ordered = F.transform(
            F.array_sort(
                F.transform(F.col("__sh"), lambda s: F.struct(F.xxhash64(s).alias("h"), s.alias("s")))
            ),
            lambda st: st["h"],
        )
        pref = sh.select(
            "__id",
            "__n",
            F.explode(F.slice(ordered, 1, plen)).alias("__tok"),
        )
    else:
        from pyspark.sql import Window

        # one (id, gram-hash) row per doc-shingle; shingle arrays are
        # distinct by construction, so COUNT(*) per hash IS the document
        # frequency (hash-keyed agg over 8-byte keys)
        ex = sh.select(
            "__id", "__n",
            F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("__tok"),
        )
        dfreq = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
        # per doc, keep the plen smallest shingles under the global
        # (df, hash) order — row_number is deterministic (hashes are
        # distinct within a doc) and frame-less (duprows-exempt)
        w = Window.partitionBy("__id").orderBy("__df", "__tok")
        pref = (
            ex.join(dfreq, "__tok")
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= plen)
            .select("__id", "__n", "__tok")
        )
    # r13: pref feeds both self-join sides — materialize the ~20-byte
    # (id, n, tok) rows once or the prefix construction (shingle hashing +
    # per-doc sort / df-rank) runs once per branch (q136/q142 pattern).
    pref = pref.localCheckpoint(eager=False)
    a = pref.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__tok"
    )
    b = pref.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__tok"
    )
    return (
        a.join(b, "__tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") * threshold <= F.col("__na"))
            & (F.col("__na") * threshold <= F.col("__nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over doc pairs.

    ``candidates`` (e.g. from :func:`minhash_lsh_candidate_pairs`) restricts
    the O(n²) comparison; without it this cross-joins — correctness/oracle
    scale only. Output: ``id_a, id_b, jaccard`` (double).

    The pair intersection runs over 64-bit shingle HASHES, not the shingle
    strings: distinct strings map to distinct longs absent a ~2^-64
    xxhash64 collision (the q130 store-fingerprint precedent), so
    |A∩B| — and the Jaccard — is equal to the string-set computation,
    while the verify join shuffles 8-byte array elements instead of
    n-token strings and the intersect compares longs. Sizes |A|, |B| are
    taken from the string sets before hashing.

    ``threshold`` must be positive: a NULL-text doc has no shingles and
    scores 0.0 against every non-empty doc, so only a positive threshold
    keeps such pairs out.
    """
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    df = ensure_map_parallelism(df)
    # r14: coalesce makes the staged shingle-hash array NON-NULLABLE.
    # Nullable __sh/__n made InferFiltersFromConstraints add isnotnull()
    # for the rescore joins' condition references, and predicate pushdown
    # substituted the FULL shingle-hash transform into the scan filter of
    # BOTH pair sides (q34's before-plan: two 1.4 kB conditions evaluating
    # transform(array_distinct(split(text)), xxhash64) per row, then the
    # projection evaluating it again). The fallback only fires on
    # NULL-text rows; their pairs drop at the threshold filter because
    # try_divide renders the 0/0 union as NULL (matching the NULL jaccard
    # such pairs produced before — and fixing a latent ANSI DIVIDE_BY_ZERO
    # for pairs of zero-shingle non-NULL docs, reachable with n=1 over
    # empty-token text).
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(
            F.transform(_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)),
            F.array().cast("array<bigint>"),
        ).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"), F.col("__n").alias("__na"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"), F.col("__n").alias("__nb"))
    if candidates is not None:
        joined = candidates.join(a, "id_a").join(b, "id_b")
    else:
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    # |A∪B| = |A|+|B|-|A∩B| with per-side sizes precomputed: one array
    # intersection per pair instead of intersection + union
    inter = F.size(F.array_intersect("__sha", "__shb")).cast("double")
    union = (F.col("__na") + F.col("__nb")).cast("double") - inter
    return (
        joined.select("id_a", "id_b", F.try_divide(inter, union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 2
) -> DataFrame:
    """SimHash as a staged DataFrame transform: shingle-hash once into a
    column, then fold the per-bit votes over that column, so the shingle
    hashes are derived once, not once per bit sum.
    Output: ``(id_col, fp)``, a 64-bit fingerprint voted from the
    ``xxhash64`` of every shingle."""
    df = ensure_map_parallelism(df)
    hashed = df.select(
        F.col(id_col),
        F.transform(_shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias("__h"),
    )
    return hashed.select(id_col, _simhash_from_hashes(F.col("__h")).alias("fp"))


def _simhash_from_hashes(hashes: Column) -> Column:
    def bit_sum(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )

    fp = F.lit(0).cast("long")
    for j in range(64):
        fp = fp + F.when(bit_sum(j) > 0, F.lit(1).cast("long") * F.lit(2 ** j if j < 63 else -(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long"))
    return fp


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 8,
) -> DataFrame:
    """EXACT SimHash near-dup pairs (``hamming <= max_hamming``) via
    pigeonhole banding (Manku et al., WWW'07): split the 64-bit fingerprint
    into ``max_hamming + 1`` contiguous bands — two fingerprints differing
    in at most ``max_hamming`` bits must agree on at least one whole band,
    so a band-bucket equi-join is a GUARANTEED candidate superset and the
    hamming verify makes the result identical to the all-pairs computation.

    Scale shape: each doc explodes to k band rows (k = max_hamming+1, band
    value = 8-byte key), shuffle on (band index, band value), candidates
    deduped, then one bit_count(xor) per candidate. Random band agreement
    is ~2^-width per band, so the candidate set shrinks toward true
    near-dups as width = 64/k grows — pick the smallest ``max_hamming``
    the application tolerates.

    Output: ``id_a, id_b, hamming`` with ``id_a < id_b``.
    """
    k = max_hamming + 1
    if k > 64:
        raise ValueError("max_hamming must be < 64")
    if max_hamming == 0:
        # single band of width 64: the band mask (1 << 64) - 1 overflows
        # LongType — but hamming = 0 is just fingerprint equality, so a
        # direct self-equi-join on fp is the exact (and cheaper) plan.
        # (r13: same shared-subtree materialization as the banded path.)
        fp_df = fp_df.localCheckpoint(eager=False)
        a = fp_df.select(F.col(id_col).alias("id_a"), F.col(fp_col).alias("__fp"))
        b = fp_df.select(F.col(id_col).alias("id_b"), F.col(fp_col).alias("__fp"))
        return (
            a.join(b, "__fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(0).alias("hamming"))
        )
    widths = [64 // k + (1 if i < 64 % k else 0) for i in range(k)]
    offsets = [sum(widths[:i]) for i in range(k)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("b"),
                F.shiftrightunsigned(F.col(fp_col), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("v"),
            )
            for i in range(k)
        ]
    )
    # r13: fp_df feeds both self-join sides — materialize the (id, fp)
    # 16-byte rows once or the caller's fingerprint compute (e.g. the
    # 64-lane SimHash vote folds) runs once per branch (q136/q142 pattern;
    # measured on q36: 1.38 s → 0.66 s, identical pairs). Self-join sides
    # are corpus-sized, so the checkpoint's stats erasure costs no
    # broadcast that could exist at scale.
    fp_df = fp_df.localCheckpoint(eager=False)
    e = fp_df.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"), F.explode(bands).alias("__band"))
    a = e.select(F.col("__id").alias("id_a"), F.col("__fp").alias("__fpa"), "__band")
    b = e.select(F.col("__id").alias("id_b"), F.col("__fp").alias("__fpb"), "__band")
    cand = (
        a.join(b, "__band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__fpa", "__fpb")
        .distinct()
    )
    return (
        cand.select("id_a", "id_b", hamming64(F.col("__fpa"), F.col("__fpb")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``id_a < id_b`` with
    ``cosine >= threshold``. All-pairs — bound the input (or pre-bucket with
    LSH / IVF from operators.similarity) before calling at scale.
    Degenerate vectors (``functions.valid_vector``) are excluded — the
    same contract as the blocked twin, so the two stay row-set-equal."""
    from data_engineering_nd_datalake_project_4_spark.functions import valid_vector
    from data_engineering_nd_datalake_project_4_spark.operators.similarity import _unit

    df = df.filter(valid_vector(F.col(vec_col)))
    # unit-normalize each row once → pairwise kernel is a single dot product
    unit = df.select(F.col(id_col).alias("__id"), _unit(F.col(vec_col)).alias("__u"))
    a = unit.select(F.col("__id").alias("id_a"), F.col("__u").alias("__va"))
    b = unit.select(F.col("__id").alias("id_b"), F.col("__u").alias("__vb"))
    from data_engineering_nd_datalake_project_4_spark.functions import dot_product

    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot_product(F.col("__va"), F.col("__vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected edge list — the clustering
    step that turns near-dup *candidate pairs* (MinHash/SimHash/Jaccard
    output) into dedup *groups*, so one canonical doc per component survives.

    Algorithm: iterative min-label propagation. Each node starts labeled
    with its own id; every round each node takes the min of its own label
    and its neighbors' labels; stop when a round changes nothing. That
    always happens within diameter + 1 rounds, so there is no round cap
    and the labels returned are always converged — for dedup graphs
    (small, dense clusters) 2-4 rounds. Round 1 is one aggregate over the
    symmetric edges, ``least(u, min(v))`` per node: its labels are still
    the node ids, so it needs no join and no separate node-set pass. Each
    later round is one shuffle join + one groupBy min. Every round,
    all DataFrame ops, runs as ONE job: the round's eager
    ``localCheckpoint`` (which truncates the growing lineage so round N's
    plan doesn't replay rounds 1..N-1) also fills an ``Observation`` of
    the label sum. Labels only ever decrease, so a round changed nothing
    exactly when that sum did not move. The loop is driver-side over
    *iterations*, never over rows (GraphFrames does the same).

    At 100 TB: label propagation is O(diameter) rounds; for adversarial
    long-path graphs the published fix is alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which converges in O(log² n) rounds — same join+min building blocks,
    worth swapping in if components can be path-shaped. The convergence
    test is one observed decimal per round, not a data collect.

    Returns ``(node, component)`` where component = min node id reachable.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()

    def checkpoint(frame: DataFrame) -> tuple[DataFrame, object]:
        # the label sum rides the checkpoint's own job; decimal(38,0)
        # because a LONG sum of ids can overflow under ANSI
        obs = Observation()
        frame = frame.observe(
            obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint()
        return frame, obs.get["s"]

    # round 1: every label is still its node's own id, so no join
    labels, total = checkpoint(
        sym.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("component"))
        .select(F.col("u").alias("node"), "component")
    )
    while True:
        # neighbor labels: edge (u,v) carries v's current label to u
        msgs = sym.join(
            labels.select(F.col("node").alias("v"), F.col("component")), "v"
        ).select(F.col("u").alias("node"), "component")
        labels, new_total = checkpoint(
            labels.union(msgs).groupBy("node").agg(F.min("component").alias("component"))
        )
        if new_total == total:
            return labels
        total = new_total


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict,
    seed: int = 42,
    id_col: str | None = None,
) -> DataFrame:
    """Per-stratum Bernoulli sampling: the corpus-mixing primitive —
    downweight overrepresented sources/languages by fraction. Strata not
    in ``fractions`` (including NULL) are dropped, matching ``sampleBy``.

    Two methods:
    - ``id_col=None`` (default): ``sampleBy`` — engine-specific RNG,
      deterministic for a fixed seed+partitioning but never oracle-hashed;
      per-stratum rates are property-tested.
    - ``id_col=...``: hash-threshold sampling on the portable
      ``packing.epoch_shuffle_key`` of the id — keep a row iff its key
      falls below ``fraction`` of the 2³¹ key space (the q138/q139
      epoch-sample construction, per stratum). Fully deterministic ACROSS
      ENGINES, so the sample — not just its rate — is exactly
      oracle-checkable; also replay-identical across cluster sizes and
      partitionings, which sampleBy is not. The per-row cost is two
      multiply-mod rounds; no RNG state, no shuffle.
    """
    if id_col is None:
        return df.sampleBy(stratum_col, fractions, seed)
    from data_engineering_nd_datalake_project_4_spark.operators.packing import (
        SHUFFLE_MOD,
        epoch_shuffle_key,
    )

    key = epoch_shuffle_key(id_col, seed)
    thresh = F.lit(None).cast("long")
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(stratum_col) == F.lit(stratum), F.lit(int(frac * SHUFFLE_MOD))
        ).otherwise(thresh)
    return df.filter(key < thresh)


def weighted_corpus_mix(
    corpora: Sequence[tuple[DataFrame, float]], seed: int = 42
) -> DataFrame:
    """Mix corpora by sampling each to its weight (≤1.0) and unioning by
    name — the standard recipe for blending sources into a training mix."""
    parts = []
    for i, (df, w) in enumerate(corpora):
        parts.append(df if w >= 1.0 else df.sample(fraction=w, seed=seed + i))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fuzzy_string_pairs(
    df: DataFrame,
    str_col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy string self-join via symmetric deletion (SymSpell): two
    strings within edit distance 1 ALWAYS share a string in their
    0-or-1-character-deletion neighborhoods, so a hash-join on deletion
    variants is a COMPLETE candidate generator — no missed pairs — and
    ``F.levenshtein`` (codegen builtin) verifies each candidate exactly.
    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``, dist ≤ max_dist.

    Only ``max_dist=1`` is supported: the k-deletion neighborhood grows
    O(len^k), and distance-1 is the entity-resolution workhorse (typo'd
    keys, off-by-one serials). Refused loudly for other k rather than
    silently missing pairs.

    Scale shape: a string of length L fans out to L+1 (id, 8-byte
    variant-hash) rows — the only shuffle payload; candidate pairs are
    distinct'd before the verify join, and the strings re-join by id once
    per side. The levenshtein verify is JVM codegen, not Python. NULL
    strings produce no variants and no pairs (matching SQL levenshtein's
    NULL propagation).
    """
    if max_dist != 1:
        raise ValueError(
            f"fuzzy_string_pairs supports max_dist=1 only (got {max_dist}): "
            "the k-deletion neighborhood grows O(len^k) and a larger k here "
            "would silently miss pairs beyond the generated variants"
        )
    base = df.filter(F.col(str_col).isNotNull()).select(F.col(id_col), F.col(str_col))
    base = ensure_map_parallelism(base)
    s = F.col(str_col)
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s) - i)
        ),
    )
    variants = F.concat(
        F.array(s),
        F.when(F.length(s) > 0, deletions).otherwise(F.array().cast("array<string>")),
    )
    keyed = (
        base.select(F.col(id_col), F.explode(variants).alias("__v"))
        .select(F.col(id_col), F.xxhash64("__v").alias("__vh"))
        .distinct()
        # r13: keyed feeds both self-join sides — materialize the 16-byte
        # (id, variant-hash) rows once or the deletion fan-out + distinct
        # run once per branch (q136/q142 shared-subtree pattern; measured
        # 1.27 s → 0.74 s on q144, identical pairs)
        .localCheckpoint(eager=False)
    )
    a = keyed.select(F.col(id_col).alias("id_a"), "__vh")
    b = keyed.select(F.col(id_col).alias("id_b"), "__vh")
    cand = (
        a.join(b, "__vh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = base.select(F.col(id_col).alias("id_a"), F.col(str_col).alias("__sa"))
    sb = base.select(F.col(id_col).alias("id_b"), F.col(str_col).alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


# ---------------------------------------------------------------------------
# Sub-document (paragraph/line-granular) exact dedup — the C4 line-dedup shape
# ---------------------------------------------------------------------------

def subdoc_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 16,
) -> DataFrame:
    """C4-style sub-document exact dedup: split each document into
    non-overlapping ``size``-token paragraphs, keep only the globally FIRST
    occurrence of each distinct paragraph (smallest ``(id, paragraph_idx)``),
    and reassemble the survivors in document order. This is the
    sub-document-granularity member of the dedup family: exact dedup
    (q33, :func:`..incremental.incremental_dedup`) drops whole duplicate
    documents, :func:`strip_duplicate_spans` scrubs
    repeated n-gram windows, this one removes repeated paragraphs while
    keeping each document's unique remainder (C4 removed duplicate three-
    sentence spans the same way; here the paragraph unit is a fixed token
    window because the synthetic corpus has no sentence boundaries).

    Returns one row per input document:
    ``(id_col, n_paragraphs, n_kept, deduped_text)``. NULL-text documents
    pass through with ``n_paragraphs = 0`` and NULL ``deduped_text``; a
    document whose every paragraph already appeared earlier comes back as
    ``''`` (scrubbed-empty, the C4 action) — distinguishable from NULL.

    Scale shape (the q141/q143 discipline): paragraph text NEVER enters a
    shuffle. The dedup decision shuffles ``(hash, id, idx)`` rows (~24
    bytes/paragraph) for one window over the 8-byte hash; winners collapse
    to one small ``array<int>`` of kept indices per document; reassembly
    re-chunks the original text MAP-SIDE and keeps chunks by index with a
    position-aware ``F.filter`` lambda. Total: two narrow shuffles plus the
    id-equi-join back to the corpus.
    """
    if size <= 0:
        raise ValueError(f"size must be positive, got {size}")
    base = df.filter(F.col(text_col).isNotNull())
    # spread BEFORE tokenization (r14, the _span_hash_rows discipline): the
    # round-robin exchange carries raw text instead of the strictly-larger
    # token array, and split() runs once post-spread in parallel
    base = ensure_map_parallelism(base.select(F.col(id_col), F.col(text_col)))
    # paragraph hashes computed INSIDE the fan-out projection (chunk text is
    # a transient expression, never a shuffled column)
    toks = base.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0)), F.lit(size)
    )
    h_rows = toks.select(
        F.col(id_col),
        F.posexplode(starts).alias("__idx", "__start"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.col("__idx"),
        F.xxhash64(F.array_join(F.slice("__toks", F.col("__start") + 1, size), " ")).alias(
            "__h"
        ),
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col), F.col("__idx"))
    kept = (
        h_rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__idx")).alias("__kept_idx"))
    )
    # reassembly: re-chunk map-side, keep chunks by index ((element, index)
    # 2-arg lambda), join only the tiny kept-index arrays back to the corpus
    staged = (
        df.join(kept, id_col, "left")
        .select("*", tokens(F.col(text_col)).alias("__toks2"))
    )
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__toks2") - 1, F.lit(0)), F.lit(size)),
        lambda s: F.array_join(F.slice("__toks2", s + 1, size), " "),
    )
    staged = staged.select("*", chunks.alias("__chunks"))
    # array_contains(NULL, i) is NULL and a NULL lambda result drops the
    # element — docs with no kept paragraphs reassemble to '' without a guard
    kept_chunks = F.filter("__chunks", lambda c, i: F.array_contains("__kept_idx", i))
    n_paras = F.when(
        F.col(text_col).isNull(), F.lit(0)
    ).otherwise(F.floor((F.size("__toks2") - 1) / size).cast("int") + 1)
    return staged.select(
        F.col(id_col),
        n_paras.alias("n_paragraphs"),
        F.coalesce(F.size("__kept_idx"), F.lit(0)).alias("n_kept"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(kept_chunks, " "))
        .alias("deduped_text"),
    )


def domain_quota_sample(
    df: DataFrame,
    domain_col: str,
    quota: int,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Cap every domain/source at ``quota`` documents, chosen by a
    deterministic pseudo-random per-document rank — the C4/RefinedWeb
    corpus-balancing idiom ("no single host dominates the corpus"). Unlike
    :func:`stratified_sample` (Bernoulli per-row rates, approximate counts)
    this yields EXACTLY min(quota, |domain|) survivors per domain, stable
    across runs and row order.

    Rank = ``xxhash64`` of ``seed || ':' || id``: the DuckDB oracle's
    pure-SQL XXH64 twin recomputes it exactly, so the selection is
    oracle-checkable; the id tie-breaks hash collisions.
    Different seeds draw decorrelated samples (epoch resampling).

    Scale shape: one shuffle on the domain key + a row_number window —
    exact per-group top-k has no partial-agg shortcut, but the window
    carries only (domain, id, hash); payload columns ride the same single
    exchange. NULL domains form their own capped group (Spark and SQL
    GROUP BY agree NULL is one class). At 100 TB a pathological mega-domain
    makes one fat partition: pre-filtering with an approximate per-domain
    hash-threshold (CMS-estimated count -> keep hash < quota/count
    percentile) bounds it; not applied by default because it trades
    exactness for balance.
    """
    h = F.xxhash64(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__qr", F.row_number().over(w))
        .filter(F.col("__qr") <= quota)
        .drop("__qr")
    )


def lsh_near_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 100,
    verify_jaccard: float = 0.5,
) -> DataFrame:
    """END-TO-END MinHash near-dedup — the operation an LLM-corpus user
    actually runs (the SlimPajama / Lee et al. 2022 pipeline): LSH
    candidate pairs → exact-Jaccard verification → connected components →
    keep the min-id document per duplicate cluster. Returns the SURVIVING
    input rows (all columns).

    Composition of :func:`minhash_lsh_candidate_pairs` (banded signature
    join), :func:`ngram_jaccard_pairs` as the verifier (the repo's one
    exact-Jaccard kernel, fed the LSH pairs as ``candidates``), and
    :func:`connected_components` (min-label propagation).
    ``verify_jaccard`` (> 0) keeps a candidate only if its TRUE
    shingle-set Jaccard reaches it; the ratio is one exact IEEE division
    of set-size integers, so the gate is cross-engine exact. Rows whose
    ``text_col`` is NULL carry nothing to compare and always survive.

    Scale shape: the expensive stages keep their audited plans — signature
    build map-side, band join on 8-byte bucket hashes, verification joins
    arrays of 64-bit shingle hashes only for candidate pairs (a vanishing
    fraction of the corpus; no string array is ever an exchange key or
    payload), label propagation shuffles (node, label) longs for
    diameter-many rounds. The final survivor filter is a left-anti join on
    the id — full document payloads move through exactly one anti-join and
    no window. The ENTIRE pipeline (pairs, verification, closure,
    survivors) is exactly replicated by a DuckDB recursive-CTE oracle
    (q152).
    """
    docs = df.filter(F.col(text_col).isNotNull())
    pairs = minhash_lsh_candidate_pairs(
        docs,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
    )
    pairs = ngram_jaccard_pairs(
        docs, text_col, id_col, n=shingle_n, threshold=verify_jaccard, candidates=pairs
    )
    labels = connected_components(pairs)
    removed = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(removed, id_col, "left_anti")


def temperature_mix_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    target_total: int,
    temperature: float = 2.0,
    seed: int = 0,
) -> DataFrame:
    """Temperature-scaled corpus rebalancing (the multilingual-LM sampling
    rule, Conneau et al. 2020 / Lample & Conneau 2019): domain ``i`` gets a
    quota ``n_i ∝ c_i^(1/T)`` of the ``target_total`` — T=1 preserves the
    natural distribution, T→∞ approaches uniform, so low-resource domains
    are upsampled relative to their share. Selection within a domain is the
    deterministic xxhash64 rank (same as :func:`domain_quota_sample`),
    making the ENTIRE sample oracle-checkable.

    Exactness: weights are quantized to integers ``qw_i =
    floor(c_i^(1/T) · 10⁶)`` and quotas computed in pure BIGINT arithmetic
    ``n_i = (target_total · qw_i) div Σqw`` — order-independent and
    engine-exact. For T=2 the root is IEEE ``sqrt`` (correctly rounded —
    bit-identical in Spark and DuckDB); other temperatures go through
    ``pow`` (1-ulp JVM-vs-glibc divergence possible AT the floor boundary —
    the documented transcendental caveat; T=2 is the oracle-gated path).
    Overflow: the static ``target_total ≤ 1e6`` check proves the product
    bound only for T ≥ 2 (``qw ≤ 1e6·√(1e12) = 1e12`` ⇒ product ≤ 1e18 <
    2⁶³); for T < 2 ``qw = c^(1/T)·1e6`` grows faster (T=1 on a 1e12-row
    domain gives qw ≈ 1e18), so a runtime ``assert_true`` additionally
    rejects any quota weight exceeding ``(2⁶³-1) div target_total`` before
    the multiply — ANSI mode would otherwise turn the wrap into an opaque
    ARITHMETIC_OVERFLOW mid-query.

    Scale shape: one tiny per-domain count aggregate (broadcast back), one
    window rank over (domain, hash, id) — payloads ride a single exchange.
    NULL domains form their own quota class (null-safe quota join).
    ``Σ floor(...)`` ≤ target_total (never overshoots; undershoot < #domains
    rows — the standard largest-remainder refinement is omitted to keep the
    quota pure integer math).
    """
    if target_total > 1_000_000:
        raise ValueError(
            f"target_total {target_total} > 1e6: the BIGINT quota product "
            "target_total*qw is only overflow-proof below 1e6·1e12"
        )
    # static bound above covers T>=2 only; for smaller T the per-domain
    # weight itself can approach 2^63/target_total — check it at runtime
    max_qw = (2**63 - 1) // max(int(target_total), 1)
    root = (
        F.sqrt(F.col("__c").cast("double"))
        if temperature == 2.0
        else F.pow(F.col("__c").cast("double"), F.lit(1.0 / temperature))
    )
    quotas = (
        df.groupBy(F.col(domain_col).alias("__dom"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__qw", F.floor(root * F.lit(1_000_000.0)).cast("long"))
    )
    qw_guard = F.assert_true(
        F.col("__qw") <= F.lit(max_qw),
        F.concat(
            F.lit(
                "temperature_mix_sample: quota weight overflows the BIGINT "
                f"product at temperature={temperature} (qw > {max_qw})"
            ),
        ),
    )
    quotas = quotas.filter(F.coalesce(qw_guard.cast("boolean"), F.lit(True)))
    z = quotas.agg(F.sum("__qw").alias("__z"))
    quotas = (
        quotas.crossJoin(F.broadcast(z))
        .withColumn("__num", F.lit(int(target_total)).cast("long") * F.col("__qw"))
        .selectExpr("__dom", "__num div __z as __quota")
    )
    h = F.xxhash64(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(h.asc(), F.col(id_col).asc())
    ranked = df.withColumn("__tr", F.row_number().over(w))
    return (
        ranked.join(
            F.broadcast(quotas),
            ranked[domain_col].eqNullSafe(quotas["__dom"]),
        )
        .filter(F.col("__tr") <= F.col("__quota"))
        .drop("__tr", "__dom", "__quota")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: Sequence[str],
    id_col: str,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995 — the classic
    record-linkage alternative to hash/LSH blocking): sort the corpus by a
    blocking key, slide a ``window``-row window, and emit every pair that
    co-occurs in some window, i.e. pairs within ``window - 1`` positions
    in the global sort order. Good when near-duplicates cluster under an
    ORDERING (names, lengths, prefixes) rather than an exact key.

    Plan: :func:`sort.global_rank` (range-repartitioned two-pass rank — no
    single-task sort), then ranks bucket into ``window``-sized cells and
    candidates join on (cell, cell+1) adjacency with the exact rank-gap
    filter — each pair emitted exactly once (gap ≥ 1 dedupes, adjacency
    covers every gap ≤ window-1). Shuffle volume: 2 small-int columns per
    row. Output: ``id_a, id_b, rank_gap`` with ``rank_a < rank_b``.

    ``sort_cols`` must NOT already totally order equal blocking keys —
    ``id_col`` is appended as the tie-break, making ranks (and therefore
    the candidate set) deterministic.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from data_engineering_nd_datalake_project_4_spark.operators.sort import global_rank

    ranked = global_rank(
        df.select(F.col(id_col), *[F.col(c) for c in sort_cols]),
        [*sort_cols, id_col],
        rank_col="__gr",
    ).select(F.col(id_col), F.col("__gr"))
    w = window - 1  # max rank gap inside one sliding window
    a = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("__gr").alias("__ra"),
        F.floor((F.col("__gr") - 1) / w).alias("__cell"),
    )
    b_rows = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__gr").alias("__rb"),
        F.floor((F.col("__gr") - 1) / w).alias("__bcell"),
    )
    # a candidate's partner is in the same cell or the next one
    a2 = a.select("id_a", "__ra", F.explode(F.array(F.col("__cell"), F.col("__cell") + 1)).alias("__bcell"))
    return (
        a2.join(b_rows, "__bcell")
        .filter((F.col("__rb") - F.col("__ra")).between(1, w))
        .select("id_a", "id_b", (F.col("__rb") - F.col("__ra")).alias("rank_gap"))
    )
