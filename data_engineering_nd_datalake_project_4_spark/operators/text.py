"""Text-analysis operators for LLM-training-data pipelines.

All pure ``pyspark.sql.functions`` compositions (JVM-side, codegen) — the
hot path never enters Python. Each operator has an ANSI-SQL-expressible
semantics so the DuckDB oracle can check it (SURVEY.md §2.3 policy).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.functions import tokens
from data_engineering_nd_datalake_project_4_spark.operators import ensure_map_parallelism

#: Tiny per-language marker-token lists for the n-gram/stopword heuristic
#: language identifier. Deliberately simple + deterministic (oracle-checkable);
#: a production pipeline would swap in fastText — same operator shape.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "fr": ("le", "la", "les", "et", "des"),
    "es": ("el", "los", "las", "y", "que"),
    "de": ("der", "die", "das", "und", "nicht"),
    "zh": ("的", "是", "了", "在", "我"),
}

#: A BPE-ish pretokenizer regex (GPT-2 style, simplified): word pieces,
#: numbers, punctuation runs. Java regex (Spark) and kept RE2-compatible so
#: oracle engines agree.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Explode whitespace tokens → (token, count). Map-side partial
    aggregation makes this one shuffle of (token, partial_count) pairs."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_count(text_col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """Count of BPE-ish pretokens (regexp-based). Approximates LLM token
    counts without a tokenizer model; deterministic and SQL-expressible."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


#: the 52 ASCII letters + space — quality_score's alpha class, deleted by
#: translate() to count non-alpha chars (see the alpha note in the body)
_ALPHA_SPACE_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz "
)


def quality_score(
    text_col: Column | str,
    toks: Column | None = None,
) -> Column:
    """Heuristic document quality in [0,1]: blend of length band, alpha
    ratio, and hit-rate of the English stopwords ``LANG_MARKERS["en"]``
    (Gopher/C4-style rules, arithmetic only).

    score = 0.4·len_ok + 0.3·alpha_ratio + 0.3·min(1, stopword_hits/2)

    ``toks`` (r13): optionally pass a pre-STAGED token-array column — the
    bare expression splits the text twice (token count + stopword hits)
    and two tokens() calls in one projection cannot be deduplicated
    (the strip_duplicate_spans staging trap). Callers scoring alongside
    other token-consumers (the curation pipeline) stage once and share.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tk = toks if toks is not None else tokens(c)
    n_tok = F.size(tk).cast("double")
    len_ok = F.when((n_tok >= 5) & (n_tok <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    # r14 (VERDICT r13 task 5): alpha count via translate (a per-char map
    # lookup) instead of regexp_replace (NFA over the whole doc).
    # #alpha-or-space chars == length(c) - length(translate(c, <the 53
    # chars>, '')) — translate DELETES exactly the listed codepoints, and
    # Spark length() counts codepoints, so the integer identity is exact
    # (probed on astral/ZWJ/combining/ß/İ/final-sigma/50k-char inputs:
    # zero mismatches vs the regex AND vs DuckDB's regexp_replace, which
    # the oracle twin keeps — same value, cheaper Spark-side op).
    alpha = (
        F.length(c) - F.length(F.translate(c, _ALPHA_SPACE_CHARS, ""))
    ).cast("double") / F.greatest(F.length(c).cast("double"), F.lit(1.0))
    hits = F.size(F.array_intersect(F.array_distinct(tk), F.array(*[F.lit(s) for s in LANG_MARKERS["en"]]))).cast("double")
    raw = F.lit(0.4) * len_ok + F.lit(0.3) * alpha + F.lit(0.3) * F.least(F.lit(1.0), hits / 2)
    # scale-then-quantize (NOT F.round): the 4-dp quantize must be the
    # same op sequence as the oracle's VARCHAR-routed decimal cast. A raw
    # ROUND/CAST at scale 4 breaks cross-engine for quality < 1e-4 — the
    # alpha term of a huge low-alpha doc lands there, its shortest repr
    # goes scientific, and DuckDB's sci-notation→DECIMAL parse mis-rounds
    # mantissas >= 5 up a quantum (9.9e-06 → 0.0001; longdoc soak).
    # Scaling by 1e4 first keeps every nonzero quantize input in plain
    # notation (quality >= ~1e-8, i.e. docs < ~30M chars), and the final
    # value is an exact small-int/1e4 division — bit-identical cross-engine.
    return (raw * 10000).cast("decimal(18,0)").cast("double") / 10000


def lang_id(text_col: Column | str, toks: Column | None = None) -> Column:
    """Marker-token voting language identifier: the language whose marker
    list hits the most distinct tokens wins; ties and zero-hit docs → 'und'.
    Deterministic tie-break: language code ascending.
    ``toks``: optional pre-staged token array (see quality_score)."""
    toks = F.array_distinct(toks if toks is not None else tokens(text_col))
    scores = [
        (code, F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))))
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # first (alphabetical) language achieving the max score wins
    for code, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(code)).otherwise(out)
    return out


def doc_fingerprint(text_col: Column | str) -> Column:
    """Content fingerprint of the raw text: its 64-bit xxhash64. For a
    shift-robust variant combine with rolling-window shingles (see
    operators.dedup.simhash_fingerprints)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.xxhash64(c)


def winnowing_fingerprints(
    df, text_col: str, id_col: str, window: int = 5, keep_mod: int = 8,
    extra=None,
):
    """Staged winnowing fingerprints: ``(id_col, *extra, fingerprints
    array<bigint>, n_selected)``. ``extra`` is an optional ``{alias:
    Column}`` dict of passthrough expressions evaluated in the first
    projection (e.g. a whole-document hash) so callers don't need a join.

    Two projections: (1) hash each token ONCE; (2) per window position,
    chain the pre-hashed longs with a fixed-width combine — fixed work per
    window element instead of re-joining and re-hashing strings, and the
    staging stops CollapseProject from re-inlining the token hashing into
    every window.

    Tokens hash with xxhash64 and each window chains its token hashes as
    ``xxhash64(acc, x)`` from ``acc = 0`` — a 64-bit chain the DuckDB
    oracle folds with its pure-SQL XXH64 twin
    (``list_reduce(list_prepend(0, slice), ...)``).
    """
    extra = extra or {}
    # wrapped: the variadic F.xxhash64 itself is rejected as a
    # higher-order-function lambda (non-positional *cols signature)
    tok_hash = lambda t: F.xxhash64(t)  # noqa: E731
    combine = lambda acc, x: F.xxhash64(acc, x)  # noqa: E731
    # compute-dense map stage (every 5-token window chain-hashed): a
    # small/test-scale scan arrives as 1-2 unsplittable row-group tasks
    # and serializes the fold onto 2 of 32 cores (measured: the q40 scale
    # lane ran 9-11s at sf1.0 on 2 tasks); the narrow-input repartition is
    # a no-op once the scan yields real splits at 100 TB
    df = ensure_map_parallelism(df)
    hashed = df.select(
        F.col(id_col),
        *[c.alias(a) for a, c in extra.items()],
        F.transform(tokens(text_col), tok_hash).alias("__th"),
    )
    th = F.col("__th")
    k = F.size(th) - F.lit(window - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))

    def window_hash(i):
        return F.aggregate(
            F.slice(th, i + 1, window), F.lit(0).cast("long"), combine
        )

    all_fps = F.when(F.size(th) >= window, F.transform(idx, window_hash)).otherwise(
        F.array(F.aggregate(th, F.lit(0).cast("long"), combine))
    )
    selected = F.array_sort(F.filter(all_fps, lambda h: h % keep_mod == 0))
    return hashed.select(
        id_col,
        *extra.keys(),
        selected.alias("fingerprints"),
        F.size(selected).alias("n_selected"),
    )


def normalize_text(text_col: Column | str) -> Column:
    """Canonical text normalization for dedup/analysis: lowercase, strip
    punctuation runs to single spaces, collapse whitespace, trim.
    Deterministic + SQL-expressible (oracle-checkable)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lowered = F.lower(c)
    depunct = F.regexp_replace(lowered, r"[^a-z0-9\s]+", " ")
    collapsed = F.regexp_replace(depunct, r"\s+", " ")
    return F.trim(collapsed)


def corpus_manifest(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str | None = None,
) -> DataFrame:
    """Reproducibility manifest: ``(n_docs, n_tokens, content_xor)`` —
    the dataset-versioning record a training run pins ("which corpus was
    this, exactly"). ``content_xor`` is the BIT_XOR of ``xxhash64(id,
    text)``: order-independent (any regen may permute rows), mergeable
    (the manifest of disjoint shards XORs together), and any single
    changed/added/dropped document flips it. One aggregate, no data
    movement beyond 8-byte partials; ``by`` emits per-shard manifests.

    Not oracle-checkable (DuckDB has no Spark-compatible xxhash64) —
    property-tested: permutation invariance, single-edit sensitivity,
    shard-merge identity.
    """
    h = F.xxhash64(F.col(id_col), F.col(text_col))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).alias("n_tokens"),
        F.bit_xor(h).alias("content_xor"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def unigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style unigram language-model quality score: train a unigram
    LM on the corpus itself (token frequency / corpus size), then score
    each document by its average per-token log-probability. Low scores =
    rare-token-heavy documents (boilerplate codes, mangled encodings,
    gibberish) — the standard perplexity-bucket curation signal.

    Returns ``(id_col, n_tok, avg_logprob)``.

    Determinism: a float SUM over shuffled rows is order-dependent, so
    per-token log-probs are quantized to DECIMAL(18,6) first — the
    decimal SUM is exact and order-independent within AND across engines.
    The residual cross-engine risk is the transcendental itself: JVM
    ``Math.log`` and glibc ``log`` differ by 1 ulp on a few percent of
    inputs (measured), so a token whose true ln sits within ~1 ulp of an
    x.xxxxxx5 HALF_UP boundary can quantize differently — probability
    ~1ulp/0.5e-6 ≈ 4e-10 per distinct token, the same accepted
    measure-zero class as the repo's ROUND-at-scale-3+ policy for
    log/stddev/cosine outputs (and smaller, because only distinct vocab
    tokens roll the dice, not every row). An oracle reproduces the
    quantize via the VARCHAR-routed decimal cast.

    Scale shape: the LM is one token-frequency aggregate, materialized
    once via ``localCheckpoint`` — it feeds three consumers (the total,
    the hot-head probe, and BOTH branches of the scoring join), each of
    which would otherwise re-tokenize the corpus; the checkpoint is
    vocab-sized (distributed blocks, never driver-side — swap for a
    reliable ``checkpoint()`` dir where executor loss is in scope). The
    scoring join token→logp rides :func:`..skew.hot_cold_join`: token
    frequency is Zipf, so the hot head (stopwords with ≥``1%`` of
    occurrences — read EXACTLY and for free off the materialized LM)
    joins against a broadcast of its few logp rows, bypassing the shuffle
    for precisely the straggler keys, while the cold tail takes the
    normal equi-join (AQE broadcasts it whole while the vocab is small;
    shuffles with skew already removed at web vocab). Hot membership only
    picks the physical strategy — the result is branch-invariant.
    """
    from data_engineering_nd_datalake_project_4_spark.operators.skew import hot_cold_join

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__token"))
    lm = tok.groupBy("__token").agg(F.count(F.lit(1)).alias("__cnt"))
    lm = lm.localCheckpoint(eager=True)
    n = lm.agg(F.sum("__cnt").alias("__n"))
    lp = lm.crossJoin(F.broadcast(n)).select(
        "__token",
        F.log(F.col("__cnt") / F.col("__n")).cast("decimal(18,6)").alias("__logp"),
    )
    total = n.collect()[0][0] or 0
    hot = [
        r[0]
        for r in lm.filter(F.col("__cnt") >= max(1, total) * 0.01)
        .orderBy(F.desc("__cnt"), "__token")
        .limit(10_000)
        .collect()
    ]
    return (
        hot_cold_join(tok, lp, "__token", hot_keys=hot)
        .groupBy(id_col)
        .agg(F.sum("__logp").alias("__slp"), F.count(F.lit(1)).alias("n_tok"))
        .select(
            F.col(id_col),
            "n_tok",
            (F.col("__slp").cast("double") / F.col("n_tok")).alias("avg_logprob"),
        )
    )


def dsir_gram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Hashed n-gram (unigram + bigram) feature rows for DSIR: one
    ``(id_col, __bucket)`` row per gram occurrence, bucket in
    ``[0, n_buckets)``.

    The gram→bucket hash is ``pmod(xxhash64(gram), n_buckets)`` over the
    gram's UTF-8 bytes; the DuckDB oracle recomputes it exactly with its
    pure-SQL XXH64 twin. All map-side Catalyst: the token split is
    STAGED as a materialized column first (CollapseProject would re-inline
    the split into both the unigram and bigram consumers), bigrams come
    from ``zip_with`` over two slices (no index-lambda trap), and the
    hash runs inside codegen.

    NULL text is excluded up front (a NULL doc has no feature evidence
    either way — scoring it would just hand it delta 0·n grams).
    """
    staged = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
    )
    # compute-dense fan-out (one hash per gram occurrence) over a possibly
    # 1-2-row-group scan: spread the narrow (id, tokens) input first or the
    # whole hash volume runs in the scan tasks (the q40 lesson; no-op at
    # real corpus scale)
    staged = ensure_map_parallelism(staged)
    uni = F.col("__toks")
    n_big = F.size(uni) - 1
    big = F.zip_with(
        F.slice(uni, 1, n_big),
        F.slice(uni, 2, n_big),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = staged.select(
        F.col(id_col), F.explode(F.concat(uni, big)).alias("__gram")
    )
    bucket = F.pmod(F.xxhash64(F.col("__gram")), F.lit(n_buckets))
    return grams.select(F.col(id_col), bucket.alias("__bucket"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023), the hashed-n-gram variant: score every raw document by
    how much more likely its features are under the TARGET distribution
    (a small high-quality/benchmark-like corpus) than under the raw pool,
    ``log w(x) = Σ_grams [ln p_target(bucket) - ln p_raw(bucket)]`` with
    Laplace-smoothed bag-of-buckets models. Selecting top-weight docs
    importance-resamples the pool toward the target domain — the standard
    published alternative to classifier-based quality filtering.

    Returns ``(id_col, n_grams, dsir_logw)``, one row per raw doc with
    non-NULL text.

    Determinism (the q136 discipline): each ln is quantized to
    DECIMAL(18,6) — per-bucket ``delta = qln(p_t) - qln(p_q)`` is exact
    decimal arithmetic, and the per-doc SUM of deltas is exact and
    order-independent; the only rounding is the final double cast. The
    residual is the accepted 1-ulp libm ln() class (see
    :func:`unigram_lm_scores`). Smoothed probabilities are computed with
    ONE integer-ratio division each, identical op order cross-engine.

    Scale shape — the whole point of feature HASHING is that model state
    is bounded at ``n_buckets`` rows no matter the vocab: both bucket
    count frames partial-aggregate down to ≤4096 rows and are
    localCheckpoint'd once (each feeds its total AND the delta build —
    unmaterialized they would re-tokenize the corpus per consumer). The
    delta table broadcasts into the scoring join (map-side), the totals
    are 1-row broadcast cross joins (O(B·1), plan-audit whitelisted), and
    the only data-sized shuffles are the two bucket groupBys and the
    final per-doc aggregate. Raw is traversed twice (learn q, then score)
    — inherent to importance weighting; cache upstream if it is an
    expensive scan.
    """
    rg = dsir_gram_buckets(raw, text_col, id_col, n_buckets)
    tg = dsir_gram_buckets(target, text_col, id_col, n_buckets)
    rb = (
        rg.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("__rcnt"))
        .localCheckpoint(eager=True)
    )
    tb = (
        tg.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("__tcnt"))
        .localCheckpoint(eager=True)
    )
    totals = F.broadcast(
        rb.agg(F.sum("__rcnt").alias("__R")).crossJoin(
            tb.agg(F.coalesce(F.sum("__tcnt"), F.lit(0)).alias("__T"))
        )
    )
    # only buckets a raw gram can probe matter — left join, absent target
    # buckets smooth to count 0
    qln_t = F.log(
        (F.coalesce(F.col("__tcnt"), F.lit(0)) + 1) / (F.col("__T") + n_buckets)
    ).cast("decimal(18,6)")
    qln_r = F.log((F.col("__rcnt") + 1) / (F.col("__R") + n_buckets)).cast(
        "decimal(18,6)"
    )
    delta = (
        rb.join(tb, "__bucket", "left")
        .crossJoin(totals)
        .select("__bucket", (qln_t - qln_r).alias("__delta"))
    )
    return (
        rg.join(F.broadcast(delta), "__bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__delta").alias("__s"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.col("__s").cast("double").alias("dsir_logw"),
        )
    )


def corpus_js_divergence(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots: per-bucket
    Jensen-Shannon divergence contributions over the hashed-n-gram
    distributions of :func:`dsir_gram_buckets`. ``SUM(js_contrib)`` is the
    JS divergence (0 = identical feature mix, ln 2 = disjoint) — the
    standard ingest-drift alarm for a training-data feed; the top
    ``js_contrib`` buckets localize WHAT drifted (via any gram that hashes
    there), which a scalar alarm can't.

    Returns ``(bucket, n_a, n_b, js_contrib)``, one row per bucket seen in
    either corpus. Probabilities are Laplace-smoothed over the FIXED
    ``n_buckets`` domain (``(cnt+1)/(N+B)``) so both sides are positive
    and unseen-bucket mass is principled.

    Determinism: p_a, p_b are single integer-ratio divisions; the mixture
    ``m = (p_a + p_b) / 2`` is one IEEE add and an exact power-of-two
    scale; each ln is DECIMAL(18,6)-quantized, the decimal subtraction is
    exact, its double cast is exact (≤9 significant digits), and each
    ``0.5 · p · (qln p - qln m)`` term is a FIXED three-IEEE-op sequence —
    so the per-bucket contribution is bit-identical cross-engine as a raw
    double (q136/q163 discipline, same accepted 1-ulp ln caveat).
    Deliberately NOT re-quantized to decimal: contributions sit at 1e-12…
    1e-7 where a double's VARCHAR repr is scientific notation, and DuckDB
    mis-rounds any nonzero sub-quantum sci-notation string UP to one
    decimal quantum (``CAST('6.9e-11' AS DECIMAL(18,8))`` → 1e-8), so the
    VARCHAR-routed quantize alignment is unusable down there. A
    downstream ``SUM(js_contrib)`` is therefore order-dependent at the
    ~1e-16 level; quantize AFTER scaling by a known magnitude if an exact
    corpus-level sum is needed.

    Scale shape: two bucket-count partial aggregates (≤``n_buckets`` rows
    each), one full outer join between them, arithmetic map-side over ≤B
    rows, totals as 1-row broadcast stats. Nothing downstream of the
    count aggregates depends on corpus size.
    """
    ga = dsir_gram_buckets(corpus_a, text_col, id_col, n_buckets)
    gb = dsir_gram_buckets(corpus_b, text_col, id_col, n_buckets)
    ca = (
        ga.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("n_a"))
        .localCheckpoint(eager=True)
    )
    cb = (
        gb.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("n_b"))
        .localCheckpoint(eager=True)
    )
    totals = F.broadcast(
        ca.agg(F.coalesce(F.sum("n_a"), F.lit(0)).alias("__A")).crossJoin(
            cb.agg(F.coalesce(F.sum("n_b"), F.lit(0)).alias("__B"))
        )
    )
    na = F.coalesce(F.col("n_a"), F.lit(0))
    nb = F.coalesce(F.col("n_b"), F.lit(0))
    p_a = (na + 1) / (F.col("__A") + n_buckets)
    p_b = (nb + 1) / (F.col("__B") + n_buckets)
    m = (p_a + p_b) / 2
    qd = lambda x: F.log(x).cast("decimal(18,6)").cast("double")  # noqa: E731
    contrib = 0.5 * p_a * (qd(p_a) - qd(m)) + 0.5 * p_b * (qd(p_b) - qd(m))
    return (
        ca.join(cb, "__bucket", "full_outer")
        .crossJoin(totals)
        .select(
            F.col("__bucket").alias("bucket"),
            na.alias("n_a"),
            nb.alias("n_b"),
            contrib.alias("js_contrib"),
        )
    )


#: PII scrub patterns, applied IN THIS ORDER (URL first so emails inside
#: URLs are already gone; SSN before phone so the 3-2-4 digit shape is not
#: half-eaten by the 3-3-4 phone pattern). Java-regex (Spark) and
#: RE2-compatible (DuckDB oracle) — no backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"(?:\+\d{1,2}[ -])?\b\d{3}[ -]\d{3}[ -]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}(?:\.\d{1,3}){3}\b", "<IP>"),
)


def pii_scrub_with_counts(
    df: DataFrame, text_col: str, out_col: str = "scrubbed"
) -> DataFrame:
    """``df`` + one ``n_<kind>`` redaction-count column per PII kind and
    the fully scrubbed text as ``out_col``.

    Counts are taken on the text state *just before* that kind's replace
    (so an email already swallowed by its URL is counted once, as a URL —
    counts sum to total redactions). Each intermediate state is staged in
    its own projection and referenced twice (count + next replace), which
    keeps CollapseProject from re-inlining the regex chain into every
    consumer."""
    out = df.withColumn(out_col, F.col(text_col))
    for kind, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(out_col, F.lit(pat), 0))
        ).withColumn(out_col, F.regexp_replace(out_col, pat, token))
    return out


def strip_boilerplate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Remove repeated-line boilerplate: any line (split on ``sep``) that
    appears in at least ``min_docs`` DISTINCT documents is dropped from
    every document. Returns ``(id_col, kept_text, n_kept, n_dropped)``.

    Scale shape: the line-frequency pass shuffles ``xxhash64(line)`` (8
    bytes, never the line text) with map-side partial distinct; the
    qualifying boilerplate *lines* — a set bounded by total_lines/min_docs
    and in practice tiny — are collected into one array and broadcast, so
    the strip itself is a map-side ``F.filter`` with no second shuffle and
    line order is preserved for free. For a pathological corpus where the
    boilerplate set itself is huge, compose the anti-join variant instead:
    explode → anti-join on line hash → re-assemble with
    ``array_sort(collect_list(struct(pos, line)))``.
    """
    # F.split takes a Java REGEX: quote the separator so '.', '|', '+'
    # split literally, matching the docstring and the DuckDB oracle
    # (string_split is literal). re.escape backslash-escapes exactly the
    # regex metachars and never an alphanumeric — the one Java-illegal
    # escape class — so the quoted form is Java-regex-safe.
    sep_re = re.escape(sep)
    lines = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), sep_re)).alias("__line")
    )
    boiler = (
        lines.groupBy(F.xxhash64("__line").alias("__lh"))
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.first("__line").alias("__line"),
        )
        .filter(F.col("__nd") >= min_docs)
        .agg(F.array_sort(F.collect_list("__line")).alias("__boiler"))
    )
    split_docs = df.select(
        F.col(id_col), F.split(F.col(text_col), sep_re).alias("__ls")
    )
    kept = F.filter(
        F.col("__ls"), lambda x: ~F.array_contains(F.col("__boiler"), x)
    )
    return (
        split_docs.crossJoin(F.broadcast(boiler))
        .select(
            F.col(id_col),
            F.array_join(kept, sep).alias("kept_text"),
            F.size(kept).alias("n_kept"),
            (F.size("__ls") - F.size(kept)).alias("n_dropped"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (stride < size) — the chunking step every embedding/training pipeline
    runs before vectorizing long documents.

    Pure Catalyst: tokens staged once, chunk starts from ``sequence``,
    one ``posexplode`` — fan-out is ~n_tokens/stride rows per doc with no
    UDF and no shuffle (chunking is map-side; the shuffle only comes from
    whatever aggregation follows). Output: id, chunk_idx, start, n_chunk
    tokens, chunk text.

    NULL-text docs yield ZERO chunks (nothing to chunk) — without the
    filter, ``greatest(size(NULL)-1, 0)`` silently manufactures one
    NULL chunk per NULL doc (nulls soak). Empty-string docs still chunk
    their single empty token on both engines."""
    if stride <= 0 or size <= 0:
        raise ValueError(f"size ({size}) and stride ({stride}) must be positive")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    starts = F.sequence(F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride))
    return (
        toks.select(
            F.col(id_col),
            "__toks",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            "start",
            F.size(F.slice("__toks", F.col("start") + 1, size)).alias("n_chunk_tokens"),
            F.array_join(F.slice("__toks", F.col("start") + 1, size), " ").alias("chunk"),
        )
    )


def _span_hash_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Shared fan-out for the span-dedup family: one row per length-``n``
    token window, ``(id_col, start_pos, gram_h)`` with the n-gram
    xxhash64'd INSIDE the projection (~24-byte rows; no span text ever
    shuffles). NULL text and sub-``n``-token docs are filtered BEFORE the
    fan-out (the `nulls`-soak chunk_tokens pattern)."""
    # compute-dense fan-out over a possibly single-row-group scan: spread
    # BEFORE tokenizing so the round-robin exchange carries raw text and
    # the split runs once, post-exchange, on every slot
    base = ensure_map_parallelism(
        df.filter(F.col(text_col).isNotNull()).select(F.col(id_col), F.col(text_col))
    )
    toks = base.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    # r14 (guide §1.2 / VERDICT r13 task 4): the old `.filter(size >= n)`
    # was pushed below the __toks projection by substitution, so the scan
    # filter re-ran split(text) on EVERY row before the projection split
    # it again. The length gate now lives INSIDE the fan-out expression (a
    # sub-n doc maps to NULL, posexplode_outer emits one null row, the
    # cheap filter on the GENERATED column — which cannot be pushed below
    # the Generate — drops it), so no plan node ever evaluates split
    # twice. The when-guard also keeps sequence() off the size<n rows
    # (sequence(0, negative) is the DESCENDING-array trap).
    gram_arr = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - n),
            lambda i: F.xxhash64(F.array_join(F.slice("__toks", i + 1, n), " ")),
        ),
    )
    return (
        toks.select(
            F.col(id_col),
            F.posexplode_outer(gram_arr).alias("start_pos", "gram_h"),
        )
        .filter(F.col("start_pos").isNotNull())
    )


def _dup_flagged_spans(spans: DataFrame, id_col: str, min_docs: int) -> DataFrame:
    """Annotate every span row with ``__dup`` — whether its gram occurs in
    ≥ ``min_docs`` DISTINCT documents — via ONE window over the ``gram_h``
    partition.

    r13 rewrite (guide §2.4): the agg-then-join formulation evaluated the
    span fan-out (the family's dominant map compute: per-window slice +
    array_join + xxhash64) TWICE — once under the COUNT(DISTINCT) branch
    and once as the probe side — and at scale, where the dup-gram set no
    longer broadcasts, it also shuffled the span rows by gram_h twice.
    The window computes the fan-out once and moves it through one keyed
    exchange; at ``min_docs=2`` the distinct test is the sort-free
    ``min(id) != max(id)`` (ids are never NULL — table keys), and the
    general case counts distinct ids as ``max(dense_rank)`` over the same
    partition (one sort by (gram_h, id)). Both are duplicate-row-safe
    (duprows soak: min/max and dense_rank ignore exact copies), so the
    flag set is IDENTICAL to the COUNT(DISTINCT) >= min_docs branch.
    """
    if min_docs == 2:
        w = Window.partitionBy("gram_h")
        return spans.withColumn(
            "__dup", F.min(id_col).over(w) != F.max(id_col).over(w)
        )
    wo = Window.partitionBy("gram_h").orderBy(id_col)
    return (
        spans.withColumn("__dr", F.dense_rank().over(wo))
        .withColumn("__nd", F.max("__dr").over(Window.partitionBy("gram_h")))
        .withColumn("__dup", F.col("__nd") >= min_docs)
        .drop("__dr", "__nd")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplication profile (ExactSubstr-style, after Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    every length-``n`` token window of a document is a *span*; a span is
    *duplicated* when its n-gram occurs in at least ``min_docs`` DISTINCT
    documents. Unlike the doc-level dedup family (exact / canonical /
    MinHash), this finds repeated PASSAGES inside otherwise-unique
    documents — boilerplate paragraphs, license headers, quoted chunks.

    Returns one row per document that has at least one span (i.e. at least
    ``n`` tokens): ``(id_col, n_spans, n_dup_spans, dup_ratio)`` where
    ``dup_ratio = n_dup_spans / n_spans`` as one exact IEEE division
    (deterministic cross-engine — never a ROUND of a rational).

    Scale shape: the span n-gram is hashed to 8 bytes INSIDE the fan-out
    projection (``xxhash64`` over the joined window), so the exploded rows
    carry (id, pos, hash) = ~24 bytes and no span text is ever shuffled —
    at 100 TB the shuffle volume is ~24B x n_tokens rows, independent of
    document size. Dup detection is one groupBy on the hash with a
    COUNT(DISTINCT id) (partial aggregation applies); the mark-back is a
    second hash-keyed join; per-doc stats are a third 8-byte-keyed
    aggregate. NULL text and sub-``n``-token docs are filtered BEFORE the
    fan-out (the `nulls`-soak chunk_tokens pattern: ``sequence`` over a
    NULL size would manufacture phantom rows).
    """
    if n <= 0:
        raise ValueError(f"span length n ({n}) must be positive")
    if min_docs < 2:
        raise ValueError(
            f"min_docs ({min_docs}) < 2 would mark EVERY span duplicated "
            "(each span trivially occurs in its own document)"
        )
    # single fan-out + one gram_h window (see _dup_flagged_spans); the
    # conditional count equals the old left-join COUNT(__dup) exactly
    flagged = _dup_flagged_spans(_span_hash_rows(df, text_col, id_col, n), id_col, min_docs)
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("__dup"), F.lit(1))).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_spans").cast("double") / F.col("n_spans")
        )
    )


def max_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated token runs — the variable-length step from
    :func:`duplicate_spans`' fixed-``n`` profile toward Lee et al. 2022's
    suffix-array ExactSubstr: adjacent/overlapping duplicated ``n``-grams
    are merged into maximal contiguous runs, so an 80-token boilerplate
    paragraph reports as ONE span of length ~80, not 73 overlapping
    8-gram hits. A run is the gap-and-islands union of the dup grams'
    covered intervals ``[p, p+n-1]``: a new island starts when the next
    dup position is more than ``n`` after the previous (gap == n abuts —
    contiguous coverage, merged). The runs are exactly the maximal
    contiguous covered ranges :func:`strip_duplicate_spans` scrubs
    (invariant property-tested).

    Returns one row per (document, run): ``(id_col, span_start,
    span_len, n_grams)`` with ``span_len = max_pos - min_pos + n`` in
    tokens; documents with no duplicated span produce no rows.

    Scale shape: reuses the q141 hash-only fan-out (8-byte gram hashes,
    no text shuffle); the island window runs over the DUPLICATED hits
    only (a small fraction of grams), partitioned by doc id — never a
    global window; per-run stats are one more id-keyed aggregate.
    """
    if n <= 0:
        raise ValueError(f"span length n ({n}) must be positive")
    if min_docs < 2:
        raise ValueError(f"min_docs ({min_docs}) must be >= 2")
    # single fan-out + one gram_h window (see _dup_flagged_spans)
    hits = (
        _dup_flagged_spans(_span_hash_rows(df, text_col, id_col, n), id_col, min_docs)
        .filter(F.col("__dup"))
        .select(id_col, "start_pos")
    )
    w = Window.partitionBy(id_col).orderBy("start_pos")
    islands = (
        hits.withColumn("__prev", F.lag("start_pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("start_pos") - F.col("__prev") > n),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return islands.groupBy(id_col, "__isl").agg(
        F.min("start_pos").cast("long").alias("span_start"),
        (F.max("start_pos") - F.min("start_pos") + F.lit(n))
        .cast("long")
        .alias("span_len"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("__isl")


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    keep_positions_col: str | None = None,
) -> DataFrame:
    """The ACTION to :func:`duplicate_spans`' detection: rewrite each
    document with every cross-doc-duplicated span removed (Lee et al.
    2022 drop the repeated substring occurrences, not the documents).
    A token is removed when ANY duplicated span covers it (union of
    overlapping spans). Returns ``(id_col, new_text, n_tokens,
    n_removed_tokens)`` for every input row — NULL text passes through
    NULL with 0 removed; sub-``n``-token docs pass through unchanged.
    ``keep_positions_col`` additionally emits the sorted array of removed
    token positions (the operator's own covered-range set) — the
    ground-truth hook tests use instead of realigning tokens greedily
    (greedy matching misattributes positions when a removed token equals
    the next kept token).

    Tokenization is the exact single-space split the rest of the text
    family uses, so ``new_text`` round-trips byte-identically for
    untouched docs (empty tokens from multi-space runs are preserved).

    Scale shape: detection reuses the q141 hash-only shuffle; the covered
    positions come back as ONE array per touched doc (collect_set over an
    id-keyed shuffle of 12-byte rows), and the rewrite is a map-side
    indexed ``F.filter`` + ``array_join`` — the corpus text itself is
    never shuffled. The per-token ``array_contains`` probe is
    O(|tokens|·|covered|) per doc; covered is bounded by |tokens|, and
    only docs with duplicated spans pay it.
    """
    if n <= 0:
        raise ValueError(f"span length n ({n}) must be positive")
    if min_docs < 2:
        raise ValueError(f"min_docs ({min_docs}) must be >= 2")
    # single fan-out + one gram_h window (see _dup_flagged_spans)
    covered = (
        _dup_flagged_spans(_span_hash_rows(df, text_col, id_col, n), id_col, min_docs)
        .filter(F.col("__dup"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start_pos"), F.col("start_pos") + (n - 1))
            ).alias("__pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__cov"))
    )
    # spread the corpus side before the rewrite: when `covered` broadcasts
    # (it is tiny), the whole O(|tokens|·|covered|) filter probe runs in
    # the SCAN stage — 1-2 row-group tasks at small scale (the q40 lesson)
    base = ensure_map_parallelism(df.select(id_col, F.col(text_col))).join(
        covered, id_col, "left"
    )
    cov = F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    # stage the token array, THEN the filtered survivors, as ALIASED
    # columns in two separate projections: a bare python variable would
    # inline the whole split+filter subtree into every consumer expression
    # (computed 2-4x per row), and two tokens() calls inside ONE projection
    # cannot be deduplicated by CollapseProject either — so __kept must
    # reference the already-staged __toks column. Non-cheap
    # multi-referenced aliases are left staged by CollapseProject.
    staged = base.select(
        F.col(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("__toks"),
        cov.alias("__covarr"),
    ).select(
        F.col(id_col),
        F.col(text_col),
        F.col("__toks"),
        F.col("__covarr"),
        F.filter(
            F.col("__toks"),
            lambda t, i: ~F.array_contains(F.col("__covarr"), i.cast("int")),
        ).alias("__kept"),
    )
    return staged.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(F.col("__kept"), " "))
        .alias("new_text"),
        F.coalesce(F.size("__toks"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.size("__toks") - F.size("__kept"), F.lit(0)).alias("n_removed_tokens"),
        *(
            [F.array_sort(F.col("__covarr")).alias(keep_positions_col)]
            if keep_positions_col
            else []
        ),
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene-default
    positive-IDF variant): score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl)), idf = ln(1 + (N−df+0.5)/(df+0.5)), with
    Lucene's k1 = 1.2 and b = 0.75 — the lexical-retrieval complement to
    the embedding ANN family.

    Scale shape: one doc scan explodes tokens WITH the doc length riding
    each row (8 bytes) and filters to the query-term set BEFORE any
    shuffle, so the tf aggregate sees only matching tokens; df and the
    (N, Σdl) corpus stats are tiny broadcast sides. No vocabulary ever
    reaches the driver.

    Determinism (the q136 pattern): ln() is transcendental (1-ulp
    JVM-vs-glibc divergence on ~5% of inputs) — the idf is quantized to
    DECIMAL(18,6) before use, each per-term contribution is quantized to
    DECIMAL(18,6), and the per-doc score is an EXACT decimal sum
    (order-independent), cast to DOUBLE only in the final projection. dl
    and avgdl = Σdl/N are exact integer-derived doubles. Docs with NULL
    ``text_col`` have no tokens and never score.

    Output: ``(id_col, score, rk)`` — top-``k`` docs, score desc, id asc.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    k1, b = 1.2, 0.75
    docs = ensure_map_parallelism(df.filter(F.col(text_col).isNotNull()))
    # r13: stage the token array ONCE per branch — the old shape ran
    # tokens() three times per corpus pass (stats' size() plus size() AND
    # explode() in one projection, which CollapseProject cannot dedupe —
    # the strip_duplicate_spans staging trap). Measured 1.21 → 0.97 s at
    # sf0.1, identical output.
    toked = docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
    stats = toked.select(F.size("__toks").alias("__dl")).agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__sumdl")
    )
    # explode_outer (r14, VERDICT r13 task 4): a plain explode made
    # InferFiltersFromGenerate push `size(__toks) > 0 AND
    # isnotnull(__toks)` below the staging projection — re-running
    # split(text) per row in a scan filter that is ALWAYS true (split of
    # non-null text returns >= 1 element). The outer variant gets no
    # inferred filter; its one extra NULL-token row per empty array cannot
    # occur here, and would be dropped by the isin filter anyway.
    tok = toked.select(
        F.col(id_col),
        F.size("__toks").alias("__dl"),
        F.explode_outer("__toks").alias("__tok"),
    ).filter(F.col("__tok").isin(list(query_terms)))
    tf = tok.groupBy(id_col, "__tok", "__dl").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    idf = (
        F.log(
            F.lit(1.0)
            + (F.col("__n").cast("double") - F.col("__df") + F.lit(0.5))
            / (F.col("__df") + F.lit(0.5))
        )
        .cast("decimal(18,6)")
        .cast("double")
    )
    denom = F.col("__tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / avgdl
    )
    contrib = (idf * (F.col("__tf") * F.lit(k1 + 1.0)) / denom).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(dfreq), "__tok")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("__s"))
        .select(F.col(id_col), F.col("__s").cast("double").alias("score"))
    )
    # top-k FIRST via sort+limit (TakeOrderedAndProject — per-partition
    # heaps, no global sort), THEN rank: the unpartitioned row_number
    # window only ever sees k rows, never the full scored set.
    topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topk.withColumn("rk", F.row_number().over(w))
