"""Training-data curation pipeline: the LLM-pipeline operators composed
into the standard corpus-prep flow —

    score (lang-ID, quality, token counts)
      → quality gate
      → exact dedup (64-bit content hash)
      → canonical near-dedup (keep lowest doc_id per token-set group)
      → per-language corpus stats

There is ONE curation cascade, :func:`curate_annotated`: every row comes
back with the first gate that rejected it, and
:func:`curate_with_quarantine` splits that one annotated plan into the
kept and the quarantined rows. Catalyst fuses the scoring projections, the
two dedups are one window each over an 8-byte hash key (document text
never becomes a shuffle key), and the stats are a partial+final
aggregate. The gates rank behind the dedup windows instead of filtering
ahead of them, so the scorer is never pushed into a scan filter and runs
once per row. Corpus-scale fuzzy dedup of the kept rows is
:func:`operators.dedup.lsh_near_dedup`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.functions import tokens
from data_engineering_nd_datalake_project_4_spark.operators.text import (
    lang_id,
    quality_score,
)


def score(df: DataFrame, text_col: str = "text", keep_toks: bool = False) -> DataFrame:
    """Attach lang_pred, quality, n_tokens (pure scalar projections).

    r13: the three scorers consumed FOUR text splits per row (lang_id,
    quality_score ×2, token_count) — expressions in one projection cannot
    share a split (the staging trap). The token array is staged ONCE and
    passed to each scorer; measured on q58's full chain 0.93 → 0.78 s at
    sf0.1, identical output. ``keep_toks=True`` leaves the staged
    ``__toks`` column for downstream token-consumers (the curation
    cascade's canonical key) to reuse — callers drop it when done."""
    tk = F.col("__toks")
    out = df.withColumn("__toks", tokens(text_col)).withColumns(
        {
            "lang_pred": lang_id(text_col, toks=tk),
            "quality": quality_score(text_col, toks=tk),
            "n_tokens": F.size(tk),
        }
    )
    return out if keep_toks else out.drop("__toks")


def curate_annotated(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
) -> DataFrame:
    """One-pass curation with full reject observability: every input row
    comes back with its scores and a ``reject_reason`` column — NULL for
    survivors, else the FIRST gate that rejected it (``quality`` →
    ``exact_dup`` → ``near_dup``). At 100 TB you cannot silently drop
    rejects: the quarantine stream (reason-coded) is what audits the
    corpus diet, debugs a bad gate, and feeds reclamation reruns.

    No gate filters rows ahead of another: the dedup windows rank only
    rows still alive at their stage by carrying the alive-flag in the
    window PARTITION key (dead rows land in their own partitions and
    cannot steal a survivor slot), so the whole annotation is two
    8-byte-hash window passes — one scan, plus a reason CASE. The kept
    rows are the lowest-id survivor of each exact class, then of each
    canonical class, among the rows that pass the quality gate. Write
    kept and quarantined in one action via
    ``partitionBy('reject_reason')``-style sinks, or filter the two
    streams off this frame.

    NULL text: quality is NULL, which COALESCEs to a failed gate — NULL
    docs quarantine as 'quality' rather than vanishing (nulls soak).
    """
    scored = score(df, text_col, keep_toks=True)
    q_ok = F.coalesce(F.col("quality") >= min_quality, F.lit(False))
    # stage BOTH dedup hash keys alongside the gate flag so neither
    # window expression references text — ColumnPruning then drops the
    # corpus below the window exchanges when the consumer doesn't select
    # it (q58/q140 shuffle 8-byte hashes + flags only)
    scored = scored.withColumns(
        {
            "__q_ok": q_ok,
            "__h_exact": F.xxhash64(F.col(text_col)),
            # reuses score()'s staged token array (r13: one split per row
            # across the whole cascade instead of five)
            "__h_canon": F.xxhash64(
                F.array_join(F.array_sort(F.array_distinct(F.col("__toks"))), " ")
            ),
        }
    ).drop("__toks")
    w_exact = Window.partitionBy(
        F.col("__q_ok"), F.col("__h_exact")
    ).orderBy(F.asc(id_col))
    scored = scored.withColumn("__rn_e", F.row_number().over(w_exact))
    scored = scored.withColumn(
        "__e_first", F.col("__q_ok") & (F.col("__rn_e") == 1)
    )
    w_near = Window.partitionBy(
        F.col("__e_first"), F.col("__h_canon")
    ).orderBy(F.asc(id_col))
    scored = scored.withColumn("__rn_n", F.row_number().over(w_near))
    reason = (
        F.when(~F.col("__q_ok"), F.lit("quality"))
        .when(F.col("__rn_e") > 1, F.lit("exact_dup"))
        .when(F.col("__rn_n") > 1, F.lit("near_dup"))
    )
    return scored.withColumn("reject_reason", reason).drop(
        "__q_ok", "__h_exact", "__h_canon", "__rn_e", "__e_first", "__rn_n"
    )


def curate_with_quarantine(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
) -> tuple[DataFrame, DataFrame]:
    """(kept, quarantined) split of :func:`curate_annotated` — kept rows
    drop the reason column; quarantined rows carry their reason.
    Both are filters over ONE annotated plan: persist (or write once,
    partitioned by reason) before actioning both at scale."""
    annotated = curate_annotated(df, text_col, id_col, min_quality)
    kept = annotated.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    quarantined = annotated.filter(F.col("reject_reason").isNotNull())
    return kept, quarantined


def corpus_stats(survivors: DataFrame, group_col: str = "lang") -> DataFrame:
    # avg = exact dec4-sum / count: ROUND(AVG, 3) of 4-decimal quality scores
    # sits on x.xxx5 half-boundaries where Spark and DuckDB rounding disagree.
    # r13: the exact sum accumulates integer ten-thousandths (LONG) — see
    # functions.cents; the finalizer reconstructs the bit-identical double.
    from data_engineering_nd_datalake_project_4_spark.functions import (
        cents,
        cents_sum_to_double,
    )

    return (
        survivors.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (cents_sum_to_double(F.sum(cents("quality", 4)), 4) / F.count(F.lit(1))).alias(
                "avg_quality"
            ),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy(group_col)
    )
