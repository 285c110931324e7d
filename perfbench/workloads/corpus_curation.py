"""Corpus curation: the LLM-data path over a seeded corpus, the first part
of the ``llm_data`` workload.

A pass makes these calls, each after the previous returned:

1. ``pipelines.training_data.curate_with_quarantine`` and a
   ``write_parquet`` of both its outputs (kept and quarantined);
2. ``operators.dedup.lsh_near_dedup`` over the kept documents (its
   connected-components driver loop runs here, eagerly);
3. ``sources.sinks.write_training_shards`` of the survivors;
4. ``operators.incremental.build_band_store`` over the shards;
5. ``incremental_lsh_dedup(src_batch=i)`` for each seeded batch, its
   survivors written — the band store is read and appended in the same
   pass.

CPU-heavy in the ``operators.text`` scorer and in ``dedup``'s
``connected_components``. The corpus states its defect rates and its
near-duplicate cluster size (LSH cost grows superlinearly in it).

Checks: kept and quarantined partition the input ids; the quarantine
counts per reason equal the planted counts; LSH removes only planted
copies, most of them, and keeps every cluster's source; the shards hold
each survivor once, as their manifest says; every batch keeps its fresh
documents and drops its copies.
"""

from __future__ import annotations

import time

import duckdb

from perfbench import gen
from perfbench.harness import median, median_by_key, tree_size
from perfbench.workloads import PassResult, Request

#: stated corpus properties (fractions of the corpus)
NEAR_CLUSTER_FRAC = 0.3
EXACT_DUP_FRAC = 0.02
PERM_DUP_FRAC = 0.02
LOW_QUALITY_FRAC = 0.02


def _shingles(text: str, n: int = 3) -> set[str]:
    """Word ``n``-gram set, as ``operators.dedup`` builds it."""
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class CorpusCuration:
    name = "corpus_curation"

    def __init__(self, n_docs: int, cluster_size: int, n_batches: int, batch_docs: int):
        self.n_docs = n_docs
        self.cluster_size = cluster_size
        self.n_batches = n_batches
        self.batch_docs = batch_docs
        self.corpus: gen.Corpus | None = None
        self.seed = 0

    def generate(self, d: str, seed: int) -> None:
        self.seed = seed
        self.corpus = gen.corpus_inputs(d, seed, self.n_docs, self.cluster_size,
                                        NEAR_CLUSTER_FRAC, EXACT_DUP_FRAC, PERM_DUP_FRAC,
                                        LOW_QUALITY_FRAC, self.n_batches, self.batch_docs)

    def describe(self) -> dict:
        c = self.corpus
        return {"docs": c.n_docs, "cluster_size": c.cluster_size,
                "clusters": len(c.cluster_bases), "near_cluster_frac": NEAR_CLUSTER_FRAC,
                "planted_rejects": c.planted, "batches": c.batch_rows}

    def input_rows(self) -> int:
        return self.corpus.n_docs + sum(self.corpus.batch_rows)

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        from data_engineering_nd_datalake_project_4_spark.operators.dedup import lsh_near_dedup
        from data_engineering_nd_datalake_project_4_spark.operators.incremental import (
            build_band_store,
            incremental_lsh_dedup,
        )
        from data_engineering_nd_datalake_project_4_spark.pipelines.training_data import (
            curate_with_quarantine,
        )
        from data_engineering_nd_datalake_project_4_spark.sources.sinks import (
            write_parquet,
            write_training_shards,
        )

        corpus = self.corpus
        res = PassResult(out_dir=out)
        spans = res.extra.setdefault("spans", {})
        state = {}

        def curate():
            kept, quarantined = curate_with_quarantine(spark.read.parquet(corpus.corpus_path))
            write_parquet(kept, f"{out}/kept")
            write_parquet(quarantined, f"{out}/quarantined")

        def lsh():
            state["survivors"] = lsh_near_dedup(spark.read.parquet(f"{out}/kept"), "text", "doc_id")

        def shards():
            write_training_shards(state.pop("survivors"), f"{out}/shards", seed=self.seed)

        def band_store():
            build_band_store(spark.read.parquet(f"{out}/shards"), "text", "doc_id", f"{out}/store")

        steps = [("curate", "training_data.curate", curate, False),
                 ("lsh_near_dedup", "dedup.lsh_near_dedup", lsh, False),
                 ("write_training_shards", "sinks.write_training_shards", shards, False),
                 ("build_band_store", "incremental.build_band_store", band_store, False)]
        for i, path in enumerate(corpus.batch_paths, 1):
            def increment(i=i, path=path):
                survivors = incremental_lsh_dedup(spark, spark.read.parquet(path), "text",
                                                  "doc_id", f"{out}/store", src_batch=i)
                write_parquet(survivors, f"{out}/increment-{i}")

            steps.append((f"increment-{i}", "incremental.incremental_lsh_dedup", increment, True))

        t0 = time.perf_counter()
        for label, layer, call, is_increment in steps:
            err = None
            with tracer.span(layer) as sp:
                try:
                    call()
                except Exception as e:  # noqa: BLE001 — a failed request is counted, the pass goes on
                    err = f"{type(e).__name__}: {e}"[:300]
            spans[label] = sp
            res.requests.append(Request(label, sp.seconds, sp.seconds if is_increment else None, err))
            if err and label == "lsh_near_dedup":
                break  # later steps read its output
        res.seconds = time.perf_counter() - t0
        return res

    def output_size(self, result: PassResult) -> tuple[int, int]:
        return tree_size(result.out_dir)

    def check(self, spark, result: PassResult) -> dict[str, str]:
        c, out = self.corpus, result.out_dir
        con = duckdb.connect()
        failed: dict[str, str] = {}
        try:
            def ids(path: str) -> set[int]:
                rows = con.execute(f"SELECT doc_id FROM read_parquet('{path}/**/*.parquet')").fetchall()
                return {r[0] for r in rows}

            kept = ids(f"{out}/kept")
            quarantined = ids(f"{out}/quarantined")
            reasons = dict(con.execute(
                f"SELECT reject_reason, count(*) FROM read_parquet('{out}/quarantined/*.parquet') "
                "GROUP BY 1").fetchall())
            problems = []
            if kept & quarantined or kept | quarantined != set(range(c.n_docs)):
                problems.append("kept and quarantined do not partition the input ids")
            if reasons != c.planted:
                problems.append(f"quarantine counts {reasons} != planted {c.planted}")
            if problems:
                failed["curate"] = "; ".join(problems)

            shard_rows = con.execute(
                f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet('{out}/shards/*/*.parquet')"
            ).fetchone()
            manifest = con.execute(
                f"SELECT sum(n_docs) FROM read_json('{out}/shards/_manifest/*.json')").fetchone()[0]
            survivors = ids(f"{out}/shards")
            removed = kept - survivors
            variants = {b + k for b in c.cluster_bases for k in range(1, c.cluster_size)}
            problems = []
            if not survivors <= kept:
                problems.append("LSH survivors outside the kept set")
            if not removed <= variants:
                problems.append(f"{len(removed - variants)} removed documents are not planted copies")
            if len(removed) < 0.5 * len(variants):
                problems.append(f"removed {len(removed)} of {len(variants)} planted copies")
            if not set(c.cluster_bases) <= survivors:
                problems.append("a cluster source was removed")
            if problems:
                failed["lsh_near_dedup"] = "; ".join(problems)
            if shard_rows[0] != shard_rows[1] or manifest != shard_rows[0]:
                failed["write_training_shards"] = (
                    f"shard rows {shard_rows[0]}, distinct ids {shard_rows[1]}, manifest {manifest}")

            for i, (fresh, dropped) in enumerate(zip(c.batch_fresh, c.batch_dropped), 1):
                got = ids(f"{out}/increment-{i}")
                if got != set(fresh):
                    failed[f"increment-{i}"] = (
                        f"{len(set(fresh) - got)} fresh documents dropped, "
                        f"{len(got & set(dropped))} copies kept")
        finally:
            con.close()
        return failed

    def probe_layers(self, spark, tracer, result: PassResult) -> dict:
        """The scorer alone into a ``noop`` sink, and the LSH candidate
        pairs with their exact Jaccard, for the useful-work ratio."""
        from data_engineering_nd_datalake_project_4_spark.operators.dedup import (
            minhash_lsh_candidate_pairs,
        )
        from data_engineering_nd_datalake_project_4_spark.pipelines.training_data import score

        c, out, spans = self.corpus, result.out_dir, result.extra["spans"]
        with tracer.span("training_data.score") as sp:
            score(spark.read.parquet(c.corpus_path)).write.format("noop").mode("overwrite").save()
        score_s = sp.seconds

        kept = spark.read.parquet(f"{out}/kept")
        pairs = minhash_lsh_candidate_pairs(kept, "text", "doc_id", max_bucket_size=100).collect()
        con = duckdb.connect()
        try:
            text = dict(con.execute(
                f"SELECT doc_id, text FROM read_parquet('{out}/kept/*.parquet')").fetchall())
            n_kept = len(text)
            survived = sum(con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/increment-{i}/*.parquet')").fetchone()[0]
                for i in range(1, len(c.batch_paths) + 1))
        finally:
            con.close()
        verified = 0
        for a, b in pairs:
            sa, sb = _shingles(text[a]), _shingles(text[b])
            verified += len(sa & sb) / len(sa | sb) >= 0.5
        inc = [spans[f"increment-{i}"].seconds for i in range(1, len(c.batch_paths) + 1)]
        return {
            "training_data.score.s": score_s,
            "training_data.curate.s": spans["curate"].seconds,
            "training_data.curate.kept_frac": n_kept / c.n_docs,
            "dedup.lsh_near_dedup.s": spans["lsh_near_dedup"].seconds,
            "dedup.lsh_near_dedup.jobs": spans["lsh_near_dedup"].counts["jobs"],
            "dedup.lsh.verified_over_candidates": verified / max(len(pairs), 1),
            "incremental.build_band_store.s": spans["build_band_store"].seconds,
            "incremental.incremental_lsh_dedup.s": median(inc),
            "incremental.incremental_lsh_dedup.survivor_frac": survived / sum(c.batch_rows),
            "sinks.write_training_shards.s": spans["write_training_shards"].seconds,
        }

    @staticmethod
    def layer_metrics(passes: list[PassResult], probes: list[dict]) -> dict:
        return median_by_key(probes)
