"""Product quantization (pq_train / pq_encode / pq_adc_topk): exactness on
in-codebook vectors, code-range invariants, and recall against exact L2 —
the PQ estimator is approximate by construction (declared rows-only, like
IVF/kmeans), so the gates are properties, not a DuckDB twin."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.catalog import load_table
from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
    pq_adc_topk,
    pq_encode,
    pq_train,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def codebooks(emb):
    return pq_train(emb, m=4, k=8, iters=3)


def test_pq_train_shape(codebooks):
    assert len(codebooks) == 4
    assert all(len(cb) == 8 for cb in codebooks)
    assert all(len(c) == 16 for cb in codebooks for c in cb)


def test_pq_encode_codes_in_range(emb, codebooks):
    codes = pq_encode(emb, codebooks).select("pq_codes").collect()
    for r in codes:
        assert len(r.pq_codes) == 4
        assert all(0 <= c < 8 for c in r.pq_codes)


def test_pq_train_rejects_indivisible_dim(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=5)


def test_pq_adc_exact_on_in_codebook_vectors(spark, codebooks):
    # vectors assembled FROM codebook centroids quantize losslessly, so the
    # ADC estimate equals the true squared L2 and top-k matches numpy exactly
    rng = np.random.default_rng(7)
    vecs = {}
    for vid in range(20):
        picks = [int(rng.integers(0, len(codebooks[s]))) for s in range(4)]
        vecs[vid] = np.concatenate([np.asarray(codebooks[s][p]) for s, p in enumerate(picks)])
    df = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    codes = pq_encode(df, codebooks)
    got = pq_adc_topk(codes, df.filter(F.col("vec_id") < 3), codebooks, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.adc_dist))
    for qid in range(3):
        q = vecs[qid]
        exact = sorted(
            ((nid, float(((q - v) ** 2).sum())) for nid, v in vecs.items() if nid != qid),
            key=lambda t: (t[1], t[0]),
        )[:5]
        assert [n for n, _ in by_q[qid]] == [n for n, _ in exact]
        for (gn, gd), (_, ed) in zip(by_q[qid], exact):
            assert gd == pytest.approx(ed, abs=1e-9)


def test_pq_adc_recall_vs_exact_l2(emb, codebooks):
    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    queries = emb.filter(F.col("vec_id") < 5)
    codes = pq_encode(emb, codebooks)
    got = pq_adc_topk(codes, queries, codebooks, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for qid in range(5):
        q = vecs[qid]
        exact = sorted(
            ((float(((q - v) ** 2).sum()), nid) for nid, v in vecs.items() if nid != qid)
        )[:10]
        exact_ids = {nid for _, nid in exact}
        recalls.append(len(by_q[qid] & exact_ids) / 10)
    # synthetic near-uniform vectors are PQ's worst case (observed ~0.28
    # at m=4/k=8; 0.44 at m=16/k=16); the gate is a regression floor far
    # above chance (10/499 ~= 0.02), robust to testdata regeneration —
    # not a quality claim
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_pq_adc_caps_query_fanout(emb, codebooks):
    codes = pq_encode(emb, codebooks)
    with pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(codes, emb, codebooks, k=3, max_queries=10)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_size_does_not_grow_with_the_model(spark):
    """Model as data: centroids, codebooks and ADC LUTs ride as one
    LocalRelation row read through a scalar subquery, never as one plan
    literal per double — so the executed plan of assign_ivf_buckets,
    pq_encode and pq_adc_topk is the same size for a small and a large
    model: k=8 vs k=256 centroids, and 2 vs 300 ADC queries at the
    FAISS-typical m=16/ncodes=256 (300·16·256 doubles, past the 2^20
    literal budget the folded design needed). Planned, never executed."""
    from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
        assign_ivf_buckets,
    )

    dim = 16
    vecs = spark.createDataFrame(
        [(i, [float((i * 5 + d) % 7) for d in range(dim)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )

    def centroids(k):
        return spark.createDataFrame(
            [(c, [float((c + d) % 11) for d in range(dim)]) for c in range(k)],
            "centroid_id long, centroid array<double>",
        )

    def books(m, k, sub):
        return [
            [[float((s + c + j) % 13) for j in range(sub)] for c in range(k)]
            for s in range(m)
        ]

    def grows(small, large):
        return abs(len(_executed_plan(large)) - len(_executed_plan(small)))

    assert grows(
        assign_ivf_buckets(vecs, centroids(8)),
        assign_ivf_buckets(vecs, centroids(256)),
    ) < 512
    assert grows(
        pq_encode(vecs, books(4, 8, 4)), pq_encode(vecs, books(4, 256, 4))
    ) < 512

    m, ncodes = 16, 256
    queries = spark.createDataFrame(
        [(i, [float(i % 7)] * m) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    codes = spark.createDataFrame([(0, [0] * m)], "vec_id long, pq_codes array<int>")
    adc_books = books(m, ncodes, 1)
    assert grows(
        pq_adc_topk(codes, queries.filter(F.col("vec_id") < 2), adc_books, k=3),
        pq_adc_topk(codes, queries, adc_books, k=3),
    ) < 512


def test_adc_model_frames_are_local_scans(emb, codebooks):
    """The driver-built probe frame of ivfpq_adc_topk and pq_adc_topk's LUT
    row go through Arrow into a LocalRelation (LocalTableScan), never
    createDataFrame(<python list>)'s Scan ExistingRDD, which reruns a
    job on every execution."""
    from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_encode,
        ivfpq_train,
    )

    coarse, cbs = ivfpq_train(emb, nlist=4, m=4, k=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 3)
    outs = [
        ivfpq_adc_topk(ivfpq_encode(emb, coarse, cbs), queries, coarse, cbs, k=3),
        pq_adc_topk(pq_encode(emb, codebooks), queries, codebooks, k=3),
    ]
    for out in outs:
        assert out.count() > 0
        plan = _executed_plan(out)
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan, plan


class TestIvfPq:
    """IVFADC (coarse cells + residual PQ): exactness on constructible
    vectors, probe pruning, recall floor vs exact L2."""

    @pytest.fixture(scope="class")
    def model(self, emb):
        from data_engineering_nd_datalake_project_4_spark.operators.similarity import ivfpq_train

        return ivfpq_train(emb, nlist=4, m=4, k=8, iters=3)

    def test_encode_shape(self, emb, model):
        from data_engineering_nd_datalake_project_4_spark.operators.similarity import ivfpq_encode

        coarse, cbs = model
        codes = ivfpq_encode(emb, coarse, cbs).select("ivf_cell", "pq_codes").collect()
        for r in codes:
            assert 0 <= r.ivf_cell < 4
            assert len(r.pq_codes) == 4
            assert all(0 <= c < 8 for c in r.pq_codes)

    def test_adc_exact_on_constructible_vectors(self, spark, model):
        # vector = coarse centroid + per-subspace residual codebook entries
        # → residual quantizes losslessly → ADC distance == true squared L2
        from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
            ivfpq_adc_topk,
            ivfpq_encode,
        )

        coarse, cbs = model
        rng = np.random.default_rng(11)
        vecs = {}
        for vid in range(16):
            ci = int(rng.integers(0, len(coarse)))
            resid = np.concatenate(
                [np.asarray(cbs[s][int(rng.integers(0, len(cbs[s])))]) for s in range(4)]
            )
            vecs[vid] = np.asarray(coarse[ci]) + resid
        df = spark.createDataFrame(
            [(vid, [float(x) for x in v]) for vid, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )
        codes = ivfpq_encode(df, coarse, cbs)
        got = ivfpq_adc_topk(
            codes, df.filter(F.col("vec_id") < 2), coarse, cbs,
            k=4, nprobe=len(coarse),
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.adc_dist))
        for qid in range(2):
            q = vecs[qid]
            exact = sorted(
                ((nid, float(((q - v) ** 2).sum())) for nid, v in vecs.items() if nid != qid),
                key=lambda t: (t[1], t[0]),
            )[:4]
            # a constructible vector may still ENCODE into a different cell
            # than the one it was built from (nearest coarse centroid wins),
            # but with every cell probed the ADC estimate is exact
            assert [n for n, _ in by_q[qid]] == [n for n, _ in exact]
            for (gn, gd), (_, ed) in zip(by_q[qid], exact):
                assert gd == pytest.approx(ed, abs=1e-9)

    def test_probe_pruning_subsets_candidates(self, emb, model):
        from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
            ivfpq_adc_topk,
            ivfpq_encode,
        )

        coarse, cbs = model
        codes = ivfpq_encode(emb, coarse, cbs)
        qs = emb.filter(F.col("vec_id") < 3)
        full = ivfpq_adc_topk(codes, qs, coarse, cbs, k=1000, nprobe=len(coarse))
        pruned = ivfpq_adc_topk(codes, qs, coarse, cbs, k=1000, nprobe=1)
        nf, np_ = full.count(), pruned.count()
        assert 0 < np_ < nf  # nprobe=1 scores strictly fewer candidates

    def test_recall_floor_vs_exact(self, emb, model):
        from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
            ivfpq_adc_topk,
            ivfpq_encode,
        )

        coarse, cbs = model
        rows = emb.collect()
        vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
        codes = ivfpq_encode(emb, coarse, cbs)
        got = ivfpq_adc_topk(
            codes, emb.filter(F.col("vec_id") < 5), coarse, cbs, k=10,
            nprobe=len(coarse),
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = []
        for qid in range(5):
            q = vecs[qid]
            exact = sorted(
                ((float(((q - v) ** 2).sum()), nid) for nid, v in vecs.items() if nid != qid)
            )[:10]
            recalls.append(len(by_q[qid] & {nid for _, nid in exact}) / 10)
        # same regression-floor philosophy as the flat-PQ gate: far above
        # the ~0.02 chance level on PQ-worst-case uniform vectors
        assert sum(recalls) / len(recalls) >= 0.15, recalls

    def test_nprobe_clamps_to_nlist(self, emb, model):
        # FAISS semantics: nprobe > nlist probes every cell — identical to
        # nprobe=nlist, never an error (a tiny corpus can train fewer
        # cells than the configured nprobe; the onerow soak shape)
        from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
            ivfpq_adc_topk,
            ivfpq_encode,
        )

        coarse, cbs = model
        codes = ivfpq_encode(emb, coarse, cbs)
        q = emb.limit(3)
        clamped = ivfpq_adc_topk(codes, q, coarse, cbs, k=5, nprobe=99)
        full = ivfpq_adc_topk(codes, q, coarse, cbs, k=5, nprobe=len(coarse))
        rows = lambda df: sorted(  # noqa: E731
            (r["query_id"], r["neighbor_id"], r["adc_dist"]) for r in df.collect()
        )
        assert rows(clamped) == rows(full)


def test_ivfpq_encode_ansi_never_raises_on_degenerate_rows(spark):
    """ANSI on, over a frame mixing valid, degenerate (NULL / empty /
    NULL-element) and off-dimension vectors: encoding and searching never
    raise (no index lookup is left for an eagerly evaluated or pushed-down
    copy of the kernel to throw on), degenerate and off-dim rows are
    dropped, and every valid row gets the numpy cell of its nearest coarse
    centroid and a residual equal to ``v - coarse[cell]``: each codebook
    entry i IS valid row i's residual subvector, so row i encodes to
    [i, i] exactly when its residual is right."""
    from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_encode,
    )

    rng = np.random.default_rng(5)
    dim, m, sub = 8, 2, 4
    C = rng.normal(size=(3, dim))
    V = rng.normal(size=(12, dim))
    cells = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    R = V - C[cells]
    books = [
        [[float(x) for x in r[s * sub : (s + 1) * sub]] for r in R] for s in range(m)
    ]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(V)] + [
        (100, None),
        (101, []),
        (102, [1.0, None] + [0.0] * (dim - 2)),
        (103, [1.0] * (dim // 2)),
        (104, [1.0] * (dim + 4)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse = [[float(x) for x in c] for c in C]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        enc = ivfpq_encode(df, coarse, books)
        got = {r.vec_id: (r.ivf_cell, list(r.pq_codes)) for r in enc.collect()}
        ivfpq_adc_topk(enc, df, coarse, books, k=3, nprobe=2).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == {i: (int(cells[i]), [i, i]) for i in range(len(V))}


def test_mixed_dimension_model_contract(spark):
    """raggeddim (r11): PQ/IVFPQ fix their dimension at train time (the
    lowest-id valid vector); off-dim vectors are uncodable and off-dim
    queries probe nothing — the FAISS d-mismatch contract, without the
    ragged np crash."""
    from pyspark.sql import functions as F

    from data_engineering_nd_datalake_project_4_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_encode,
        ivfpq_train,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rows = [
        (i, [float((i * 7 + k) % 11) - 5.0 for k in range(8 if i % 4 == 3 else 16)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cbs = pq_train(emb, m=4, k=4, iters=2)          # dim 16 (vec 0's)
    assert len(cbs) == 4 and len(cbs[0][0]) == 4
    codes = pq_encode(emb, cbs)
    coded_ids = {r["vec_id"] for r in codes.select("vec_id").collect()}
    assert all(i % 4 != 3 for i in coded_ids)       # dim-8 rows uncodable
    out = pq_adc_topk(codes, emb.filter(F.col("vec_id").isin(0, 3)), cbs, k=3)
    qids = {r["query_id"] for r in out.collect()}
    assert qids == {0}                               # dim-8 query ignored

    coarse, rcbs = ivfpq_train(emb, nlist=2, m=4, k=4, iters=2)
    icodes = ivfpq_encode(emb, coarse, rcbs)
    assert all(
        r["vec_id"] % 4 != 3 for r in icodes.select("vec_id").collect()
    )
    iout = ivfpq_adc_topk(
        icodes, emb.filter(F.col("vec_id").isin(0, 3)), coarse, rcbs, k=3
    )
    assert {r["query_id"] for r in iout.collect()} == {0}
