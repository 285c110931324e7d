"""Streaming CMS sketch-state maintenance (streaming.run_cms_state_stream):
bit-identical batch-equivalence vs a from-scratch build_cms, replay
idempotence via the batch-id-versioned snapshot scheme (cell SUM is NOT
idempotent — the versioning is what makes at-least-once safe), and
heavy-hitter questions answered from the streamed state alone."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators.sketches import (
    build_cms,
    cms_estimate,
    heavy_hitters_from_cms,
    merge_cms,
)
from data_engineering_nd_datalake_project_4_spark.streaming import (
    latest_snapshot_version,
    run_cms_state_stream,
)

SCHEMA = "token string, domain string"
W, D = 256, 3
#: snapshot roots as plain paths and as ``file://`` URIs
ROOT_FORMS = (str, Path.as_uri)


def _state(spark, root):
    v = latest_snapshot_version(spark, root)
    assert v is not None
    return spark.read.parquet(f"{root}/v{v}")


def _cells(df, grouped=False):
    if grouped:
        return {(r["domain"], r["row"], r["bucket"]): r["cnt"] for r in df.collect()}
    return {(r["row"], r["bucket"]): r["cnt"] for r in df.collect()}


def test_cms_stream_state_bit_identical_to_batch_build(spark, tmp_path_factory):
    # each root form in turn: a snapshot listing that misreads one
    # restarts every micro-batch from empty state
    for as_root in ROOT_FORMS:
        src = str(tmp_path_factory.mktemp("cms_src"))
        root = as_root(tmp_path_factory.mktemp("cms_snap"))
        chk = str(tmp_path_factory.mktemp("cms_chk"))

        b1 = [(f"t{i % 17}", "a") for i in range(300)] + [("hot", "a")] * 40
        spark.createDataFrame(b1, SCHEMA).coalesce(1).write.parquet(src + "/b1")
        stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731
        run_cms_state_stream(stream(), root, "token", chk, width=W, depth=D, query_name="cms_t1a")

        direct = build_cms(spark.createDataFrame(b1, SCHEMA), "token", width=W, depth=D)
        assert _cells(_state(spark, root)) == _cells(direct)

        # second feed file: the same checkpoint consumes only the delta, and
        # the state is BIT-IDENTICAL to a from-scratch build over everything
        # (cell addition is exact, not just estimate-equivalent)
        b2 = [(f"t{i % 29}", "a") for i in range(200)] + [("hot", "a")] * 25
        spark.createDataFrame(b2, SCHEMA).coalesce(1).write.parquet(src + "/b2")
        spark.catalog.refreshByPath(src)
        run_cms_state_stream(stream(), root, "token", chk, width=W, depth=D, query_name="cms_t1b")

        direct_all = build_cms(spark.createDataFrame(b1 + b2, SCHEMA), "token", width=W, depth=D)
        assert _cells(_state(spark, root)) == _cells(direct_all)

        # frequency read from state: CMS never underestimates, and at this
        # width/vocab the hot token is exact
        est = {
            r["item"]: r["est"]
            for r in cms_estimate(
                _state(spark, root),
                spark.createDataFrame([("hot",)], "token string"),
                "token",
                width=W,
                depth=D,
            ).collect()
        }
        assert est["hot"] >= 65


def test_cms_replay_overwrites_not_double_counts(spark, tmp_path_factory):
    """Cell SUM double-counts under blind re-aggregation; the sink's
    versioning makes a replayed batch recompute v<id> from the state
    BELOW its id and overwrite — replay == first run, bit-identical.
    Simulated the way a real replay happens: a fresh checkpoint over the
    same source re-fires batch 0 against the same snapshot_root."""
    src = str(tmp_path_factory.mktemp("cmsr_src"))
    root = str(tmp_path_factory.mktemp("cmsr_snap"))

    rows = [(f"t{i % 11}", "a") for i in range(150)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src + "/b1")
    stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731

    chk1 = str(tmp_path_factory.mktemp("cmsr_chk1"))
    run_cms_state_stream(stream(), root, "token", chk1, width=W, depth=D, query_name="cms_t2a")
    first = _cells(_state(spark, root))
    assert latest_snapshot_version(spark, root) == 0

    # replay: fresh checkpoint → the SAME rows fire again as batch 0,
    # recompute from "latest version below 0" (none) and overwrite v0
    chk2 = str(tmp_path_factory.mktemp("cmsr_chk2"))
    run_cms_state_stream(stream(), root, "token", chk2, width=W, depth=D, query_name="cms_t2b")
    assert latest_snapshot_version(spark, root) == 0
    assert _cells(_state(spark, root)) == first

    # the naive scheme this sink exists to avoid WOULD have doubled:
    doubled = merge_cms(_state(spark, root).unionByName(_state(spark, root)))
    assert _cells(doubled) != first


def test_grouped_heavy_hitters_from_streamed_state(spark, tmp_path_factory):
    """The 100 TB pattern end-to-end: stream maintains per-domain CMS
    cells; heavy_hitters_from_cms answers per-group top-k from the
    persisted state + a candidate vocabulary, no raw-data rescan."""
    src = str(tmp_path_factory.mktemp("cmsg_src"))
    root = str(tmp_path_factory.mktemp("cmsg_snap"))
    chk = str(tmp_path_factory.mktemp("cmsg_chk"))

    b1 = (
        [("alpha", "news")] * 30
        + [("beta", "news")] * 10
        + [("beta", "blog")] * 25
        + [("gamma", "blog")] * 5
        + [(f"noise{i}", "news") for i in range(20)]
    )
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.parquet(src + "/b1")
    stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731
    run_cms_state_stream(
        stream(), root, "token", chk, width=W, depth=D,
        group_cols=["domain"], query_name="cms_t3a",
    )
    # a later batch shifts the news leader: alpha +0, beta +35
    b2 = [("beta", "news")] * 35 + [("gamma", "blog")] * 30
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.parquet(src + "/b2")
    spark.catalog.refreshByPath(src)
    run_cms_state_stream(
        stream(), root, "token", chk, width=W, depth=D,
        group_cols=["domain"], query_name="cms_t3b",
    )

    candidates = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "item string"
    )
    top = heavy_hitters_from_cms(
        _state(spark, root), candidates, ["domain"], k=1, width=W, depth=D
    ).collect()
    winners = {r["domain"]: (r["item"], r["est"]) for r in top}
    assert winners["news"][0] == "beta" and winners["news"][1] >= 45
    assert winners["blog"][0] == "gamma" and winners["blog"][1] >= 35

    # and the state equals a from-scratch grouped build, bit-identical
    direct = build_cms(
        spark.createDataFrame(b1 + b2, SCHEMA), "token",
        width=W, depth=D, group_cols=["domain"],
    )
    assert _cells(_state(spark, root), grouped=True) == _cells(direct, grouped=True)


def test_cms_stream_empty_cold_start(spark, tmp_path_factory):
    """Empty first batch writes a valid schema'd v0; a later real batch
    merges onto it (the empty-soak shape for this sink)."""
    src = str(tmp_path_factory.mktemp("cmse_src"))
    root = str(tmp_path_factory.mktemp("cmse_snap"))
    chk = str(tmp_path_factory.mktemp("cmse_chk"))

    spark.createDataFrame([], SCHEMA).coalesce(1).write.parquet(src + "/b1")
    stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731
    run_cms_state_stream(stream(), root, "token", chk, width=W, depth=D, query_name="cms_t4a")
    assert latest_snapshot_version(spark, root) == 0
    assert _state(spark, root).count() == 0

    rows = [("x", "a")] * 12
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src + "/b2")
    spark.catalog.refreshByPath(src)
    run_cms_state_stream(stream(), root, "token", chk, width=W, depth=D, query_name="cms_t4b")
    direct = build_cms(spark.createDataFrame(rows, SCHEMA), "token", width=W, depth=D)
    assert _cells(_state(spark, root)) == _cells(direct)


def test_heavy_hitters_entirely_from_streamed_state(spark, tmp_path_factory):
    """The complete all-from-state story: BOTH the frequency cells
    (run_cms_state_stream) AND the candidate vocabulary
    (run_topk_candidate_stream) are maintained from the stream; heavy
    hitters are answered with zero raw-data rescans and match the batch
    grouped_heavy_hitters over everything consumed."""
    from data_engineering_nd_datalake_project_4_spark.operators.sketches import grouped_heavy_hitters
    from data_engineering_nd_datalake_project_4_spark.streaming import run_topk_candidate_stream

    src = str(tmp_path_factory.mktemp("hh_src"))
    cms_root = str(tmp_path_factory.mktemp("hh_cms"))
    cand_root = str(tmp_path_factory.mktemp("hh_cand"))
    chk_cms = str(tmp_path_factory.mktemp("hh_chk1"))
    chk_cand = str(tmp_path_factory.mktemp("hh_chk2"))

    b1 = (
        [("alpha", "news")] * 20
        + [("beta", "news")] * 8
        + [("gamma", "blog")] * 15
        + [(f"tail{i}", "news") for i in range(30)]
    )
    b2 = [("beta", "news")] * 25 + [("delta", "blog")] * 18
    stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731

    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(f"{src}/{name}")
        spark.catalog.refreshByPath(src)
        run_cms_state_stream(
            stream(), cms_root, "token", chk_cms, width=W, depth=D,
            group_cols=["domain"], query_name=f"hh_cms_{name}",
        )
        run_topk_candidate_stream(
            stream(), cand_root, "token", chk_cand, pool=8,
            query_name=f"hh_cand_{name}",
        )

    cand_state = _state(spark, cand_root)
    assert cand_state.count() <= 8
    # persistent head items carry EXACT totals through the merge
    cand_counts = {r["item"]: r["cnt"] for r in cand_state.collect()}
    assert cand_counts["beta"] == 33 and cand_counts["alpha"] == 20

    from_state = heavy_hitters_from_cms(
        _state(spark, cms_root), cand_state.select("item"), ["domain"],
        k=2, width=W, depth=D,
    ).collect()
    got = {(r["domain"], r["item"]): r["est"] for r in from_state}

    batch = grouped_heavy_hitters(
        spark.createDataFrame(b1 + b2, SCHEMA), "token", ["domain"],
        k=2, candidate_pool=8, width=W, depth=D,
    ).collect()
    want = {(r["domain"], r["item"]): r["est"] for r in batch}
    assert got == want


def test_candidate_stream_lossy_counting_bound(spark, tmp_path_factory):
    """The quantified lossy-counting contract (run_topk_candidate_stream
    docstring): across 24 churning micro-batches — items evicted and
    RE-ENTERING, the case simple pool-bound tests never exercise — the
    worst-case undercount vs exact counts satisfies BOTH

        undercount(x) <= sum_j theta_j        (the snapshot certificate:
                                               theta_j = min cnt of a FULL
                                               pool snapshot, else 0)
        undercount(x) <= (B/pool) * N         (the eps*N corollary)

    and cnt is one-sided (never overcounts). The churner item appears
    every 3rd batch with a small count while unique-per-batch noise
    floods the pool in between, forcing genuine evict/re-enter cycles."""
    import os

    from data_engineering_nd_datalake_project_4_spark.streaming import run_topk_candidate_stream

    src = str(tmp_path_factory.mktemp("lc_src"))
    root = str(tmp_path_factory.mktemp("lc_snap"))
    chk = str(tmp_path_factory.mktemp("lc_chk"))
    POOL, B = 8, 24

    exact: dict[str, int] = {}
    for j in range(B):
        rows = []
        # two persistent head items: always out-count everything
        rows += [("head_a", "d")] * 50 + [("head_b", "d")] * 40
        # the churner: present every 3rd batch with a small count
        if j % 3 == 0:
            rows += [("churn", "d")] * 3
        # unique-per-batch noise: 8 fresh items x 5 > churn's 3, so the
        # merge overflows the pool and evicts the churner's state
        rows += [(f"noise_{j}_{i}", "d") for i in range(8) for _ in range(5)]
        for item, _ in rows:
            exact[item] = exact.get(item, 0) + 1
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{src}/b{j:02d}"
        )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    run_topk_candidate_stream(stream, root, "token", chk, pool=POOL,
                              query_name="lc_bound")

    # every batch j produced committed snapshot v_j (one file per trigger)
    versions = sorted(
        int(d[1:]) for d in os.listdir(root)
        if d.startswith("v") and os.path.exists(f"{root}/{d}/_SUCCESS")
    )
    assert len(versions) == B

    theta_sum = 0
    for v in versions:
        snap = spark.read.parquet(f"{root}/v{v}").collect()
        if len(snap) == POOL:  # a truncation can only have dropped rows
            theta_sum += min(r["cnt"] for r in snap)

    final = {r["item"]: r["cnt"] for r in _state(spark, root).collect()}
    assert len(final) <= POOL
    N = sum(exact.values())

    worst = 0
    for item, true_cnt in exact.items():
        got = final.get(item, 0)
        assert got <= true_cnt, f"{item}: overcount {got} > {true_cnt}"
        worst = max(worst, true_cnt - got)

    # the churner genuinely churned: it re-entered after evictions, so its
    # final cnt (if present) is a strict undercount — the bound is doing
    # real work, not vacuously holding on an exact state
    assert final.get("churn", 0) < exact["churn"]
    # persistent head items stayed pooled and carry EXACT totals
    assert final["head_a"] == exact["head_a"]
    assert final["head_b"] == exact["head_b"]

    assert worst <= theta_sum, f"undercount {worst} > certificate {theta_sum}"
    assert worst <= (B / POOL) * N


def test_candidate_stream_replay_exactly_once(spark, tmp_path_factory):
    """SUM-merge double-counts under blind replay; the versioning makes a
    re-fired batch overwrite its own version — counts unchanged — and the
    next batch merges onto the replayed state."""
    from data_engineering_nd_datalake_project_4_spark.streaming import run_topk_candidate_stream

    # each root form in turn: a snapshot listing that misreads one
    # restarts every micro-batch from empty state
    for as_root in ROOT_FORMS:
        src = str(tmp_path_factory.mktemp("cr_src"))
        root = as_root(tmp_path_factory.mktemp("cr_snap"))
        rows = [("x", "a")] * 9 + [("y", "a")] * 4
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src + "/b1")
        stream = lambda: spark.readStream.schema(SCHEMA).parquet(src + "/*")  # noqa: E731

        for i in (1, 2):  # second run = fresh checkpoint = replay of batch 0
            chk = str(tmp_path_factory.mktemp(f"cr_chk{i}"))
            run_topk_candidate_stream(stream(), root, "token", chk, pool=4,
                                      query_name=f"cr_{i}")
            counts = {r["item"]: r["cnt"] for r in _state(spark, root).collect()}
            assert counts == {"x": 9, "y": 4}

        spark.createDataFrame([("y", "a")] * 6, SCHEMA).coalesce(1).write.parquet(src + "/b2")
        spark.catalog.refreshByPath(src)
        run_topk_candidate_stream(stream(), root, "token", chk, pool=4, query_name="cr_3")
        counts = {r["item"]: r["cnt"] for r in _state(spark, root).collect()}
        assert counts == {"x": 9, "y": 10}
