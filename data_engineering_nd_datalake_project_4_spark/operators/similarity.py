"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the oracle-checked baseline (SURVEY.md Q30).
The scale paths are:

- :func:`ivf_topk` — IVF-style coarse quantization: assign every vector to
  its nearest of K centroids (one broadcast join), then search only the
  ``nprobe`` closest centroids' buckets. Turns O(N·Q) into O(N·Q·nprobe/K)
  with a shuffle keyed by bucket id.
- :func:`random_projection_buckets` — sign-LSH bucketing for near-dup style
  lookups.

All pure Catalyst expressions (zip_with/aggregate) — vectorized JVM-side,
no Python on the data path.

MODEL AS DATA: every model-driven kernel (nearest centroid, kmeans
assignment, PQ/IVFPQ encode, ADC LUT fan-out) reads its driver-side model
from one staged column, attached by :func:`_with_model` as a scalar
subquery over an Arrow-built ``LocalRelation``, and ``transform``s over
it. No kernel folds the model into the plan as per-double literals, so
plan size does not grow with the model and no plan-size budget or
fallback path exists.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.functions import (
    as_double_array,
    cosine_similarity,
    dot_product,
    l2_norm,
    valid_vector,
)


def _unit(vec: Column) -> Column:
    """Unit-normalize an array<float|double> column in one pass; cosine of
    unit vectors is a plain dot product. A zero-norm vector normalizes to
    all-NULL elements (``try_divide``, not an ANSI DIVIDE_BY_ZERO crash),
    so every sim against it is NULL — dropping out of thresholds and
    ranks exactly like the oracle's NULL-on-zero-divisor division."""
    vd = as_double_array(vec)
    n = l2_norm(vd)
    return F.transform(vd, lambda x: F.try_divide(x, n))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast the (small) query set against the full vector
    table — a BroadcastNestedLoopJoin-free equi-less join expressed as a
    crossJoin of the broadcast side; ranking is a window partitioned by
    query id. The big side streams through codegen once; no O(N²) shuffle.

    Output: ``query_id, neighbor_id, sim`` (double, unrounded).

    Degenerate vectors (NULL / empty / NULL-element — ``valid_vector``)
    are excluded from both sides: no cross-engine cosine exists for them
    (advembed soak), so they are neither queries nor neighbors. Pairs of
    UNEQUAL dimension are non-candidates (the raggeddim soak — a
    mid-corpus embedding-model switch leaves mixed-dim tables; cosine
    across models is undefined, Spark's zip_with would pad to a NULL sim
    while DuckDB's list functions ERROR): each query ranks only
    neighbors of its own dimension.
    """
    from data_engineering_nd_datalake_project_4_spark.operators import ensure_map_parallelism

    vectors = vectors.filter(valid_vector(F.col(vec_col)))
    queries = queries.filter(valid_vector(F.col(vec_col)))
    # the O(N·Q) scoring kernel must not run on one unsplittable partition
    vectors = ensure_map_parallelism(vectors)
    # Pre-normalize each side ONCE (O(N) + O(Q) array passes) so the O(N·Q)
    # pairwise kernel is a single dot product instead of dot + two norms.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _unit(F.col(vec_col)).alias("__qv"),
        )
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _unit(F.col(vec_col)).alias("__vv")
    )
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # same-dimension pairs only (raggeddim contract)
        .filter(F.size("__vv") == F.size("__qv"))
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("__qv"), F.col("__vv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _arrow_frame(spark, columns: dict[str, list], schema: str) -> DataFrame:
    """A driver-built frame (model rows, probe rows) as a ``LocalRelation``:
    pandas → Arrow → ``LocalTableScan``. Never ``createDataFrame(<python
    list>)`` here: that plans as ``Scan ExistingRDD``, which reruns a
    4-task job on every execution (0.40–0.53 s warm and 1.85 s cold
    against 0.13–0.21 s for the local scan, 4-core microbenchmark)."""
    import pandas as pd

    # object columns: pandas must not widen ints-with-None to float64
    pdf = pd.DataFrame({c: pd.Series(v, dtype=object) for c, v in columns.items()})
    return spark.createDataFrame(pdf, schema)


def _with_model(df: DataFrame, model: list, dtype: str) -> DataFrame:
    """Attach a driver-side model (centroids, codebooks, per-query LUTs) to
    every row as the column ``__model`` of type ``dtype``: MODEL AS DATA.

    The model is one row of a :func:`_arrow_frame` relation, read through
    a scalar subquery — evaluated once per execution, and the plan holds
    ``LocalTableScan [m]`` instead of one literal per double, so plan size
    no longer grows with the model. (A crossJoined model row would plan a
    ``BroadcastNestedLoopJoin`` instead.) Kernels ``transform`` over the
    STAGED column: Spark rejects a subquery inside a higher-order function
    (``UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.HIGHER_ORDER_FUNCTION``).
    Callers drop ``__model`` when done."""
    frame = _arrow_frame(df.sparkSession, {"m": [model]}, f"m {dtype}")
    return df.withColumn("__model", frame.scalar())


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> expressions, left to
    right (zip_with + aggregate) — the numpy-replicated kmeans/PQ metric."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _collect_centroid_model(
    centroids: DataFrame, centroid_id: str, centroid_vec: str
) -> list[tuple]:
    """``[(cid, [float, ...]), ...]`` ordered by cid — bounded driver-side
    model state (k·dim floats), the same contract as kmeans centroids and
    PQ codebooks."""
    rows = centroids.select(centroid_id, centroid_vec).collect()
    out = [(r[0], [float(x) for x in (r[1] or [])]) for r in rows]
    out.sort(key=lambda t: (t[0] is None, t[0]))
    return out


def _with_centroids(df: DataFrame, cents: list[tuple], cid_type) -> DataFrame:
    return _with_model(
        df,
        [{"c": cid, "v": cv} for cid, cv in cents],
        f"array<struct<c: {cid_type.simpleString()}, v: array<double>>>",
    )


def _nearest_centroid_keys(vec: Column) -> Column:
    """``array<struct<k,c>>`` over the staged ``__model`` centroids with
    ``k = -cosine(vec, centroid)`` (NULL → +inf): ascending struct order is
    exactly ``cosine DESC NULLS LAST, cid ASC``, so ``array_min`` is the
    nearest centroid with ties to the lowest id (zero-norm vectors
    included)."""
    return F.transform(
        F.col("__model"),
        lambda m: F.struct(
            F.coalesce(
                -cosine_similarity(vec, m["v"]), F.lit(float("inf"))
            ).alias("k"),
            m["c"].alias("c"),
        ),
    )


def _bucketize(
    vectors: DataFrame, cents: list[tuple], cid_type, vec_col: str
) -> DataFrame:
    """The map-side nearest-centroid assignment behind
    :func:`assign_ivf_buckets`, over an already-collected model."""
    from data_engineering_nd_datalake_project_4_spark.operators import ensure_map_parallelism

    vectors = vectors.filter(valid_vector(F.col(vec_col)))
    if not cents:
        # empty model (trained on zero rows): no assignments, but the
        # output schema must still carry a typed bucket column (empty soak)
        return vectors.limit(0).withColumn("bucket", F.lit(None).cast(cid_type))
    vectors = vectors.filter(F.size(F.col(vec_col)) == len(cents[0][1]))
    staged = _with_centroids(ensure_map_parallelism(vectors), cents, cid_type)
    # r14: coalesce makes `bucket` NON-NULLABLE (array_min's static
    # nullability is true), so a downstream equi-join cannot infer
    # isnotnull(bucket) and push the whole argmin into the scan filter as
    # a second evaluation (q42's before-plan carried a 38 kB filter with
    # 30 re-run aggregates). The fallback value is the first centroid id —
    # type-correct for any id type — and unreachable: every struct key is
    # coalesced to +inf, never NULL, so the min of the non-empty model
    # array is always found.
    keys = _nearest_centroid_keys(F.col(vec_col))
    return staged.withColumn(
        "bucket", F.coalesce(F.array_min(keys)["c"], F.lit(cents[0][0]))
    ).drop("__model")


def assign_ivf_buckets(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, ties to the
    lowest centroid id); adds a ``bucket`` column.

    MAP-SIDE, ONE PATH: the centroids are collected once (k·dim doubles of
    driver-side model state) and ride back as DATA — one Arrow-built
    ``LocalRelation`` row read through a scalar subquery
    (:func:`_with_model`) — and every row evaluates one ``array_min`` over
    a ``transform`` of that column. Zero shuffles, and a plan whose size
    does not grow with k. The crossJoin + row_number window shape would
    push |V|·C vector-carrying rows through a ``hashpartitioning(id)``
    exchange — exactly what the repo-wide wide-shuffle audit
    (``plans.wide_shuffle_sites``) exists to catch.

    Two traps the model row avoids: ``createDataFrame(<python list>)``
    would plan ``Scan ExistingRDD`` and rerun a job on every execution,
    and Spark rejects a subquery inside a higher-order function, so the
    ``.scalar()`` column is staged before any higher-order function
    reads it.

    Degenerate vectors (``valid_vector``) get NO bucket (row dropped):
    there is no distance to be nearest by, and the map-side argmin would
    otherwise tie-break them all into centroid 0 while the SQL twin's
    NULL-ordering does the same only by accident of NULLS placement.
    Vectors whose dimension differs from the model's (the raggeddim
    contract) are unassignable for the same reason.
    """
    cents = _collect_centroid_model(centroids, centroid_id, centroid_vec)
    return _bucketize(
        vectors, cents, centroids.schema[centroid_id].dataType, vec_col
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k: only vectors in the query's ``nprobe`` nearest
    centroid buckets are scored. Recall < 1.0 by construction; recall vs
    :func:`brute_force_topk` is property-tested, not oracle-hashed.

    Probe selection is the same model-as-data argmin as
    :func:`assign_ivf_buckets` (sort the per-centroid key array, slice
    ``nprobe`` — clamped to the trained cell count like FAISS): neither
    the corpus nor the query vectors ride a keyed shuffle anywhere in
    this plan; the only exchange is the bucket-key candidate join. The
    centroids are collected once for both sides.

    REPLAY SEMANTICS: every step is a per-ROW map/join — exact duplicate
    feed rows (at-least-once delivery) each probe and each candidate
    independently, so duplicated ids surface as duplicated result rows.
    Dedup the feed first (``dropDuplicates``) when ids may repeat;
    the q42 oracle replicates the per-row contract via the
    compute-per-distinct-then-join-back pattern (duprows soak).

    Degenerate query vectors (``valid_vector``) probe nothing; degenerate
    corpus vectors are unbucketed — both classes simply don't appear in
    the result. Off-model-dimension vectors (raggeddim) are degenerate on
    both sides too."""
    queries = queries.filter(valid_vector(F.col(vec_col)))
    cid = centroids.columns[0]
    cvec = centroids.columns[1]
    cid_type = centroids.schema[cid].dataType
    cents = _collect_centroid_model(centroids, cid, cvec)
    if not cents:
        # empty model: typed empty result (empty soak)
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType(
            [
                StructField("query_id", queries.schema[id_col].dataType),
                StructField("neighbor_id", vectors.schema[id_col].dataType),
                StructField("sim", DoubleType()),
            ]
        )
        return vectors.sparkSession.createDataFrame([], schema)
    queries = queries.filter(F.size(F.col(vec_col)) == len(cents[0][1]))
    bucketed = _bucketize(vectors, cents, cid_type, vec_col)

    probe_buckets = F.transform(
        F.slice(
            F.array_sort(_nearest_centroid_keys(F.col(vec_col))),
            1,
            min(nprobe, len(cents)),
        ),
        lambda s: s["c"],
    )
    # explode_outer: a plain explode makes InferFiltersFromGenerate add
    # `size(probe_buckets) > 0 AND isnotnull(probe_buckets)` — the full
    # k-centroid argmin re-evaluated per query row in a filter that is
    # always true (the slice of the sorted non-empty model array is never
    # empty). The outer variant gets no inferred filter; its one extra
    # NULL row per empty array cannot occur here, and the cheap isNotNull
    # on the GENERATED column (not pushable below the Generate) keeps the
    # schema contract identical.
    probes = _with_centroids(queries, cents, cid_type).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode_outer(probe_buckets).alias("bucket"),
    ).filter(F.col("bucket").isNotNull())
    cand = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv"), "bucket"
    )
    scored = (
        F.broadcast(probes)
        .join(cand, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine_similarity(F.col("__qv"), F.col("__vv")).alias("sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def random_projection_buckets(
    vectors: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
) -> DataFrame:
    """Sign-LSH bucket id (0..2^n_bits-1) from deterministic pseudo-random
    hyperplanes: plane j weight for dim i = sin((i+1)·(j+1)) — deterministic
    across engines and runs, no stored model. Adds ``rp_bucket``.
    Degenerate vectors (``valid_vector``) have no projections and no
    bucket — the row is dropped, matching the oracle's unnest."""
    vectors = vectors.filter(valid_vector(F.col(vec_col)))
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def plane_bit(j: int) -> Column:
        proj = F.aggregate(
            F.zip_with(
                vd,
                F.transform(F.sequence(F.lit(1), F.size(vd)), lambda i: F.sin(i.cast("double") * (j + 1))),
                lambda x, wgt: x * wgt,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(proj > 0, F.lit(2 ** j)).otherwise(F.lit(0))

    bucket = F.lit(0)
    for j in range(n_bits):
        bucket = bucket + plane_bit(j)
    return vectors.withColumn("rp_bucket", bucket.cast("int"))


def blocked_all_pairs_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    block_size: int = 256,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via blocked matrix multiplication.

    The scale path for exact near-duplicate detection: vectors are split
    into ordered blocks of ``block_size``; every block pair (bi ≤ bj) is
    routed to one task via cogroup, where the full sim matrix of the two
    blocks is one vectorized numpy matmul. Compared to the per-pair
    Catalyst kernel (zip_with+aggregate per row pair) this trades a
    ~B-fold row replication for dense BLAS work — O(n²·d) flops either
    way, but at matmul speed and with threshold filtering applied before
    anything leaves the task.

    Output: ``id_a, id_b, cosine`` with ``id_a < id_b`` — identical row set
    to :func:`data_engineering_nd_datalake_project_4_spark.operators.dedup.embedding_near_dup_pairs`.

    Degenerate vectors (``valid_vector``) are excluded up front: a ragged
    batch would crash ``np.stack``, and no cross-engine cosine exists for
    them anyway (advembed soak). Mixed DIMENSIONS (raggeddim soak — the
    mid-corpus model-switch drift) are handled by adding the dimension
    to the cogroup key: only same-dim block pairs ever meet a kernel, so
    every ``np.stack`` is rectangular and cross-dim pairs — whose cosine
    is undefined — are structurally non-candidates.
    """
    import pandas as pd

    df = df.filter(valid_vector(F.col(vec_col)))

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def side(prefix: str) -> DataFrame:
        # each side re-selects from df with side-specific names: a
        # self-cogroup whose children share attribute ids relies on the
        # analyzer's dedup rewrite, which intermittently delivered one side's
        # batches with rows but no data columns — distinct names sidestep it
        return df.select(
            F.col(id_col).alias(f"{prefix}id"),
            F.col(vec_col).alias(f"{prefix}v"),
            F.floor(F.col(id_col) / block_size).cast("long").alias(f"{prefix}blk"),
            F.size(F.col(vec_col)).cast("long").alias(f"{prefix}dim"),
        )

    # plan parameter (a single scalar), not data on the driver
    n_blocks = side("__l_").agg(F.max("__l_blk")).first()[0]
    if n_blocks is None:
        return df.sparkSession.createDataFrame([], out_schema)

    left = side("__l_").select(
        "__l_id",
        "__l_v",
        F.col("__l_dim").alias("__dim"),
        F.col("__l_blk").alias("__bi"),
        F.explode(F.sequence(F.col("__l_blk"), F.lit(int(n_blocks)))).alias("__bj"),
    )
    right = side("__r_").select(
        "__r_id",
        "__r_v",
        F.col("__r_dim").alias("__dim"),
        F.explode(F.sequence(F.lit(0), F.col("__r_blk"))).alias("__bi"),
        F.col("__r_blk").alias("__bj"),
    )

    def sim_block(key, l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(l) == 0 or len(r) == 0 or "__l_v" not in l.columns or "__r_v" not in r.columns:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        a = np.stack(l["__l_v"].to_numpy()).astype("float64")
        b = np.stack(r["__r_v"].to_numpy()).astype("float64")
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        b /= np.linalg.norm(b, axis=1, keepdims=True)
        sims = a @ b.T
        ia = l["__l_id"].to_numpy()[:, None]
        ib = r["__r_id"].to_numpy()[None, :]
        mask = (sims >= threshold) & (ia < ib)
        rows, cols = np.nonzero(mask)
        return pd.DataFrame(
            {
                "id_a": l["__l_id"].to_numpy()[rows],
                "id_b": r["__r_id"].to_numpy()[cols],
                "cosine": sims[rows, cols],
            }
        )

    return (
        left.groupBy("__bi", "__bj", "__dim")
        .cogroup(right.groupBy("__bi", "__bj", "__dim"))
        .applyInPandas(sim_block, out_schema)
    )


def sized_gemm_block(n_vectors: int) -> int:
    """Block-size sizing discipline for :func:`blocked_all_pairs_cosine`
    (the GEMM twin of :func:`sized_band_bits`): the exchange moves each
    vector once per partner block — total ``N²·rowbytes / (2B)`` — so
    shuffle volume is DECREASING in the block size, while per-kernel
    memory is ``8·B²`` bytes of float64 sim matrix (32 MB at the 2048
    cap) plus two ``B×d`` blocks, and task parallelism needs at least
    12 blocks. Returns the largest power of two satisfying all three:
    ``min(2048, max(256, 2^floor(log2(N/12))))``.

    At a fixed B the block-pair count grows as ``(N/B)²`` — the lane's
    block-pair growth law (``tools/bench_scale.py --gemm``). Sizing B up
    with N divides the constant but CANNOT change the law: all-pairs
    cosine is O(N²·d) by specification. At corpus scale the exact
    operator is for bounded subsets and in-bucket rescoring; corpus-wide
    near-dup routes to :func:`semantic_dedup` + :func:`sized_band_bits`.
    """
    import math

    min_blocks, floor, cap = 12, 256, 2048
    if n_vectors <= min_blocks:
        return floor
    b = 2 ** int(math.floor(math.log2(max(n_vectors / min_blocks, 1.0))))
    return max(floor, min(cap, b))


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means over an ``array<float>`` column; returns
    ``(assignments DataFrame[id, cluster], final centroids)``.

    Deterministic init: centroids = the vectors of the ``k`` smallest ids.
    Per iteration the only data-path shuffle is the centroid recompute
    (posexplode -> partial+final avg per (cluster, dim)); the assignment
    step is map-side only — the round's k centroids ride as DATA (one
    Arrow-built ``LocalRelation`` row read through a scalar subquery,
    :func:`_with_model`), each row ``transform``s the staged model column
    into k squared distances and picks argmin (first-match tie-break =
    lowest cluster, matching numpy argmin). The plan holds no per-double
    literals, so its size does not grow with k·dim. The driver holds just
    the k*d model state per round (512 doubles here), never row data — at
    100 TB the per-iteration cost is one scan + one k*dim-sized shuffle.

    Two traps the model row avoids: ``createDataFrame(<python list>)``
    would plan ``Scan ExistingRDD`` and rerun a job on every execution,
    and Spark rejects a subquery inside a higher-order function, so the
    ``.scalar()`` column is staged before any higher-order function
    reads it.

    The reference has no clustering; this is a north-star extension
    (BASELINE.json training-data ops). Non-SQL-expressible (iterative) —
    property-tested against a numpy replication instead of the DuckDB
    oracle.

    With ``iters > 1`` the (id, double-vector) training frame is
    localCheckpointed ONCE so the assignment/recompute passes read a
    materialized copy instead of re-running the scan + projection
    lineage per iteration — the standard iterative-training discipline
    (Spark MLlib caches its training set the same way). Train on a
    sample when the corpus itself is the input.

    Degenerate vectors (``valid_vector``) are excluded from training AND
    assignment: a NULL-element vector would poison centroid means (and
    the init collect), an empty one has no distance to any centroid.
    The model DIMENSION is fixed by the lowest-id valid vector
    (deterministic under any partitioning); off-dimension vectors are
    degenerate too — a mixed-dim table (raggeddim soak: mid-corpus
    model switch) trains and assigns on the reference-dim rows only,
    the FAISS d-mismatch contract.
    """
    rows = df.filter(valid_vector(F.col(vec_col))).select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    first = rows.orderBy("id").limit(1).collect()
    if first:
        dim = len(first[0]["v"])
        rows = rows.filter(F.size("v") == dim)
    if iters > 1:
        rows = rows.localCheckpoint(eager=False)
    init = rows.orderBy("id").limit(k).collect()
    centroids = [list(r["v"]) for r in init]
    if not centroids:
        # empty training input (a cold-start feed, an empty partition):
        # no model to fit — empty assignments with the contract schema,
        # empty centroid list. Found by the `empty` soak variant (the
        # k=0 literal array otherwise fails analysis as NULL-typed).
        return rows.select("id", F.lit(0).cast("int").alias("cluster")), []

    assignments = None
    for _ in range(iters):
        assigned = (
            _with_model(rows, centroids, "array<array<double>>")
            .withColumn(
                "dists", F.transform("__model", lambda c: _sq_dist(F.col("v"), c))
            )
            .withColumn(
                "cluster",
                (F.array_position(F.col("dists"), F.array_min("dists")) - 1).cast(
                    "int"
                ),
            )
            .drop("dists", "__model")
        )
        dim_means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
        )
        new_rows = (
            dim_means.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
            .collect()
        )
        new_centroids = list(centroids)  # empty clusters keep their centroid
        for r in new_rows:
            new_centroids[r["cluster"]] = list(r["centroid"])
        centroids = new_centroids
        assignments = assigned.select("id", "cluster")

    return assignments, centroids


def quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric int8 quantization of an ``array<float>`` column: per-vector
    scale = max(|x|)/127, codes = round(x/scale) in [-127, 127] stored as
    ``array<tinyint>`` (1 byte/dim at rest vs 4 — the 100 TB storage path
    for embedding tables; cosine on dequantized vectors stays within ~1e-3
    of exact for typical distributions). Zero vectors get scale 0 and
    all-zero codes. Pure Catalyst (transform/aggregate), no UDF."""
    v = as_double_array(F.col(vec_col))
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = (amax / F.lit(127.0)).alias(scale_col)
    codes = F.when(amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(v, lambda x: F.round(x / (amax / F.lit(127.0))).cast("tinyint"))
    )
    return df.withColumn(scale_col, scale).withColumn(out_col, codes)


def dequantize(qvec: Column, qscale: Column) -> Column:
    """Reconstruct an approximate double vector from int8 codes + scale."""
    return F.transform(qvec, lambda c: c.cast("double") * qscale)


def sized_band_bits(
    n_vectors: int, target_bucket_rows: int = 256, floor: int = 6
) -> int:
    """The LSH banding SIZING DISCIPLINE as a function: band_bits =
    max(floor, ceil(log2(n / target_bucket_rows))) keeps expected bucket
    occupancy — and therefore candidate-pair volume per vector — flat as
    the corpus grows (pairs per band ~ n²/2^band_bits; holding n/2^bits
    constant makes that ~n·target/2, linear).

    This is not a tuning nicety but the difference between linear and
    quadratic: the round-10 second-decade lane ran :func:`semantic_dedup`
    at a FIXED band_bits=6 from 20k to 200k vectors and the candidate set
    grew ~100× (≈1.25G pairs whose two vector-attaching rescore joins
    spilled past the machine's disk — the run died on SPILL_OUT_OF_MEMORY
    before producing a number). Fixed-key-space LSH saturates; real
    deployments (and the lane, via this helper) grow the key space
    ~log2(N). Recall at cosine c moves with bits as
    1-(1-p^bits)^bands, p = 1-acos(c)/pi — tighten ``bands`` upward when
    raising bits if per-pair recall must hold.

    n <= target (or n = 0) returns ``floor`` — small corpora keep the
    calibrated test-scale banding.
    """
    if n_vectors <= target_bucket_rows:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target_bucket_rows)))


def banded_sign_lsh_keys(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    band_bits: int = 4,
    keep_vec: bool = False,
) -> DataFrame:
    """Banded sign-LSH: ``bands`` independent ``band_bits``-bit signatures
    per vector from the same deterministic sin() hyperplane family as
    :func:`random_projection_buckets` (plane j uses weight sin((i+1)·j),
    planes numbered 1..bands*band_bits across the bands).

    Where a single 2^n_bits bucketing ANDs all the bits (recall falls
    exponentially in n_bits), banding ORs ``bands`` chances of a
    ``band_bits``-bit match — the MinHash-banding construction applied to
    the angular metric. Returns one row per (vector, band):
    ``(id_col, band, band_key)`` — 16 bytes of shuffle payload per row,
    never the vector itself.

    Sizing at scale: expected bucket size is N / 2^band_bits per band, so
    band_bits should grow ~log2(N) to hold candidate volume flat;
    recall at cosine c is 1-(1-p^band_bits)^bands with p = 1-acos(c)/pi.

    Kernel note (measured, sf0.1): the dynamic zip_with/aggregate HOF fold
    is the FASTEST correct form once the scan is spread — 0.24s warm for
    2000x64x24 planes. Driver-literal weight arrays are no faster, and
    unrolling to element_at chains is 15x SLOWER (the giant expression
    falls out of JIT-able codegen). Keep the HOF fold; it also keeps the
    strict left-to-right float order the oracle depends on.
    """
    if bands <= 0 or band_bits <= 0:
        raise ValueError(f"bands ({bands}) and band_bits ({band_bits}) must be positive")
    from data_engineering_nd_datalake_project_4_spark.operators import ensure_map_parallelism

    # degenerate vectors (valid_vector) get NO band keys: an empty array's
    # sequence(1, 0) is DESCENDING (the documented trap) and a NULL element
    # NULL-propagates the fold — neither has a cross-engine signature, so
    # the row simply emits no (band, key) pairs (semantic_dedup then keeps
    # it; the q170 store never records it)
    vectors = vectors.filter(valid_vector(F.col(vec_col)))
    # bands*band_bits interpreted higher-order aggregates per row (HOFs run
    # outside codegen) over a possibly single-row-group scan: spread first
    vectors = ensure_map_parallelism(vectors)
    # stage the double vector once; referenced by every plane projection
    # (non-cheap multi-ref, so CollapseProject leaves the staging in place)
    staged = vectors.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("__vd"))
    vd = F.col("__vd")

    def plane_proj(j: int) -> Column:  # j is 1-based plane number
        return F.aggregate(
            F.zip_with(
                vd,
                F.transform(
                    F.sequence(F.lit(1), F.size(vd)),
                    lambda i: F.sin(i.cast("double") * j),
                ),
                lambda x, wgt: x * wgt,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    band_structs = []
    for b in range(bands):
        key = F.lit(0)
        for t in range(band_bits):
            j = b * band_bits + t + 1
            key = key + F.when(plane_proj(j) > 0, F.lit(2 ** t)).otherwise(F.lit(0))
        band_structs.append(F.struct(F.lit(b).alias("band"), key.cast("int").alias("band_key")))
    # keep_vec (r13): let the staged double vector RIDE the band explode as
    # ``__vd`` — the bucket-rescore consumer needs (band, key, id, vector)
    # rows, and re-attaching the vector by an id equi-join costs a whole
    # extra corpus shuffle at scale (broadcast only at test SF); the band
    # exchange carrying vectors bands× is the operator's documented,
    # audit-whitelisted data motion either way.
    extra = [F.col("__vd")] if keep_vec else []
    return staged.select(
        F.col(id_col),
        F.explode(F.array(*band_structs)).alias("__bk"),
        *extra,
    ).select(
        id_col,
        F.col("__bk.band").alias("band"),
        F.col("__bk.band_key").alias("band_key"),
        *extra,
    )


def _bucket_removal_udf(id_col: str, threshold: float):
    """Per-bucket removal scan for :func:`semantic_dedup`'s rescore:
    inside one (band, band_key) group, find every id that has a
    SMALLER-id partner with cosine >= threshold.

    BIT-EXACT with the Catalyst cosine
    (:func:`..functions.cosine_similarity`:
    ``try_divide(dot(a,b), norm(a)*norm(b))`` with left-to-right fold
    order). Here the dot is accumulated ONE DIMENSION AT A TIME across
    the whole pair block (``acc += Vi[:,d] * Vj[:,d]``) — each pair's
    scalar sequence is the identical chain of IEEE mul/adds, and the
    norm/divide/compare are single IEEE ops — so every threshold
    comparison lands on the same side (q142's DuckDB oracle pins this).
    NaNs (NULL vector elements) and zero denominators (zero-norm vectors)
    compare False = never removed, matching try_divide's NULL.

    Pair blocks are row/column-chunked (2048²) so a pathological bucket
    cannot allocate an unbounded matrix.
    """
    import numpy as np
    import pandas as pd

    def scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf[pdf["__vd"].notna()]
        if len(pdf) < 2:
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        # mixed DIMENSIONS inside one bucket (raggeddim: LSH signatures
        # from different model dims can collide): scan each dim class
        # separately — cross-dim cosine is undefined and never removes
        # (as in cosine_similarity, where zip_with pads the shorter vector
        # with NULLs → NULL sim → threshold False, and in q142's
        # same-length guard), and per-class matrices keep np.array
        # rectangular.
        lens = pdf["__vd"].map(len)
        if lens.nunique() > 1:
            parts = [scan(pdf[lens == d]) for d in sorted(lens.unique())]
            return pd.concat(parts, ignore_index=True)
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__vd"]])
        n, dim = V.shape
        nrm = np.zeros(n)
        for d in range(dim):  # left-to-right, matching l2_norm's fold
            nrm += V[:, d] * V[:, d]
        nrm = np.sqrt(nrm)
        removed = np.zeros(n, dtype=bool)
        B = 2048
        for lo_j in range(0, n, B):
            hi_j = min(lo_j + B, n)
            for lo_i in range(0, hi_j, B):
                hi_i = min(lo_i + B, hi_j)
                acc = np.zeros((hi_i - lo_i, hi_j - lo_j))
                for d in range(dim):  # left-to-right, matching dot_product
                    acc += np.multiply.outer(V[lo_i:hi_i, d], V[lo_j:hi_j, d])
                denom = np.multiply.outer(nrm[lo_i:hi_i], nrm[lo_j:hi_j])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom == 0.0, np.nan, acc / denom)
                # strict id order (not position): duplicate-id copies
                # (at-least-once feeds) must never remove each other
                qual = (cos >= threshold) & np.less.outer(
                    ids[lo_i:hi_i], ids[lo_j:hi_j]
                )
                removed[lo_j:hi_j] |= qual.any(axis=0)
        return pd.DataFrame({id_col: pdf[id_col].iloc[removed]})

    return scan


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bands: int = 4,
    band_bits: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): a vector
    is REMOVED when some candidate with a SMALLER id has cosine similarity
    ≥ ``threshold`` — keep-earliest, so the kept set is deterministic and
    order-free.

    One blocking, one rescore:

    - Blocking: :func:`banded_sign_lsh_keys` — candidates are the pairs
      sharing any band key. Deterministic and oracle-checkable (q142's
      DuckDB oracle grades this exact path); pairs the banding misses are
      the documented approximation, tunable via bands/band_bits. It stands
      in for SemDeDup's k-means clusters, which are iterative and not
      oracle-expressible. Use :func:`blocked_all_pairs_cosine` for the
      exact variant at oracle scale.
    - Rescore: vectors ride the blocking exchange ONCE PER BAND (a
      bands-bounded, fan-out-free replication) and each bucket's pairs
      are scanned by an Arrow-batched numpy kernel
      (:func:`_bucket_removal_udf`) that replicates the Catalyst fold
      order exactly. Candidate PAIRS never carry vectors. Why this kernel
      and not a pair-set rescore (distinct the candidate pairs, re-join
      each side's vector by id): at sf10 (200k vectors, ~86M candidate
      pairs) those vector-carrying pair joins pushed ~45 GB through the
      shuffle and fell off the memory cliff — 219 s, after spilling past
      the disk at fixed banding; the bucket kernel moves ~0.4 GB and runs
      the same step in seconds. A pair appearing in several bands is
      rescored once per band — harmless (removal is an EXISTS; results
      distinct'd).

    Returns the input plus a ``sem_removed`` boolean — every row is
    accounted for (quarantine-style observability, q140 pattern).

    Scale shape: the blocking exchange carries (id, band, key, vector)
    rows — bands× the corpus, the operator's whole data motion
    (whitelisted in the wide-payload audit with the q41/q57
    bounded-replication reasoning); zero-norm vectors get NULL cosine
    (NaN in the kernel) and are never removed, matching DuckDB. Real
    deployments run threshold 0.9+ on trained embeddings; the default is
    calibrated to this repo's synthetic near-uniform vectors. Size
    ``band_bits`` with :func:`sized_band_bits` — candidate volume is
    quadratic in bucket occupancy, and a FIXED key space saturates as
    the corpus grows (the round-10 second-decade lesson).
    """
    from pyspark.sql.types import StructField, StructType

    # the vector rides the band explode (keep_vec) instead of re-attaching
    # by an id equi-join — the join broadcast only at test SF; at scale it
    # was a second corpus shuffle (by id) on top of the whitelisted
    # band-group one
    kv = banded_sign_lsh_keys(
        vectors, id_col, vec_col, bands, band_bits, keep_vec=True
    )
    out_schema = StructType([StructField(id_col, vectors.schema[id_col].dataType)])
    removed = (
        kv.groupBy("band", "band_key")
        .applyInPandas(_bucket_removal_udf(id_col, threshold), schema=out_schema)
        .distinct()
    )
    marker = removed.withColumn("__rm", F.lit(True))
    return (
        vectors.join(marker, id_col, "left")
        .withColumn("sem_removed", F.coalesce(F.col("__rm"), F.lit(False)))
        .drop("__rm")
    )


def _collect_train_sample(df: DataFrame, id_col: str, vec_col: str, n: int):
    """The ``n`` lowest-id REFERENCE-DIM vectors as a float64 matrix (None
    if empty). One limit(1) job resolves the model dimension (the
    lowest-id valid vector — the kmeans rule), then the dim filter is
    applied BEFORE the orderBy/limit so a raggeddim-heavy low-id prefix
    back-fills with later same-dim rows instead of silently shrinking the
    bounded sample below the requested ``n`` (ADVICE r11: the PQ/IVFPQ
    and kmeans training paths now implement the same dim contract the
    same way). Each pass is a TakeOrderedAndProject — a per-partition
    top-k heap, deterministic under any partitioning."""
    import numpy as np

    rows = df.filter(valid_vector(F.col(vec_col))).select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    first = rows.orderBy("id").limit(1).collect()
    if not first:
        return None
    dim = len(first[0]["v"])
    sample = rows.filter(F.size("v") == dim).orderBy("id").limit(n).collect()
    return np.array([r["v"] for r in sample], dtype=np.float64)


def _assign_numpy(X, C, block: int = 4096):
    """Argmin-squared-L2 cluster per row, row-blocked to bound the n·k·dim
    distance tensor; ties break to the lowest index (numpy argmin), the
    same rule as :func:`kmeans` / :func:`pq_encode`."""
    import numpy as np

    a = np.zeros(len(X), dtype=np.int64)
    for lo in range(0, len(X), block):
        blk = X[lo : lo + block]
        d2 = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a[lo : lo + block] = d2.argmin(axis=1)
    return a


def _lloyd_numpy(X, k: int, iters: int) -> list[list[float]]:
    """Driver-side Lloyd's on a bounded training sample: init = the first
    k rows (the k smallest ids — the sample is id-ordered), empty clusters
    keep their previous centroid. Same algorithm as the distributed
    :func:`kmeans`; only the mean's float association order differs."""
    C = X[: min(k, len(X))].copy()
    for _ in range(iters):
        a = _assign_numpy(X, C)
        for c in range(len(C)):
            mask = a == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
    return [[float(x) for x in row] for row in C]


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 5,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    vector into ``m`` contiguous subspaces and run :func:`kmeans`
    independently in each. Returns ``codebooks[s] = k`` centroids of
    ``dim/m`` floats — the ANN compression path: ``m`` bytes/vector (for
    k<=256) instead of ``4*dim``, a 32x storage cut at dim=64/m=8.

    Model state is m*k*(dim/m) = k*dim driver-side floats (same footprint
    as one k-means model). dim must divide evenly by ``m``.

    TRAINING IS A BOUNDED-SAMPLE DRIVER-SIDE STAGE (the FAISS-canonical
    shape: faiss trains quantizers on ~max_points_per_centroid·k sampled
    vectors, never the corpus): the ``256·k`` lowest-id vectors
    are collected once (one TakeOrderedAndProject job — a scalable top-k
    heap, deterministic across runs/partitionings) and all m subspace
    Lloyd's runs happen in numpy on that sample. At 100 TB this is the
    honest design — iterative full-corpus training jobs would re-scan the
    dataset iters·m times for a model whose quality saturates at a few
    thousand samples per centroid; ENCODE and SEARCH stay fully
    distributed (map-side model-as-data argmin / LUT fan-out). Same
    deterministic init (k smallest ids) and first-match argmin tie-break
    as :func:`kmeans`; only the mean's float association order differs
    (identical contract to the distributed partial+final avg — the PQ
    gates are recall/exactness properties, not centroid bits).
    """
    X = _collect_train_sample(df, id_col, vec_col, 256 * k)
    if X is None:
        return []  # empty training input: no codebooks (empty soak)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        _lloyd_numpy(X[:, s * sub : (s + 1) * sub], k, iters) for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode vectors against trained codebooks: per subspace the argmin
    squared-distance centroid index, as ``array<int>`` of length m.

    Entirely map-side: the m*k codebook centroids ride as ONE model row
    (:func:`_with_model` — data, not plan literals, so the plan does not
    grow with the model), each row evaluates m*k squared distances — no
    shuffle, no UDF. Ties break to the lowest index (array_position finds
    the first match), matching :func:`kmeans` assignment.

    Degenerate vectors (``valid_vector``) and vectors whose dimension
    differs from the model's (m·sub — the raggeddim contract, FAISS
    d-mismatch) are uncodable — the row is dropped, like
    :func:`assign_ivf_buckets`.
    """
    if not codebooks:
        # empty model (trained on zero vectors): typed empty-code column so
        # downstream schemas hold. The pass-through keeps ALL input rows —
        # the codability filters below are a property of a trained model
        # (an empty model has no dimension to be uncodable against), so
        # they must not run in this branch (ADVICE r11: filtering first
        # silently dropped rows from a non-empty df under an empty model).
        return df.withColumn(out_col, F.expr("CAST(array() AS ARRAY<INT>)"))
    dim = len(codebooks) * len(codebooks[0][0])
    df = df.filter(valid_vector(F.col(vec_col)))
    df = df.filter(F.size(F.col(vec_col)) == dim)
    return _pq_codes(df, codebooks, vec_col, out_col)


def _pq_codes(
    df: DataFrame, codebooks: list[list[list[float]]], vec_col: str, out_col: str
) -> DataFrame:
    """The UNVALIDATED PQ-encode kernel: the caller guarantees every
    ``vec_col`` value is a valid vector of the model's dimension
    (:func:`pq_encode` filters first; :func:`ivfpq_encode`'s residual is
    a zip_with of two such vectors). Re-filtering here would let
    predicate pushdown substitute the whole residual below the staging
    projections, where codegen's subexpression elimination evaluates it
    eagerly, also on rows the dim filter was about to drop.

    The distances (``__pqd``, one array per subspace) and the double-cast
    vector are STAGED as columns, so ``array_position`` and ``array_min``
    read them instead of each inlining the m·k distance computation (the
    CollapseProject trap)."""
    sub = len(codebooks[0][0])
    staged = _with_model(
        df.withColumn("__pqv", as_double_array(F.col(vec_col))),
        codebooks,
        "array<array<array<double>>>",
    ).withColumn(
        "__pqd",
        F.transform(
            "__model",
            lambda book, s: F.transform(
                book,
                lambda c: _sq_dist(F.slice(F.col("__pqv"), s * sub + 1, sub), c),
            ),
        ),
    )
    codes = F.transform(
        "__pqd", lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int")
    )
    return staged.withColumn(out_col, codes).drop("__pqv", "__pqd", "__model")


def _adc_dist(luts: Column, codes: Column, m: int) -> Column:
    """ADC estimate: ``sum_s luts[s][codes[s]]``, added in subspace order."""
    return sum(
        (
            F.element_at(F.element_at(luts, s + 1), F.element_at(codes, s + 1) + 1)
            for s in range(m)
        ),
        start=F.lit(0.0),
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    k: int = 5,
    max_queries: int = 1024,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: approximate squared
    L2 from each query to each database vector as the sum of m lookup-table
    entries ``LUT[s][code[s]]``, where ``LUT[s][c] = ||q_s - codebook[s][c]||²``
    is precomputed per query (the PQ paper's ADC estimator — queries stay
    exact, database vectors are quantized).

    Scale shape: the LUTs (m*k doubles per query) are computed on the
    driver and ride as DATA — one model row holding an array of
    (query_id, luts) structs (:func:`_with_model`: an Arrow-built
    ``LocalRelation`` read through a scalar subquery, so the plan holds a
    ``LocalTableScan`` instead of Q·m·ncodes literals and does not grow
    with the probe set or the model). The staged column is exploded
    against each code row: a single scan of the codes table fans out
    map-side to all Q queries (no per-query re-scan, no join). The scan
    reads ONLY the m-byte code column — the O(N·Q) kernel is m array
    lookups + adds per pair instead of dim multiplies, and the
    full-precision vector column never loads. Ranking is the same
    per-query top-k window. ``max_queries`` bounds the probe set (Q LUTs
    built on the driver, Q× the code rows fanned out): chunk larger ones.

    Two traps the model row avoids: ``createDataFrame(<python list>)``
    would plan ``Scan ExistingRDD`` and rerun a job on every execution,
    and Spark rejects a subquery inside a higher-order function, so the
    ``.scalar()`` column is staged before any higher-order function
    reads it.

    Output: ``query_id, neighbor_id, adc_dist`` (ascending = nearer).
    """
    from data_engineering_nd_datalake_project_4_spark.operators import ensure_map_parallelism

    if not codebooks:
        return _empty_adc_frame(codes_df, queries, id_col, query_id_col)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    # degenerate / off-model-dim query vectors have no LUT
    # (valid_vector + raggeddim contracts)
    qrows = queries.filter(
        valid_vector(F.col(query_vec_col))
        & (F.size(F.col(query_vec_col)) == m * sub)
    ).select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(F.col(query_vec_col)).alias("v"),
    ).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{len(qrows)} queries > max_queries={max_queries}: ADC builds one "
            "m*k LUT per query on the driver — chunk the probe set"
        )
    if not qrows:
        return _empty_adc_frame(codes_df, queries, id_col, query_id_col)
    model = []
    for r in qrows:
        luts = []
        for s in range(m):
            qs = r["v"][s * sub : (s + 1) * sub]
            luts.append(
                [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in codebooks[s]]
            )
        model.append({"query_id": r["query_id"], "luts": luts})
    qtype = queries.schema[query_id_col].dataType.simpleString()
    fanned = _with_model(
        ensure_map_parallelism(codes_df),
        model,
        f"array<struct<query_id: {qtype}, luts: array<array<double>>>>",
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(codes_col).alias("__codes"),
        F.explode("__model").alias("__q"),
    )
    scored = fanned.select(
        F.col("__q.query_id").alias("query_id"),
        "neighbor_id",
        _adc_dist(F.col("__q.luts"), F.col("__codes"), m).alias("adc_dist"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _empty_adc_frame(codes_df: DataFrame, queries: DataFrame, id_col: str, query_id_col: str) -> DataFrame:
    """Typed empty (query_id, neighbor_id, adc_dist) result — the ADC
    answer when the model or the probe set is empty (empty soak: a
    cold-start corpus has neither codebooks nor queries to fold)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("query_id", queries.schema[query_id_col].dataType),
            StructField("neighbor_id", codes_df.schema[id_col].dataType),
            StructField("adc_dist", DoubleType()),
        ]
    )
    return codes_df.sparkSession.createDataFrame([], schema)


def ivfpq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the FAISS-canonical IVFADC index (Jégou et al. 2011 §V):
    ``nlist`` coarse k-means centroids, then PQ codebooks over the
    RESIDUALS ``v - coarse[cell(v)]`` — residual energy is much lower than
    vector energy, so the same code budget quantizes finer than flat PQ.

    Returns ``(coarse_centroids, residual_codebooks)``. Model state is
    nlist*dim + k*dim driver-side floats. Training is the same
    bounded-sample driver-side stage as :func:`pq_train` (FAISS-canonical
    — one collect of the ``256·max(nlist, k)`` lowest-id vectors, then
    coarse Lloyd's + residual projection + per-subspace Lloyd's all in
    numpy; encode/search stay distributed).
    """
    import numpy as np

    X = _collect_train_sample(df, id_col, vec_col, 256 * max(nlist, k))
    if X is None:
        return [], []  # empty training input: no model (empty soak)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    coarse = _lloyd_numpy(X, nlist, iters)
    R = X - np.asarray(coarse)[_assign_numpy(X, np.asarray(coarse))]
    sub = dim // m
    codebooks = [
        _lloyd_numpy(R[:, s * sub : (s + 1) * sub], k, iters) for s in range(m)
    ]
    return coarse, codebooks


def ivfpq_encode(
    df: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors as (coarse cell, PQ codes of the residual). Entirely
    map-side: both model levels ride as model rows (:func:`_with_model`)
    — no shuffle, no UDF, no per-double plan literals. Output columns:
    ``ivf_cell int, pq_codes array<int>`` appended to the input.
    Degenerate vectors (``valid_vector``) and off-model-dim vectors
    (raggeddim) are uncodable — rows dropped."""
    if not coarse:
        # empty model: typed pass-through columns so downstream schemas
        # hold — ALL input rows kept (codability is a property of a trained
        # model; see pq_encode's empty branch, ADVICE r11)
        return df.withColumn("ivf_cell", F.lit(None).cast("int")).withColumn(
            "pq_codes", F.expr("CAST(array() AS ARRAY<INT>)")
        )
    df = df.filter(valid_vector(F.col(vec_col)))
    df = df.filter(F.size(F.col(vec_col)) == len(coarse[0]))
    # The coarse cell AND its centroid come from ONE array_min over
    # struct(dist, idx, centroid): lowest distance, ties to the lowest
    # index (numpy argmin), and the residual reads the winning centroid
    # straight from the struct — no index lookup that could throw. The
    # double vector and the argmin struct are STAGED (each was inlined
    # into every consumer — the CollapseProject trap). r14 (guide
    # §1.2/§2.4): ivf_cell is NON-NULLABLE via coalesce. A nullable argmin
    # made InferFiltersFromConstraints add isnotnull(ivf_cell) for the ADC
    # probe join, and predicate pushdown substituted the FULL coarse assign
    # into the scan filter (q153's before-plan: a 94 kB filter condition
    # with 44 zip_with re-evaluations per row). The -1 never surfaces on
    # rows that passed the filters above; elsewhere the struct is NULL
    # and so is the residual — nothing throws.
    staged = _with_model(
        df.withColumn("__v", as_double_array(F.col(vec_col))),
        coarse,
        "array<array<double>>",
    ).withColumn(
        "__cm",
        F.array_min(
            F.transform(
                "__model",
                lambda c, i: F.struct(
                    _sq_dist(F.col("__v"), c).alias("d"), i.alias("i"), c.alias("c")
                ),
            )
        ),
    )
    staged = (
        staged.withColumn("ivf_cell", F.coalesce(F.col("__cm.i"), F.lit(-1)))
        .withColumn("__resid", F.zip_with("__v", "__cm.c", lambda a, b: a - b))
        .drop("__v", "__cm", "__model")
    )
    return _pq_codes(staged, codebooks, "__resid", "pq_codes").drop("__resid")


#: the largest probe set :func:`ivfpq_adc_topk` takes in one call
_IVFADC_MAX_QUERIES = 1024


def ivfpq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVFADC search: each query probes its ``nprobe`` nearest coarse
    cells; within a probed cell the approximate squared L2 is the ADC sum
    over the RESIDUAL lookup table ``LUT[s][c] = ||(q - coarse[cell])_s -
    codebook[s][c]||²`` (the LUT is per (query, cell) — residuals are
    cell-relative, exactly the IVFADC estimator).

    Scale shape: the probe set (Q·nprobe rows of m·k doubles) is a
    driver-built broadcast side joined on ``ivf_cell`` — only vectors in
    probed cells are scored (the inverted-list pruning), the codes scan
    reads just the cell+code columns, and the kernel per candidate is m
    lookups + adds. Cell selection runs driver-side over the nlist coarse
    centroids (model state, not data); more than 1024 queries are refused
    (one LUT per query and probed cell is built on the driver). Output:
    ``query_id, neighbor_id, adc_dist``.
    """
    if not coarse or not codebooks:
        return _empty_adc_frame(codes_df, queries, id_col, query_id_col)
    nlist = len(coarse)
    # FAISS semantics: nprobe is clamped to nlist (probe everything). The
    # trained model can legitimately have fewer cells than the configured
    # nprobe when the corpus is tiny (k-means returns <= n_rows centroids
    # — the onerow soak shape); raising would make a valid index unusable.
    nprobe = min(nprobe, nlist)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    # degenerate / off-model-dim query vectors probe nothing
    # (valid_vector + raggeddim contracts)
    qrows = queries.filter(
        valid_vector(F.col(query_vec_col))
        & (F.size(F.col(query_vec_col)) == len(coarse[0]))
    ).select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(F.col(query_vec_col)).alias("v"),
    ).collect()
    if len(qrows) > _IVFADC_MAX_QUERIES:
        raise ValueError(
            f"{len(qrows)} queries > {_IVFADC_MAX_QUERIES}: IVFADC builds "
            "one LUT per (query, probed cell) on the driver — chunk the probe set"
        )
    if not qrows:
        return _empty_adc_frame(codes_df, queries, id_col, query_id_col)
    probe_rows = []
    for r in qrows:
        q = list(r["v"])
        cd = sorted(
            (sum((a - b) * (a - b) for a, b in zip(q, c)), ci)
            for ci, c in enumerate(coarse)
        )[:nprobe]
        for _, ci in cd:
            resid = [a - b for a, b in zip(q, coarse[ci])]
            luts = [
                [
                    sum(
                        (a - b) * (a - b)
                        for a, b in zip(resid[s * sub : (s + 1) * sub], c)
                    )
                    for c in codebooks[s]
                ]
                for s in range(m)
            ]
            probe_rows.append((r["query_id"], ci, luts))
    qtype = queries.schema[query_id_col].dataType.simpleString()
    probes = _arrow_frame(
        codes_df.sparkSession,
        {
            "query_id": [q for q, _, _ in probe_rows],
            "ivf_cell": [ci for _, ci, _ in probe_rows],
            "luts": [luts for _, _, luts in probe_rows],
        },
        f"query_id {qtype}, ivf_cell int, luts array<array<double>>",
    )
    # r14 (guide §6 / VERDICT r13 task 3): the probed-cell set is
    # driver-known — push it as an IN filter on the codes side instead of
    # relying on the join alone to drop unprobed cells. Over a PERSISTED
    # codes table this reaches the parquet scan (PushedFilters: In(ivf_cell,
    # ...)) and prunes row groups; over an inline-encoded frame it still
    # short-circuits the PQ-encode projection for rows whose coarse cell
    # is never probed. Applied only when it prunes (probed ⊂ all cells).
    probed_cells = sorted({ci for _, ci, _ in probe_rows})
    codes_side = codes_df.select(
        F.col(id_col).alias("neighbor_id"), "ivf_cell", "pq_codes"
    )
    if len(probed_cells) < nlist:
        codes_side = codes_side.filter(F.col("ivf_cell").isin(probed_cells))
    cand = F.broadcast(probes).join(codes_side, "ivf_cell")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _adc_dist(F.col("luts"), F.col("pq_codes"), m).alias("adc_dist"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rk",
    k: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Büttcher 2009) — the
    standard hybrid-retrieval combiner (lexical BM25 + embedding cosine,
    the RAG-stack default): ``rrf(d) = Σ_systems 1/(k + rank_system(d))``,
    with a system contributing 0 for documents outside its list. ``k=60``
    is the published constant.

    Determinism: each term is one exact IEEE division of integers and the
    terms are added in FIXED list order (a chained expression, not a SUM
    aggregate), so the fused score is bit-identical cross-engine. Scale
    shape: the ranking lists are top-k outputs (tiny); the fusion is
    full-outer joins on the id — at most |lists|·k rows ever move.

    Returns ``(id_col, rrf_score)`` — unsorted; callers order/limit.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    out = None
    for i, r in enumerate(rankings):
        ri = r.select(F.col(id_col), F.col(rank_col).alias(f"__rk{i}"))
        out = ri if out is None else out.join(ri, id_col, "full_outer")
    score = F.lit(0.0)
    for i in range(len(rankings)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"__rk{i}")), F.lit(0.0)
        )
    return out.select(F.col(id_col), score.alias("rrf_score"))
