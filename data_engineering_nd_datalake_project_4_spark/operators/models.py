"""ANN model persistence: train once, serve forever.

:func:`similarity.pq_train` / :func:`similarity.ivfpq_train` /
:func:`similarity.kmeans` return in-memory Python codebooks — fine for a
single job, wrong for the 100 TB operating model, where an index is
trained once (a bounded-sample driver stage) and then served by many
encode/search jobs over weeks. These helpers persist a model as a pair of
small parquet tables (the same pattern as the mergeable sketch state
tables in ``operators/sketches.py``: durable state lives in the lake,
jobs answer from state):

- ``<path>/meta.parquet`` — one row: model kind + hyperparameters
  (m, ncodes, nlist, dim).
- ``<path>/centroids.parquet`` — one row per centroid:
  ``(level, subspace, idx, centroid array<double>)`` where level is
  ``'coarse'`` (IVF cells / k-means centroids) or ``'codebook'``
  (per-subspace PQ centroids; ``subspace`` is -1 for coarse rows).

Bit-exactness: centroids are Python floats (IEEE doubles) end-to-end —
parquet DOUBLE stores them exactly, so a loaded model is the IDENTICAL
list of doubles, and every downstream result (``pq_encode``,
``pq_adc_topk``, ``ivfpq_adc_topk``, assignment cells) is bit-identical
to the freshly-trained model's. The round-trip property test pins this.

Serving contract (model as data): the encode/search kernels never fold a
model into the plan as literals. Each ships it as one row of a pandas →
Arrow ``LocalRelation``, read through a scalar subquery
(``similarity._with_model``), and ``transform``s over that staged
column — so plan size does not depend on the model. Two traps shape
this: ``createDataFrame(<python list>)`` would plan ``Scan
ExistingRDD`` and rerun a job on every execution, and a subquery inside
a higher-order function is rejected by Spark, so the ``.scalar()``
column is staged before any ``transform`` reads it.

Empty models (trained on zero vectors — the `empty` soak contract)
round-trip too: both tables are written with DECLARED schemas and read
back with declared schemas, never inference (an empty parquet dir
otherwise fails UNABLE_TO_INFER_SCHEMA — the round-7
``incremental_dedup`` lesson).

The reference has no model state at all (its ETL is stateless star-schema
builds, reference etl.py:1-281); this is north-star surface for the
training-data-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_META_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("m", IntegerType(), True),
        StructField("ncodes", IntegerType(), True),
        StructField("nlist", IntegerType(), True),
        StructField("dim", IntegerType(), True),
    ]
)

_CENTROID_SCHEMA = StructType(
    [
        StructField("level", StringType(), False),
        StructField("subspace", IntegerType(), False),
        StructField("idx", IntegerType(), False),
        StructField("centroid", ArrayType(DoubleType(), False), False),
    ]
)

_KINDS = ("kmeans", "pq", "ivfpq")


def _centroid_rows(coarse, codebooks):
    rows = []
    for i, c in enumerate(coarse or []):
        rows.append(("coarse", -1, i, [float(x) for x in c]))
    for s, book in enumerate(codebooks or []):
        for i, c in enumerate(book):
            rows.append(("codebook", s, i, [float(x) for x in c]))
    return rows


def save_model(
    spark: SparkSession,
    path: str,
    kind: str,
    *,
    coarse: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist a trained model under ``path`` (two parquet tables).

    - ``kind='kmeans'``: pass ``coarse=centroids`` (the k-means model IS
      its centroid list).
    - ``kind='pq'``: pass ``codebooks``.
    - ``kind='ivfpq'``: pass both.

    Overwrites any prior model at ``path`` (retrain-and-republish is the
    intended lifecycle). The write is two driver-sized frames — model
    state is k·dim doubles, never row data.
    """
    if kind not in _KINDS:
        raise ValueError(f"unknown model kind {kind!r}; one of {_KINDS}")
    coarse = coarse or []
    codebooks = codebooks or []
    if kind == "kmeans" and codebooks:
        raise ValueError("kmeans persists centroids only; got codebooks")
    if kind == "pq" and coarse:
        raise ValueError("pq persists codebooks only; got coarse centroids")

    dim = None
    if coarse:
        dim = len(coarse[0])
    elif codebooks:
        dim = len(codebooks) * len(codebooks[0][0])
    meta = [
        (
            kind,
            len(codebooks) or None,
            (len(codebooks[0]) if codebooks else None),
            (len(coarse) if kind == "ivfpq" else None),
            dim,
        )
    ]
    spark.createDataFrame(meta, _META_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta.parquet")
    spark.createDataFrame(
        _centroid_rows(coarse, codebooks), _CENTROID_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids.parquet")


def load_model(spark: SparkSession, path: str) -> dict:
    """Load a model persisted by :func:`save_model`.

    Returns ``{"kind", "m", "ncodes", "nlist", "dim", "coarse",
    "codebooks"}`` with ``coarse``/``codebooks`` as the exact Python
    list shapes the trainers return — drop-in for ``pq_encode`` /
    ``pq_adc_topk`` / ``ivfpq_encode`` / ``ivfpq_adc_topk`` /
    ``assign_ivf_buckets``. Declared-schema reads throughout (an empty
    model has zero centroid rows)."""
    meta = (
        spark.read.schema(_META_SCHEMA).parquet(f"{path}/meta.parquet").collect()
    )
    if len(meta) != 1:
        raise ValueError(f"model at {path!r} has {len(meta)} meta rows, want 1")
    mrow = meta[0].asDict()

    cents = (
        spark.read.schema(_CENTROID_SCHEMA)
        .parquet(f"{path}/centroids.parquet")
        # a model is a few hundred rows; sort on the driver side of a
        # collect, not with a cluster sort
        .collect()
    )
    coarse_rows = sorted(
        (r for r in cents if r["level"] == "coarse"), key=lambda r: r["idx"]
    )
    book_rows = sorted(
        (r for r in cents if r["level"] == "codebook"),
        key=lambda r: (r["subspace"], r["idx"]),
    )
    coarse = [list(r["centroid"]) for r in coarse_rows]
    codebooks: list[list[list[float]]] = []
    for r in book_rows:
        while len(codebooks) <= r["subspace"]:
            codebooks.append([])
        codebooks[r["subspace"]].append(list(r["centroid"]))

    expect_m = mrow["m"] or 0
    if len(codebooks) != expect_m or any(
        len(b) != (mrow["ncodes"] or 0) for b in codebooks
    ):
        raise ValueError(
            f"model at {path!r} is torn: meta says m={mrow['m']} "
            f"ncodes={mrow['ncodes']}, centroids table has "
            f"{[len(b) for b in codebooks]}"
        )
    if mrow["kind"] == "ivfpq" and len(coarse) != (mrow["nlist"] or 0):
        raise ValueError(
            f"model at {path!r} is torn: meta says nlist={mrow['nlist']}, "
            f"centroids table has {len(coarse)} coarse rows"
        )
    return {**mrow, "coarse": coarse, "codebooks": codebooks}


def save_kmeans_model(spark, centroids, path: str) -> None:
    save_model(spark, path, "kmeans", coarse=centroids)


def load_kmeans_model(spark, path: str) -> list[list[float]]:
    m = load_model(spark, path)
    if m["kind"] != "kmeans":
        raise ValueError(f"model at {path!r} is {m['kind']!r}, want kmeans")
    return m["coarse"]


def save_pq_model(spark, codebooks, path: str) -> None:
    save_model(spark, path, "pq", codebooks=codebooks)


def load_pq_model(spark, path: str) -> list[list[list[float]]]:
    m = load_model(spark, path)
    if m["kind"] != "pq":
        raise ValueError(f"model at {path!r} is {m['kind']!r}, want pq")
    return m["codebooks"]


def save_ivfpq_model(spark, coarse, codebooks, path: str) -> None:
    save_model(spark, path, "ivfpq", coarse=coarse, codebooks=codebooks)


def load_ivfpq_model(spark, path: str):
    m = load_model(spark, path)
    if m["kind"] != "ivfpq":
        raise ValueError(f"model at {path!r} is {m['kind']!r}, want ivfpq")
    return m["coarse"], m["codebooks"]
