"""The query mix: interactive analytics over the catalog tables, the second
part of the ``llm_data`` workload.

One registry query from each of five groups, each timed from
its ``spark_fn()`` call — which runs the query's eager driver-side work:
model fits, iterative rounds, collects — through a ``noop`` sink. Every
query runs once, its first call in the session, as an analyst's ad-hoc
query would. The mix's first query is always ``q02``; the seed permutes
the rest. Driver-side builds and Catalyst dominate; the sink is trivial.
The tables are fixed — generated from ``TABLE_SEED`` at ``sf`` with the
schemas and value distributions of the sf0.1 testdata — so the benchmark
seed changes the order, not how much work a query does (an IVF or
PageRank build iterates a data-dependent number of rounds).

In the traced run a query is three spans: ``build`` (``spark_fn``),
``plan`` (``executedPlan``) and ``exec``, where ``exec`` is
``plans.observed_shuffle_bytes``: one execution of that planned query
through an RDD count, whose shuffle metrics it then reads.

Checks: each result matches its registry DuckDB oracle under
``tests/oracle_util.compare`` (the strict canonical-string comparison);
a query without an oracle must return rows.
"""

from __future__ import annotations

import random
import time

from perfbench import gen
from perfbench.workloads import PassResult, Request

TABLE_SEED = 42

#: (group, registry name, tables read)
QUERIES = (
    ("relational", "q02", ("lineitem",)),
    ("ann", "q42_ivf_topk", ("embeddings",)),
    ("iterative", "q158_pagerank", ("lineitem", "orders")),
    ("text", "q58_training_curation", ("documents",)),
    ("python", "q146_image_phash", ("embeddings",)),
)
GROUPS = ("relational", "ann", "iterative", "text", "python")
#: queries also reported one by one in the traced run, and what of them
PER_QUERY = {"q42": ("build_s", "plan_kb"), "q158": ("build_s", "jobs")}


class QueryMix:
    name = "query_mix"

    def __init__(self, sf: float):
        self.sf = sf
        self.rows: dict[str, int] = {}
        self.order: list[tuple] = []

    def generate(self, d: str, seed: int) -> None:
        self.dir = d
        self.rows = gen.query_tables(d, TABLE_SEED, self.sf)
        rest = list(QUERIES[1:])
        random.Random(seed).shuffle(rest)
        self.order = [QUERIES[0], *rest]

    def describe(self) -> dict:
        return {"sf": self.sf, "table_rows": self.rows,
                "order": [name for _, name, _ in self.order]}

    def input_rows(self) -> int:
        """Rows of the tables each query reads, summed over the queries."""
        return sum(self.rows[t] for _, _, tables in self.order for t in tables)

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        from data_engineering_nd_datalake_project_4_spark import plans
        from data_engineering_nd_datalake_project_4_spark.queries import REGISTRY

        res = PassResult(out_dir=out)
        built, layers = res.extra.setdefault("dfs", {}), res.extra.setdefault("layers", {})
        t0 = time.perf_counter()
        for group, name, _ in self.order:
            err = None
            with tracer.span(f"queries.{group}") as sp:
                try:
                    with tracer.span(f"queries.{group}.build") as b:
                        df = REGISTRY[name].spark_fn(spark, self.dir)
                    built[name] = df
                    if tracer.enabled:
                        with tracer.span(f"queries.{group}.plan") as p:
                            plan = df._jdf.queryExecution().executedPlan().toString()
                        with tracer.span(f"queries.{group}.exec") as e:
                            shuffle = plans.observed_shuffle_bytes(df)
                        layers[name] = {
                            "build_s": b.seconds, "plan_s": p.seconds, "exec_s": e.seconds,
                            "plan_kb": len(plan) / 1024, "shuffle_bytes": shuffle["written"],
                            **{k: b.counts[k] + p.counts[k] + e.counts[k]
                               for k in ("jobs", "stages", "tasks")},
                            "build_jobs": b.counts["jobs"],
                        }
                    else:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as ex:  # noqa: BLE001 — a failed query is counted, the pass goes on
                    err = f"{type(ex).__name__}: {ex}"[:300]
            res.requests.append(Request(name, sp.seconds, None, err))
        res.seconds = time.perf_counter() - t0
        return res

    def check(self, spark, result: PassResult) -> dict[str, str]:
        from data_engineering_nd_datalake_project_4_spark.queries import oracle_sql
        from tests.oracle_util import compare, duck_con

        oracles, con = oracle_sql(), duck_con(self.dir)
        failed = {}
        try:
            for name, df in result.extra["dfs"].items():
                try:
                    if name in oracles:
                        compare(df, con, oracles[name])
                    elif not df.collect():
                        raise AssertionError("no rows")
                except Exception as e:  # noqa: BLE001 — every query is checked
                    failed[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            con.close()
        return failed

    def output_size(self, result: PassResult) -> tuple[int, int]:
        return 0, 0  # the noop sink leaves nothing on disk

    def probe_layers(self, spark, tracer, result: PassResult) -> dict:
        return {}

    @staticmethod
    def layer_metrics(passes: list[PassResult], probes: list[dict]) -> dict:
        layers = passes[-1].extra["layers"]
        out = {}
        for g in GROUPS:
            names = [n for grp, n, _ in QUERIES if grp == g and n in layers]
            for k in ("build_s", "plan_s", "exec_s", "jobs", "stages", "tasks",
                      "shuffle_bytes", "plan_kb"):
                out[f"queries.{g}.{k}"] = sum(layers[n][k] for n in names)
        for name, layer in layers.items():
            short = name.split("_")[0]
            for k in PER_QUERY.get(short, ()):
                out[f"queries.{short}.{k}"] = layer["build_jobs" if k == "jobs" else k]
        return out
