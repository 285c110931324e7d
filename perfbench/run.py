"""The repository's benchmark: one closed-loop client driving the library
at ``local[nproc]``.

    python3 perfbench/run.py --workload {sparkify_etl,llm_data}
                             --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout. It generates the workload's inputs from
the seed, times passes over them for at least ``--seconds`` seconds,
checks the outputs, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` records spans
and Spark counts around every call into the program and reports the
per-layer metrics (a layer the workload never calls reports 0). Spans,
provenance and all samples go to ``.perfbench_out/``; inputs and outputs
live in ``.perfbench_work/`` and are removed at exit.

Exit code 2 without a result line: the program or its toolchain cannot
be imported from the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sparkify_etl", "llm_data"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: a seconds-long smoke size for the self-test")
    return ap.parse_args(argv)


def _make_workload(name: str, size: str):
    full = size == "full"
    if name == "sparkify_etl":
        from perfbench.workloads.sparkify_etl import SparkifyEtl

        return SparkifyEtl(n_events=50_000 if full else 3_000, n_songs=150 if full else 30,
                           new_days=3 if full else 1)
    from perfbench.workloads import Chain
    from perfbench.workloads.corpus_curation import CorpusCuration
    from perfbench.workloads.query_mix import QueryMix

    return Chain("llm_data",
                 CorpusCuration(n_docs=2_000 if full else 600, cluster_size=8 if full else 4,
                                n_batches=2, batch_docs=200 if full else 40),
                 QueryMix(sf=0.01 if full else 0.001))


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _measure(args, spec, work: str) -> tuple[dict, dict]:
    from perfbench import harness

    wl = _make_workload(args.workload, args.size)
    width = harness.nproc()

    t0 = time.perf_counter()
    spark = harness.start_session(ROOT, work, width)
    session_start = time.perf_counter() - t0
    try:
        counters = harness.SparkCounters(spark)
        prov = harness.provenance(spark, ROOT, args.seed, width, args.workload)
        print(f"perfbench: {json.dumps(prov)}", file=sys.stderr)

        # set-up: input generation repeated (median reported); the repeats
        # must be byte-identical — the inputs are a function of the seed
        gen_s, digests = [], set()
        for r in range(SETUP_REPEATS):
            d = os.path.join(work, f"inputs-{r}")
            t = time.perf_counter()
            wl.generate(d, args.seed)
            gen_s.append(time.perf_counter() - t)
            digests.add(_tree_digest(d))
        t = time.perf_counter()
        harness.warm_session(spark)
        warm_s = time.perf_counter() - t

        tracer = harness.Tracer(bool(args.trace), counters)
        passes, probes, trace_cost = [], [], []
        gc0 = counters.gc_seconds()
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            out = os.path.join(work, f"out-{len(passes)}")
            tracer.new_trace()
            cost0 = tracer.overhead_s
            passes.append(wl.run_pass(spark, tracer, out))
            trace_cost.append(tracer.overhead_s - cost0)
            if args.trace:
                probes.append(wl.probe_layers(spark, tracer, passes[-1]))
            if len(passes) > 1:
                shutil.rmtree(passes[-2].out_dir, ignore_errors=True)
        gc_s = counters.gc_seconds() - gc0
        last = passes[-1]
        peak_rss = counters.peak_rss_mb()
        t = time.perf_counter()
        bad_outputs = wl.check(spark, last)
        check_s = time.perf_counter() - t
        out_bytes, out_files = wl.output_size(last)
        if len(digests) != 1:
            bad_outputs["setup"] = "input generation is not deterministic for this seed"
        # the set-up (deterministic inputs) counts as one operation; a
        # request of the checked pass fails once, raised or wrong
        attempted = 1 + sum(len(p.requests) for p in passes)
        failed = sum(p.failed for p in passes[:-1]) + len(
            {r.name for r in last.requests if r.error} | set(bad_outputs))
        for p in passes:
            for r in p.requests:
                if r.error:
                    print(f"perfbench: FAILED {r.name}: {r.error}", file=sys.stderr)
        for name, why in bad_outputs.items():
            print(f"perfbench: WRONG OUTPUT {name}: {why}", file=sys.stderr)

        lat = [r.seconds for p in passes for r in p.requests]
        inc = [r.increment_s for p in passes for r in p.requests if r.increment_s is not None]
        wall = harness.median([p.seconds for p in passes])
        tail_v, tail_pct = harness.tail(lat)
        e2e = {
            "setup_s": session_start + harness.median(gen_s) + warm_s,
            "wall_s": wall,
            "rows_per_s": wl.input_rows() / wall,
            "query_tail_s": tail_v,
            "out_bytes": out_bytes,
            "out_files": out_files,
        }
        layers = {m["name"]: 0 for m in spec["per_layer"]}
        if args.trace:
            layers.update(wl.layer_metrics(passes, probes))
            layers.update({
                "session.start_s": session_start,
                "jvm.gc_s": gc_s,
                "jvm.peak_rss_mb": peak_rss,
                "query_p50_s": harness.median(lat),
                "increment_s": harness.median(inc),
                "trace.wall_s": wall,
                "trace.overhead_s": harness.median(trace_cost),
            })
            trace_path = os.path.join(ROOT, ".perfbench_out",
                                      f"trace-{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path)
        record = {
            "provenance": prov,
            "passes": len(passes),
            "samples": {"request_s": lat, "increment_s": inc,
                        "pass_s": [p.seconds for p in passes],
                        "generate_s": gen_s, "warm_up_s": warm_s},
            "query_tail_percentile": tail_pct,
            "check_s": check_s,
            "input_rows": wl.input_rows(),
            "input": wl.describe(),
            "failures": bad_outputs,
        }
        line = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {},
        }
        values = layers if args.trace else e2e
        for m in spec["per_layer" if args.trace else "end_to_end"]:
            line["metrics"][m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        return line, record
    finally:
        harness.stop_session(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import data_engineering_nd_datalake_project_4_spark  # noqa: F401
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    try:
        line, record = _measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["result"] = line
    rec_path = os.path.join(ROOT, ".perfbench_out",
                            f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
