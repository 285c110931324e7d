"""Tiny-size self-test of the benchmark itself:

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``run.py --size tiny``
untraced and traced, and checks that the last stdout line is the result
object with exactly its four keys, that the outputs were correct, and
that every end-to-end (untraced) or per-layer (traced) metric of
``BENCHMARK.json`` is there, once, with its unit and a finite value —
end-to-end values also nonzero. Last, it copies only ``BENCHMARK.json``
and the benchmark's directories into an empty directory and checks that
the benchmark exits nonzero there without printing a result. Exit code
0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    return subprocess.run(
        [*command, "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False)


def check_result(proc: subprocess.CompletedProcess, wanted: list[dict]) -> list[str]:
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    try:
        line = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return [f"last stdout line is not JSON: {lines[-1:]}"]
    problems = []
    if sorted(line) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(line)}")
    if line.get("correct") is not True or line.get("failed") != 0:
        problems.append(f"outputs wrong: correct={line.get('correct')} failed={line.get('failed')}")
    if not isinstance(line.get("attempted"), int) or line["attempted"] < 1:
        problems.append(f"attempted {line.get('attempted')}")
    metrics = line.get("metrics", {})
    if sorted(metrics) != sorted(m["name"] for m in wanted):
        problems.append(f"metric names differ: {sorted(set(metrics) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            continue
        value = got.get("value")
        if got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')} != {m['unit']}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            problems.append(f"{m['name']}: value {value!r}")
        elif "bound" in m and value == 0:
            problems.append(f"{m['name']}: end-to-end value is 0")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            problems = check_result(_run(ROOT, w["name"], trace), spec[key])
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAILED'}")
            failures += [f"{w['name']} trace={trace}: {p}" for p in problems]

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, spec["workloads"][0]["name"], 0)
        ok = proc.returncode != 0 and not proc.stdout.strip()
        print(f"benchmark alone, without the program: {'ok' if ok else 'FAILED'}")
        if not ok:
            failures.append(f"without the program: exit {proc.returncode}, stdout {proc.stdout!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
