"""The benchmark's workloads. Each workload (or part of one) has:

- ``generate(dir, seed)`` — write the seeded inputs;
- ``input_rows()`` / ``describe()`` — the stated input size and shape;
- ``run_pass(spark, tracer, out)`` — one closed-loop pass: each call into
  the program is a :class:`Request`, issued after the previous returned;
- ``check(spark, result)`` — untimed output checks: {request: failure};
- ``output_size(result)`` — (bytes, files) the pass left on disk;
- ``probe_layers(spark, tracer, result)`` — traced runs only: extra
  untimed work that isolates single layers;
- ``layer_metrics(passes, probes)`` — the per-layer metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field


@dataclass
class Request:
    """One call into the program, timed from the call until its output
    was committed (written, or handed to the caller)."""

    name: str
    seconds: float
    #: the part of ``seconds`` that is an increment over existing state
    #: (``increment_s``), or None
    increment_s: float | None = None
    error: str | None = None


@dataclass
class PassResult:
    requests: list[Request] = field(default_factory=list)
    seconds: float = 0.0
    out_dir: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return sum(r.error is not None for r in self.requests)


class Chain:
    """A workload made of parts run one after another in each pass, each
    with its own inputs, output directory, checks and layer metrics."""

    def __init__(self, name: str, *parts):
        self.name = name
        self.parts = parts

    def generate(self, d: str, seed: int) -> None:
        for p in self.parts:
            p.generate(os.path.join(d, p.name), seed)

    def describe(self) -> dict:
        return {p.name: p.describe() for p in self.parts}

    def input_rows(self) -> int:
        return sum(p.input_rows() for p in self.parts)

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        res = PassResult(out_dir=out)
        t0 = time.perf_counter()
        for p in self.parts:
            part = res.extra[p.name] = p.run_pass(spark, tracer, os.path.join(out, p.name))
            res.requests += part.requests
        res.seconds = time.perf_counter() - t0
        return res

    def check(self, spark, result: PassResult) -> dict[str, str]:
        return {k: v for p in self.parts
                for k, v in p.check(spark, result.extra[p.name]).items()}

    def output_size(self, result: PassResult) -> tuple[int, int]:
        sizes = [p.output_size(result.extra[p.name]) for p in self.parts]
        return sum(b for b, _ in sizes), sum(f for _, f in sizes)

    def probe_layers(self, spark, tracer, result: PassResult) -> dict:
        return {k: v for p in self.parts
                for k, v in p.probe_layers(spark, tracer, result.extra[p.name]).items()}

    def layer_metrics(self, passes: list[PassResult], probes: list[dict]) -> dict:
        return {k: v for p in self.parts
                for k, v in p.layer_metrics([r.extra[p.name] for r in passes], probes).items()}
