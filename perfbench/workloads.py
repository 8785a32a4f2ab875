"""The workload registry and the record each workload returns.

Each workload is a module named after it with three functions:

- ``warm(ctx)``: once per process, the workload's own operations on
  inputs from another seed, until the JVM's JIT and Spark's plan caches
  stop moving the timings (measured on a 4-core host: a few loads,
  epochs or table operations are not enough).
- ``setup(ctx) -> state``: the inputs and preloaded state of this seed.
  ``run.py`` calls it several times; the last state is measured.
- ``measure(ctx, state) -> Outcome``: the timed region for
  ``ctx.seconds``, then the output checks.

``setup_s`` = session start + ``warm`` + the median ``setup``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

WORKLOADS = ("stream_ingest", "bulk_ingest", "table_serve")


@dataclass
class Outcome:
    latencies_ms: list[float]  # one sample per operation
    throughput: float  # work items completed per second
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)  # output-check failures
    layers: dict[str, float] = field(default_factory=dict)  # traced run only
    detail: dict = field(default_factory=dict)  # goes to the trace file
