"""What every workload shares: its context, its result and the timed loop."""

from __future__ import annotations

import contextlib
import dataclasses
import os
import statistics
import time

E2E_UNITS = {
    "setup_s": "s",
    "write_cpu_s": "s",
    "op_ms": "ms",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MB",
}


class Context:
    """What a workload gets: the session, its inputs' seed and size, the
    measurement window, the tracer and a private scratch directory."""

    def __init__(self, spark, args, work_dir, tree, tracer):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.tree = tree
        self.tracer = tracer
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, for the detail record."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def path(self, *parts) -> str:
        return os.path.join(self.work_dir, *parts)

    def timed_loop(self, op) -> list:
        """Run `op` back to back until --seconds have passed (at least once)."""
        out, deadline = [], time.perf_counter() + self.seconds
        while not out or time.perf_counter() < deadline:
            out.append(op())
        return out

    def release(self) -> None:
        """Drop every cached block and collect the JVM heap, so the next
        operation does not inherit this one's garbage."""
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()


@dataclasses.dataclass
class Result:
    e2e: dict  # end-to-end metric -> value; setup_s is the set-up after session start
    detail: dict  # workload-specific metric -> (value, unit)
    attempted: int
    failed: int
    notes: list
    untraced_wall_s: float = 0.0  # the traced work's wall time without tracing


def p50(xs) -> float:
    return statistics.median(xs)


def p90(xs) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]
