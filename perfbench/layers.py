"""Outside-in per-layer tracing for the traced benchmark run.

Layers are the program's modules. The tracer wraps the public functions of
each module (rebinding them wherever a ``wbkg`` module imported them) so that
every call runs under a Spark job group named after its layer and, since
the program's DataFrames are lazy, persists and counts the result inside
that group. Each layer's work then lands in its own jobs, and the per-stage
numbers come from Spark's status store:

- job ids per group from ``statusTracker().getJobIdsForGroup``,
- stage ids from ``getJobInfo(job).stageIds``,
- stage metrics from ``sc._jsc.sc().statusStore().lastStageAttempt(sid)``.

``proc_cpu_s`` is the ``/proc`` CPU of the JVM and its Python workers
during the layer's calls: ``executorCpuTime`` leaves Python UDF time out.
Counting the inputs of a call (``rows_in``) runs under a separate job group
and outside the layer's clocks, so it is not charged to the layer.
"""

from __future__ import annotations

import contextlib
import importlib
import statistics
import sys
import threading
import time

LAYERS = (
    "extract",
    "link",
    "canonicalize",
    "materialize",
    "streaming",
    "sparql",
    "query",
    "communities",
)

# (layer, module, public functions the tracer wraps)
WRAPPED = (
    (
        "extract",
        "wbkg.extract",
        (
            "chunk_and_extract",
            "chunks_from_fused",
            "acronyms_from_fused",
            "mentions_from_fused",
            "extract_acronyms",
            "extract_mentions",
        ),
    ),
    ("extract", "wbkg.chunker", ("chunk_documents",)),
    ("link", "wbkg.link", ("link_mentions",)),
    (
        "canonicalize",
        "wbkg.canonicalize",
        (
            "build_alias_edges",
            "canonical_map",
            "incremental_canonical_map",
            "apply_canonicalization",
        ),
    ),
    (
        "materialize",
        "wbkg.materialize",
        (
            "entity_triples",
            "chunk_mention_triples",
            "chunk_node_triples",
            "metadata_triples",
            "union_distinct",
        ),
    ),
)

STAGE_METRICS = ("task_s", "jvm_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s")
LAYER_METRICS = (
    ("wall_s", "s"),
    ("task_s", "s"),
    ("jvm_cpu_s", "s"),
    ("proc_cpu_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("rows_in", "rows"),
    ("rows_out", "rows"),
    ("jobs", "count"),
    ("stages", "count"),
)
EXTRA_METRICS = (
    ("link.hit_ratio", "ratio"),
    ("materialize.dedup_ratio", "ratio"),
    ("canonicalize.alias_edges", "rows"),
    ("streaming.addbatch_ms_p50", "ms"),
    ("streaming.jobs_per_batch", "count"),
    ("streaming.files_written", "count"),
    ("sparql.plan_ms_p50", "ms"),
    ("sparql.exec_ms_p50", "ms"),
    ("communities.cooc_edges", "rows"),
    ("trace.layer_sum_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_ratio", "ratio"),
)
_MB = 1024 * 1024


def per_layer_units() -> dict:
    """Every per-layer metric name -> unit, in a fixed order."""
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS}
    units.update(EXTRA_METRICS)
    return units


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


class Tracer:
    """Per-layer job groups, clocks and counters.

    Outside ``tracing()`` every method is a cheap pass-through, so the
    workloads call the same code in timed and traced operations."""

    def __init__(self, spark, tree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.enabled = False
        self.wall = {layer: 0.0 for layer in LAYERS}
        self.proc_cpu = {layer: 0.0 for layer in LAYERS}
        self.rows_in = {layer: 0 for layer in LAYERS}
        self.rows_out = {layer: 0 for layer in LAYERS}
        self.samples: dict[str, list] = {}
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        # summed self time of every completed span, for nesting
        self._done_wall = 0.0
        self._done_cpu = 0.0
        # layer whose group a thread returns to when no call is open: a
        # stream's foreachBatch runs on its own thread, so its writes between
        # wrapped calls belong to the enclosing `streaming` span
        self.ambient: str | None = None
        self._patches: list = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(layer, layer)

    @contextlib.contextmanager
    def layer(self, name: str):
        """Span of one layer: its own job group, wall clock and /proc CPU.

        A layer is charged its self time: the span's duration minus the
        spans that completed inside it, on any thread (a stream's batches
        run on the stream's thread while the drain's span is open on the
        caller's). Spans named ``_*`` are not reported but still subtracted
        from the span around them."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        stack.append(name)
        self._set_group(name)
        t0, c0 = time.perf_counter(), self.tree.cpu_s()
        w0, p0 = self._done_wall, self._done_cpu
        try:
            yield
        finally:
            wall = time.perf_counter() - t0 - (self._done_wall - w0)
            cpu = self.tree.cpu_s() - c0 - (self._done_cpu - p0)
            with self._lock:
                self._done_wall += wall
                self._done_cpu += cpu
            if name in self.wall:
                self.wall[name] += wall
                self.proc_cpu[name] += cpu
            stack.pop()
            self._set_group(stack[-1] if stack else self.ambient)

    def current(self) -> str | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def sample(self, key: str, value: float) -> None:
        if self.enabled:
            self.samples.setdefault(key, []).append(value)

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + value

    def io(self, layer: str, rows_in: int, rows_out: int) -> None:
        """Rows into and out of a layer call made at a workload's call site."""
        if self.enabled:
            self.rows_in[layer] += rows_in
            self.rows_out[layer] += rows_out

    def rows(self, df) -> int:
        """Row count in a span and job group that no layer owns."""
        if not self.enabled:
            return df.count()
        with self.layer("_rows"):
            return df.count()

    # -- wrapping the program's public functions -----------------------------

    @contextlib.contextmanager
    def tracing(self):
        """Trace the operations run inside: wrap the program's public
        functions and record spans."""
        self._wrap_all()
        self.enabled = True
        try:
            yield
        finally:
            self.enabled = False
            self._unwrap_all()

    def _wrap_all(self) -> None:
        for layer, modname, names in WRAPPED:
            module = importlib.import_module(modname)
            for name in names:
                self._rebind(getattr(module, name), self._wrapper(layer, name, getattr(module, name)))

    def _rebind(self, orig, new) -> None:
        for modname, module in list(sys.modules.items()):
            if not (modname == "wbkg" or modname.startswith("wbkg.")) or module is None:
                continue
            for attr, val in list(vars(module).items()):
                if val is orig:
                    setattr(module, attr, new)
                    self._patches.append((module, attr, orig))

    def _unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def _wrapper(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if tracer.current() == layer:  # nested call inside its own layer
                out = fn(*args, **kwargs)
                if name == "build_alias_edges":
                    tracer._materialize(layer, name, out, count_only=True)
                return out
            rows_in = sum(tracer.rows(a) for a in list(args) + list(kwargs.values()) if _is_df(a))
            with tracer.layer(layer):
                out = fn(*args, **kwargs)
                if _is_df(out):
                    out = tracer._materialize(layer, name, out)
            tracer.rows_in[layer] += rows_in
            if name == "union_distinct":
                tracer.count("materialize.union_in", rows_in)
            return out

        traced.__wrapped__ = fn
        return traced

    def _materialize(self, layer: str, name: str, out, count_only: bool = False):
        out = out.persist()  # persist() returns the same object: attributes survive
        n = out.count()
        if not count_only:
            self.rows_out[layer] += n
        if name == "build_alias_edges":
            self.count("canonicalize.alias_edges", n)
        elif name == "union_distinct":
            self.count("materialize.union_out", n)
        elif name == "link_mentions":
            from pyspark.sql import functions as F

            self.count("link.mentions", n)
            self.count("link.hits", self.rows(out.filter(F.col("qid").isNotNull())))
        return out

    # -- reading Spark's status store ----------------------------------------

    def stage_totals(self, layer: str) -> dict:
        from py4j.protocol import Py4JJavaError

        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(layer)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(STAGE_METRICS, 0.0)
        n_stages = 0
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage no longer in the store
                continue
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            n_stages += 1
            tot["task_s"] += s.executorRunTime() / 1e3
            tot["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            tot["spill_mb"] += s.diskBytesSpilled() / _MB
            tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["jobs"] = len(jobs)
        tot["stages"] = n_stages
        return tot

    def report(self, untraced_wall_s: float) -> dict:
        """Every per-layer metric over the traced operations (zeros for
        layers this workload does not run), plus ratios and the tracing
        overhead: the layers' summed wall time against the wall time of
        the same work untraced."""
        out = {}
        layer_sum = 0.0
        for layer in LAYERS:
            tot = self.stage_totals(layer)
            tot["wall_s"] = self.wall[layer]
            tot["proc_cpu_s"] = self.proc_cpu[layer]
            tot["rows_in"] = self.rows_in[layer]
            tot["rows_out"] = self.rows_out[layer]
            layer_sum += self.wall[layer]
            for m, _u in LAYER_METRICS:
                out[f"{layer}.{m}"] = tot[m]
        c, s = self.counts, self.samples

        def ratio(a, b):
            return c.get(a, 0) / c[b] if c.get(b) else 0.0

        def p50(key):
            return statistics.median(s[key]) if s.get(key) else 0.0

        streaming_batches = c.get("streaming.batches", 0)
        out.update(
            {
                "link.hit_ratio": ratio("link.hits", "link.mentions"),
                "materialize.dedup_ratio": ratio("materialize.union_out", "materialize.union_in"),
                "canonicalize.alias_edges": c.get("canonicalize.alias_edges", 0),
                "streaming.addbatch_ms_p50": p50("streaming.addbatch_ms"),
                "streaming.jobs_per_batch": (
                    len(self.sc.statusTracker().getJobIdsForGroup("streaming")) / streaming_batches
                    if streaming_batches
                    else 0.0
                ),
                "streaming.files_written": c.get("streaming.files_written", 0),
                "sparql.plan_ms_p50": p50("sparql.plan_ms"),
                "sparql.exec_ms_p50": p50("sparql.exec_ms"),
                "communities.cooc_edges": c.get("communities.cooc_edges", 0),
                "trace.layer_sum_s": layer_sum,
                "trace.untraced_wall_s": untraced_wall_s,
                "trace.overhead_ratio": (
                    layer_sum / untraced_wall_s - 1.0 if untraced_wall_s else 0.0
                ),
            }
        )
        return out
