"""ingest_stream: many small parquet files of short documents (weight 1),
drained by an ``availableNow`` ``stream_extract_edges`` with a fixed
``maxFilesPerTrigger``. Every micro-batch runs the unfused extract, link,
incremental canonicalization and entity-triple layers and writes edges and
canonical-map state, so the fixed per-batch cost dominates and extraction
does little work.

Set-up writes the documents as parquet files with pyarrow and builds the
entity dictionary and extraction patterns. One operation is one drain of
all the files into fresh output and checkpoint directories; drains repeat
until --seconds have passed. The metrics cover the run's first drain only,
whatever the number of drains: the whole drain for the write metric (its
first micro-batch pays the JVM's warm-up), and the micro-batches after the
first one, the steady state a long-running stream sees, for the
per-operation metrics. The operation is one triple written, so the
per-operation time is the inverse of the ingest throughput. Every
drain's distinct edge set must equal the oracle's entity-triple subset, in
as many batches as the files ask for.
"""

from __future__ import annotations

import os
import time

from perfbench import refs
from perfbench.harness import Result, p50

SIZES = {"small": (24, 6), "tiny": (8, 4)}  # (documents, files)
FILES_PER_TRIGGER = 2
POLL_S = 0.05


def _parquet_files(path: str) -> int:
    return sum(1 for _d, _s, files in os.walk(path) for f in files if f.endswith(".parquet"))


def write_docs(n: int, seed: int, n_files: int, dest: str) -> None:
    """Set-up: the seeded documents as `n_files` parquet files, written with
    pyarrow so that set-up runs no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from wbkg.schemas import DOCUMENTS_INTERLEAVED
    from wbkg.synth import gen_doc

    schema = to_arrow_schema(DOCUMENTS_INTERLEAVED)
    rows = [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in (gen_doc(i, n, seed) for i in range(n))]
    os.makedirs(dest)
    per_file = -(-n // n_files)
    for f in range(n_files):
        table = pa.Table.from_pylist(rows[f * per_file:(f + 1) * per_file], schema)
        pq.write_table(table, os.path.join(dest, f"part-{f:05d}.parquet"))


def drain(ctx, in_dir: str, out_dir: str, ckpt: str, edict, pats) -> dict:
    """One drain. Polls the query so that wall and /proc CPU are read as
    each micro-batch completes."""
    from wbkg.streaming import stream_extract_edges

    tracer, tree = ctx.tracer, ctx.tree
    marks = []  # (wall, cpu) when each micro-batch was seen complete
    tracer.ambient = "streaming"
    try:
        with tracer.layer("streaming"):
            t0, c0 = time.perf_counter(), tree.cpu_s()
            q = stream_extract_edges(
                ctx.spark, in_dir, out_dir, ckpt, edict, pats,
                max_files_per_trigger=FILES_PER_TRIGGER,
            )
            while not q.awaitTermination(POLL_S):
                seen = len(q.recentProgress)
                if seen > len(marks):
                    marks += [(time.perf_counter(), tree.cpu_s())] * (seen - len(marks))
            end = (time.perf_counter(), tree.cpu_s())
    finally:
        tracer.ambient = None
    all_progress = q.recentProgress
    marks += [end] * (len(all_progress) - len(marks))
    data = [i for i, p in enumerate(all_progress) if p.get("numInputRows", 0) > 0]
    progress = [all_progress[i] for i in data]
    marks = [marks[i] for i in data]
    for p in progress:
        tracer.sample("streaming.addbatch_ms", p["durationMs"].get("addBatch", 0))
    tracer.count("streaming.batches", len(progress))
    tracer.count(
        "streaming.files_written",
        sum(_parquet_files(d) for d in (out_dir, ckpt + "_cmap_state", ckpt + "_alias_state")),
    )
    per_batch = {
        r["batch_id"]: r["count"]
        for r in ctx.spark.read.parquet(out_dir).groupBy("batch_id").count().collect()
    }
    return {
        "dir": out_dir,
        "traced": tracer.enabled,
        "wall": end[0] - t0,
        "cpu": end[1] - c0,
        "marks": marks,
        "trigger_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
        "rows": [per_batch.get(p["batchId"], 0) for p in progress],
        "docs": [p["numInputRows"] for p in progress],
    }


def run(ctx) -> Result:
    from wbkg import synth
    from wbkg.extract import build_pattern_rows

    spark, tracer = ctx.spark, ctx.tracer
    n, n_files = SIZES[ctx.size]

    in_dir = ctx.path("input")
    with ctx.phase("setup"):
        t0 = time.perf_counter()
        write_docs(n, ctx.seed, n_files, in_dir)
        edict = synth.entity_dict_df(spark, n).persist()
        edict.count()
        pats = build_pattern_rows(synth.build_entity_dict_rows(n), synth.build_unbis_rows())
        setup_s = time.perf_counter() - t0
    drains = iter(range(1_000_000))

    def op():
        i = next(drains)
        d = drain(ctx, in_dir, ctx.path(f"edges{i}"), ctx.path(f"ckpt{i}"), edict, pats)
        ctx.release()
        edict.persist()
        return d

    with ctx.phase("measure"):
        ops = ctx.timed_loop(op)
    extra, untraced_s = [], ops[0]["wall"]
    if ctx.trace:
        with ctx.phase("trace"):
            extra.append(op())  # warm and untraced: the traced drain's baseline
            untraced_s = extra[0]["wall"]
            with tracer.tracing():
                extra.append(op())
                tracer.io("streaming", n, sum(extra[-1]["rows"]))

    with ctx.phase("check"):
        want = refs.entity_triples(n, ctx.seed, weight=1)
        notes, failed = [], 0
        expected_batches = -(-n_files // FILES_PER_TRIGGER)
        for o in ops + extra:
            got = refs.edge_set(spark.read.parquet(o["dir"]).distinct())
            if got != want:
                failed += 1
                notes.append("streamed edge set differs from the oracle: " + refs.diff_note(got, want))
            # a traced drain reads each batch's input again to count it
            docs = sum(o["docs"]) // (2 if o["traced"] else 1)
            if len(o["trigger_s"]) != expected_batches or docs != n:
                failed += 1
                notes.append(
                    f"drain read {docs} docs in {len(o['trigger_s'])} batches,"
                    f" want {n} in {expected_batches}"
                )

    # steady state: the first drain's batches after its first one, from the
    # first batch's completion to the last one's
    first = ops[0]
    (w0, c0), (w1, c1) = first["marks"][0], first["marks"][-1]
    wall, cpu = w1 - w0, c1 - c0
    rows, docs = sum(first["rows"][1:]), sum(first["docs"][1:])
    return Result(
        e2e={
            "setup_s": setup_s,
            "write_cpu_s": first["cpu"],
            # the operation is one triple written
            "op_ms": wall / rows * 1e3,
            "op_cpu_ms": cpu / rows * 1e3,
        },
        detail={
            "drain_s": (first["wall"], "s"),
            "batch_p50_s": (p50(first["trigger_s"][1:]), "s"),
            "first_batch_s": (first["trigger_s"][0], "s"),
            "triples_per_s": (rows / wall, "triples/s"),
            "triples_per_cpu_s": (rows / cpu, "triples/cpu_s"),
            "ingest_docs_per_s": (docs / wall, "docs/s"),
            "steady_batch_ms": (wall / (len(first["marks"]) - 1) * 1e3, "ms"),
            "steady_batches": (len(first["marks"]) - 1, "count"),
            "rows_written": (sum(first["rows"]), "triples"),
            "distinct_triples": (len(want), "triples"),
            "docs": (n, "docs"),
            "drains": (len(ops), "count"),
        },
        attempted=len(ops) + len(extra),
        failed=failed,
        notes=notes,
        untraced_wall_s=untraced_s,
    )
