"""Knowledge-graph benchmark: one workload per invocation.

    python3 perfbench/run.py --workload build_pad --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md): build_pad, ingest_stream,
graphrag_query. Inputs are generated from --seed; the program under test
(``wbkg``, found next to this directory) receives only the generated inputs.
Each run starts a Spark session sized to the host, sets its inputs up,
measures for --seconds, checks the outputs against independent references
and stops every process it started.

Standard output ends with two JSON lines: a detail record (host, sample
counts and the workload-specific metrics, each with its unit) and, last, the
result ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are the per-layer metrics of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_stream", "graphrag_query")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("small", "tiny"), default="small",
                   help="input size; tiny is for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "wbkg", "__init__.py")):
        print(f"perfbench: the wbkg package is missing from {ROOT}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    # Python workers import wbkg, whatever the caller's cwd; every temp
    # file (py4j connection info, Arrow spills) stays in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    sys.path.insert(0, ROOT)

    import importlib

    from perfbench import host
    from perfbench.harness import E2E_UNITS, Context
    from perfbench.layers import Tracer, per_layer_units

    workload = importlib.import_module(f"perfbench.{args.workload}")
    host_before = host.host_info()
    heap_mb = host.heap_mb()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = host.start_spark(work_dir, heap_mb, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        # CPU of this process (SPARQL compilation, the stream's foreachBatch
        # callback and the program's driver loops run here), the JVM it
        # launched and the JVM's Python workers; peak RSS of the JVM's tree
        tree = host.ProcTree(os.getpid())
        jvm_tree = host.ProcTree(spark._jvm.ProcessHandle.current().pid())
        tracer = Tracer(spark, tree)
        ctx = Context(spark, args, work_dir, tree, tracer)
        res = workload.run(ctx)
        res.e2e["setup_s"] = session_s + res.e2e["setup_s"]
        res.e2e["peak_rss_mb"] = jvm_tree.peak_rss_mb()
        layer_metrics = tracer.report(res.untraced_wall_s) if args.trace else None
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        stop_s = time.perf_counter() - t0

    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": layer_metrics[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "host": host_before,
        "heap_mb": heap_mb,
        "phases_s": {"session": session_s, **ctx.phases, "stop": stop_s},
        "failed_ratio": res.failed / res.attempted,
        "notes": res.notes[:20],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
