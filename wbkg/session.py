"""SparkSession factory with scale-oriented defaults.

Configs chosen for the 100 TB target (and harmless at test scale):
- AQE on (runtime coalesce, skew-join split) — the linking join's probe side
  is Zipf-skewed (hub surfaces like "World Bank"), cf. SURVEY.md §4.4.
- Arrow on — every heavy operator is a pandas UDF; Arrow batching is the
  JVM<->Python transfer path.
- shuffle partitions sized to cores locally; on a real cluster this is set
  per-job (or left to AQE coalescing from a high initial value).
"""

from __future__ import annotations

import itertools
import os
import threading

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "wbkg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # parse local[N] for a sensible shuffle-partition default
    if shuffle_partitions is None:
        try:
            n = master.split("[", 1)[1].rstrip("]")
            shuffle_partitions = cpus if n == "*" else max(int(n), 4)
        except (IndexError, ValueError):
            shuffle_partitions = 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("WBKG_DRIVER_MEM", "8g"))
        # pin the initial heap to the max: on a big benchmark heap, GC-driven
        # uncommit/re-expansion between runs adds tens-of-seconds page-fault
        # noise to whichever run happens to re-grow it (observed 25s..46s for
        # the identical warm pipeline); irrelevant at the 8g default.
        # ReservedCodeCacheSize=512m: Spark codegen emits enough classes at
        # canonical-bench scale to stress the 240m default; the reservation
        # is virtual and harmless otherwise. WBKG_PRETOUCH=1 (bench sets it)
        # adds AlwaysPreTouch, moving the big-heap page-fault storm (~700s
        # of sys jiffies measured during the first canonical run) to session
        # startup, off the measured path.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('WBKG_DRIVER_MEM', '8g')}"
            " -XX:ReservedCodeCacheSize=512m"
            + (
                " -XX:+AlwaysPreTouch"
                if os.environ.get("WBKG_PRETOUCH") == "1"
                else ""
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/wbkg_warehouse")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Python rows + a DDL schema -> a DataFrame whose plan leaf is a
    LocalRelation: the rows cross to the JVM once, as Arrow, and every scan
    of the frame runs in the JVM. createDataFrame(<python list>, ddl) plans
    a Python-RDD LogicalRDD instead, whose every scan runs Python tasks.
    The one rule for a table built on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)


_LONG_MAX = (1 << 63) - 1
# the cuts made so far in the seminaive round running on this thread
_ROUND = threading.local()


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """df.localCheckpoint(eager) whose size estimate restarts: the one rule
    for cutting a plan's lineage. A checkpoint keeps its origin plan's
    Statistics, and the size-only estimator multiplies the children's sizes
    at every inner or outer join, so through a loop of checkpointed joins
    the estimate compounds into a BigInt of thousands of digits and
    planning stalls in BigInteger.multiply. An origin estimate above
    Long.MaxValue is dropped (the leaf falls back to the default size);
    one that fits is kept, so a small checkpoint still plans a static
    broadcast. The new leaf is the same LogicalRDD over the same
    checkpointed RDD, with the same output partitioning and ordering."""
    cp = df.localCheckpoint(eager)
    leaf = cp._jdf.logicalPlan()
    args = leaf.otherCopyArgs()  # (session, originStats, originConstraints)
    stats = args.apply(1)
    if not (stats.isEmpty() or stats.get().sizeInBytes() <= _LONG_MAX):
        jvm = cp.sparkSession._jvm
        leaf = leaf.copy(
            leaf.output(), leaf.rdd(), leaf.outputPartitioning(), leaf.outputOrdering(),
            leaf.isStreaming(), leaf.stream(), args.apply(0), jvm.scala.Option.apply(None),
            args.apply(2),
        )
        cp = DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(args.apply(0), leaf),
                       cp.sparkSession)
    made = getattr(_ROUND, "cuts", None)
    if made is not None:
        made.append(cp)
    return cp


def _cut_rdd(df: DataFrame):
    """The checkpointed RDD behind a cut (or a projection of one)."""
    return df._jdf.queryExecution().analyzed().collectLeaves().head().rdd()


def release(*dfs: DataFrame) -> None:
    """Free the executor blocks behind materialized cuts (or projections of
    one) that nothing still reads: their rows cannot be recomputed."""
    for df in dfs:
        _cut_rdd(df).unpersist(False)


def _stored(df: DataFrame) -> bool:
    """Whether every partition of the cut behind df is in the block store,
    so reading it no longer reads what its plan read."""
    rdd = _cut_rdd(df)
    master = rdd.context().env().blockManager().master()
    block = df.sparkSession._jvm.org.apache.spark.storage.RDDBlockId
    return all(master.contains(block(rdd.id(), i)) for i in range(rdd.getNumPartitions()))


def seminaive(seed: DataFrame, expand, merge=DataFrame.unionByName,
              max_rounds: int | None = None, cadence: int = 1) -> tuple[DataFrame, bool]:
    """The one frontier loop -> (total, converged). `seed` is cut and is
    the first total and frontier. Round r (from 1) cuts new =
    expand(frontier, total, r) and probes it once with its RDD's isEmpty
    (no job on a cut without partitions, where Dataset.isEmpty runs one);
    an empty probe ends the loop, converged. Otherwise total becomes
    merge(total, new), new the frontier, and total is re-cut every
    `cadence` rounds; the loop ends unconverged after max_rounds (None:
    no bound).

    Release: the cuts made during rounds (by the driver, expand, merge or
    what they call) are superseded by the next re-cut of total and are
    released after a probe once that re-cut is stored in full, so no lazy
    cut still reads them — even when, on an empty probe, AQE planned away
    a join whose stage was still computing the re-cut. The returned total
    and what it reads are never released. Storage stays bounded when
    expand reads all of total and no cut made in a round outlives it
    other than through total."""
    total = frontier = cut(seed)
    held, stale = [total], []
    outer = getattr(_ROUND, "cuts", None)
    for rnd in itertools.count(1) if max_rounds is None else range(1, max_rounds + 1):
        _ROUND.cuts = held
        try:
            new = cut(expand(frontier, total, rnd))
            empty = _cut_rdd(new).isEmpty()
            if stale and _stored(held[0]):
                release(*stale)
                stale = []
            if empty:
                release(new)
                return total, True
            total, frontier = merge(total, new), new
            if rnd % cadence == 0:
                total = cut(total)
                stale, held = stale + held[:-1], [total]
        finally:
            _ROUND.cuts = outer
    return total, False
