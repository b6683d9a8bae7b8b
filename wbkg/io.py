"""Table IO layer — Parquet locally, Iceberg-shaped API.

The sandbox has no Iceberg runtime jar (SURVEY §7.3), so tables are Parquet
directories / session-catalog tables here; a production deployment swaps
`format("parquet")` for `writeTo(...).using("iceberg")` with the same call
shape. Includes the bucketing path for co-located joins: two tables bucketed
by the same key join WITHOUT a shuffle — at 100 TB this is the difference
between an exchange of the full mention stream and none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a bucketed (and optionally sorted) session-catalog table.
    Joins between tables bucketed by the same key on the same bucket count
    skip the exchange entirely (SortMergeJoin over pre-bucketed scans)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def bucketed_join_plan_has_no_exchange(spark: SparkSession, left: str, right: str, key: str) -> bool:
    """True when the bucketed-table join compiles without a shuffle.

    Broadcast is disabled while compiling the probe plan: the property being
    asserted is exchange-freedom when NEITHER side fits in memory (the
    100 TB case) — at toy sizes Spark would otherwise pick a
    BroadcastExchange and mask a bad bucketing."""
    import io as _io
    from contextlib import redirect_stdout

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.table(left).join(spark.table(right), key)
        buf = _io.StringIO()
        with redirect_stdout(buf):
            df.explain()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return "Exchange" not in buf.getvalue()


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE/rewrite_data_files maintenance op
    an Iceberg deployment runs): rewrite a parquet table so data files
    approach `target_file_mb`. Streaming sinks and per-batch appends leave
    thousands of small files; at 100 TB the scan's task-scheduling overhead
    and NameNode/manifest pressure come from file COUNT, not bytes.

    Rewrites via coalesce(ceil(bytes/target)) into a temp dir, then swaps via
    backup-rename (old -> __compact_backup, tmp -> live, drop backup): the
    live path always resolves to a complete table — a crash mid-swap leaves
    either the old table or the new one, never a hole (ADVICE r02). The read
    stays a single pruned scan, no shuffle. Returns the new data-file count
    (recursive, so partitioned tables count real files, not read splits)."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    size = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_tmp")
    bak_p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_backup")
    w = df.coalesce(n_files).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp_p.toString())

    # atomic-enough swap: each step is a single metadata rename; at no point
    # is the live path missing its data. A leftover __compact_backup after a
    # crash between steps 2 and 3 is garbage to collect, not data loss.
    fs.delete(bak_p, True)  # clear any stale backup from a prior crash
    if not fs.rename(hpath, bak_p):
        raise IOError(f"compact_table: could not move {path} aside")
    if not fs.rename(tmp_p, hpath):
        fs.rename(bak_p, hpath)  # roll back: restore the original table
        raise IOError(f"compact_table: could not promote compacted files for {path}")
    fs.delete(bak_p, True)
    return _count_parquet_files(fs, jvm, hpath)


def _count_parquet_files(fs, jvm, hpath) -> int:
    """Recursive *.parquet data-file count (partition dirs included)."""
    n = 0
    it = fs.listFiles(hpath, True)  # recursive RemoteIterator
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def write_jsonl(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """JSON-lines sink (one JSON object per line, the interchange format
    every LLM-data tool reads). Columnar parquet remains the performance
    path — JSONL is for handoff. gzip-codec'd so 100-TB exports do not
    10x the storage bill."""
    w = df.write.mode("overwrite").option("compression", "gzip")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines source with a REQUIRED explicit schema: schema inference
    is a full extra pass over the data (at 100 TB, a full extra scan) and
    silently widens types on dirty rows — production readers declare the
    contract. Corrupt lines land in _corrupt_record instead of failing
    the job (PERMISSIVE, Spark's default)."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — the other columnar format (Hive/Trino ecosystems).
    Same predicate-pushdown + column-pruning contract as parquet; zlib
    default codec."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Versioned snapshot write (the time-travel half of the Iceberg
    emulation): data lands in `v=<N>/` (next integer version), then a
    `_latest` pointer file flips — readers never see a half-written
    version because the pointer is the commit (same atomicity discipline
    as compact_table's staged rename). Returns the new version number."""
    import os

    os.makedirs(table_dir, exist_ok=True)
    versions = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    v = max(versions, default=0) + 1
    df.write.mode("overwrite").parquet(f"{table_dir}/v={v}")
    tmp = f"{table_dir}/_latest.tmp"
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, f"{table_dir}/_latest")
    return v


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: `version=None` follows the `_latest` pointer;
    an explicit version reads that snapshot regardless of later writes
    (the `VERSION AS OF` surface)."""
    if version is None:
        with open(f"{table_dir}/_latest") as f:
            version = int(f.read().strip())
    return spark.read.parquet(f"{table_dir}/v={version}")


def rollback_snapshot(table_dir: str, version: int) -> None:
    """Point `_latest` back at an old version (data is immutable; rollback
    is a pointer flip, exactly like Iceberg's snapshot rollback)."""
    import os

    if not os.path.isdir(f"{table_dir}/v={version}"):
        raise ValueError(f"no such version: {version}")
    tmp = f"{table_dir}/_latest.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, f"{table_dir}/_latest")
