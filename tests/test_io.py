from pyspark.sql import functions as F

from wbkg.io import bucketed_join_plan_has_no_exchange, write_bucketed, write_table


def test_write_read_partitioned(spark, tmp_path):
    df = spark.range(100).withColumn("part", F.col("id") % 4)
    p = str(tmp_path / "t")
    write_table(df, p, partition_by=["part"])
    back = spark.read.parquet(p)
    assert back.count() == 100
    # partition pruning: reading one partition scans one directory
    assert back.filter("part = 2").count() == 25


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        mentions = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), F.lit("x").alias("label"))
        write_bucketed(mentions, "b_mentions", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed(dim, "b_dim", ["k"], n_buckets=8, sort_cols=["k"])
        assert bucketed_join_plan_has_no_exchange(spark, "b_mentions", "b_dim", "k")
        joined = spark.table("b_mentions").join(spark.table("b_dim"), "k")
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_mentions")
        spark.sql("DROP TABLE IF EXISTS b_dim")


def test_compact_table(spark, tmp_path):
    """Many small files -> one compaction pass -> near-target file count,
    identical rows."""
    from pyspark.sql import functions as F

    from wbkg.io import compact_table

    path = str(tmp_path / "frag")
    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.mode("overwrite").parquet(path)  # 64 tiny files
    before = {(r.id, r.v) for r in spark.read.parquet(path).collect()}

    n_files = compact_table(spark, path, target_file_mb=256)
    assert n_files <= 2  # ~80KB of data -> one target-size file
    after = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_compact_table_partitioned_and_atomic(spark, tmp_path):
    """Partitioned compaction returns the real data-file count (recursive),
    and the swap leaves no backup/tmp dirs behind."""
    import os

    from wbkg.io import compact_table

    path = str(tmp_path / "frag_part")
    df = spark.range(10000).withColumn("part", F.col("id") % 3).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.mode("overwrite").partitionBy("part").parquet(path)
    before = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}

    n_files = compact_table(spark, path, target_file_mb=256, partition_by=["part"])
    # one coalesced input split fanned into 3 partition dirs -> >=3 real files,
    # but far fewer than the 48 fragments written above
    assert 3 <= n_files <= 6
    got = sum(
        f.endswith(".parquet")
        for root, _, files in os.walk(path)
        for f in files
    )
    assert got == n_files  # count is real files, not read splits
    assert {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()} == before
    siblings = os.listdir(os.path.dirname(path))
    assert not [s for s in siblings if "__compact" in s]  # no leftover tmp/backup


def test_schema_evolution_merge_read(spark, tmp_path):
    """A long-lived table gains a column: old files lack it, new files
    carry it — mergeSchema reads both generations with nulls backfilled,
    and the narrow read (without the new column) still prunes to the old
    schema. The Iceberg-evolution behavior this layer emulates."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(p + "/gen=1")
    spark.createDataFrame(
        [(2, "b", 9.0)], "id long, x string, score double"
    ).write.parquet(p + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p + "/gen=*")
    rows = {r.id: (r.x, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.0)}
    # column pruning still reaches the scan on the merged schema
    assert merged.select("id").columns == ["id"]


def test_jsonl_roundtrip_explicit_schema(spark, tmp_path):
    """JSONL sink/source: content round-trips exactly under the declared
    schema (no inference pass), including unicode and nulls."""
    from wbkg.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "héllo wörld", None), (2, None, 3.5), (3, "tab\tnewline\n", -0.0)],
        "doc_id long, text string, score double",
    )
    p = str(tmp_path / "jl")
    write_jsonl(df, p)
    back = read_jsonl(spark, p, "doc_id long, text string, score double")
    assert back.schema == df.schema
    a = {r.doc_id: (r.text, r.score) for r in df.collect()}
    b = {r.doc_id: (r.text, r.score) for r in back.collect()}
    assert a == b


def test_jsonl_corrupt_line_is_permissive(spark, tmp_path):
    """A malformed line must not fail the read — it lands as nulls with
    the raw line in _corrupt_record."""
    import gzip
    import os

    from wbkg.io import read_jsonl

    p = str(tmp_path / "jl2")
    os.makedirs(p, exist_ok=True)
    with gzip.open(p + "/part-0.json.gz", "wt") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("NOT JSON AT ALL\n")
    back = read_jsonl(
        spark, p, "doc_id long, text string, _corrupt_record string"
    ).collect()
    good = [r for r in back if r.doc_id == 1]
    bad = [r for r in back if r.doc_id is None]
    assert good[0].text == "ok" and len(bad) == 1
    assert bad[0]._corrupt_record.startswith("NOT JSON")


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC round-trips the documents table and the scan honors predicate
    pushdown (PushedFilters in the formatted plan)."""
    from wbkg.io import read_orc, write_orc

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "orc")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert back.count() == df.count()
    assert {f.name: f.dataType for f in back.schema} == {
        f.name: f.dataType for f in df.schema
    }
    plan = (
        back.filter("n_chars > 100")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_chars" in plan


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    from wbkg.io import read_snapshot, rollback_snapshot, write_snapshot

    t = str(tmp_path / "snap")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, x string"), t
    )
    v2 = write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, x string"), t
    )
    assert (v1, v2) == (1, 2)
    assert read_snapshot(spark, t).count() == 2          # latest
    assert read_snapshot(spark, t, version=1).count() == 1  # VERSION AS OF
    rollback_snapshot(t, 1)
    assert read_snapshot(spark, t).count() == 1          # pointer flipped
    assert read_snapshot(spark, t, version=2).count() == 2  # data immutable
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rollback_snapshot(t, 99)
