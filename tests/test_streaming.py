import os

from pyspark.sql import functions as F

from wbkg.extract import build_pattern_rows
from wbkg.streaming import stream_extract_edges, windowed_event_counts
from wbkg.synth import build_entity_dict_rows, build_unbis_rows, entity_dict_df, gen_documents_df


def test_stream_matches_batch(spark, tmp_path):
    """availableNow stream over the corpus produces the same C6 entity edges
    as the batch pipeline."""
    n = 12
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    gen_documents_df(spark, n, partitions=4).write.parquet(in_dir)

    edict = entity_dict_df(spark, n)
    pats = build_pattern_rows(build_entity_dict_rows(n), build_unbis_rows())

    q = stream_extract_edges(spark, in_dir, out_dir, ckpt, edict, pats)
    q.awaitTermination(300)

    got = {
        (r.subj, r.pred, r.obj)
        for r in spark.read.parquet(out_dir).select("subj", "pred", "obj").distinct().collect()
    }

    # batch reference
    from wbkg.canonicalize import apply_canonicalization, canonical_map
    from wbkg.chunker import chunk_documents
    from wbkg.extract import extract_acronyms, extract_mentions
    from wbkg.link import link_mentions
    from wbkg.materialize import entity_triples

    docs = spark.read.parquet(in_dir)
    chunks = chunk_documents(docs)
    acr = extract_acronyms(chunks)
    mentions = extract_mentions(chunks, acr, pats)
    linked = link_mentions(mentions, edict)
    lc = apply_canonicalization(linked, canonical_map(edict, acr, linked))
    want = {(r.subj, r.pred, r.obj) for r in entity_triples(lc).collect()}
    assert got == want

    # restart with same checkpoint: no new input -> no new output files rows
    n_before = spark.read.parquet(out_dir).count()
    q2 = stream_extract_edges(spark, in_dir, out_dir, ckpt, edict, pats)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_before


def test_windowed_agg_on_real_stream(spark, tmp_path):
    """Actual readStream over the driver events parquet: watermarked window
    agg, complete mode to a memory sink, equal to the batch aggregation."""
    import shutil

    # the file-stream source needs a directory of files
    src_dir = str(tmp_path / "events_in")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir)
    batch_df = spark.read.parquet(src_dir)
    stream_df = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    q = (
        windowed_event_counts(stream_df)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window"]["start"], r["event_type"]): (r["cnt"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r["window"]["start"], r["event_type"]): (r["cnt"], round(r["total_value"], 6))
        for r in windowed_event_counts(batch_df).collect()
    }
    assert got == want and len(got) > 0


def test_windowed_event_counts_batch_shape(spark):
    """The watermark+window agg compiles and aggregates correctly (executed
    on a static frame; same plan runs on a stream)."""
    ev = spark.createDataFrame(
        [("2026-01-01 00:01:00", "click", 1.0), ("2026-01-01 00:02:00", "click", 2.0),
         ("2026-01-01 00:07:00", "view", 5.0)],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    out = windowed_event_counts(ev).collect()
    by_type = {r.event_type: (r.cnt, r.total_value) for r in out}
    assert by_type["click"] == (2, 3.0)
    assert by_type["view"] == (1, 5.0)


def test_cross_batch_canonicalization(spark, tmp_path):
    """ADVICE r01: a surface in a LATER batch whose acronym expansion was
    defined in an EARLIER batch must inherit the expansion's QID via the
    persisted canonical-map state (two availableNow drains = two batches;
    the second query reads the map back from parquet)."""
    _cross_batch_case(spark, tmp_path)


def test_cross_batch_canonicalization_dataframe_path(spark, tmp_path, monkeypatch):
    """The same two drains when no map or batch fits the driver bound: every
    batch takes the DataFrame path (incremental_canonical_map over the
    parquet state, distributed connected components)."""
    import wbkg.canonicalize as cz

    monkeypatch.setattr(cz, "LOCAL_CC_THRESHOLD", 0)
    _cross_batch_case(spark, tmp_path)


def _cross_batch_case(spark, tmp_path):
    from wbkg.materialize import WD

    in_dir = str(tmp_path / "in2")
    out_dir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(in_dir, exist_ok=True)

    def doc(doc_id, text):
        return (doc_id, [{"kind": "text", "text": text, "media_ref": "", "offset": 0}])

    schema = "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>"
    edict = spark.createDataFrame(
        [("Q9900", "world trade organization", "org", "World Trade Organization", False, None)],
        "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
    )
    pats = [("world trade organization", "DICT_ORG", "Q9900")]

    # batch 1: defines the acronym next to the linked expansion
    spark.createDataFrame(
        [doc("DA", "The World Trade Organization (WTO) met today.")], schema
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "f1"))
    q1 = stream_extract_edges(
        spark, in_dir + "/f*", out_dir, ckpt, edict, pats, max_files_per_trigger=1
    )
    q1.awaitTermination(120)

    # batch 2 (separate drain): re-defines WTO against an expansion variant
    # that is NOT in the dictionary — batch-local canonicalization would
    # leave both surfaces unlinked; the batch-1 alias edge
    # (wto <-> world trade organization <-> Q9900) must flow through state
    spark.createDataFrame(
        [doc("DB", "World Trade Org (WTO) officials met again.")], schema
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "f2"))
    q2 = stream_extract_edges(
        spark, in_dir + "/f*", out_dir, ckpt, edict, pats, max_files_per_trigger=1
    )
    q2.awaitTermination(120)

    edges = spark.read.parquet(out_dir)
    db_objs = {
        r.obj for r in edges.filter(F.col("subj").contains("document/DB")).collect()
    }
    # both batch-2 surfaces ('wto' and the dictionary-free variant 'world
    # trade org') inherited Q9900 through the batch-1 alias edges
    assert f"{WD}Q9900" in db_objs
    assert not any("world_trade_org" in o for o in db_objs)


def test_streaming_sink_idempotent_on_replay(spark, tmp_path):
    """Simulated at-least-once replay: re-running the same batch_ids must not
    duplicate rows (overwrite into batch_id-keyed partition)."""
    in_dir = str(tmp_path / "in3")
    out_dir = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    gen_documents_df(spark, 6, partitions=2).write.parquet(in_dir)
    edict = entity_dict_df(spark, 6)
    pats = build_pattern_rows(build_entity_dict_rows(6), build_unbis_rows())

    q = stream_extract_edges(spark, in_dir, out_dir, ckpt, edict, pats, max_files_per_trigger=1)
    q.awaitTermination(120)
    first = _sink_rows(spark, out_dir)
    assert {r[0] for r in first} == {0, 1}

    # replay: fresh checkpoint (as if the commits were lost) over the same
    # input rewrites the same batch_id partitions, row for row
    q2 = stream_extract_edges(
        spark, in_dir, out_dir, str(tmp_path / "ckpt3b"), edict, pats, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert _sink_rows(spark, out_dir) == first


def _sink_rows(spark, out_dir):
    """Every row of a stream's edges sink with its batch_id, sorted."""
    rows = spark.read.parquet(out_dir).select("batch_id", "subj", "pred", "obj").collect()
    return sorted(map(tuple, rows))


def test_stream_kill_and_resume(spark, tmp_path):
    """A stream stopped after batch 1 and restarted on the same checkpoint
    (the canonical map read back from parquet), then restarted once more
    with batch 2's commit lost (batch 2 replays over batch 1's map), writes
    the same edges as one uninterrupted drain. Batch 2 needs the map: its
    acronym was defined against a dictionary surface in batch 0."""
    from wbkg.materialize import WD

    n = 9
    schema = "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>"
    texts = [
        "The World Trade Organization (WTO) met today.",
        "Nothing to link here.",
        "World Trade Org (WTO) officials met again.",
    ]
    docs = gen_documents_df(spark, n, partitions=1)
    edict = entity_dict_df(spark, n).unionByName(
        spark.createDataFrame(
            [("Q9900", "world trade organization", "org", "World Trade Organization", False, None)],
            "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
        )
    )
    pats = build_pattern_rows(build_entity_dict_rows(n), build_unbis_rows())
    pats.append(("world trade organization", "DICT_ORG", "Q9900"))

    def write_file(in_dir, i):
        # three files, one micro-batch each, in modification-time order
        lo, hi = f"D{3 * i:07d}", f"D{3 * i + 3:07d}"
        extra = [(f"X{i}", [{"kind": "text", "text": texts[i], "media_ref": "", "offset": 0}])]
        path = os.path.join(in_dir, f"f{i}")
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).unionByName(
            spark.createDataFrame(extra, schema)
        ).coalesce(1).write.parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (1_000_000 + i, 1_000_000 + i))

    def drain(in_dir, out_dir, ckpt):
        q = stream_extract_edges(
            spark, in_dir + "/f*", out_dir, ckpt, edict, pats, max_files_per_trigger=1
        )
        q.awaitTermination(300)
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    whole, part = str(tmp_path / "whole"), str(tmp_path / "part")
    for i in range(3):
        write_file(whole, i)
    assert drain(whole, str(tmp_path / "out_w"), str(tmp_path / "ckpt_w")) == [0, 1, 2]
    want = _sink_rows(spark, str(tmp_path / "out_w"))
    assert any(r[0] == 2 and r[1].endswith("document/X2") and r[3] == f"{WD}Q9900" for r in want)

    out, ckpt = str(tmp_path / "out_p"), str(tmp_path / "ckpt_p")
    for i in range(2):
        write_file(part, i)
    assert drain(part, out, ckpt) == [0, 1]
    write_file(part, 2)
    assert drain(part, out, ckpt) == [2]  # resumed: batch 2 over the parquet map
    assert _sink_rows(spark, out) == want

    for name in ("2", ".2.crc"):  # the commit of batch 2 is lost
        os.remove(os.path.join(ckpt, "commits", name))
    assert drain(part, out, ckpt) == [2]  # replayed
    assert _sink_rows(spark, out) == want


def test_stream_dedup_first_seen(spark, tmp_path):
    """Stateful streaming dedup: a text hash seen in an earlier drain is
    suppressed in later ones (state store persists across restarts on the
    same checkpoint)."""
    from wbkg.streaming import stream_dedup_first_seen

    src = str(tmp_path / "dd_in")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ck")
    os.makedirs(src, exist_ok=True)

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        q = (
            stream_dedup_first_seen(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.h, r.keep_id) for r in spark.read.parquet(out).collect()}

    spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta"), (4, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f1")
    got1 = drain()
    assert {kid for _, kid in got1} == {1, 3, 4}  # min id per distinct text

    spark.createDataFrame(
        [(5, "alpha"), (6, "delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f2")
    got2 = drain()
    # second drain adds ONLY delta: 'alpha' is suppressed by the state store
    assert {kid for _, kid in got2} == {1, 3, 4, 6}


def test_compact_stream_output(spark, tmp_path):
    """Streaming-sink maintenance: a multi-batch drain leaves one file set
    per micro-batch; compact_stream_output rewrites toward the target file
    size with the identical row set AND the batch_id=N layout intact, so a
    later checkpoint replay still overwrites only its own partition."""
    from wbkg.streaming import compact_stream_output

    in_dir = str(tmp_path / "in4")
    out_dir = str(tmp_path / "out4")
    ckpt = str(tmp_path / "ckpt4")
    # 8 input files, 2 per trigger -> 4 micro-batches. AQE partition
    # coalescing is switched off for the drain so each batch writes one file
    # per non-empty shuffle partition — the fragmented sink a real
    # large-batch stream produces (where post-shuffle partitions are full
    # and AQE does NOT collapse them to one).
    gen_documents_df(spark, 16, partitions=8).write.parquet(in_dir)
    edict = entity_dict_df(spark, 16)
    pats = build_pattern_rows(build_entity_dict_rows(16), build_unbis_rows())
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        q = stream_extract_edges(
            spark, in_dir, out_dir, ckpt, edict, pats, max_files_per_trigger=2
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    def parquet_files(root):
        out = []
        for dirpath, _dirs, files in os.walk(root):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
        return out

    before_rows = {
        tuple(r) for r in spark.read.parquet(out_dir).select("subj", "pred", "obj", "batch_id").collect()
    }
    n_batches = len({r.batch_id for r in spark.read.parquet(out_dir).select("batch_id").distinct().collect()})
    assert n_batches >= 3  # genuinely multi-batch
    n_before = len(parquet_files(out_dir))

    n_after = compact_stream_output(spark, out_dir)
    assert n_after == len(parquet_files(out_dir)) < n_before
    after_rows = {
        tuple(r) for r in spark.read.parquet(out_dir).select("subj", "pred", "obj", "batch_id").collect()
    }
    assert after_rows == before_rows
    # hive layout preserved: replay of a batch overwrites its own partition
    assert any(d.startswith("batch_id=") for d in os.listdir(out_dir))


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Streaming session_window sessions == the batch lag-gap-cumsum
    sessionize on the same data: same session count and sizes per user."""
    import shutil

    from wbkg.ops.prep import sessionize
    from wbkg.streaming import session_window_counts

    src_dir = str(tmp_path / "sess_in")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir)
    batch_df = spark.read.parquet(src_dir)

    stream_df = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    q = (
        session_window_counts(stream_df, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    )
    want = sorted(
        (r.user_id, r.n)
        for r in sessionize(batch_df, gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Built-in bounded-state streaming dedup: duplicates inside the
    watermark window collapse to the first-arriving row; a replay far
    past the watermark re-emits (state evicted) — the documented
    semantics, asserted on both sides."""
    from datetime import datetime

    from wbkg.streaming import stream_dedup_within_watermark

    src = str(tmp_path / "wm_in")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ck")
    os.makedirs(src, exist_ok=True)
    T = datetime

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        q = (
            stream_dedup_within_watermark(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r.keep_id for r in spark.read.parquet(out).collect())

    # batch 1: duplicate 'alpha' within the same minute collapses
    spark.createDataFrame(
        [
            (1, "alpha", T(2024, 1, 1, 10, 0)),
            (2, "alpha", T(2024, 1, 1, 10, 1)),
            (3, "beta", T(2024, 1, 1, 10, 2)),
        ],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.parquet(src + "/f1")
    assert drain() == [1, 3]

    # batch 2: 'alpha' replayed two hours later. The watermark only
    # ADVANCES at batch end (it is still 10:02-10min from batch 1 while
    # batch 2 runs), so the old state row hasn't been evicted yet and the
    # replay is still suppressed — eviction lags one batch.
    spark.createDataFrame(
        [
            (4, "alpha", T(2024, 1, 1, 12, 0)),
        ],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.parquet(src + "/f2")
    assert drain() == [1, 3]

    # batch 3: batch 2 advanced the watermark to 11:50, far past the
    # alpha state row's 10:10 expiry — it was evicted at batch-2 end, so
    # a fresh 'alpha' now RE-EMITS (the documented bounded-state trade)
    spark.createDataFrame(
        [
            (6, "alpha", T(2024, 1, 1, 12, 30)),
        ],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.parquet(src + "/f3")
    assert drain() == [1, 3, 6]


def test_stream_running_totals_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState running totals: state accumulates across
    micro-batches (maxFilesPerTrigger=1 forces one batch per file) and the
    LAST emission per key equals the plain batch groupBy — the state
    plumbing adds nothing and loses nothing."""
    from wbkg.streaming import stream_running_totals

    src = str(tmp_path / "rt_in")
    out = str(tmp_path / "rt_out")
    ckpt = str(tmp_path / "rt_ck")
    os.makedirs(src, exist_ok=True)

    b1 = [(1, 10.0), (1, 20.0), (2, 5.0)]
    b2 = [(1, 30.0), (3, 7.5)]
    spark.createDataFrame(b1, "user_id long, value double").coalesce(1).write.parquet(
        src + "/f1"
    )
    spark.createDataFrame(b2, "user_id long, value double").coalesce(1).write.parquet(
        src + "/f2"
    )

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend((batch_id, r.key, r.n_events, r.total_value)
                       for r in batch_df.collect())

    q = (
        stream_running_totals(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emission per key == batch aggregate over all files
    last = {}
    for bid, key, n, total in sorted(emitted):
        last[key] = (n, total)
    assert last == {1: (3, 60.0), 2: (1, 5.0), 3: (1, 7.5)}
    # state carried: user 1 was updated in BOTH batches, totals monotone
    u1 = [(n, t) for _, k, n, t in sorted(emitted) if k == 1]
    assert u1 == [(2, 30.0), (3, 60.0)]


def test_stream_running_totals_resume_from_checkpoint(spark, tmp_path):
    """A restarted query resumes the state store: a third file processed
    by a NEW query object continues the old totals instead of starting
    from zero (exactly-once state recovery)."""
    from wbkg.streaming import stream_running_totals

    src = str(tmp_path / "rs_in")
    ckpt = str(tmp_path / "rs_ck")
    os.makedirs(src, exist_ok=True)

    def drain():
        got = []
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        q = (
            stream_running_totals(stream)
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(
                    (r.key, r.n_events, r.total_value) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    spark.createDataFrame([(7, 1.0)], "user_id long, value double").coalesce(
        1
    ).write.parquet(src + "/f1")
    assert drain() == [(7, 1, 1.0)]

    spark.createDataFrame([(7, 2.0)], "user_id long, value double").coalesce(
        1
    ).write.parquet(src + "/f2")
    assert drain() == [(7, 2, 3.0)]  # resumed, not restarted


# Spark jobs one steady-state micro-batch may run: the one collect of the
# batch's alias rows (fused extract and link materialize their caches, one
# shuffle), the canonical-map write, the edges write (one dedup shuffle)
STEADY_BATCH_JOB_BUDGET = 10


def test_stream_job_budget_and_no_cache_leak(spark, tmp_path):
    """Two files drained as two availableNow micro-batches: the second
    (steady-state: it advances an existing canonical map) runs within the
    job budget, and no cached block outlives the query."""
    n = 8
    in_dir = str(tmp_path / "in")
    docs = gen_documents_df(spark, n, partitions=1)
    half = F.col("doc_id") < f"D{n // 2:07d}"
    docs.filter(half).write.parquet(os.path.join(in_dir, "f1"))
    docs.filter(~half).write.parquet(os.path.join(in_dir, "f2"))
    edict = entity_dict_df(spark, n)
    pats = build_pattern_rows(build_entity_dict_rows(n), build_unbis_rows())

    sc = spark.sparkContext
    cached_before = sc._jsc.getPersistentRDDs().size()
    q = stream_extract_edges(
        spark, in_dir + "/f*", str(tmp_path / "out"), str(tmp_path / "ckpt"), edict, pats,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert [p["numInputRows"] > 0 for p in q.recentProgress] == [True, True]
    assert sc._jsc.getPersistentRDDs().size() == cached_before

    # a micro-batch's jobs run in the query's job group, described "batch = N"
    store = sc._jsc.sc().statusStore()
    per_batch = {}
    for job in sc.statusTracker().getJobIdsForGroup(q.runId):
        desc = store.job(job).description()
        batch = desc.get().rsplit("batch = ", 1)[1] if desc.isDefined() else None
        per_batch[batch] = per_batch.get(batch, 0) + 1
    assert set(per_batch) == {"0", "1"}
    assert per_batch["1"] <= STEADY_BATCH_JOB_BUDGET, per_batch
