"""Structured Streaming ingestion (SURVEY §2.10).

The reference has no streaming — its incrementality is checkpoint-and-skip
(src/pipeline.py:31-33). Here the same extraction pipeline runs as a
Structured Streaming flow: a file source over the interleaved-document table
feeds micro-batches into foreachBatch, which reuses the *batch* operators
unchanged (the fused chunk_and_extract pass -> link -> entity triples) and
writes each batch to a batch_id-keyed edges partition (idempotent
overwrite: at-least-once replay becomes file-level exactly-once). Alias edges accumulate across batches so
canonicalization sees the full history — see stream_extract_edges.

Also provides a watermarked windowed aggregation over the driver `events`
table shape (the standard late-data pattern) to cover the Structured
Streaming operator surface.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wbkg.schemas import DOCUMENTS_INTERLEAVED


def _list_state_paths(spark: SparkSession, state_dir: str, upto: int) -> List[str]:
    """Fresh (uncached) Hadoop-FS listing of the batch_id=N state partitions
    with N <= upto, sorted by batch id NUMERICALLY (lexicographic path order
    would put batch 10 before 9). Replay-safe: a replayed batch ignores any
    state a crashed later attempt may have left behind. Returns [] when the
    dir doesn't exist yet."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            try:
                out.append((int(name.split("=", 1)[1]), st.getPath().toString()))
            except ValueError:
                continue
    return [p for n, p in sorted(out) if n <= upto]


def stream_extract_edges(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    entity_dict_df: DataFrame,
    pattern_rows: List[Tuple[str, str, str]],
    max_files_per_trigger: int = 8,
    state_dir: str | None = None,
):
    """readStream(files) -> foreachBatch(batch pipeline) -> parquet edges.

    Cross-batch canonicalization is INCREMENTAL (VERDICT/ADVICE r02: the old
    shape re-read every alias partition and re-ran connected components from
    scratch each batch — O(batches x vocab) total work over a long stream).
    The converged (member, canonical_id) map is itself the persisted state:

      1. map the new batch's alias-edge endpoints through the previous map
         (components collapse to their representative),
      2. drop self-loops — edges whose endpoints already share a component
         vanish, so the CC input is only the batch's GENUINELY NEW merges,
      3. run CC on that residue (tiny), relabel the old map's canonical ids
         through the result, append the new members, persist as the next
         map state.

    Per-batch cost is O(batch edges) for the CC plus one vocabulary-bounded
    relabel join; it does not grow with stream age. The result is equal to a
    full recompute over all history: representatives carry the min-qid-else-
    min-member rule, so merging reps is the same as merging components.
    A surface in batch N whose acronym expansion appeared in batch N-1 still
    inherits the QID. Already-committed batches are NOT retroactively
    re-keyed (append-only streaming semantics; the batch pipeline remains
    the authority for a globally-converged graph — documented deviation).

    Idempotent sink: each batch writes to `output_dir/batch_id=N` with
    overwrite. Spark's foreachBatch is at-least-once — a crash between the
    parquet commit and the streaming-checkpoint commit replays the batch —
    but the replay rewrites the same subdirectory instead of appending
    duplicates, giving file-level exactly-once for the edges table. The
    canonical-map state uses the same scheme, and batch N reads only state
    with id <= N-1, so a replay reproduces the same map. Map states older
    than N-1 are garbage (Spark never replays batch N-1 after N committed)
    and are deleted, bounding state storage to two vocabulary-sized maps.
    Raw per-batch alias edges are still written under the alias state dir as
    per-partition lineage (audit trail), but are never re-read by the hot
    path.

    Returns the StreamingQuery (availableNow trigger: drains all current
    input then stops — use .awaitTermination())."""
    from wbkg.extract import acronyms_from_fused, chunk_and_extract, mentions_from_fused
    from wbkg.link import link_mentions
    from wbkg.materialize import entity_triples, union_distinct
    from wbkg.canonicalize import (
        apply_canonicalization,
        build_alias_edges,
        incremental_canonical_map,
    )

    if state_dir is None:
        state_dir = checkpoint_dir.rstrip("/") + "_alias_state"

    stream = (
        spark.readStream.schema(DOCUMENTS_INTERLEAVED)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    cmap_dir = checkpoint_dir.rstrip("/") + "_cmap_state"

    def process_batch(batch_df: DataFrame, batch_id: int):
        fused = chunk_and_extract(batch_df, pattern_rows).persist()
        acronyms = acronyms_from_fused(fused)
        linked = link_mentions(mentions_from_fused(fused), entity_dict_df).persist()
        # this batch's alias edges: written once as lineage (idempotent:
        # replay overwrites), used once below — never re-read in later batches
        batch_alias = build_alias_edges(entity_dict_df, acronyms, linked).persist()
        batch_alias.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch_id={batch_id}")
        )
        # previous converged map: freshly-listed explicit paths (re-listing
        # the parent dir can serve a stale FileStatusCache entry inside
        # foreachBatch and silently miss the newest partitions); upto N-1 so
        # a replayed batch ignores a crashed attempt's own output
        prev_paths = _list_state_paths(spark, cmap_dir, upto=batch_id - 1)
        prev = spark.read.parquet(prev_paths[-1]) if prev_paths else None
        cmap = incremental_canonical_map(prev, batch_alias)
        cmap_path = os.path.join(cmap_dir, f"batch_id={batch_id}")
        cmap.write.mode("overwrite").parquet(cmap_path)
        cmap = spark.read.parquet(cmap_path)  # file-backed: truncates lineage

        linked_c = apply_canonicalization(linked, cmap)
        edges = union_distinct(entity_triples(linked_c))
        edges.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )
        # GC map states older than N-1: batch N+1 replays read only state N
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(cmap_dir).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for old in _list_state_paths(spark, cmap_dir, upto=batch_id - 2):
            fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
        for df in (fused, linked, batch_alias):
            df.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_stream_output(spark: SparkSession, output_dir: str, target_file_mb: int = 256) -> int:
    """Maintenance pass for the streaming edges sink: every micro-batch
    leaves its own file set under `batch_id=N`, so a long-running stream
    accretes files linearly with batch count — at 100 TB the scan cost of
    the accumulated table is driven by file COUNT, not bytes. Rewrites the
    sink toward `target_file_mb` files while PRESERVING the batch_id=N
    hive layout, so a checkpoint replay of batch N still overwrites exactly
    its own partition (idempotence is untouched). Returns the new data-file
    count. The atomic backup-rename swap is compact_table's."""
    from wbkg.io import compact_table

    return compact_table(spark, output_dir, target_file_mb, partition_by=["batch_id"])


def stream_dedup_first_seen(
    docs_stream: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming exact-dedup with a state store (applyInPandasWithState):
    emit only the FIRST document carrying each distinct text hash across the
    WHOLE stream — later micro-batches that replay the same content produce
    nothing. The custom-stateful-operator surface of Structured Streaming
    (SURVEY §2.10); the streaming twin of ops.dedup.exact_dedup.

    State per key is one boolean, so the store stays hash-count-sized; at
    100 TB the key space is bounded by distinct contents, not documents.
    -> (h, keep_id) append-mode stream."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = docs_stream.select(
        F.md5(F.col(text_col)).alias("h"), F.col(id_col).alias("keep_id")
    )

    def first_seen(key, pdf_iter, state: "GroupState"):
        min_id = None
        for pdf in pdf_iter:
            if len(pdf):
                m = pdf["keep_id"].min()
                min_id = m if min_id is None else min(min_id, m)
        if state.exists or min_id is None:
            return iter([])
        state.update((True,))
        return iter([pd.DataFrame({"h": [key[0]], "keep_id": [min_id]})])

    return keyed.groupBy("h").applyInPandasWithState(
        first_seen,
        outputStructType="h string, keep_id long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(events_stream: DataFrame, watermark: str = "10 minutes"):
    """Watermarked sliding-window aggregation (late-data handling) — the
    Structured Streaming stateful-op surface. events_stream must carry
    (ts timestamp, event_type string, value double)."""
    return (
        # event-time watermarks need TIMESTAMP (parquet may carry NTZ)
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("total_value"))
    )


def session_window_counts(
    events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
):
    """Watermarked SESSION-window aggregation per user — the streaming twin
    of wbkg/ops/prep.py's batch `sessionize` (same gap rule evaluated
    incrementally by Structured Streaming's session_window state store:
    sessions merge as events arrive; the watermark closes a session once no
    event can extend it). -> (user_id, session struct, n_events,
    total_value)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("session_window").alias("session"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup_within_watermark(
    docs_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup with BOUNDED state: Spark's built-in
    dropDuplicatesWithinWatermark keyed on the content hash. Where
    stream_dedup_first_seen holds one state row per distinct content
    FOREVER (exact across the whole stream — right when distinct content
    is bounded), this variant lets the state store evict a hash once the
    watermark passes it: duplicates arriving within the watermark window
    of each other collapse, state stays O(recent distinct), and the
    operator survives unbounded content drift — the 100-TB default. The
    trade is semantics, not correctness: a replay farther apart than the
    watermark re-emits, which is exactly the contract the name states.
    (Eviction lags one micro-batch — the watermark advances at batch END —
    so a replay in the very next batch is still suppressed even if its
    event time is far ahead; see the unit test's three-drain sequence.)

    -> (h, keep_id, ts) append-mode stream, first-arriving row per hash
    per watermark window."""
    return (
        docs_stream.select(
            F.md5(F.col(text_col)).alias("h"),
            F.col(id_col).alias("keep_id"),
            F.col(ts_col).cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["h"])
    )


def stream_running_totals(
    events_stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-key running (n_events, total_value) carried in an explicit
    GroupState across micro-batches — the arbitrary-stateful-processing
    surface (SURVEY §2.10) that built-in windowed aggs can't express once
    the update rule stops being an algebraic aggregate (per-key model
    state, decaying counters, custom eviction...). This op keeps the rule
    deliberately simple (count + sum) so the batch groupBy is an exact
    equivalence oracle for the state plumbing.

    Emits one updated (key, n_events, total_value) row per key per
    micro-batch that touched it ("update" semantics — pair with an
    update-capable sink or foreachBatch upsert). State is one fixed-width
    row per distinct key: at 100 TB the state store shards by the
    groupBy key across executors (RocksDB-backed in production configs),
    and the per-batch Arrow transfer carries only touched keys' rows —
    never the history.

    NoTimeout: totals are forever (that is the op's contract). Callers
    needing bounded state set a timeout and fold eviction into the
    update rule — the dedup twins above show both designs."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "total_value": [total]}
        )

    # the key field's type follows the actual key column (ADVICE r06: a
    # hardcoded `key long` failed or miscast string user ids)
    key_type = events_stream.schema[key_col].dataType.simpleString()
    return events_stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"key {key_type}, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
