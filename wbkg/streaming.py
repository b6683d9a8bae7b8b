"""Structured Streaming ingestion (SURVEY §2.10).

The reference has no streaming — its incrementality is checkpoint-and-skip
(src/pipeline.py:31-33). Here the same extraction pipeline runs as a
Structured Streaming flow: a file source over the interleaved-document table
feeds micro-batches into foreachBatch, which reuses the *batch* operators
unchanged (the fused chunk_and_extract pass -> link -> entity triples) and
writes each batch to a batch_id-keyed edges partition (idempotent
overwrite: at-least-once replay becomes file-level exactly-once). The
converged canonical map carries across batches, so canonicalization sees
the full history — see stream_extract_edges.

Also provides a watermarked windowed aggregation over the driver `events`
table shape (the standard late-data pattern) to cover the Structured
Streaming operator surface.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wbkg.schemas import DOCUMENTS_INTERLEAVED

MAP_DDL = "member string, canonical_id string"


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
):
    """readStream(files) -> foreachBatch(batch pipeline) -> parquet edges.

    Cross-batch canonicalization is INCREMENTAL (VERDICT/ADVICE r02: the old
    shape re-read every alias partition and re-ran connected components from
    scratch each batch — O(batches x vocab) total work over a long stream).
    The converged {member: canonical_id} map is the stream's state, and the
    query holds it in driver memory, keyed by the batch that produced it.
    Each micro-batch advances it with canonicalize.advance_map:

      1. map the batch's alias-edge endpoints (the dictionary's alias pairs,
         the batch's acronyms and linked surfaces) through the held map
         (components collapse to their representative),
      2. drop self-loops — edges whose endpoints already share a component
         vanish, so the union-find input is only the batch's GENUINELY NEW
         merges,
      3. union-find that residue, relabel the merged representatives,
         add the new members.

    The batch's alias rows reach the driver in ONE collect (the acronym
    pairs and the distinct (surface key, qid) rows of the linked mentions);
    acronyms are normalized there with extract.normalize_surface. The
    dictionary's alias pairs and its lookup table are collected once when
    the query starts, so the dictionary is fixed for the life of the query.
    The table apply_canonicalization broadcasts holds only this batch's
    keys that are in the map and is built through Arrow (a LocalRelation).
    No alias edges are written: the map is the whole state.

    Per-batch cost is O(batch edges) for the union-find plus a pass over the
    map to relabel and write it; it does not grow with stream age. The result
    is equal to a full recompute over all history: representatives carry the
    min-qid-else-min-member rule, so merging reps is the same as merging
    components. A surface in batch N whose acronym expansion appeared in
    batch N-1 still inherits the QID. Already-committed batches are NOT
    retroactively re-keyed (append-only streaming semantics; the batch
    pipeline remains the authority for a globally-converged graph —
    documented deviation).

    Durable state: every batch writes the whole map as one parquet file
    under `<checkpoint_dir>_cmap_state/batch_id=N`, and the held map moves
    to batch N only once the batch's edges are written. Parquet is read only
    when the held map is not batch N-1's: on restart, on replay, or in a new
    query. A map above canonicalize.LOCAL_CC_THRESHOLD members (or a batch
    with more alias rows than that) is not collected: the batch reads the
    previous map from parquet and takes the DataFrame path,
    incremental_canonical_map. No cached block outlives a batch: the
    batch's persists are released at its end.

    Idempotent sink: each batch writes to `output_dir/batch_id=N` with
    overwrite. Spark's foreachBatch is at-least-once — a crash between the
    parquet commit and the streaming-checkpoint commit replays the batch —
    but the replay rewrites the same subdirectory instead of appending
    duplicates, giving file-level exactly-once for the edges table. The
    canonical-map state uses the same scheme, and batch N reads only state
    with id <= N-1, so a replay reproduces the same map. Map states older
    than N-1 are garbage (Spark never replays batch N-1 after N committed)
    and are deleted, bounding state storage to two vocabulary-sized maps.

    Returns the StreamingQuery (availableNow trigger: drains all current
    input then stops — use .awaitTermination())."""
    from wbkg.extract import (
        acronyms_from_fused,
        chunk_and_extract,
        mentions_from_fused,
        normalize_surface,
    )
    from wbkg.link import AUTO_BROADCAST_MAX_ROWS, dictionary_lookup, link_mentions
    from wbkg.materialize import entity_triples
    import wbkg.canonicalize as cz
    from wbkg.session import local_frame

    stream = (
        spark.readStream.schema(DOCUMENTS_INTERLEAVED)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    cmap_dir = checkpoint_dir.rstrip("/") + "_cmap_state"
    # built once per stream: a driver-local (surface_norm, qid) table that
    # every batch broadcasts (so it needs the driver memory the broadcast
    # needs anyway); it holds no cached block
    lookup = dictionary_lookup(entity_dict_df)
    lookup = spark.createDataFrame(lookup.toArrow(), lookup.schema)
    dict_pairs = [tuple(r) for r in cz.dictionary_alias_edges(entity_dict_df).collect()]
    # (batch_id, {member: canonical_id}) of the last batch whose edges are
    # written; None until a batch has run, or while the map is too big
    held = None

    def previous_map(batch_id: int):
        """The converged map after batch_id - 1: the held dict, else the
        newest state with id <= batch_id - 1 (freshly listed: re-listing the
        parent dir can serve a stale FileStatusCache entry inside
        foreachBatch; upto N-1 so a replay ignores a crashed attempt's own
        output), collected when it is small. {} before the first batch."""
        if held is not None and held[0] == batch_id - 1:
            return held[1]
        paths = _list_state_paths(spark, cmap_dir, upto=batch_id - 1)
        if not paths:
            return {}
        prev = spark.read.parquet(paths[-1])
        rows = cz.collect_if_small(prev)
        return prev if rows is None else dict(rows)

    def process_batch(batch_df: DataFrame, batch_id: int):
        nonlocal held
        fused = chunk_and_extract(batch_df, pattern_rows).persist()
        acronyms = acronyms_from_fused(fused)
        linked = link_mentions(
            mentions_from_fused(fused), entity_dict_df, lookup=lookup
        ).persist()
        cached = [fused, linked]
        state_path = os.path.join(cmap_dir, f"batch_id={batch_id}")
        prev = previous_map(batch_id)
        rows = None
        if isinstance(prev, dict):
            # one collect: the distinct raw acronym pairs and every linked
            # surface key with its qid (null for an unlinked surface); both
            # sides share the one shuffle, so the collect reads its output
            rows = cz.collect_if_small(
                acronyms.select(
                    F.lit(True).alias("acro"), F.col("abbr").alias("a"), F.col("expansion").alias("b")
                )
                .unionByName(
                    linked.select(
                        F.lit(False).alias("acro"), cz.surface_key().alias("a"), F.col("qid").alias("b")
                    )
                )
                .distinct()
            )
        if rows is not None:
            surf = lambda s: None if s is None else "surf::" + normalize_surface(s)
            pairs = dict_pairs + [(surf(a), surf(b)) for acro, a, b in rows if acro]
            pairs += [(a, "qid::" + b) for acro, a, b in rows if not acro and b is not None]
            cmap = cz.advance_map(prev, pairs)
            local_frame(spark, list(cmap.items()), MAP_DDL).coalesce(1).write.mode(
                "overwrite"
            ).parquet(state_path)
            keys = {a for acro, a, _ in rows if not acro}
            build = local_frame(spark, [(k, cmap[k]) for k in keys if k in cmap], MAP_DDL)
            linked_c = cz.apply_canonicalization(linked, build, broadcast=True)
        else:
            # the DataFrame path, over the previous map's parquet state
            if isinstance(prev, dict):
                paths = _list_state_paths(spark, cmap_dir, upto=batch_id - 1)
                prev = spark.read.parquet(paths[-1]) if paths else None
            alias = cz.build_alias_edges(entity_dict_df, acronyms, linked)
            cmap = cz.incremental_canonical_map(prev, alias).persist()
            cached.append(cmap)
            # the write fills the cache apply_canonicalization reads and
            # counts the map's rows for its broadcast gate in the same pass
            size = Observation()
            cmap.observe(size, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(
                state_path
            )
            broadcast = size.get["rows"] <= AUTO_BROADCAST_MAX_ROWS
            linked_c = cz.apply_canonicalization(linked, cmap, broadcast=broadcast)
        edges = entity_triples(linked_c)
        edges.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )
        small = isinstance(cmap, dict) and len(cmap) <= cz.LOCAL_CC_THRESHOLD
        held = (batch_id, cmap) if small else None
        # GC map states older than N-1: batch N+1 replays read only state N
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(cmap_dir).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for old in _list_state_paths(spark, cmap_dir, upto=batch_id - 2):
            fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
        for df in cached:
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
