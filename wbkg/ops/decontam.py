"""Benchmark decontamination for training-data pipelines.

A corpus destined for model training must not contain the evaluation
benchmarks the model will be scored on. The standard check (GPT-3 appendix C
style) is word n-gram overlap: a document is contaminated if it contains a
large fraction of some benchmark item's n-grams verbatim.

Scale shape (100 TB corpus, ~10^5-10^6 benchmark items): the benchmark side
is tiny relative to the corpus, so its shingle table is BROADCAST — the
corpus-side shingle stream never shuffles for the probe; the only exchange
is the partial-aggregated (doc_id, bench_id) match counts. Contrast with
dedup: this is corpus x small-reference, not corpus x corpus, so no LSH is
needed — the broadcast inverted index IS the exact answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wbkg.ops.dedup import shingles_df
from wbkg.session import local_frame


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    bench_text: str = "text",
    bench_id: str = "bench_id",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """-> one row per document: (doc_id, top_bench_id, max_overlap,
    contaminated).

    max_overlap = max over benchmark items of
        |doc n-grams  INTERSECT  item n-grams| / |item n-grams|
    (the denominator is the BENCHMARK item's shingle count: a 100-word doc
    fully containing a 12-word eval prompt scores 1.0 — containment, not
    symmetric jaccard, is what leaks eval answers). top_bench_id is the
    arg-max item (ties -> smallest bench_id); docs with zero matching
    n-grams report (null, 0.0, false).

    Plan: corpus shingles probe a broadcast of the benchmark shingle table;
    match counts partial-aggregate map-side on (doc_id, bench_id); the
    per-doc arg-max is a row_number window over doc_id. The corpus is
    scanned once and shuffles only the match counts (pair-bounded, tiny)."""
    doc_sh = shingles_df(docs, doc_text, doc_id, n)
    bench_sh = (
        shingles_df(benchmark, bench_text, bench_id, n)
        .withColumnRenamed("doc_id", "bench_id")
    )
    return _report(docs, doc_sh, bench_sh, doc_id, threshold)


def _report(docs, doc_sh, bench_sh, doc_id, threshold):
    sizes = bench_sh.groupBy("bench_id").agg(F.count("*").alias("bench_n"))

    matched = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("matched"))
        .join(F.broadcast(sizes), "bench_id")
        .withColumn("overlap", F.round(F.col("matched") / F.col("bench_n"), 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("overlap"), F.asc("bench_id"))
    best = (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("bench_id").alias("top_bench_id"), F.col("overlap").alias("max_overlap"))
    )
    out = docs.select(F.col(doc_id).alias("doc_id")).join(best, "doc_id", "left")
    return out.select(
        "doc_id",
        "top_bench_id",
        F.coalesce("max_overlap", F.lit(0.0)).alias("max_overlap"),
        (F.coalesce("max_overlap", F.lit(0.0)) >= threshold).alias("contaminated"),
    )


def bloom_bitmap(keys: DataFrame, key_col: str, m_bits: int, k: int) -> DataFrame:
    """Build a Bloom filter over a key column -> ONE-ROW DataFrame with a
    dense `_bf array<bigint>` bitmap (m_bits/64 words).

    Spark's BloomFilterAggregate is not in the public function registry
    (4.1: `bloom_filter_agg` resolves only inside the join-runtime-filter
    rule), so the bitmap is built from first principles and stays
    declarative where it counts: the k probe positions per key are
    pmod(xxhash64(key, seed), m_bits) — computed JVM-side — and the set
    bits aggregate with a partial-aggregated bit_or per 64-bit word. The
    sparse (word, mask) rows are collected to the driver to be densified —
    a GATED collect, bounded by m_bits/64 rows (64k for the 4M-bit
    default, ~512 KB) regardless of key count; at 100 TB the filter side
    is the small eval-set, never the corpus."""
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    words = positions.select(
        F.shiftright(F.col("pos"), 6).cast("int").alias("word"),
        F.expr("shiftleft(1L, CAST(pos & 63 AS INT))").alias("mask"),
    ).groupBy("word").agg(F.bit_or("mask").alias("mask"))
    arr = [0] * ((m_bits + 63) // 64)
    for r in words.collect():
        arr[r.word] = r.mask
    spark = keys.sparkSession
    return local_frame(spark, [(arr,)], "_bf array<bigint>")


def _bloom_test_expr(col: str, m_bits: int, k: int) -> str:
    """Boolean SQL expression: all k bits for `col` set in `_bf`."""
    tests = []
    for i in range(k):
        pos = f"pmod(xxhash64({col}, {i}), {m_bits}L)"
        word = f"CAST(shiftright({pos}, 6) AS INT) + 1"
        bit = f"shiftleft(1L, CAST({pos} & 63 AS INT))"
        tests.append(f"((element_at(_bf, {word}) & {bit}) != 0)")
    return " AND ".join(tests)


def contamination_report_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    bench_text: str = "text",
    bench_id: str = "bench_id",
    n: int = 8,
    threshold: float = 0.5,
    m_bits: int = 1 << 22,
    k: int = 4,
) -> DataFrame:
    """contamination_report with a Bloom prefilter on the corpus-shingle
    stream — IDENTICAL output (false positives are removed by the exact
    join; false negatives are impossible), cheaper probe memory.

    Why it matters at 100 TB: the exact path broadcasts the full benchmark
    shingle dictionary (10^6 items x ~10^2 shingles x ~50 bytes ≈ 5 GB —
    at or past the executor broadcast budget). The bitmap is m_bits/8
    bytes (512 KB at the 4M-bit default, fp ~1% at 4x10^5 keys / k=4) —
    4 orders of magnitude smaller — and the surviving sliver of corpus
    shingles (true matches + ~1% fp) is what meets the exact dictionary.
    The probe itself is a broadcast-hash of ONE row + whole-stage-codegen
    bit arithmetic; the corpus still never shuffles."""
    doc_sh = shingles_df(docs, doc_text, doc_id, n)
    bench_sh = (
        shingles_df(benchmark, bench_text, bench_id, n)
        .withColumnRenamed("doc_id", "bench_id")
    )
    bf = bloom_bitmap(bench_sh.select("shingle").distinct(), "shingle", m_bits, k)
    survivors = (
        doc_sh.crossJoin(F.broadcast(bf))
        .filter(F.expr(_bloom_test_expr("shingle", m_bits, k)))
        .drop("_bf")
    )
    return _report(docs, survivors, bench_sh, doc_id, threshold)
