import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees of the quiet forest"
    )
    rows = [
        (1, base),
        (2, base),                                        # exact dup of 1
        (3, base.replace("quick", "fast")),               # near dup of 1
        (4, "completely different text about spark sql engines and shuffles here today"),
        (5, "another unrelated document mentioning databases and query optimizers only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs_with_dups):
    from wbkg.ops.dedup import exact_dedup

    out = {r.keep_id: r.dup_count for r in exact_dedup(docs_with_dups).collect()}
    assert out[1] == 2  # docs 1,2 collapse, min id kept
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard(spark, docs_with_dups):
    from wbkg.ops.dedup import ngram_jaccard_pairs

    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert (1, 4) not in pairs


def test_ngram_jaccard_no_persist_leak(spark, docs_with_dups):
    """ngram_jaccard_pairs must not leave cached RDDs behind (VERDICT r01 #7)."""
    from wbkg.ops.dedup import ngram_jaccard_pairs

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    ngram_jaccard_pairs(docs_with_dups, threshold=0.5).count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before


def test_minhash_lsh(spark, docs_with_dups):
    from wbkg.ops.dedup import minhash_lsh_pairs

    pairs = {(r.doc_a, r.doc_b): r.sig_jaccard for r in minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash(spark, docs_with_dups):
    from wbkg.ops.dedup import simhash64, simhash_near_dup_pairs

    h = {r.doc_id: r.simhash for r in simhash64(docs_with_dups).collect()}
    assert h[1] == h[2]
    # determinism across runs
    h2 = {r.doc_id: r.simhash for r in simhash64(docs_with_dups).collect()}
    assert h == h2
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dup_pairs(docs_with_dups, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one word changed -> few bits differ


def test_embedding_near_dup(spark):
    from wbkg.ops.dedup import embedding_near_dup_pairs

    rng = np.random.RandomState(0)
    v1 = rng.randn(16)
    v1 /= np.linalg.norm(v1)
    v2 = v1 + 0.01 * rng.randn(16)
    v2 /= np.linalg.norm(v2)
    v3 = rng.randn(16)
    v3 /= np.linalg.norm(v3)
    emb = spark.createDataFrame(
        [(1, v1.astype("float32").tolist()), (2, v2.astype("float32").tolist()), (3, v3.astype("float32").tolist())],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in embedding_near_dup_pairs(emb, threshold=0.95).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert (1, 3) not in pairs


def test_embedding_near_dup_bucket_cap(spark):
    """The per-(band,bucket) size cap drops a degenerate hot bucket instead
    of exploding into |bucket|^2 candidate pairs (VERDICT r02)."""
    from wbkg.ops.dedup import embedding_near_dup_pairs

    v = np.ones(16) / 4.0  # 40 identical vectors -> one bucket per band
    emb = spark.createDataFrame(
        [(i, v.astype("float32").tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    capped = embedding_near_dup_pairs(emb, threshold=0.95, max_bucket_size=10)
    assert capped.count() == 0  # hot bucket dropped in every band
    uncapped = embedding_near_dup_pairs(emb, threshold=0.95, max_bucket_size=100)
    assert uncapped.count() == 40 * 39 // 2


def test_similarity_lsh_vs_brute_force(spark):
    from wbkg.ops.similarity import add_lsh_bucket, brute_force_topk, lsh_topk

    # planted near-neighbors: 5 perturbations of the query among 200 randoms
    rng = np.random.RandomState(3)
    q = rng.randn(64)
    q /= np.linalg.norm(q)
    rows = []
    for i in range(5):
        v = q + 0.05 * rng.randn(64)
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    for i in range(5, 205):
        v = rng.randn(64)
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = [r.vec_id for r in brute_force_topk(emb, q.tolist(), k=5).collect()]
    assert set(exact) == {0, 1, 2, 3, 4}
    bucketed = add_lsh_bucket(emb)
    approx = [r.vec_id for r in lsh_topk(bucketed, q.tolist(), k=5, probe_bits=1).collect()]
    # strong neighbors share (nearly) all sign bits with the query -> found
    assert len(set(exact) & set(approx)) >= 4


def test_ivf_topk(spark):
    from wbkg.ops.similarity import assign_ivf, build_ivf_centroids, brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = build_ivf_centroids(emb, n_centroids=8)
    assigned = assign_ivf(emb, cents)
    assert assigned.count() == emb.count()
    q = [1.0 if i % 3 == 0 else 0.2 for i in range(64)]
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=5).collect()]
    approx = [r.vec_id for r in ivf_topk(assigned, cents, q, k=5, n_probe=4).collect()]
    assert len(set(exact) & set(approx)) >= 2


def test_textops(spark):
    from wbkg.ops.textops import fingerprint, lang_id, quality_score

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house went to the garden in peace"),
            (2, "el gato de la casa que los perros una vez vieron"),
            (3, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    langs = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert langs[1] == "en" and langs[2] == "es" and langs[3] == "und"

    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert q[1].quality_ok and q[1].n_tokens == 14
    assert not q[3].quality_ok  # too few tokens

    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    fp2 = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert fp == fp2 and len(set(fp.values())) == 3


def test_hash_embed(spark):
    from wbkg.ops.textops import hash_embed

    docs = spark.createDataFrame(
        [(1, "climate change adaptation"), (2, "climate change adaptation"), (3, "tax policy")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.embedding for r in hash_embed(docs, dim=16).collect()}
    assert out[1] == out[2]  # deterministic across rows/executors
    assert out[1] != out[3]
    assert abs(sum(x * x for x in out[1]) - 1.0) < 1e-3


def test_multimodal_plumbing(spark):
    from wbkg.ops.multimodal import extract_features, frame_sample, gen_media_df

    media = gen_media_df(spark, docs=5)
    feats = extract_features(media).collect()
    assert len(feats) == media.count()
    for r in feats:
        assert len(r.feature) == 16
        assert abs(sum(x * x for x in r.feature) - 1.0) < 1e-3  # normalized

    frames = frame_sample(media).collect()
    assert all(r.frame_ms % 500 == 0 for r in frames)


def test_codec_boundary_is_honest():
    """Raw-RGB MP4 tracks decode for real; COMPRESSED codecs are the honest
    remaining boundary (no libav in this container) and raise a ValueError
    naming the codec instead of pretending."""
    from wbkg.ops.multimodal import decode_mp4_frames, encode_mp4_rgb, gen_video_frames

    data = encode_mp4_rgb(gen_video_frames(0, 2))
    i = data.rfind(b"raw ")  # stsd sample-entry format tag
    bad = bytearray(data)
    bad[i:i + 4] = b"hvc1"
    with pytest.raises(ValueError, match="hvc1"):
        decode_mp4_frames(bytes(bad))


# --------------------------------------------------------------------------- #
# training-prep ops (packing / split / scrub)                                  #
# --------------------------------------------------------------------------- #


def test_pack_sequences_boundaries(spark):
    from wbkg.ops.prep import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 40)) for i in range(10)], "doc_id long, text string"
    )
    out = pack_sequences(docs, max_tokens=100).collect()
    packs = {r.doc_id: r.pack_id for r in out}
    # 40 tokens each: docs 0,1,2 start at 0,40,80 -> pack 0; 3,4 -> pack 1 ...
    assert packs[0] == packs[1] == packs[2] == 0
    assert packs[3] == packs[4] == 1
    # every doc's START offset is inside its pack
    for r in out:
        assert r.pack_id * 100 <= r.cum_tokens - r.n_tokens < (r.pack_id + 1) * 100


def test_split_assign_stable_and_complete(spark):
    from wbkg.ops.prep import split_assign

    docs = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r.doc_id: r.split for r in split_assign(docs).collect()}
    b = {r.doc_id: r.split for r in split_assign(docs.repartition(7)).collect()}
    assert a == b  # partitioning cannot move rows across splits
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.8 < frac_train < 0.97


def test_scrub_pii(spark):
    from wbkg.ops.prep import scrub_pii

    docs = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.co and see https://a.b/c?d=1 now")],
        "doc_id long, text string",
    )
    r = scrub_pii(docs).collect()[0]
    assert r.clean_text == "mail <EMAIL> and see <URL> now"
    assert r.n_redactions == 2


def test_gopher_quality_signals(spark):
    from wbkg.ops.textops import gopher_quality

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house went to the garden in peace today again"),
            (2, "- one\n- two\n- three"),                      # all bullets
            (3, "spam spam spam spam spam spam spam spam spam spam spam spam"),  # repetition
            (4, "waiting... still waiting... and more...\nyes..."),  # ellipses
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert out[1].gopher_ok
    assert out[2].bullet_frac == 1.0 and not out[2].gopher_ok
    assert out[3].dup_3gram_frac > 0.5 and not out[3].gopher_ok
    assert out[4].ellipsis_frac >= 0.5 and not out[4].gopher_ok


def test_near_dup_keep_list_transitive(spark):
    """Pairs -> transitive clusters -> keep/drop list: A~B and B~C (no
    direct A~C pair) collapse into one cluster; representative is the
    NUMERIC min id (99 < 100 — would fail with naive lexicographic string
    CC); unpaired docs keep themselves."""
    from wbkg.ops.dedup import near_dup_keep_list

    docs = spark.createDataFrame(
        [(3, "x"), (99, "x"), (100, "x"), (101, "x"), (200, "x")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(99, 100), (100, 101)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.keep_id, r.is_kept) for r in near_dup_keep_list(docs, pairs).collect()}
    assert out == {
        3: (3, True),
        99: (99, True),
        100: (99, False),
        101: (99, False),
        200: (200, True),
    }


def test_embedding_lsh_plan_id_only_band_shuffle(spark):
    """CI-assert the banded-LSH physical plan properties (PLANS.md): the
    candidate-generation exchange is keyed on (band, bucket) and carries
    ONLY ids — the embedding array must never ride a shuffle before the
    post-dedup verify join."""
    import io as _io
    import re
    from contextlib import redirect_stdout

    from wbkg.ops.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        embedding_near_dup_pairs(emb, threshold=0.95).explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"hashpartitioning\(band#\d+, bucket#\d+", plan)
    # every numbered Exchange block keyed on (band, bucket) must input only
    # (vec_id, band, bucket) — no embedding column
    for block in plan.split("\n\n"):
        if "Exchange" in block and "hashpartitioning(band" in block:
            inputs = [l for l in block.splitlines() if l.startswith("Input")]
            assert inputs and all("embedding" not in l for l in inputs), block


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The persisted IVF layout prunes at the scan: probing n_probe lists
    plans PartitionFilters on ivf_list and returns the same top-k as the
    in-memory assigned table."""
    import io as _io
    from contextlib import redirect_stdout

    from wbkg.ops.similarity import (
        assign_ivf,
        build_ivf_centroids,
        ivf_topk,
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = build_ivf_centroids(emb, n_centroids=8)
    assigned = assign_ivf(emb, cents)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(assigned, path)

    q = [1.0 if i % 3 == 0 else 0.2 for i in range(64)]
    from_index = ivf_topk_from_index(spark, path, cents, q, k=5, n_probe=3)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        from_index.explain()
    pf_lines = [l for l in buf.getvalue().splitlines() if "PartitionFilters" in l]
    assert pf_lines and "ivf_list" in pf_lines[0]  # probe filter prunes partitions
    mem = [(r.vec_id, r.score) for r in ivf_topk(assigned, cents, q, k=5, n_probe=3).collect()]
    idx = [(r.vec_id, r.score) for r in from_index.collect()]
    assert mem == idx


def test_ngram_prefiltered_equals_exact(spark, docs_with_dups):
    """The minhash-prefiltered exact verify must reproduce the exact
    operator's pair set bit-for-bit at its threshold (the sf0.01 oracle
    asserts the same equivalence against DuckDB; this is the in-repo guard
    at a second threshold/corpus)."""
    from wbkg.ops.dedup import ngram_jaccard_pairs, ngram_jaccard_pairs_prefiltered

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    pre = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs_prefiltered(docs_with_dups, threshold=0.5).collect()
    }
    assert pre == exact
    assert pre[(1, 2)] == 1.0  # non-trivial: the planted exact dup is present


def test_contamination_report(spark):
    from wbkg.ops.decontam import contamination_report

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
            (2, "one two three four five six seven eight nine ten eleven twelve"),
            (3, "totally unrelated words nothing shared with any benchmark item at all"),
        ],
        "doc_id long, text string",
    )
    # item 100 is fully contained in doc 1; item 200 matches nothing
    bench = spark.createDataFrame(
        [
            (100, "beta gamma delta epsilon zeta eta theta iota kappa"),
            (200, "xxx yyy zzz www vvv uuu ttt sss rrr qqq"),
        ],
        "bench_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_report(docs, bench, n=8, threshold=0.5).collect()}
    assert len(out) == 3  # every doc reported, matched or not
    assert out[1].contaminated and out[1].max_overlap == 1.0 and out[1].top_bench_id == 100
    assert not out[2].contaminated and out[2].top_bench_id is None and out[2].max_overlap == 0.0
    assert not out[3].contaminated


def test_contamination_report_bloom_identical(spark):
    """The Bloom-prefiltered path returns byte-identical reports: false
    positives die in the exact join, false negatives cannot happen.
    Checked at a roomy m_bits AND a tiny m_bits=64 (high-fp regime, every
    word hot) to pin the fp-removal property rather than luck."""
    from wbkg.ops.decontam import contamination_report, contamination_report_bloom

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
            (2, "one two three four five six seven eight nine ten eleven twelve"),
            (3, "totally unrelated words nothing shared with any benchmark item at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "beta gamma delta epsilon zeta eta theta iota kappa"),
            (200, "xxx yyy zzz www vvv uuu ttt sss rrr qqq"),
        ],
        "bench_id long, text string",
    )
    exact = sorted(
        map(tuple, contamination_report(docs, bench, n=8, threshold=0.5).collect())
    )
    for m_bits in (1 << 22, 64):
        bloom = sorted(
            map(
                tuple,
                contamination_report_bloom(
                    docs, bench, n=8, threshold=0.5, m_bits=m_bits
                ).collect(),
            )
        )
        assert bloom == exact, m_bits


def test_contamination_broadcast_plan(spark):
    """The benchmark side must reach the probe as a broadcast — the corpus
    shingle stream may not shuffle for the match join at 100 TB."""
    from wbkg.ops.decontam import contamination_report

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.concat(F.lit(f"w{j}d"), F.col("id")) for j in range(12)]).alias("text"),
    )
    bench = docs.limit(2).select(F.col("doc_id").alias("bench_id"), "text")
    plan = contamination_report(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_sample_mixture(spark):
    """Mixture sampler: binding domain kept whole, others thinned toward the
    target ratio, absent domains dropped, md5-determinism under
    repartitioning."""
    from wbkg.ops.prep import sample_mixture

    rows = [(i, "en") for i in range(900)] + [(i + 1000, "de") for i in range(100)] + [
        (i + 2000, "junk") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_mixture(df, {"en": 0.5, "de": 0.5}, domain_col="lang", id_col="doc_id")
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    # de binds (100/0.5 < 900/0.5): kept whole; en thinned to ~100
    assert by["de"] == 100
    assert 80 <= by["en"] <= 120  # md5-uniform, rate 1/9 of 900
    assert "junk" not in by

    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {
        r.doc_id
        for r in sample_mixture(
            df.repartition(7), {"en": 0.5, "de": 0.5}, domain_col="lang", id_col="doc_id"
        ).collect()
    }
    assert ids1 == ids2  # order/partitioning independence

    # the corpus side is never shuffled: rates broadcast into a map-side filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_percentile_filter_exact_and_approx(spark):
    from wbkg.ops.textops import percentile_filter

    rows = [(i, "en", float(i)) for i in range(100)] + [
        (i + 1000, "de", float(i % 10)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    exact = percentile_filter(df, "score", group_col="lang", keep_frac=0.2)
    got = exact.collect()
    en = sorted(r.doc_id for r in got if r.lang == "en")
    assert en == list(range(80, 100))  # pr=(rank-1)/99 < 0.2 keeps the top 20 scores
    # de has massive ties (scores 0..9 x4): boundary ties drop together
    de_scores = sorted((r.score for r in got if r.lang == "de"), reverse=True)
    assert de_scores and min(de_scores) > 7.0

    # the 100 TB path agrees up to sketch rank error and never sorts the corpus
    approx = percentile_filter(df, "score", group_col="lang", keep_frac=0.2, exact=False)
    a_en = {r.doc_id for r in approx.collect() if r.lang == "en"}
    assert a_en.issuperset(set(range(85, 100))) and len(a_en) <= 25
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "Window" not in plan

    with pytest.raises(ValueError):
        percentile_filter(df, "score", keep_frac=0.0)


def test_repeated_passages(spark):
    from wbkg.ops.dedup import repeated_passages

    boiler = " ".join(f"legal{i}" for i in range(8))  # 8-word boilerplate block
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique alpha words here one two"),
            (2, boiler + " entirely different tail beta gamma delta"),
            (3, "no shared window in this document at all kappa"),
            (4, "tiny"),  # shorter than w: zero windows, no sequence() blow-up
        ],
        "doc_id long, text string",
    )
    out = repeated_passages(docs, w=8, stride=4, min_docs=2).collect()
    # the boilerplate window at start_word 0 recurs in docs 1 and 2; the
    # stride-4 window mixes boiler+tail and is unique per doc
    assert {(r.doc_id, r.start_word) for r in out} == {(1, 0), (2, 0)}
    assert all(r.n_docs == 2 for r in out)
    phashes = {r.phash for r in out}
    assert len(phashes) == 1  # same passage -> same md5


# --- ADVICE r03 regressions -------------------------------------------------

def test_shingles_short_docs_yield_zero_shingles(spark):
    """Docs with fewer than n words must produce no shingles, not abort the
    job (sequence(0,-1) descends; slice start 0 throws). n=8 decontamination
    prompts make short inputs a mainline case."""
    from wbkg.ops.dedup import shingles_df

    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine"), (2, "too short"), (3, "")],
        "doc_id long, text string",
    )
    out = shingles_df(df, n=8).collect()
    assert {r.doc_id for r in out} == {1}
    assert len(out) == 2  # 9 words -> 2 distinct 8-gram shingles


def test_contamination_report_short_prompts(spark):
    """End-to-end: an eval prompt under n words must not crash the report."""
    from wbkg.ops.decontam import contamination_report

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "short prompt"), (11, "alpha beta gamma delta epsilon zeta eta theta")],
        "bench_id long, text string",
    )
    rows = {r.doc_id: r for r in contamination_report(docs, bench).collect()}
    assert rows[1].top_bench_id == 11 and rows[1].contaminated


def test_percentile_filter_keep_all_boundary(spark):
    """keep_frac=1.0 (explicitly allowed) keeps every row on BOTH paths."""
    from wbkg.ops.textops import percentile_filter

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(30)], "doc_id long, score double"
    )
    assert percentile_filter(df, "score", keep_frac=1.0).count() == 30
    assert percentile_filter(df, "score", keep_frac=1.0, exact=False).count() == 30


def test_png_codec_pure():
    """Pure-stdlib PNG codec: roundtrip across ALL five scanline filter
    types (the encoder cycles y % 5), random + closed-form pixels; loud
    errors on junk."""
    import numpy as np

    from wbkg.ops.multimodal import decode_png, encode_png, gen_png_pixels

    rng = np.random.default_rng(11)
    for shape in [(5, 4), (48, 64), (7, 1)]:
        px = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px)
    px = gen_png_pixels(3, 0)
    assert np.array_equal(decode_png(encode_png(px)), px)
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_png_decode_stats_real_pixels(spark):
    """png_decode_stats decodes REAL PNGs: dims from IHDR, means from the
    reconstructed pixels — verified against the closed-form formula."""
    import numpy as np

    from wbkg.ops.multimodal import gen_media_df, gen_png_pixels, png_decode_stats

    media = gen_media_df(spark, docs=4)
    rows = {r.media_id: r for r in png_decode_stats(media).collect()}
    assert len(rows) == 4  # one image per doc (m=0)
    for d in range(4):
        r = rows[f"M{d:05d}_0"]
        px = gen_png_pixels(d, 0).astype(float)
        assert (r.width, r.height) == (64, 48)
        assert abs(r.mean_r - round(px[:, :, 0].mean(), 4)) < 1e-9
        assert abs(r.mean_b - round(px[:, :, 2].mean(), 4)) < 1e-9


def test_extract_features_png_real_decode(spark):
    """image features come from the decoded luminance histogram (real
    pixels), not the hash stub: recomputing from gen_png_pixels matches."""
    import numpy as np

    from wbkg.ops.multimodal import (
        FEATURE_DIM,
        extract_features,
        gen_media_df,
        gen_png_pixels,
    )

    media = gen_media_df(spark, docs=3)
    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    px = gen_png_pixels(1, 0).astype(np.float64)
    lum = px.mean(axis=2)
    hist, _ = np.histogram(lum, bins=FEATURE_DIM, range=(0.0, 256.0))
    v = hist.astype(np.float64)
    v = v / np.linalg.norm(v)
    got = np.array(feats["M00001_0"], dtype=np.float64)
    assert np.allclose(got, v, atol=1e-6)


def test_wav_codec_pure():
    import numpy as np

    from wbkg.ops.multimodal import decode_wav, encode_wav, gen_wav_samples

    s = gen_wav_samples(5, 1)
    dec, rate = decode_wav(encode_wav(s))
    assert np.array_equal(dec, s) and rate == 8000
    # odd-length data chunk pads per RIFF; loud on junk
    with pytest.raises(ValueError):
        decode_wav(b"nope" * 8)


def test_wav_decode_stats_real_samples(spark):
    import numpy as np

    from wbkg.ops.multimodal import gen_media_df, gen_wav_samples, wav_decode_stats

    rows = {r.media_id: r for r in wav_decode_stats(gen_media_df(spark, docs=4)).collect()}
    assert len(rows) == 4
    for d in range(4):
        r = rows[f"M{d:05d}_1"]
        s = gen_wav_samples(d, 1).astype(np.int64)
        assert (r.n_samples, r.sample_rate, r.duration_payload_ms) == (4000, 8000, 500)
        assert abs(r.mean_abs - round(float(np.abs(s).mean()), 4)) < 1e-9
        assert r.zero_crossings == int(((s[:-1] < 0) != (s[1:] < 0)).sum())


def test_mp4_meta_pure():
    import struct as _struct

    from wbkg.ops.multimodal import encode_mp4_stub, parse_mp4_meta

    m = parse_mp4_meta(encode_mp4_stub(1000, 3000))
    assert (m["brand"], m["timescale"], m["duration_ms"]) == ("isom", 1000, 3000)
    assert m["boxes"] == ["ftyp", "moov"]
    # version-1 mvhd (64-bit duration) parses too
    def box(tag, body):
        return _struct.pack(">I", 8 + len(body)) + tag + body
    mvhd1 = (b"\x01\x00\x00\x00" + _struct.pack(">QQ", 0, 0)
             + _struct.pack(">I", 600) + _struct.pack(">Q", 1200) + b"\x00" * 80)
    doc = (box(b"ftyp", b"mp42" + b"\x00" * 4 + b"mp42")
           + box(b"moov", box(b"mvhd", mvhd1)))
    m1 = parse_mp4_meta(doc)
    assert (m1["timescale"], m1["duration_ms"]) == (600, 2000)
    with pytest.raises(ValueError):
        parse_mp4_meta(b"garbage_data")


def test_mp4_meta_stats_spark(spark):
    from wbkg.ops.multimodal import gen_media_df, mp4_meta_stats

    rows = {r.media_id: r for r in mp4_meta_stats(gen_media_df(spark, docs=3, per_doc=3)).collect()}
    assert len(rows) == 3
    for d in range(3):
        r = rows[f"M{d:05d}_2"]
        assert (r.brand, r.timescale, r.duration_payload_ms) == ("isom", 1000, 3000)


def test_cap_per_source(spark):
    from wbkg.ops.prep import cap_per_source

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(90)] + [(1000 + i, "hub") for i in range(300)],
        "doc_id long, source string",
    )
    out = cap_per_source(docs, max_per_key=25)
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"src0": 25, "src1": 25, "src2": 25, "hub": 25}
    # deterministic + order/partition independent
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in cap_per_source(docs.repartition(13), max_per_key=25).collect()}
    assert a == b
    # unbiased-ish: the hub survivors are not simply the first 25 ids
    hub = sorted(x for x in a if x >= 1000)
    assert hub != list(range(1000, 1025))


def test_quantize_embeddings(spark):
    import numpy as np

    from wbkg.ops.similarity import quantize_embeddings

    rows = [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    scale = 1.0 / 127.0
    assert abs(r1.scale - round(scale, 6)) < 1e-9
    assert r1.codes == [int(np.floor(x / scale + 0.5)) for x in (0.5, -1.0, 0.25, 0.0)]
    assert r1.max_code == 64  # 0.5/scale = 63.5 -> half-up 64
    # error bounded by scale/2, computed with the UNROUNDED scale
    assert r1.recon_err <= scale / 2 + 1e-9
    # all-zero vector: scale falls back to 1.0, codes all zero
    r2 = out[2]
    assert r2.scale == 1.0 and r2.codes == [0, 0, 0, 0] and r2.recon_err == 0.0


def test_mp4_rgb_codec_pure():
    import numpy as np

    from wbkg.ops.multimodal import (
        decode_mp4_frames,
        encode_mp4_rgb,
        gen_video_frames,
        parse_mp4_meta,
    )

    fr = gen_video_frames(7, 2, n_frames=3, width=16, height=8)
    data = encode_mp4_rgb(fr, timescale=1000, duration=1200)
    # container metadata parses with the existing box walk
    m = parse_mp4_meta(data)
    assert (m["brand"], m["timescale"], m["duration_ms"]) == ("isom", 1000, 1200)
    assert m["boxes"] == ["ftyp", "moov", "mdat"]
    # frame round-trip is byte-exact
    out = decode_mp4_frames(data)
    assert out.shape == (3, 8, 16, 3)
    assert np.array_equal(out, fr)
    # compressed codecs are a loud, named boundary (libav not in container)
    i = data.rfind(b"raw ")  # the stsd sample-entry format tag
    bad = bytearray(data)
    bad[i:i + 4] = b"avc1"
    with pytest.raises(ValueError, match="avc1"):
        decode_mp4_frames(bytes(bad))
    with pytest.raises(ValueError):
        decode_mp4_frames(b"garbage_data_no_ftyp")


def test_video_decode_stats_real_frames(spark):
    import numpy as np

    from wbkg.ops.multimodal import gen_media_df, gen_video_frames, video_decode_stats

    rows = video_decode_stats(gen_media_df(spark, docs=3, per_doc=3)).collect()
    assert len(rows) == 3 * 4  # one row per decoded frame
    by_key = {(r.media_id, r.frame_idx): r for r in rows}
    for d in range(3):
        fr = gen_video_frames(d, 2).astype(np.float64)
        for f in range(4):
            r = by_key[(f"M{d:05d}_2", f)]
            assert (r.n_frames, r.width, r.height) == (4, 32, 24)
            assert abs(r.mean_r - round(fr[f, :, :, 0].mean(), 4)) < 1e-9
            assert abs(r.mean_g - round(fr[f, :, :, 1].mean(), 4)) < 1e-9
            assert abs(r.mean_b - round(fr[f, :, :, 2].mean(), 4)) < 1e-9


def test_extract_features_video_real_decode(spark):
    """Video features now come from REAL decoded frames: the luminance
    histogram over all frames sums to n_frames*w*h before normalization."""
    import numpy as np

    from wbkg.ops.multimodal import (
        _feature_vector,
        encode_mp4_rgb,
        gen_video_frames,
    )

    fr = gen_video_frames(1, 2)
    v = _feature_vector(encode_mp4_rgb(fr))
    assert v.sum() == fr.shape[0] * fr.shape[1] * fr.shape[2]
    lum = fr.astype(np.float64).mean(axis=3)
    hist, _ = np.histogram(lum, bins=16, range=(0.0, 256.0))
    assert np.array_equal(v, hist.astype(np.float64))


def test_normalize_urls(spark):
    from wbkg.ops.prep import normalize_urls, url_canonical_docs

    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/b/?x=2&utm_source=tw&a=1#frag"),
        (2, "http://example.com/a/b?a=1&x=2&fbclid=zzz"),
        (3, "https://example.com:443/a/b?a=1&x=2"),
        (4, "https://sub.example.org:8443/p/?gclid=zz&id=9"),
        (5, "http://example.com"),
        (6, "http://example.com/"),
    ]
    out = {r.doc_id: r.norm_url for r in
           normalize_urls(spark.createDataFrame(rows, "doc_id long, url string")).collect()}
    # case-fold, www/default-port strip, fragment drop, tracking removal,
    # param sort, trailing-slash strip
    assert out[1] == "http://example.com/a/b?a=1&x=2"
    assert out[2] == "http://example.com/a/b?a=1&x=2"   # same canonical as 1
    assert out[3] == "https://example.com/a/b?a=1&x=2"  # scheme differs -> distinct
    assert out[4] == "https://sub.example.org:8443/p?id=9"  # non-default port kept
    assert out[5] == out[6] == "http://example.com"     # root slash irrelevant
    dedup = {r.doc_id: r.is_canonical for r in
             url_canonical_docs(spark.createDataFrame(rows, "doc_id long, url string")).collect()}
    assert dedup == {1: True, 2: False, 3: True, 4: True, 5: True, 6: False}


def test_sessionize(spark):
    from datetime import datetime

    from wbkg.ops.prep import sessionize

    T = datetime
    rows = [
        (1, 1, T(2024, 1, 1, 10, 0, 0)),
        (1, 2, T(2024, 1, 1, 10, 20, 0)),   # 20 min gap -> same session
        (1, 3, T(2024, 1, 1, 11, 0, 1)),    # 40+ min gap -> new session
        (2, 4, T(2024, 1, 1, 10, 0, 0)),    # other user independent
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {r.event_id: (r.session_seq, r.session_id) for r in sessionize(df).collect()}
    assert got[1] == (1, "1#1") and got[2] == (1, "1#1")
    assert got[3] == (2, "1#2")
    assert got[4] == (1, "2#1")
    # boundary: exactly the gap is NOT a new session (> , not >=)
    df2 = spark.createDataFrame(
        [(1, 1, T(2024, 1, 1, 10, 0, 0)), (1, 2, T(2024, 1, 1, 10, 30, 0))],
        "user_id long, event_id long, ts timestamp",
    )
    got2 = {r.event_id: r.session_seq for r in sessionize(df2).collect()}
    assert got2 == {1: 1, 2: 1}


def test_sketch_distinct(spark):
    from wbkg.ops.prep import sketch_distinct

    df = spark.createDataFrame(
        [(g, f"v{v % (g + 1)}") for g in range(3) for v in range(50)],
        "grp int, val string",
    )
    got = {r.grp: (r.exact, r.within_bounds) for r in sketch_distinct(df, "grp", "val").collect()}
    assert got == {0: (1, True), 1: (2, True), 2: (3, True)}


def test_sketch_quantiles(spark):
    from wbkg.ops.prep import sketch_quantiles

    # group 0: uniform 0..99; group 1: ALL-TIED values (the rank-interval
    # edge case — count(v<=q)/n = 1.0 for every p, so a naive fraction
    # check would fail); group 2: two values 90/10
    rows = (
        [(0, float(v)) for v in range(100)]
        + [(1, 7.0)] * 40
        + [(2, 1.0)] * 90
        + [(2, 2.0)] * 10
    )
    df = spark.createDataFrame(rows, "grp int, val double")
    out = sketch_quantiles(df, "grp", "val").collect()
    assert len(out) == 12  # 3 groups x 4 probabilities
    assert all(r.within_bounds for r in out), [
        (r.grp, r.p) for r in out if not r.within_bounds
    ]
    n = {r.grp: r.n_rows for r in out}
    assert n == {0: 100, 1: 40, 2: 100}


def test_normalize_urls_idempotent(spark):
    """Canonicalization is a projection: normalize(normalize(x)) ==
    normalize(x) — re-normalizing the canonical form changes nothing."""
    from pyspark.sql import functions as F

    from wbkg.ops.prep import normalize_urls

    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/b/?x=2&utm_source=tw&a=1#frag"),
        (2, "https://example.com:443/a//b///?b=1&a=2"),
        (3, "http://example.com"),
        (4, "https://sub.example.org:8443/p/?gclid=zz&id=9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    once = normalize_urls(df)
    twice = normalize_urls(
        once.select("doc_id", F.col("norm_url").alias("url"))
    )
    a = {r.doc_id: r.norm_url for r in once.collect()}
    b = {r.doc_id: r.norm_url for r in twice.collect()}
    assert a == b


def test_sessionize_property(spark):
    """Hypothesis: for ANY event times, each user's session count equals
    1 + number of inter-event gaps strictly over the threshold, and events
    within one session are consecutive in time order."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings, strategies as st

    from wbkg.ops.prep import sessionize

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        gaps=st.lists(st.integers(0, 90), min_size=1, max_size=12),
        gap_minutes=st.sampled_from([10, 30]),
    )
    def run(gaps, gap_minutes):
        t0 = datetime(2024, 1, 1)
        ts, cur = [], t0
        for g in gaps:
            cur = cur + timedelta(minutes=g)
            ts.append(cur)
        rows = [(1, i, t) for i, t in enumerate(ts)]
        df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
        out = sorted(
            (r.event_id, r.session_seq) for r in sessionize(df, gap_minutes=gap_minutes).collect()
        )
        want_sessions = 1 + sum(1 for g in gaps[1:] if g > gap_minutes)
        seqs = [s for _e, s in out]
        assert max(seqs) == want_sessions
        assert seqs == sorted(seqs)  # session ids non-decreasing in time

    run()


def test_resize_image_pure():
    import numpy as np

    from wbkg.ops.multimodal import gen_png_pixels, resize_image

    px = gen_png_pixels(3, 0)  # 48x64x3
    out = resize_image(px, 32)
    assert out.shape == (24, 32, 3)
    # floor index map: out[y', x'] == src[2y', 2x']
    assert np.array_equal(out, px[::2, ::2])
    # never upscales
    assert resize_image(px, 1000).shape == px.shape
    # non-integer ratio: 64x48 -> max_side 30 -> 30x22 (floor dims)
    out2 = resize_image(px, 30)
    assert out2.shape == (22, 30, 3)
    xs = (np.arange(30) * 64) // 30
    ys = (np.arange(22) * 48) // 22
    assert np.array_equal(out2, px[np.ix_(ys, xs)])


def test_resize_png_stats_real_pixels(spark):
    import numpy as np

    from wbkg.ops.multimodal import gen_media_df, gen_png_pixels, resize_image, resize_png_stats

    rows = {r.media_id: r for r in resize_png_stats(gen_media_df(spark, docs=3)).collect()}
    assert len(rows) == 3
    for d in range(3):
        r = rows[f"M{d:05d}_0"]
        exp = resize_image(gen_png_pixels(d, 0), 32).astype(np.float64).mean(axis=(0, 1))
        assert (r.out_w, r.out_h) == (32, 24)
        assert abs(r.mean_r - round(exp[0], 4)) < 1e-9
        assert abs(r.mean_g - round(exp[1], 4)) < 1e-9
        assert abs(r.mean_b - round(exp[2], 4)) < 1e-9


def test_resample_audio(spark):
    import numpy as np

    from wbkg.ops.multimodal import (
        gen_media_df,
        gen_wav_samples,
        resample_audio,
        wav_resample_stats,
    )

    s = gen_wav_samples(2, 1)
    s2, rate2 = resample_audio(s, 8000, 2)
    assert np.array_equal(s2, s[::2]) and rate2 == 4000
    with pytest.raises(ValueError):
        resample_audio(s, 8000, 0)
    rows = {r.media_id: r for r in wav_resample_stats(gen_media_df(spark, docs=2), factor=2).collect()}
    for d in range(2):
        r = rows[f"M{d:05d}_1"]
        want = np.abs(gen_wav_samples(d, 1)[::2].astype(np.float64)).mean()
        assert (r.out_samples, r.out_rate) == (2000, 4000)
        assert abs(r.mean_abs - round(float(want), 4)) < 1e-9


def test_tfidf_topk(spark):
    """Hand-computed TF-IDF on a 3-doc corpus: rare terms outscore common
    ones; ties (equal tf, df_t) break on term asc; k bounds the output."""
    import math

    from wbkg.ops.textops import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "common common dates"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) == 2 for v in by_doc.values())
    # doc 1: apple tf=2 df=1 -> 2*ln(4/2); banana tf=1 df=2 -> ln(4/3);
    # common tf=1 df=3 -> ln(4/4)=0. Top-2 = apple, banana.
    d1 = by_doc[1]
    assert [r.term for r in d1] == ["apple", "banana"]
    assert abs(d1[0].score - round(2 * math.log(2.0), 8)) < 1e-9
    assert (d1[0].tf, d1[0].df_t) == (2, 1)
    # doc 2: banana and cherry... banana tf=1 df=2 = ln(4/3); cherry tf=1
    # df=1 = ln(4/2) bigger -> cherry first, banana second
    assert [r.term for r in by_doc[2]] == ["cherry", "banana"]
    # doc 3: dates (rare) first; common tf=2 but idf=0 -> score 0 last
    d3 = by_doc[3]
    assert [r.term for r in d3] == ["dates", "common"]
    assert d3[1].score == 0.0


def test_token_frequency_score(spark):
    from wbkg.ops.textops import token_frequency_score

    docs = spark.createDataFrame(
        [(1, "the cat the dog"), (2, "the the"), (3, "zyxq")],
        "doc_id long, text string",
    )
    # corpus counts: the=4, cat=1, dog=1, zyxq=1
    got = {r.doc_id: (r.n_tokens, r.mean_token_freq)
           for r in token_frequency_score(docs).collect()}
    assert got[1] == (4, round((4 + 1 + 4 + 1) / 4, 6))
    assert got[2] == (2, 4.0)      # all common tokens -> high score
    assert got[3] == (1, 1.0)      # rare-vocabulary doc -> lowest score
    assert got[3][1] < got[1][1] < got[2][1]


def test_fuzzy_pairs_edit1(spark):
    """FastSS blocking + verify finds EXACTLY the levenshtein<=1 pairs:
    equal, one substitution, one insertion, one deletion — and nothing at
    distance 2, even when the block admits the candidate."""
    from itertools import product

    from wbkg.ops.dedup import fuzzy_pairs_edit1

    left = spark.createDataFrame(
        [("CANADA",), ("PERU",), ("x",)], "surface string"
    )
    right = spark.createDataFrame(
        [("CANADA",),   # equal
         ("CANADO",),   # substitution
         ("CANADAS",),  # insertion
         ("CANAD",),    # deletion
         ("CXNXDA",),   # distance 2 - must NOT match
         ("PER",), ("",)],  # deletion of PERU->PER? no: that's distance 1? PER vs PERU = 1 deletion
        "surface string",
    )
    got = {(r.a, r.b) for r in fuzzy_pairs_edit1(left, right).collect()}
    # brute-force reference
    def lev(a, b):
        import numpy as np
        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[-1])
    want = {
        (a, b)
        for a, b in product(["CANADA", "PERU", "x"],
                            ["CANADA", "CANADO", "CANADAS", "CANAD", "CXNXDA", "PER", ""])
        if lev(a, b) <= 1
    }
    assert got == want
    assert ("CANADA", "CXNXDA") not in got
    assert ("x", "") in got  # single deletion to empty string


def test_exact_dedup_property(spark):
    """Hypothesis: for ANY corpus with planted verbatim copies, exact_dedup
    keeps exactly one survivor per text group (the min id) and reports the
    group size."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from wbkg.ops.dedup import exact_dedup

    TEXT = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), min_size=1, max_size=40
    )

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        texts=st.lists(TEXT, min_size=1, max_size=6, unique=True),
        copies=st.lists(st.integers(1, 4), min_size=6, max_size=6),
    )
    def run(texts, copies):
        rows, nid = [], 0
        want = {}
        for t, k in zip(texts, copies):
            ids = []
            for _ in range(k):
                rows.append((nid, t))
                ids.append(nid)
                nid += 1
            want[min(ids)] = k
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.keep_id: r.dup_count for r in exact_dedup(df).collect()}
        assert got == want

    run()


def test_fuzzy_pairs_edit1_hot_bucket_cap(spark):
    """VERDICT r05 #5: a variant bucket shared by >max_bucket strings is
    dropped from blocking — a planted hot stem (many single-char
    insertions into the same 10-char stem) stays bounded — while pairs
    blocked through cold variants are untouched."""
    from wbkg.ops.dedup import fuzzy_pairs_edit1

    stem = "qqqqqqqqqq"
    # 500 distinct insertions into the stem: all share deletion variant
    # `stem`; pairwise they are ed<=2 (one insert each)
    hot = [
        stem[:pos] + c + stem[pos:]
        for pos in range(len(stem) + 1)
        for c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVW"
    ][:500]
    cold = ["CANADA", "PERU"]
    left = spark.createDataFrame([(s,) for s in hot + cold], "surface string")
    right = spark.createDataFrame(
        [(s,) for s in hot + ["CANADO", "PERU"]], "surface string"
    )
    capped = fuzzy_pairs_edit1(left, right, max_bucket=100)
    got = {(r.a, r.b) for r in capped.collect()}
    # cold pairs survive
    assert ("CANADA", "CANADO") in got and ("PERU", "PERU") in got
    # hot-bucket identity pairs still match: "x" shares variants OTHER than
    # the dropped stem with itself (itself, and its other deletions)
    assert (hot[0], hot[0]) in got
    # the planted ed=1 pairs whose ONLY shared variant is the hot stem are
    # (documented trade) dropped: insertions at different positions of
    # different chars are ed=2 anyway; same-char adjacent-position inserts
    # are ed=0/1 but share other variants. Verify the candidate volume is
    # bounded: without the cap the stem bucket alone is 500*500
    uncapped = fuzzy_pairs_edit1(left, right, max_bucket=None)
    assert uncapped.count() >= capped.count()
    # and the capped result is still exactly lev<=1 on what it returns
    import numpy as np

    def lev(a, b):
        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[-1])

    assert all(lev(a, b) <= 1 for a, b in got)


def test_inverted_index_and_phrase_search(spark):
    from wbkg.ops.textops import inverted_index, phrase_search

    docs = spark.createDataFrame(
        [
            (1, "big data, Big Plans"),          # punctuation + case folding
            (2, "data big data systems"),
            (3, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    idx = {(r.term, r.doc_id): (r.df_docs, r.positions) for r in inverted_index(docs).collect()}
    assert idx[("big", 1)] == (2, "0,2")       # positions renumbered over non-empty tokens
    assert idx[("data", 2)] == (2, "0,2")
    assert idx[("plans", 1)][0] == 1
    # max_df cap drops hot terms entirely
    capped = inverted_index(docs, max_df=1)
    assert not [r for r in capped.collect() if r.term in ("big", "data")]

    hits = {r.doc_id: (r.n_hits, r.first_pos) for r in phrase_search(docs, "big data").collect()}
    assert hits == {1: (1, 0), 2: (1, 1)}
    # overlapping repeats: "a a a" contains "a a" twice
    rep = spark.createDataFrame([(9, "a a a")], "doc_id long, text string")
    got = phrase_search(rep, "a a").collect()
    assert [(r.doc_id, r.n_hits, r.first_pos) for r in got] == [(9, 2, 0)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phrase_search(docs, "   ")


def test_asof_join_semantics(spark):
    from datetime import datetime

    from wbkg.ops.joins import asof_join

    T = datetime
    left = spark.createDataFrame(
        [
            (1, 7, T(2024, 1, 1, 10, 0)),   # exact-ts right row -> inclusive
            (2, 7, T(2024, 1, 1, 9, 59)),   # before any right row -> null
            (3, 7, T(2024, 1, 1, 12, 0)),   # picks the later right row
            (4, 8, T(2024, 1, 1, 12, 0)),   # key with no right rows -> null
        ],
        "id long, k long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            (100, 7, T(2024, 1, 1, 10, 0), 1.0),
            (101, 7, T(2024, 1, 1, 11, 0), 2.0),
            (102, 7, T(2024, 1, 1, 11, 0), 3.0),  # tie: greatest rid wins
        ],
        "rid long, k long, ts timestamp_ntz, v double",
    )
    out = asof_join(
        left, right, on="k", right_cols=["rid", "v"], tiebreak="rid"
    )
    got = {r.id: (r.rid_r, r.v_r) for r in out.collect()}
    assert got == {1: (100, 1.0), 2: (None, None), 3: (102, 3.0), 4: (None, None)}


def test_interval_overlap_join_semantics(spark):
    from datetime import datetime

    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from wbkg.ops.joins import interval_overlap_join

    T = datetime
    mk = lambda idc, rows: spark.createDataFrame(
        rows, f"k long, {idc} long, s timestamp_ntz, e timestamp_ntz"
    )
    left = mk(
        "lid",
        [
            (1, 10, T(2024, 1, 1, 0, 0), T(2024, 1, 1, 1, 0)),
            (1, 11, T(2024, 1, 1, 5, 0), T(2024, 1, 1, 6, 0)),
            (2, 12, T(2024, 1, 1, 0, 0), T(2024, 1, 1, 1, 0)),  # other key
        ],
    )
    right = mk(
        "rid",
        [
            (1, 20, T(2024, 1, 1, 1, 0), T(2024, 1, 1, 2, 0)),  # touches 10 at 1:00
            (1, 21, T(2024, 1, 1, 2, 30), T(2024, 1, 1, 3, 0)),  # no overlap
            (1, 22, T(2024, 1, 1, 5, 30), T(2024, 1, 1, 7, 0)),  # overlaps 11
        ],
    )
    out = interval_overlap_join(
        left, right, on="k", l_id="lid", r_id="rid",
        l_start="s", l_end="e", r_start="s", r_end="e", bin_seconds=900,
    )
    got = {(r.k, r.lid, r.rid) for r in out.collect()}
    assert got == {(1, 10, 20), (1, 11, 22)}

    # an interval spanning >= max_bins bins fails loudly, not silently
    with _pytest.raises(SparkRuntimeException, match="spans >= 2 bins"):
        interval_overlap_join(
            left, right, on="k", l_id="lid", r_id="rid",
            l_start="s", l_end="e", r_start="s", r_end="e",
            bin_seconds=60, max_bins=2,
        ).collect()


def test_bm25_rank_semantics(spark):
    import math

    import pytest as _pytest

    from wbkg.ops.textops import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "spark spark shuffle"),
            (2, "spark join"),
            (3, "window only words"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_matched, r.score) for r in bm25_rank(docs, "spark").collect()}
    assert set(got) == {1, 2}                       # doc 3 matches nothing
    # hand-computed: N=3, df=2, idf=ln(1+1.5/2.5); avgdl=8/3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    sc = lambda tf, dl: idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (8 / 3)))
    assert got[1] == (1, round(sc(2, 3), 8))
    assert got[2] == (1, round(sc(1, 2), 8))
    # higher-tf doc with equal-ish length ranks higher
    assert got[1][1] > got[2][1]
    with _pytest.raises(ValueError):
        bm25_rank(docs, "  ")


def test_bigram_lm_score_semantics(spark):
    import math

    from wbkg.ops.textops import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),       # fluent: repeated corpus bigrams
            (2, "b a"),
            (3, "x"),             # single token: no bigrams, drops out
            (4, ""),              # empty: slice guard, drops out
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_logp) for r in bigram_lm_score(docs).collect()}
    assert set(got) == {1, 2}
    # corpus bigrams: (a,b)x2, (b,a)x2 -> c12: ab=2, ba=2; c1: a=2, b=2; V=3
    lp = lambda c12, c1: math.log((c12 + 1) / (c1 + 3))
    assert got[1] == (3, round((2 * lp(2, 2) + lp(2, 2)) / 3, 8))
    assert got[2] == (1, round(lp(2, 2), 8))


def test_neighbor_jaccard_semantics(spark):
    from wbkg.graph_analytics import neighbor_jaccard

    # parts -> orders: 1:{a,b,c}, 2:{b,c,d}, 3:{c}, 4:{x}
    edges = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "b"), (2, "c"), (2, "d"),
         (3, "c"), (4, "x")],
        "src long, dst string",
    )
    got = {(r.u, r.v): (r.common, r.jaccard) for r in neighbor_jaccard(edges).collect()}
    assert got[(1, 2)] == (2, round(2 / 4, 8))   # {b,c} / {a,b,c,d}
    assert got[(1, 3)] == (1, round(1 / 3, 8))
    assert got[(2, 3)] == (1, round(1 / 3, 8))
    assert (1, 4) not in got and len(got) == 3

    # hot-center cap: 'c' (degree 3) dropped from candidate generation,
    # but degrees stay TRUE degrees for surviving pairs
    capped = {(r.u, r.v): (r.common, r.jaccard)
              for r in neighbor_jaccard(edges, max_center_degree=2).collect()}
    assert capped == {(1, 2): (1, round(1 / 5, 8))}  # only 'b' wedges left


def test_scd2_history(spark):
    from datetime import datetime

    from wbkg.ops.prep import scd2_history

    T = datetime
    log = spark.createDataFrame(
        [
            (1, 7, T(2024, 1, 1), "on"),
            (2, 7, T(2024, 1, 2), "on"),    # repeat: no new version
            (3, 7, T(2024, 1, 3), "off"),   # change
            (4, 7, T(2024, 1, 4), "on"),    # change back
            (5, 8, T(2024, 1, 1), "off"),   # other key
        ],
        "event_id long, user_id long, ts timestamp_ntz, state string",
    )
    out = scd2_history(log, "user_id", "ts", "state", tiebreak_col="event_id")
    rows = {(r.user_id, r.valid_from): (r.state, r.valid_to) for r in out.collect()}
    assert rows == {
        (7, T(2024, 1, 1)): ("on", T(2024, 1, 3)),
        (7, T(2024, 1, 3)): ("off", T(2024, 1, 4)),
        (7, T(2024, 1, 4)): ("on", None),
        (8, T(2024, 1, 1)): ("off", None),
    }


def test_pmi_collocations_hand_computed(spark):
    # corpus: "new york" x3 + "the cat"/"the dog" noise. Unigrams:
    # new=3 york=3 the=2 cat=1 dog=1 -> T=10; bigrams: (new,york)=3,
    # (the,cat)=1, (the,dog)=1. With min_count=2 only (new,york) survives:
    # PMI = ln(3*10 / (3*3)) = ln(10/3)
    import math

    from wbkg.ops.textops import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "new york"), (2, "new york"), (3, "new york"), (4, "the cat"), (5, "the dog")],
        "doc_id long, text string",
    )
    rows = pmi_collocations(docs, min_count=2, top_k=10).collect()
    assert [(r.w1, r.w2, r.c12) for r in rows] == [("new", "york", 3)]
    assert abs(rows[0].pmi - round(math.log(10.0 / 3.0), 8)) < 1e-12


def test_pmi_collocations_short_docs_and_tiebreak(spark):
    # one-token docs emit no bigrams; equal-PMI pairs order by (w1, w2)
    from wbkg.ops.textops import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c d"), (4, "c d"), (5, "x"), (6, "")],
        "doc_id long, text string",
    )
    rows = pmi_collocations(docs, min_count=1, top_k=10).collect()
    # both pairs: c12=2, PMI = ln(2*8/(2*2)) = ln 4 -> tie broken by w1
    assert [(r.w1, r.w2) for r in rows] == [("a", "b"), ("c", "d")]
    assert rows[0].pmi == rows[1].pmi


def test_rollup_counts_lattice(spark):
    from wbkg.ops.olap import rollup_counts

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1)], "k string, v int"
    )
    got = {
        (r.k, r.v, r.gid): r.n for r in rollup_counts(df, ["k", "v"]).collect()
    }
    assert got == {
        ("a", 1, 0): 2, ("a", 2, 0): 1, ("b", 1, 0): 1,   # leaves
        ("a", None, 1): 3, ("b", None, 1): 1,             # per-k subtotal
        (None, None, 3): 4,                               # grand total
    }


def test_cube_counts_adds_cross_sets(spark):
    from wbkg.ops.olap import rollup_counts

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "k string, v int"
    )
    got = {
        (r.k, r.v, r.gid): r.n
        for r in rollup_counts(df, ["k", "v"], use_cube=True).collect()
    }
    # the cube-only grouping set: v alone (gid=2, k rolled up)
    assert got[(None, 1, 2)] == 2
    assert got[(None, 2, 2)] == 1
    assert got[(None, None, 3)] == 3


def test_pivot_counts_fixed_vocab(spark):
    from wbkg.ops.olap import pivot_counts

    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "y"), (2, "y"), (2, "zzz")],
        "uid long, t string",
    )
    rows = {r.uid: r for r in pivot_counts(df, "uid", "t", ["x", "y"]).collect()}
    # fixed vocabulary: 'zzz' is NOT a column; missing combos are 0
    assert set(rows[1].asDict()) == {"uid", "x", "y"}
    assert (rows[1].x, rows[1].y) == (2, 1)
    assert (rows[2].x, rows[2].y) == (0, 1)


def test_sample_stratified_deterministic_and_bounded(spark):
    from wbkg.ops.prep import sample_stratified

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)],
        "doc_id long, lang string",
    )
    out1 = sample_stratified(df, {"en": 0.25}, label_col="lang")
    out2 = sample_stratified(df, {"en": 0.25}, label_col="lang")
    got1 = sorted(r.doc_id for r in out1.collect())
    got2 = sorted(r.doc_id for r in out2.collect())
    assert got1 == got2  # md5-stable, no RNG
    n_en = out1.filter(F.col("lang") == "en").count()
    assert 150 < n_en < 350  # ~250 of 1000 at fraction 0.25
    # unlisted stratum kept whole
    assert out1.filter(F.col("lang") == "zh").count() == 1000


def test_sample_stratified_edge_fractions(spark):
    from wbkg.ops.prep import sample_stratified

    df = spark.createDataFrame(
        [(i, "a") for i in range(100)], "doc_id long, lang string"
    )
    assert sample_stratified(df, {"a": 0.0}, label_col="lang").count() == 0
    assert sample_stratified(df, {"a": 1.0}, label_col="lang").count() == 100
    assert sample_stratified(df, {}, label_col="lang").count() == 100


def test_merge_upsert_update_insert_carry(spark):
    from wbkg.ops.table import merge_upsert

    target = spark.createDataFrame(
        [(1, "old-a", 0), (2, "old-b", 0), (3, "old-c", 0)],
        "k long, v string, version int",
    )
    source = spark.createDataFrame(
        [(2, "new-b", 1), (4, "new-d", 1)], "k long, v string, version int"
    )
    got = {
        r.k: (r.v, r.version)
        for r in merge_upsert(target, source, ["k"], "version").collect()
    }
    assert got == {
        1: ("old-a", 0),   # carried unchanged
        2: ("new-b", 1),   # updated
        3: ("old-c", 0),   # carried unchanged
        4: ("new-d", 1),   # inserted
    }


def test_merge_upsert_source_wins_order_tie(spark):
    # the ANSI "matched -> update" arm: same version on both sides,
    # source row replaces the target row
    from wbkg.ops.table import merge_upsert

    target = spark.createDataFrame([(1, "old", 5)], "k long, v string, version int")
    source = spark.createDataFrame([(1, "new", 5)], "k long, v string, version int")
    got = merge_upsert(target, source, ["k"], "version").collect()
    assert [(r.k, r.v, r.version) for r in got] == [(1, "new", 5)]


def test_merge_upsert_target_newer_survives(spark):
    # a stale change batch (lower version) must NOT clobber a newer target
    from wbkg.ops.table import merge_upsert

    target = spark.createDataFrame([(1, "current", 7)], "k long, v string, version int")
    source = spark.createDataFrame([(1, "stale", 3)], "k long, v string, version int")
    got = merge_upsert(target, source, ["k"], "version").collect()
    assert [(r.k, r.v, r.version) for r in got] == [(1, "current", 7)]


def test_dedup_sentences_first_occurrence_order(spark):
    from wbkg.ops.textops import dedup_sentences

    docs = spark.createDataFrame(
        [
            (1, "buy now. great offer! buy now. details inside. great offer!"),
            (2, "just one sentence"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_sentences(docs).collect()}
    # split: [buy now | great offer | buy now | details inside | great offer!]
    # — the FINAL sentence keeps its terminal '!' (no trailing split), so it
    # does not collide with the earlier 'great offer'; only the repeated
    # 'buy now' drops
    assert got[1].n_sentences == 5
    assert got[1].n_kept == 4
    assert got[1].text_deduped == "buy now great offer details inside great offer!"
    assert got[2].n_sentences == 1 and got[2].n_kept == 1
    assert got[3].n_sentences == 0 and got[3].n_kept == 0


def test_event_rate_anomaly_flags_burst_hour(spark):
    from datetime import datetime

    from wbkg.ops.prep import event_rate_anomaly

    T = datetime
    rows = []
    # user 1: 1 event/hour for 9 hours, then a 30-event burst hour
    for h in range(9):
        rows.append((1, T(2024, 1, 1, h, 0)))
    rows += [(1, T(2024, 1, 1, 9, m % 60)) for m in range(30)]
    # user 2: flat rate -> zero variance -> never flagged
    for h in range(5):
        rows.append((2, T(2024, 1, 1, h, 0)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = event_rate_anomaly(df, threshold=2.5).collect()
    assert [(r.user, r.hour.hour, r.n) for r in got] == [(1, 9, 30)]
    assert got[0].z > 2.5


def test_event_rate_anomaly_needs_baseline(spark):
    # two active hours is below the k >= 3 floor -> no output even with
    # a wild swing
    from datetime import datetime

    from wbkg.ops.prep import event_rate_anomaly

    T = datetime
    rows = [(1, T(2024, 1, 1, 0, 0))] + [
        (1, T(2024, 1, 1, 1, m % 60)) for m in range(50)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    assert event_rate_anomaly(df).count() == 0


def test_rolling_stats_trailing_frame(spark):
    from datetime import datetime

    from wbkg.ops.prep import rolling_stats

    T = datetime
    df = spark.createDataFrame(
        [
            (1, 7, T(2024, 1, 1, 0), 1.0),
            (2, 7, T(2024, 1, 1, 1), 2.0),
            (3, 7, T(2024, 1, 1, 2), 4.0),
            (4, 7, T(2024, 1, 1, 3), 8.0),
            (5, 9, T(2024, 1, 1, 0), 100.0),  # other key: frames don't cross
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {
        r.event_id: (r.roll_n, r.roll_sum, r.roll_avg)
        for r in rolling_stats(df, window_rows=3).collect()
    }
    assert got[1] == (1, 1.0, 1.0)
    assert got[2] == (2, 3.0, 1.5)
    assert got[3] == (3, 7.0, round(7.0 / 3, 8))
    assert got[4] == (3, 14.0, round(14.0 / 3, 8))  # row 1 fell out of frame
    assert got[5] == (1, 100.0, 100.0)


def test_ntile_buckets_matches_single_partition_ntile(spark):
    # the distributed rank+offset path must equal Spark's own NTILE
    # computed the naive single-partition way
    from pyspark.sql import Window as W

    from wbkg.ops.prep import ntile_buckets

    df = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(250)], "id long, value double"
    )
    got = {
        r.id: r.bucket
        for r in ntile_buckets(
            df, n=7, order_cols=["value", "id"], num_partitions=8
        ).collect()
    }
    ref = {
        r.id: r.b
        for r in df.withColumn(
            "b", F.ntile(7).over(W.orderBy("value", "id"))
        ).collect()
    }
    assert got == ref


def test_ntile_buckets_fewer_rows_than_buckets(spark):
    from wbkg.ops.prep import ntile_buckets

    df = spark.createDataFrame([(1, 5.0), (2, 1.0)], "id long, value double")
    got = {
        r.id: r.bucket
        for r in ntile_buckets(df, n=10, order_cols=["value", "id"]).collect()
    }
    assert got == {2: 1, 1: 2}  # row i in value order -> bucket i


def test_token_entropy_hand_computed(spark):
    import math

    from wbkg.ops.textops import token_entropy

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in token_entropy(docs).collect()}
    assert (got[1].n_tokens, got[1].n_distinct, got[1].entropy) == (4, 1, -0.0)
    assert got[2].entropy == round(math.log(4.0), 8)  # uniform over 4
    assert got[3].entropy == round(math.log(2.0), 8)  # uniform over 2


def test_flesch_reading_ease_hand_computed(spark):
    from wbkg.ops.textops import flesch_reading_ease

    docs = spark.createDataFrame(
        [(1, "the cat sat. the dog ran."), (2, "")],
        "doc_id long, text string",
    )
    rows = flesch_reading_ease(docs).collect()
    assert len(rows) == 1  # empty doc drops (no sentences)
    r = rows[0]
    # sentences: ['the cat sat', 'the dog ran.'] -> 2; words: 6
    # syllables (vowel groups): the=1 cat=1 sat=1 the=1 dog=1 ran=1 -> 6
    assert (r.n_sentences, r.n_words, r.n_syllables) == (2, 6, 6)
    assert r.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 8)


def test_flesch_syllable_vowel_groups(spark):
    from wbkg.ops.textops import flesch_reading_ease

    docs = spark.createDataFrame(
        [(1, "beautiful onomatopoeia rhythm.")], "doc_id long, text string"
    )
    r = flesch_reading_ease(docs).collect()[0]
    # beautiful: eau|i|u -> 3; onomatopoeia: o|o|a|o|oeia -> 5; rhythm: y -> 1
    assert r.n_syllables == 9


def test_key_skew_report_buckets(spark):
    from wbkg.ops.prep import key_skew_report

    rows = (
        [("hot",)] * 1000         # bucket floor(log2(1000)) = 9
        + [("warm",)] * 8         # bucket 3
        + [("cool",)] * 5         # bucket 2
        + [("one",)]              # bucket 0
        + [("uno",)]              # bucket 0
    )
    df = spark.createDataFrame(rows, "k string")
    got = {r.bucket: (r.n_keys, r.n_rows, r.min_count, r.max_count)
           for r in key_skew_report(df, "k").collect()}
    assert got == {
        9: (1, 1000, 1000, 1000),
        3: (1, 8, 8, 8),
        2: (1, 5, 5, 5),
        0: (2, 2, 1, 1),
    }


def test_zorder_key_matches_python_reference(spark):
    from wbkg.ops.table import zorder_key

    def morton(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    data = [(3, 5), (0, 0), (65535, 65535), (1, 0), (0, 1), (12345, 54321)]
    df = spark.createDataFrame(data, "a long, b long")
    got = {(r.a, r.b): r.zkey for r in zorder_key(df, "a", "b").collect()}
    for a, b in data:
        assert got[(a, b)] == morton(a, b)
    # locality sanity: interleave of maxed 16-bit inputs fills 32 bits
    assert got[(65535, 65535)] == (1 << 32) - 1


def test_zorder_key_rejects_wide_bits(spark):
    import pytest as _pytest

    from wbkg.ops.table import zorder_key

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with _pytest.raises(ValueError):
        zorder_key(df, "a", "b", bits=32)


def test_funnel_stages_subsequence_with_noise(spark):
    from datetime import datetime

    from wbkg.ops.prep import funnel_stages

    T = datetime
    rows = [
        # user 1: full funnel with interleaved noise
        (1, 1, T(2024, 1, 1, 0), "view"),
        (2, 1, T(2024, 1, 1, 1), "error"),
        (3, 1, T(2024, 1, 1, 2), "click"),
        (4, 1, T(2024, 1, 1, 3), "view"),
        (5, 1, T(2024, 1, 1, 4), "purchase"),
        # user 2: purchase BEFORE view/click -> order matters, reached=2
        (6, 2, T(2024, 1, 1, 0), "purchase"),
        (7, 2, T(2024, 1, 1, 1), "view"),
        (8, 2, T(2024, 1, 1, 2), "click"),
        # user 3: never viewed
        (9, 3, T(2024, 1, 1, 0), "click"),
        (10, 3, T(2024, 1, 1, 1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {r.user: r.reached for r in funnel_stages(df, ["view", "click", "purchase"]).collect()}
    assert got == {1: 3, 2: 2, 3: 0}


def test_cohort_retention_matrix(spark):
    from datetime import datetime

    from wbkg.ops.prep import cohort_retention

    T = datetime
    rows = [
        (1, T(2024, 1, 1)),   # Mon wk0 cohort
        (1, T(2024, 1, 10)),  # wk1
        (1, T(2024, 1, 16)),  # wk2
        (2, T(2024, 1, 3)),   # same cohort week
        (2, T(2024, 1, 17)),  # wk2
        (3, T(2024, 1, 9)),   # wk1 cohort
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 2,
        ("2024-01-08", 0): 1,
    }


def test_state_dwell_time_shares(spark):
    from datetime import datetime

    from wbkg.ops.prep import scd2_history, state_dwell_time

    T = datetime
    log = spark.createDataFrame(
        [
            (1, 7, T(2024, 1, 1, 0), "on"),
            (2, 7, T(2024, 1, 1, 6), "off"),   # on for 6h
            (3, 7, T(2024, 1, 1, 8), "on"),    # off for 2h
            (4, 8, T(2024, 1, 1, 0), "on"),    # open only -> drops out
        ],
        "event_id long, user_id long, ts timestamp_ntz, state string",
    )
    hist = scd2_history(log, "user_id", "ts", "state", tiebreak_col="event_id")
    got = {
        (r.key, r.state): (r.n_intervals, r.total_micros, r.share)
        for r in state_dwell_time(hist, state_col="state").collect()
    }
    h = 3_600_000_000  # microseconds per hour
    assert got == {
        (7, "on"): (1, 6 * h, 0.75),
        (7, "off"): (1, 2 * h, 0.25),
    }


def test_rrf_fuse_hand_computed(spark):
    from wbkg.ops.textops import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(2, 0.9), (4, 0.5)], "doc_id long, score double"
    )
    got = {r.doc_id: r for r in rrf_fuse(a, b, k0=60).collect()}
    assert (got[1].rank_a, got[1].rank_b) == (1, None)
    assert got[1].rrf == round(1.0 / 61, 8)
    assert (got[2].rank_a, got[2].rank_b) == (2, 1)
    assert got[2].rrf == round(1.0 / 62 + 1.0 / 61, 8)
    assert (got[4].rank_a, got[4].rank_b) == (None, 2)
    assert got[4].rrf == round(1.0 / 62, 8)
    # doc 2 (in both lists) outranks every single-list doc
    top = rrf_fuse(a, b, k0=60, top_k=1).collect()[0]
    assert top.doc_id == 2


def test_rrf_fuse_tie_broken_by_id(spark):
    from wbkg.ops.textops import rrf_fuse

    a = spark.createDataFrame(
        [(5, 1.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame([], "doc_id long, score double")
    got = {r.doc_id: r.rank_a for r in rrf_fuse(a, b).collect()}
    assert got == {3: 1, 5: 2}  # equal scores -> id order


def test_sample_weighted_matches_python_reference(spark):
    import hashlib

    from wbkg.ops.prep import sample_weighted

    rows = [(i, float((i * 13) % 50 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    def key(i, w):
        b = int(hashlib.md5(f"{i}:wrs".encode()).hexdigest()[:8], 16)
        return round(((b + 1) / 4294967296.0) ** (1.0 / w), 8)

    ref = sorted(((key(i, w), -i) for i, w in rows), reverse=True)[:10]
    want = [-i for _, i in ref]
    got = [r.doc_id for r in sample_weighted(df, k=10, weight_col="w").collect()]
    assert got == want


def test_sample_weighted_zero_weight_excluded_and_heavy_wins(spark):
    from wbkg.ops.prep import sample_weighted

    rows = [(0, 0.0), (1, 1e9)] + [(i, 1.0) for i in range(2, 100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [r.doc_id for r in sample_weighted(df, k=5, weight_col="w").collect()]
    assert 0 not in got          # zero weight never sampled
    assert got[0] == 1           # u^(1/1e9) ~ 1 dominates everything


def test_unpivot_measures_keeps_nulls_and_shape(spark):
    from wbkg.ops.olap import unpivot_measures

    df = spark.createDataFrame(
        [(1, 2.0, None), (2, 5.0, 7.0)], "id long, m1 double, m2 double"
    )
    got = {
        (r.id, r.measure): r.value
        for r in unpivot_measures(df, ids=["id"], measures=["m1", "m2"]).collect()
    }
    assert got == {
        (1, "m1"): 2.0, (1, "m2"): None,
        (2, "m1"): 5.0, (2, "m2"): 7.0,
    }


# ---------------------------------------------------------------- round 6 s4


def test_event_transitions(spark):
    from wbkg.ops.prep import event_transitions

    rows = [
        # user 1: a -> b -> a -> c   (pairs: a->b, b->a, a->c)
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:01:00", "b"),
        (3, 1, "2024-01-01 00:02:00", "a"),
        (4, 1, "2024-01-01 00:03:00", "c"),
        # user 2: a -> b              (pair: a->b)
        (5, 2, "2024-01-01 00:00:00", "a"),
        (6, 2, "2024-01-01 00:05:00", "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.from_type, r.to_type): (r.n, r.prob)
        for r in event_transitions(df).collect()
    }
    assert out[("a", "b")] == (2, 0.66666667)
    assert out[("a", "c")] == (1, 0.33333333)
    assert out[("b", "a")] == (1, 1.0)
    # stream-final events emit no pair; cross-user pairs never form
    assert ("c", "a") not in out and len(out) == 3


def test_event_transitions_tiebreak(spark):
    """Equal timestamps pair by event_id, deterministically."""
    from wbkg.ops.prep import event_transitions

    rows = [
        (10, 1, "2024-01-01 00:00:00", "x"),
        (11, 1, "2024-01-01 00:00:00", "y"),
        (12, 1, "2024-01-01 00:00:00", "z"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r.from_type, r.to_type) for r in event_transitions(df).collect()}
    assert out == {("x", "y"), ("y", "z")}


def test_gapfill_daily(spark):
    from wbkg.ops.prep import gapfill_daily

    rows = [
        (1, 1, "2024-01-01 10:00:00", 5.0),
        (2, 1, "2024-01-01 11:00:00", 3.0),
        # jan 2-3 silent
        (3, 1, "2024-01-04 09:00:00", 7.0),
        (4, 2, "2024-02-10 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.user, r.day): (r.n_events, r.day_value, r.carried)
        for r in gapfill_daily(df).collect()
    }
    # dense spine: user 1 gets 4 days, user 2 gets 1
    assert len(out) == 5
    assert out[(1, "2024-01-01")] == (2, 8.0, 8.0)
    assert out[(1, "2024-01-02")] == (0, None, 8.0)  # zero-filled + carried
    assert out[(1, "2024-01-03")] == (0, None, 8.0)
    assert out[(1, "2024-01-04")] == (1, 7.0, 7.0)
    assert out[(2, "2024-02-10")] == (1, 1.0, 1.0)


def test_ewma_smooth(spark):
    from wbkg.ops.prep import ewma_smooth

    rows = [
        (1, 1, "2024-01-01 00:00:00", 10.0),
        (2, 1, "2024-01-01 00:01:00", 20.0),
        (3, 1, "2024-01-01 00:02:00", 30.0),
        (4, 2, "2024-01-01 00:00:00", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.user: (r.n_events, r.ewma) for r in ewma_smooth(df, alpha=0.5).collect()}
    # s1=10, s2=.5*20+.5*10=15, s3=.5*30+.5*15=22.5
    assert out[1] == (3, 22.5)
    # single event: ewma = the value itself (fold init)
    assert out[2] == (1, 5.0)


def test_ewma_order_is_time_not_insertion(spark):
    """Rows arriving out of time order fold in TIME order."""
    from wbkg.ops.prep import ewma_smooth

    rows = [
        (2, 1, "2024-01-01 00:01:00", 20.0),  # listed first, happens second
        (1, 1, "2024-01-01 00:00:00", 10.0),
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .repartition(4)
    )
    out = ewma_smooth(df, alpha=0.5).collect()[0]
    assert out.ewma == 15.0  # 0.5*20 + 0.5*10, seeded at 10


def test_profile_columns(spark):
    from wbkg.ops.prep import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, "b", None), (4, None, 1.5)],
        "id long, cat string, v double",
    )
    out = {r.column: r for r in profile_columns(df, ["cat", "v"]).collect()}
    assert out["cat"].n_rows == 4
    assert out["cat"].n_nulls == 1
    assert out["cat"].n_distinct == 2
    assert (out["cat"].min_str, out["cat"].max_str) == ("a", "b")
    assert out["v"].n_nulls == 2
    assert out["v"].n_distinct == 2
    assert (out["v"].min_str, out["v"].max_str) == ("1.5", "5.0")


def test_quantized_topk_recall_and_order(spark):
    """Two-stage int8 prefilter + exact re-rank: with a full-size
    shortlist the result must equal exact brute force (quantization only
    reorders the SHORTLIST, never the final exact scores); with a tight
    shortlist the output is still exact-scored and k-bounded."""
    import numpy as np

    from wbkg.ops.similarity import brute_force_topk, quantized_topk

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(x) for x in vecs[7]]
    exact = [(r.vec_id, r.score) for r in brute_force_topk(emb, qv, k=5).collect()]
    two_stage = [
        (r.vec_id, r.score)
        for r in quantized_topk(emb, qv, k=5, shortlist=40).collect()
    ]
    assert two_stage == exact  # full shortlist -> identical to brute force
    assert two_stage[0][0] == 7  # the query vector itself wins
    tight = quantized_topk(emb, qv, k=5, shortlist=8).collect()
    assert len(tight) == 5
    assert all(r.score <= two_stage[0][1] for r in tight)


def test_mmr_rerank_diversifies(spark):
    """MMR must skip a near-duplicate of the top hit in favor of a
    diverse document, while plain top-k would keep the duplicate."""
    from wbkg.ops.similarity import mmr_rerank

    # query along e0; v1 is a near-dup of v0 (high mutual sim), v2/v3 are
    # relevant-but-diverse. Hand math (lam=0.5, sims/scores as the op
    # rounds them): rank2 scores v1=-0.052, v2=+0.150, v3=-0.063 -> v2;
    # rank3: v1=-0.052 (still dominated by sim to v0), v3=-0.034 -> v3.
    rows = [
        (0, [0.90, 0.43, 0.0, 0.0]),
        (1, [0.89, 0.45, 0.0, 0.0]),    # near-dup of 0: sim 0.9945
        (2, [0.85, -0.5, 0.1, 0.0]),    # rel 0.85, sim to 0 only 0.55
        (3, [0.20, 0.0, 0.97, 0.0]),    # low rel, nearly orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [
        (r.rank, r.vec_id)
        for r in mmr_rerank(emb, [1.0, 0.0, 0.0, 0.0], k=3, shortlist=4, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    # plain top-3 by relevance would be [0, 1, 2] — MMR must skip the
    # near-dup entirely
    assert out == [(1, 0), (2, 2), (3, 3)]


def test_mmr_rerank_k1_equals_top1(spark):
    from wbkg.ops.similarity import brute_force_topk, mmr_rerank

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = brute_force_topk(emb, [0.0, 1.0, 0.0, 0.0], k=1).collect()[0]
    got = mmr_rerank(emb, [0.0, 1.0, 0.0, 0.0], k=1, shortlist=4).collect()
    assert len(got) == 1 and got[0].vec_id == top.vec_id and got[0].rank == 1


def test_sample_temperature_rebalances(spark):
    """sqrt-temperature sampling: the big domain is thinned much harder
    than the small one, totals land near the target, and the accept set
    is md5-stable under repartitioning."""
    from wbkg.ops.prep import sample_temperature

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_temperature(df, target_fraction=0.5)
    got = out.collect()
    by = {}
    for r in got:
        by[r.source] = by.get(r.source, 0) + 1
    # rates: sqrt(900)=30, sqrt(100)=10, sum=40, N=500
    # big: 500*30/40/900 = 0.416667 ; small: 500*10/40/100 = 1.25 -> capped 1
    assert by["small"] == 100           # small domain kept whole
    assert 300 < by["big"] < 480        # ~0.4167 of 900, md5 jitter
    again = {
        (r.doc_id, r.source)
        for r in sample_temperature(df.repartition(7), target_fraction=0.5).collect()
    }
    assert again == {(r.doc_id, r.source) for r in got}


def test_vocab_oov_rate(spark):
    from wbkg.ops.prep import vocab_oov_rate

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog xylophone quux"),
        ],
        "doc_id long, text string",
    )
    # vocab_size=3 -> top terms by tf then name: the(3), cat/dog/mat/on/sat/
    # xylophone/quux all tf=1 -> ties on term: cat, dog
    out = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate) for r in vocab_oov_rate(
        df, vocab_size=3).collect()}
    assert out[1] == (6, 3, 0.5)         # on, sat, mat OOV
    assert out[2] == (4, 2, 0.5)         # xylophone, quux OOV


def test_rake_keyphrases_hand_computed(spark):
    """RAKE on the canonical-style example: multi-word phrases outscore
    frequent single words because degree rewards co-membership."""
    from wbkg.ops.textops import rake_keyphrases

    # phrases after stop-splitting: [deep learning systems], [deep learning],
    # [training data] -> per-doc stats:
    # deep: freq 2, deg 3+2=5, score 2.5 ; learning: 2, 5, 2.5
    # systems: 1, 3, 3.0 ; training: 1, 2, 2.0 ; data: 1, 2, 2.0
    # scores: "deep learning systems" = 8.0, "deep learning" = 5.0,
    #         "training data" = 4.0
    df = spark.createDataFrame(
        [(1, "deep learning systems and deep learning for training data")],
        "doc_id long, text string",
    )
    out = [(r.rank, r.phrase, r.score) for r in rake_keyphrases(df, top_k=3)
           .orderBy("rank").collect()]
    assert out == [
        (1, "deep learning systems", 8.0),
        (2, "deep learning", 5.0),
        (3, "training data", 4.0),
    ]


def test_rake_keyphrases_stopword_islands(spark):
    """Consecutive stopwords and leading/trailing stopwords produce clean
    phrase islands; a doc of only stopwords yields no rows."""
    from wbkg.ops.textops import rake_keyphrases

    df = spark.createDataFrame(
        [(1, "the of to quick fox in the and lazy dog to"),
         (2, "the and of is")],
        "doc_id long, text string",
    )
    got = rake_keyphrases(df, top_k=5).collect()
    phrases = {r.phrase for r in got if r.doc_id == 1}
    assert phrases == {"quick fox", "lazy dog"}
    assert not [r for r in got if r.doc_id == 2]


def test_table_diff_classifies_iud(spark):
    from wbkg.ops.table import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None)],
        "id long, x string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "id long, x string, v double",
    )
    got = {r.id: r.op for r in table_diff(old, new, ["id"]).collect()}
    # 1 deleted, 2 unchanged (absent), 3 updated (NULL -> 3.0), 4 inserted
    assert got == {1: "D", 3: "U", 4: "I"}


def test_table_diff_null_vs_empty_not_aliased(spark):
    from wbkg.ops.table import table_diff

    old = spark.createDataFrame([(1, None)], "id long, x string")
    new = spark.createDataFrame([(1, "")], "id long, x string")
    assert [r.op for r in table_diff(old, new, ["id"]).collect()] == ["U"]


def test_winsorize_clips_tails(spark):
    from wbkg.ops.prep import winsorize

    rows = [(i, float(i)) for i in range(1, 100)] + [(100, 10000.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {r.id: (r.lo, r.hi, r.clipped) for r in winsorize(
        df, "v", lower=0.05, upper=0.95).collect()}
    lo, hi, _ = out[1]
    assert out[1][2] == lo          # bottom tail clipped up
    assert out[100][2] == hi        # the 10000 outlier clipped down
    assert out[50] == (lo, hi, 50.0)  # middle untouched
    assert lo < 10 and hi < 10000


def test_winsorize_per_group_independent(spark):
    from wbkg.ops.prep import winsorize

    rows = [("a", float(i)) for i in range(10)] + [("b", float(1000 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "grp_col string, v double")
    out = winsorize(df, "v", group_col="grp_col", lower=0.1, upper=0.9).collect()
    for r in out:
        if r.grp_col == "a":
            assert r.hi < 10          # group a's band ignores group b
        else:
            assert r.lo >= 1000
