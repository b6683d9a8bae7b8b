import pytest
from pyspark.sql import functions as F

from wbkg.extract import build_pattern_rows
from wbkg.pipeline import run_pipeline
from wbkg.query import (
    docs_mentioning,
    embed_chunks,
    register_views,
    retrieve_topk,
)
from wbkg.synth import (
    build_entity_dict_rows,
    build_unbis_rows,
    entity_dict_df,
    gen_documents_df,
    gen_metadata_df,
)


@pytest.fixture(scope="module")
def kg(spark):
    n = 20
    docs = gen_documents_df(spark, n)
    edict = entity_dict_df(spark, n)
    pats = build_pattern_rows(build_entity_dict_rows(n), build_unbis_rows())
    res = run_pipeline(spark, docs, edict, pats, metadata_df=gen_metadata_df(spark, n))
    return res


def test_docs_mentioning_hub(spark, kg):
    out = docs_mentioning(kg["edges"], "World Bank").collect()
    assert len(out) > 0
    assert all(r.doc_uri.startswith("http://worldbank.example.org/document/D") for r in out)
    # case-insensitive name match
    out2 = docs_mentioning(kg["edges"], "world bank").count()
    assert out2 == len(out)


def test_sql_views(spark, kg):
    register_views(spark, {"edges": kg["edges"], "nodes": kg["nodes"]})
    n = spark.sql(
        "SELECT count(*) AS c FROM edges WHERE pred = 'http://schema.org/mentions'"
    ).collect()[0]["c"]
    assert n > 0
    typed = spark.sql("SELECT count(*) AS c FROM nodes WHERE qid IS NOT NULL").collect()[0]["c"]
    assert typed > 0


def test_retrieval_topk_with_doc_filter(spark, kg):
    emb = embed_chunks(kg["chunks"]).persist()
    hits = retrieve_topk(emb, "procurement exchanges tracking", k=3).collect()
    assert 0 < len(hits) <= 3
    # doc-filtered retrieval returns only that doc's chunks (ref
    # acronyms.py:36-38 ExactMatchFilter semantics: filter BEFORE top-k)
    some_doc = hits[0].doc_id
    filtered = retrieve_topk(emb, "procurement exchanges tracking", k=5, doc_id=some_doc).collect()
    assert len(filtered) > 0
    assert all(r.doc_id == some_doc for r in filtered)
    # determinism
    again = retrieve_topk(emb, "procurement exchanges tracking", k=3).collect()
    assert [r.chunk_id for r in again] == [r.chunk_id for r in hits]
    emb.unpersist()


def test_entity_neighborhood_min_hop(spark):
    from wbkg.query import entity_neighborhood

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")],  # a-c short-circuits c to hop 1
        "subj string, obj string",
    )
    out = {r.node: r.hop for r in entity_neighborhood(edges, "a", hops=2).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_entity_neighborhood_plan_starts_no_job(spark, job_count):
    """Building the neighborhood is one lazy plan: no hop runs a Spark job
    before the caller's action."""
    from wbkg.query import entity_neighborhood

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "subj string, obj string"
    )
    for hops in (2, 3):
        df, jobs = job_count(lambda: entity_neighborhood(edges, "a", hops=hops))
        assert jobs == 0
        want = {"a": 0, "b": 1, "c": 2, "d": 3}
        assert {r.node: r.hop for r in df.collect()} == {
            n: h for n, h in want.items() if h <= hops
        }


def test_community_sibling_chunks(spark):
    from wbkg.materialize import EX, SCHEMA
    from wbkg.query import community_sibling_chunks

    name = SCHEMA + "name"
    mentions = SCHEMA + "mentions"
    part_of = SCHEMA + "isPartOf"
    e = EX + "entity/"
    c = EX + "chunk/"
    g = EX + "community/"
    edges = spark.createDataFrame(
        [
            (e + "wb", name, "World Bank"),
            (c + "c1", mentions, e + "wb"),
            (c + "c1", part_of, g + "7"),
            (c + "c2", part_of, g + "7"),   # sibling via community 7
            (c + "c3", part_of, g + "9"),   # unrelated community
        ],
        "subj string, pred string, obj string",
    )
    sibs = {r.chunk_uri for r in community_sibling_chunks(edges, "world bank").collect()}
    assert sibs == {c + "c1", c + "c2"}


def test_synthesize_answer_extractive(spark):
    """Chat-path surrogate: best-matching sentences win, each cited with its
    source chunk; chunk retrieval happens BEFORE sentence extraction (a
    high-overlap sentence in a low-overlap chunk outside top-k never leaks
    in); ties break on (chunk_id, pos)."""
    from wbkg.query import synthesize_answer

    docs = spark.createDataFrame(
        [
            (1, "Solar is fine. Wind turbines cut emissions fast. Coal is old."),
            (2, "Wind wind wind. The turbines impact nothing here."),
            (3, "Unrelated text entirely. Nothing matches at all. Filler words."),
            # chunk 4 holds the single best sentence but almost no overall
            # overlap mass spread -> still in top-3 chunks here (3 > chunk 3)
            (4, "Wind turbines emissions impact report. Filler. Filler again."),
        ],
        "chunk_id long, text string",
    )
    out = synthesize_answer(docs, "wind turbines emissions impact", k_chunks=3, n_sentences=2)
    rows = [(r.rank, r.citation, r.sentence) for r in out.orderBy("rank").collect()]
    assert rows[0][1] == 4 and rows[0][2].startswith("Wind turbines emissions")
    assert rows[1][1] == 1 and "cut emissions" in rows[1][2]
    # chunk 3 (no overlap) was never retrieved: no citation to it anywhere
    full = synthesize_answer(docs, "wind turbines emissions impact", k_chunks=3, n_sentences=10)
    assert 3 not in {r.citation for r in full.collect()}


def test_sparql_over_pipeline_edges(spark, kg, tmp_path):
    """End-to-end: the KG the pipeline actually builds is queryable through
    the SPARQL surface, and under the pred-partitioned layout the constant
    predicate in a pattern prunes partitions at the scan."""
    import os

    from wbkg.sparql import sparql_select

    edges = kg["edges"]
    # same layout --partition-edges-by-pred produces (wbkg/job.py)
    pred_bucket = F.regexp_extract(F.col("pred"), r"([^/#]+)$", 1)
    out = str(tmp_path / "edges_by_pred")
    edges.withColumn("pred_bucket", pred_bucket).write.partitionBy("pred_bucket").parquet(out)
    stored = spark.read.parquet(out).drop("pred_bucket")

    hits = sparql_select(
        stored,
        """
        PREFIX schema: <http://schema.org/>
        SELECT ?chunk ?ent WHERE { ?chunk schema:mentions ?ent . }
        """,
    )
    n_mentions = edges.filter(F.col("pred") == "http://schema.org/mentions").count()
    assert n_mentions > 0 and hits.count() == n_mentions

    # aggregate through SPARQL == DataFrame aggregate over the same edges
    per_ent = {
        r.ent: r.n
        for r in sparql_select(
            stored,
            'PREFIX schema: <http://schema.org/> '
            'SELECT ?ent (COUNT(?chunk) AS ?n) WHERE { ?chunk schema:mentions ?ent . } '
            'GROUP BY ?ent',
        ).collect()
    }
    expect = {
        r.obj: r.n
        for r in edges.filter(F.col("pred") == "http://schema.org/mentions")
        .groupBy("obj").agg(F.count("*").alias("n")).collect()
    }
    assert per_ent == expect

    # the constant predicate reaches the parquet scan as a pushed filter
    # (partition pruning additionally applies when the caller filters the
    # derived pred_bucket key, as wbkg/query.py's readers do)
    probe = sparql_select(
        stored, "SELECT ?c ?e WHERE { ?c <http://schema.org/mentions> ?e . }"
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(pred,http://schema.org/mentions)" in plan
