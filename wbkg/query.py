"""Query surface over the materialized graph (ref src/query.py +
scripts/query-vector.py + the acronym-section retrieval in
src/acronyms.py:26-56).

The reference's retrieval primitive is: embed query -> score all chunk
vectors -> optional per-doc filter -> top-k (SURVEY §3.3). Here that is a
filter + score column + TakeOrdered over the chunks/embeddings table; graph
lookups are plain SQL over edges/nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wbkg.materialize import EX, SCHEMA
from wbkg.ops.similarity import brute_force_topk
from wbkg.ops.textops import hash_embed, hash_embed_py

EMBED_DIM = 32


def register_views(spark: SparkSession, tables: dict) -> None:
    """Expose pipeline outputs as SQL views: spark.sql('SELECT ... FROM
    edges ...')."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)


def docs_mentioning(edges: DataFrame, entity_name: str) -> DataFrame:
    """'Which documents mention entity X?' — name -> entity uri (via
    schema:name triples) -> doc mentions. Two equi-joins on edges."""
    names = edges.filter(
        (F.col("pred") == SCHEMA + "name") & (F.lower("obj") == entity_name.lower())
    ).select(F.col("subj").alias("ent_uri"))
    mentions = edges.filter(
        (F.col("pred") == SCHEMA + "mentions") & F.col("subj").startswith(EX + "document/")
    ).select(F.col("subj").alias("doc_uri"), F.col("obj").alias("ent_uri"))
    return mentions.join(F.broadcast(names.distinct()), "ent_uri").select("doc_uri").distinct()


def entity_neighborhood(
    edges: DataFrame, start: str, hops: int = 2, undirected: bool = True
) -> DataFrame:
    """n-hop BFS over (subj, obj) edges from one node -> (node, hop) with the
    MINIMUM hop per node. This is the relational half of the reference's
    graph-aware retrieval (source nodes -> neighborhood -> synthesis, ref
    src/query.py:26-76) — the LLM synthesis step is out of scope, the hops
    are not.

    Each hop is one equi-join on the frontier (broadcast when small); hops is
    expected tiny (2-3), so the loop is bounded and lineage stays shallow."""
    sym = edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    if undirected:
        sym = sym.unionByName(
            edges.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
        )
    spark = edges.sparkSession
    visited = spark.createDataFrame([(start, 0)], "node string, hop int")
    frontier = visited
    for h in range(1, hops + 1):
        nxt = (
            sym.join(F.broadcast(frontier.select(F.col("node").alias("src"))), "src")
            .select(F.col("dst").alias("node"), F.lit(h).alias("hop"))
            .distinct()
        )
        new_nodes = nxt.join(visited.select("node"), "node", "left_anti")
        visited = visited.unionByName(new_nodes).localCheckpoint()
        frontier = new_nodes
    return visited


def sibling_chunks_via_entities(mention_edges: DataFrame, chunk_uri: str) -> DataFrame:
    """chunks sharing at least one mentioned entity with `chunk_uri` — the
    2-hop (chunk -> entity -> chunk) self-join behind 'related passages'
    retrieval (ref src/query.py:49-66 source-node expansion)."""
    ents = (
        mention_edges.filter(F.col("subj") == chunk_uri).select(F.col("obj").alias("ent")).distinct()
    )
    return (
        mention_edges.join(F.broadcast(ents), mention_edges.obj == ents.ent, "left_semi")
        .filter(F.col("subj") != chunk_uri)
        .select(F.col("subj").alias("sibling"))
        .distinct()
    )


def community_sibling_chunks(edges: DataFrame, entity_name: str) -> DataFrame:
    """entity name -> its communities -> ALL member chunks: the
    entity -> community -> sibling-chunks composition the reference's chat
    path walks before synthesis (ref src/query.py:26-76). Pure equi-joins
    over the edges table."""
    names = edges.filter(
        (F.col("pred") == SCHEMA + "name") & (F.lower("obj") == entity_name.lower())
    ).select(F.col("subj").alias("ent_uri")).distinct()
    chunks = (
        edges.filter(F.col("pred") == SCHEMA + "mentions")
        .join(F.broadcast(names), F.col("obj") == F.col("ent_uri"), "left_semi")
        .select(F.col("subj").alias("chunk_uri"))
        .distinct()
    )
    comms = (
        edges.filter(F.col("pred") == SCHEMA + "isPartOf")
        .join(chunks, F.col("subj") == F.col("chunk_uri"), "left_semi")
        .select(F.col("obj").alias("comm_uri"))
        .distinct()
    )
    return (
        edges.filter(F.col("pred") == SCHEMA + "isPartOf")
        .join(F.broadcast(comms), F.col("obj") == F.col("comm_uri"), "left_semi")
        .select(F.col("subj").alias("chunk_uri"))
        .distinct()
    )


def embed_chunks(chunks: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """chunks -> (chunk_id, text, embedding) — K2 vector-store analogue."""
    return hash_embed(chunks.select("doc_id", "chunk_id", "text"), dim=dim)


def retrieve_topk(
    chunk_embeddings: DataFrame,
    query_text: str,
    k: int = 3,
    doc_id: str | None = None,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """The reference's retrieval primitive (similarity_top_k=3 at
    src/query.py:31; per-doc ExactMatchFilter BEFORE top-k at
    src/acronyms.py:36-38)."""
    qvec = hash_embed_py(query_text, dim)
    base = chunk_embeddings
    if doc_id is not None:
        base = base.filter(F.col("doc_id") == doc_id)
    return (
        brute_force_topk(base, qvec, k=k, id_col="chunk_id", vec_col="embedding")
        .join(chunk_embeddings.select("chunk_id", "doc_id", "text"), "chunk_id")
        .orderBy(F.desc("score"), "chunk_id")
    )


def synthesize_answer(
    chunks: DataFrame,
    query_text: str,
    k_chunks: int = 3,
    n_sentences: int = 3,
    id_col: str = "chunk_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic surrogate for the reference chat engine's compact
    response composition (ref src/query.py:31-36 RetrieverQueryEngine
    response_mode='compact' over similarity_top_k=3, plus the cited source
    snippets at :66-72). The LLM itself is a documented non-reproducible
    boundary (SURVEY §2.8); this is the extractive analogue:

      1. score chunks by distinct-query-term overlap, keep top k_chunks
         (the retrieval step — swap in retrieve_topk's vector scoring when
         an embedding column exists),
      2. split the survivors into sentences, score each sentence the same
         way,
      3. emit the n_sentences best, rank-ordered, each carrying its source
         chunk id as the citation.

    -> (rank, sentence, citation, sent_score). Pure Catalyst: tokenize /
    intersect / posexplode + one TakeOrdered for the chunk top-k; the final
    window orders k_chunks' worth of sentences — a bounded set, never the
    corpus."""
    import re

    from pyspark.sql import Window

    qterms = sorted({t for t in re.split(r"\W+", query_text.lower()) if t})
    q_arr = F.array(*[F.lit(t) for t in qterms])

    def toks(c):
        return F.array_distinct(F.split(F.lower(c), r"\W+"))

    scored = chunks.select(id_col, text_col).withColumn(
        "chunk_score", F.size(F.array_intersect(toks(F.col(text_col)), q_arr))
    )
    top = scored.orderBy(F.desc("chunk_score"), F.col(id_col)).limit(k_chunks)
    sent = top.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"[.!?]\s+")).alias("pos", "sentence"),
    ).filter(F.trim("sentence") != "")
    sent = sent.withColumn(
        "sent_score", F.size(F.array_intersect(toks(F.col("sentence")), q_arr))
    )
    w = Window.orderBy(F.desc("sent_score"), F.col(id_col), F.col("pos"))
    return (
        sent.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_sentences)
        .select(
            "rank",
            F.col("sentence"),
            F.col(id_col).alias("citation"),
            "sent_score",
        )
    )
