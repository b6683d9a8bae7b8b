"""Stage 6 — chunk co-occurrence graph + communities + summaries
(G1/A5, G2, G3, C8, A6/A7/A8).

Reference: src/summarize.py. The co-occurrence build is the reference's
nested loop (entity -> all chunk pairs, weight += 1, :134-143) re-expressed
as a self-join + hash aggregation. Hierarchical Leiden (:148-172, a
randomized native library) is replaced by deterministic monotone weighted
label propagation — documented surrogate; community structure is checked at
the structural level (determinism, sizes, connectivity), not id-for-id.
hierarchical_communities() adds the reference's max_cluster_size=50 bound
(src/summarize.py:160-166): oversized communities are recursively split
(weak-tie refinement, even-split fallback) and every level is kept.

Physical strategy is size-gated, as canonicalize's CC is: a graph of at
most LOCAL_CC_THRESHOLD edge rows (the usual chunk co-occurrence graph)
is collected once and the whole hierarchy runs in driver Python
(local_label_propagation, local_hierarchy; the reference's one-process
shape), returning the same rows as a LocalRelation. Above it the
distributed loop runs: label_propagation is min_label_fixpoint with a
weighted vote, every checkpoint is a session.cut, whose size estimate
restarts, so the probes and split levels plan in time bounded by the
data; each level frees the label propagation it superseded with
session.release.

Skew (SURVEY §4.4): hub entities ("World Bank") touch a large share of all
chunks, making the self-join quadratic in the hub's chunk count. A
per-entity chunk cap (deterministic: first N chunks by id) bounds the
blow-up, mirroring the reference's max_cluster_size bound downstream.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from wbkg.canonicalize import collect_if_small, min_label_fixpoint
from wbkg.materialize import EX, SCHEMA, RDF_TYPE, _lit_edges, _uri, _uri_edges
from wbkg.session import cut, local_frame, release

DEFAULT_ENTITY_CHUNK_CAP = 200
LP_MAX_ITER = 6  # propagation steps (min_label_fixpoint runs two per probe)
LP_PARTITIONS = 32
MAX_LEVELS = 4  # refinement levels below the label-propagation level


def cooccurrence_edges(
    linked: DataFrame, entity_chunk_cap: int = DEFAULT_ENTITY_CHUNK_CAP
) -> DataFrame:
    """linked mentions -> (src, dst, weight): chunk pairs sharing entities,
    weight = number of shared entities (A5; ref summarize.py:134-143)."""
    pairs = linked.select(
        "chunk_id", F.coalesce("qid_c", "rdf_safe_c").alias("ent")
    ).distinct()
    # per-entity chunk list, sorted and capped (same first-`cap`-by-
    # chunk_id semantics as the r06 row_number window); ordered pairs
    # then generate MAP-SIDE via posexplode + slice, so the (src, dst)
    # weight fold partial-aggregates before its one shuffle instead of
    # sort-merge self-joining the incidence list
    grouped = pairs.groupBy("ent").agg(
        F.slice(
            F.sort_array(F.collect_list("chunk_id")), 1, entity_chunk_cap
        ).alias("_cs")
    )
    lhs = grouped.select("_cs", F.posexplode("_cs").alias("_i", "src"))
    return (
        lhs.select(
            "src",
            F.explode(F.slice("_cs", F.col("_i") + 2, F.size("_cs"))).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )


def _weighted_vote(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Each node's candidate: the in-neighbour label with the highest
    incident weight sum (tie: smallest label) -> (node, _cand). Joining on
    src keeps the src-partitioned edges in place; one shuffle by dst then
    serves both the group-by and the window."""
    neigh = (
        edges.join(labels.withColumnRenamed("node", "src"), "src")
        .repartition("dst")
        .groupBy(F.col("dst").alias("node"), "label")
        .agg(F.sum("weight").alias("w"))
    )
    pick = Window.partitionBy("node").orderBy(F.desc("w"), F.asc("label"))
    return (
        neigh.withColumn("_rn", F.row_number().over(pick))
        .filter("_rn = 1")
        .select("node", F.col("label").alias("_cand"))
    )


def label_propagation(edges: DataFrame) -> DataFrame:
    """Deterministic synchronous weighted label propagation, at most
    LP_MAX_ITER steps -> (chunk_id, community_id). MONOTONE: a node adopts
    its weighted-vote candidate only if it is smaller than its label, so
    the iteration provably converges (no synchronous-LP oscillation) while
    weight-dominance still decides membership: a weak bridge edge cannot
    pull a node out of its strongly-connected cluster. The loop is
    min_label_fixpoint over the symmetrized edges (union-all: duplicate
    rows add their weights), released once the labels are materialized."""
    sym = (
        edges.select("src", "dst", "weight")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
        .repartition(LP_PARTITIONS, "src")
        .transform(cut)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels, _ = min_label_fixpoint(nodes, sym, LP_MAX_ITER // 2, _weighted_vote)
    release(sym)
    # structural id: the converged min-label (a member chunk_id) IS the
    # community id — injective by construction, no hash-collision risk
    # (ADVICE r02: a cross-parent xxhash64 collision could silently merge
    # two communities and break the max_cluster_size bound)
    return labels.select(
        F.col("node").alias("chunk_id"),
        F.col("label").alias("community_id"),
    )


def local_label_propagation(rows) -> dict:
    """label_propagation on the driver: (src, dst, weight) rows ->
    {node: label}. Each of at most LP_MAX_ITER synchronous steps gives every
    node the neighbour label with the largest summed weight (a duplicate
    row adds its weight again; tie: the smallest label) when that is
    smaller than its own; a step that changes nothing ends the loop.
    Python's str order is Spark's binary string order, so the labels are
    label_propagation's."""
    adj: dict = {}
    for a, b, w in rows:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    label = {v: v for v in adj}
    for _ in range(LP_MAX_ITER):
        new = {}
        for v, nbrs in adj.items():
            votes: dict = {}
            for u, w in nbrs:
                votes[label[u]] = votes.get(label[u], 0) + w
            new[v] = min(label[v], min(votes, key=lambda lb: (-votes[lb], lb)))
        if new == label:
            break
        label = new
    return label


def _ntile_split(mem: DataFrame, max_cluster_size: int) -> DataFrame:
    """Deterministic even split of (chunk_id, parent) members into
    ceil(n/max) buckets by chunk_id order — the guaranteed-bound fallback
    used when edge weights carry no structure to split on (uniform weights)
    or when refinement stalls. -> (chunk_id, community_id)."""
    w = Window.partitionBy("parent").orderBy("chunk_id")
    n = F.count("*").over(Window.partitionBy("parent"))
    nb = F.ceil(n / F.lit(max_cluster_size))
    bucket = F.floor((F.row_number().over(w) - 1) * nb / n)
    return mem.select(
        "chunk_id",
        # structural id: parent id + bucket ordinal, unique across parents
        F.concat_ws(":", F.col("parent").cast("string"), bucket.cast("string")).alias(
            "community_id"
        ),
    )


def _even_split(groups: dict, max_cluster_size: int) -> dict:
    """_ntile_split on the driver: {parent: members} -> {chunk_id:
    community_id}, the buckets computed in the same double arithmetic."""
    out = {}
    for parent, members in groups.items():
        n = len(members)
        nb = math.ceil(n / max_cluster_size)
        for i, c in enumerate(sorted(members)):
            out[c] = f"{parent}:{math.floor(i * nb / n)}"
    return out


def local_hierarchy(rows, max_cluster_size: int) -> list:
    """hierarchical_communities on the driver: (src, dst, weight) rows ->
    [(chunk_id, level, community_id)], the rows the distributed loop
    returns, ids included: the same label propagation, weak-tie refinement
    ('/' sub-labels, '#' singletons), stuck-parent route and ':' even
    split, level by level."""
    cur = local_label_propagation(rows)
    out = [(c, 0, comm) for c, comm in cur.items()]
    for level in range(1, MAX_LEVELS + 1):
        groups: dict = {}
        for c, comm in cur.items():
            groups.setdefault(comm, []).append(c)
        over = {p: m for p, m in groups.items() if len(m) > max_cluster_size}
        if not over:
            break
        cur, even = {}, over
        if level < MAX_LEVELS:
            parent = {c: p for p, m in over.items() for c in m}
            intra: dict = {}
            for a, b, w in rows:
                if a in parent and parent[a] == parent.get(b):
                    intra.setdefault(parent[a], []).append((a, b, w))
            wmin = {}
            for p, es in intra.items():
                ws = [w for _, _, w in es]
                if max(ws) > min(ws):
                    wmin[p] = min(ws)
            sub = local_label_propagation(
                e for p, es in intra.items() if p in wmin for e in es if e[2] > wmin[p]
            )
            even = {p: m for p, m in over.items() if p not in wmin}
            for p in wmin:
                labels = {c: sub.get(c, f"{p}#{c}") for c in over[p]}
                if len(set(labels.values())) > 1:
                    cur.update((c, f"{p}/{lb}") for c, lb in labels.items())
                else:  # a refinement that did not split stalls: even split
                    even[p] = over[p]
        cur.update(_even_split(even, max_cluster_size))
        out += [(c, level, comm) for c, comm in cur.items()]
    return out


def hierarchical_communities(edges: DataFrame, max_cluster_size: int = 50) -> DataFrame:
    """Hierarchical community detection with a hard cluster-size bound —
    the deterministic surrogate for the reference's
    `hierarchical_leiden(..., max_cluster_size=50)` (ref
    src/summarize.py:160-166): communities above the bound are recursively
    split and every refinement level is kept.

    Per level, each oversized community is split by one of two rules:
      - weights vary inside it: drop its minimum-weight edge class and
        re-run label propagation on the remaining intra-community edges
        (Leiden-style refinement: weak ties break first). Members left
        without edges become singletons.
      - weights are uniform (or refinement returned a single label): even
        deterministic split by chunk_id order into ceil(n/max) buckets.
    The final level (MAX_LEVELS) is always forced through the even split,
    so the bound holds unconditionally.

    -> (chunk_id, level, community_id); a chunk appears once per level at
    which its community was (re)assigned. Use final_communities() for the
    leaf assignment.

    Physical strategy is size-gated, as for CC: a graph of at most
    LOCAL_CC_THRESHOLD rows with non-null string ids is collected once and
    local_hierarchy returns the same rows on the driver (a LocalRelation,
    no further job); a bigger one runs the distributed loop."""
    src, dst = edges.schema["src"], edges.schema["dst"]
    strings = src.dataType == dst.dataType == StringType()
    rows = collect_if_small(edges.select("src", "dst", "weight")) if strings else None
    if rows is None or any(None in r for r in rows):
        return _distributed_hierarchy(edges, max_cluster_size)
    nn = "" if src.nullable or dst.nullable else " not null"
    return local_frame(
        edges.sparkSession,
        local_hierarchy(rows, max_cluster_size),
        f"chunk_id string{nn}, level int not null, community_id string{nn}",
    )


def _distributed_hierarchy(edges: DataFrame, max_cluster_size: int) -> DataFrame:
    """hierarchical_communities above the collect threshold: label
    propagation, then per level one refinement pass over DataFrames, each
    level an eager session.cut."""
    cur = label_propagation(edges)
    out = cur.withColumn("level", F.lit(0))

    for level in range(1, MAX_LEVELS + 1):
        sizes = cur.groupBy("community_id").agg(F.count("*").alias("sz"))
        over = sizes.filter(F.col("sz") > max_cluster_size).select("community_id")
        if over.isEmpty():
            break
        mem = cur.join(over, "community_id", "left_semi").select(
            "chunk_id", F.col("community_id").alias("parent")
        )
        if level == MAX_LEVELS:
            refined = cut(_ntile_split(mem, max_cluster_size), eager=True)
        else:
            src_m = mem.select(F.col("chunk_id").alias("src"), F.col("parent"))
            dst_m = mem.select(F.col("chunk_id").alias("dst"), F.col("parent").alias("p2"))
            intra = (
                edges.join(src_m, "src")
                .join(dst_m, "dst")
                .filter(F.col("parent") == F.col("p2"))
                .select("src", "dst", "weight", "parent")
            )
            wstats = intra.groupBy("parent").agg(
                F.min("weight").alias("wmin"), F.max("weight").alias("wmax")
            )
            varying = wstats.filter(F.col("wmax") > F.col("wmin")).select("parent", "wmin")
            kept = (
                intra.join(varying, "parent")
                .filter(F.col("weight") > F.col("wmin"))
                .select("src", "dst", "weight")
            )
            refine_mem = mem.join(varying.select("parent"), "parent", "left_semi")
            ntile_mem = mem.join(varying.select("parent"), "parent", "left_anti")

            sub = label_propagation(kept).withColumnRenamed("community_id", "sub_label")
            singleton = F.concat_ws("#", "parent", "chunk_id")
            refined0 = refine_mem.join(sub, "chunk_id", "left").select(
                "chunk_id", "parent", F.coalesce("sub_label", singleton).alias("sub_label")
            )
            # refinement that failed to split (single label == parent size)
            # stalls forever on re-entry -> route those parents to the even
            # split now
            nsub = refined0.groupBy("parent").agg(
                F.countDistinct("sub_label").alias("nsub")
            )
            stuck = nsub.filter(F.col("nsub") <= 1).select("parent")
            split_ok = refined0.join(stuck, "parent", "left_anti").select(
                "chunk_id",
                # structural id: parent id + refinement sub-label (itself a
                # member chunk_id) — unique across parents by construction
                F.concat_ws("/", F.col("parent").cast("string"),
                            F.col("sub_label").cast("string")).alias("community_id"),
            )
            ntile_all = ntile_mem.unionByName(
                refine_mem.join(stuck, "parent", "left_semi")
            )
            refined = cut(split_ok.unionByName(_ntile_split(ntile_all, max_cluster_size)), eager=True)
            release(sub)  # only refined read it

        out = out.unionByName(refined.withColumn("level", F.lit(level)))
        cur = refined

    return out.select("chunk_id", "level", "community_id")


def final_communities(hier: DataFrame) -> DataFrame:
    """leaf assignment: each chunk's community at its deepest level."""
    w = Window.partitionBy("chunk_id").orderBy(F.desc("level"))
    return (
        hier.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("chunk_id", "community_id")
    )


def community_triples(communities: DataFrame) -> DataFrame:
    """G3 (ref summarize.py:175-194): chunk isPartOf community + community
    node triples."""
    chunk_uri = _uri(EX, F.lit("chunk/"), F.col("chunk_id"))
    comm_uri = _uri(EX, F.lit("community/"), F.col("community_id").cast("string"))
    links = _uri_edges(communities, chunk_uri, SCHEMA + "isPartOf", comm_uri)
    comms = communities.select(F.col("community_id").cast("string").alias("cid")).distinct()
    cu = _uri(EX, F.lit("community/"), F.col("cid"))
    typ = _uri_edges(comms, cu, RDF_TYPE, F.lit(SCHEMA + "Community"))
    ident = _lit_edges(comms, cu, SCHEMA + "identifier", F.col("cid"))
    name = _lit_edges(comms, cu, SCHEMA + "name", F.concat(F.lit("Community "), F.col("cid")))
    return links.unionByName(typ).unionByName(ident).unionByName(name)


def community_sizes_topk(communities: DataFrame, k: int = 10) -> DataFrame:
    """A6 (ref summarize.py:168-170 Counter.most_common(10))."""
    return (
        communities.groupBy("community_id")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), "community_id")
        .limit(k)
    )


def summarize_communities(
    communities: DataFrame, chunks: DataFrame, max_tokens: int = 6000
) -> DataFrame:
    """C8 deterministic surrogate for the LLM summary (ref
    summarize.py:197-244): within each community, take chunk texts in
    chunk_id order under a running whitespace-token budget (A8/W5 cumsum;
    ref :214-220 greedy stop), emit first sentence of the packed text.
    -> (community_id, summary, n_chunks_used)."""
    joined = communities.join(chunks.select("chunk_id", "text"), "chunk_id")
    tok = F.size(F.split(F.col("text"), r"\s+"))
    w = (
        Window.partitionBy("community_id")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budgeted = joined.withColumn("cum_tok", F.sum(tok).over(w)).filter(
        F.col("cum_tok") < max_tokens
    )
    packed = budgeted.groupBy("community_id").agg(
        F.count("*").alias("n_chunks_used"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk_id", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("_joined"),
    )
    first_sentence = F.regexp_extract(F.col("_joined"), r"^(.*?[.!?])(\s|$)", 1)
    summary = F.when(first_sentence != "", first_sentence).otherwise(
        F.substring(F.col("_joined"), 1, 200)
    )
    return packed.select("community_id", summary.alias("summary"), "n_chunks_used")


def summary_triples(summaries: DataFrame) -> DataFrame:
    comm_uri = _uri(EX, F.lit("community/"), F.col("community_id").cast("string"))
    return _lit_edges(summaries, comm_uri, SCHEMA + "abstract", F.col("summary"))
