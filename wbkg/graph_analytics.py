"""Graph analytics over the finished KG, as DataFrame plans.

The reference stops at community detection (ref src/pipeline.py builds the
graph, graspologic partitions it); once a KG exists users ask "which
entities matter", "how clustered is it" and "what is near this entity".
Operators:

- ranking: pagerank (weighted multigraph semantics, dangling mass
  redistributed), personalized_pagerank (restart to a seed set), hits,
  katz_centrality, harmonic_centrality (seed-sampled closeness);
- reachability: bfs_distances, sssp (Bellman-Ford frontier relaxation),
  strongly_connected_components (Orzan coloring), random_walks;
- cohesion: triangle_count, clustering_coefficient, k_core, k_truss,
  modularity of a partition;
- similarity: neighbor_jaccard, link_prediction (common neighbors +
  Adamic-Adar); degree_stats.

Loops of one shape share one kernel: _triangle_pairs (degree-ordered
adjacency intersection: triangle_count, k_truss, clustering_coefficient),
_power_iteration (pagerank, personalized_pagerank),
canonicalize.min_label_fixpoint (the floods of
strongly_connected_components, connected components and, with a
weighted-vote candidate, communities.label_propagation) and
session.seminaive, the frontier loop: _frontier_bfs (bfs_distances,
harmonic_centrality), sssp, k_core, k_truss, random_walks and the rounds of
strongly_connected_components, as well as sparql's `+` path closure and
DESCRIBE's blank-node closure. hits and katz are one loop each.

Lineage: every loop cuts its plan with session.cut, a localCheckpoint
whose size estimate restarts, so planning a round never multiplies the
estimates of the rounds before it. Static inputs (the deduped edge list,
out-degrees) are cut once; a loop's growing state is lazily cut every
RANK_CHECKPOINT_EVERY / SETTLED_CHECKPOINT_EVERY /
SEED_SETTLED_CHECKPOINT_EVERY rounds (every round for k_core, k_truss
and SCC, whose state is replaced). Under AQE a lazy cut runs its plan's
shuffle stages as it is made; its last stage and persisted blocks wait
for the round's probe (isEmpty, a broadcast scalar) or the caller's
action. The seminaive loops probe every round and release by the
driver's one rule (see session.seminaive), so storage holds a bounded
number of rounds, and never the returned table. pagerank,
personalized_pagerank, katz and hits have no per-round action, so they
release nothing.

At 100 TB: ranks/degrees shuffle (node_id, double) pairs only — never
payloads; the triangle kernel's adjacency arrays are O(sqrt(m)) under
degree ordering (see _triangle_pairs), and the wedge-shaped similarity
operators take a hot-center cap (same hub-cap primitive as
wbkg/communities.py co-occurrence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wbkg.canonicalize import min_label_fixpoint
from wbkg.session import cut, seminaive

# Lazy localCheckpoint cadence, in rounds, of each loop's growing state:
# the rank vectors (pagerank, personalized_pagerank, katz), the settled
# distance table (bfs_distances, sssp) and the walk table (random_walks),
# and harmonic's (seed, node) settled table. These are the values the
# per-call options they replace defaulted to; no caller set another.
RANK_CHECKPOINT_EVERY = 2
SETTLED_CHECKPOINT_EVERY = 4
SEED_SETTLED_CHECKPOINT_EVERY = 2


def _node_set(e: DataFrame) -> DataFrame:
    """Distinct endpoints of an (src, dst) edge list -> (node)."""
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    """(src, dst) edge list -> both directions of every edge, deduped."""
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _weighted_edges(
    edges: DataFrame, src: str, dst: str, weight: str | None
) -> DataFrame:
    """-> (src, dst, w): MULTIGRAPH semantics (ADVICE r05) — parallel
    (src, dst) edges aggregate into an integer weight, or sum the `weight`
    column, the GraphX convention, so repeated KG edges count twice. Static
    across the power iterations, so checkpointed once: no round's lineage
    re-aggregates the raw edge table."""
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w_col.alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .transform(cut)
    )


def _power_iteration(
    e: DataFrame, nodes: DataFrame, n: int, iterations: int, damping: float
) -> DataFrame:
    """Random walk with restart by power iteration over the weighted edge
    list `e` -> (node, rank), shared by pagerank and personalized_pagerank.
    `nodes` is (node, is_seed), the restart weight of every node, and `n`
    the total weight:

    rank_{t+1}(v) = is_seed(v) * ((1-d)/n + d * dangling_t/n)
                    + d * sum_{m->v} rank_t(m) * w(m,v)/out_w(m)

    starting from is_seed/n. Dangling nodes (no out-edges) restart their
    mass, so ranks always sum to 1; on a simple graph every weight is 1.0
    and the result is float-identical to rank/outdeg.

    Per round: one join of ranks against out-degrees, one edge-keyed join
    and a partial-agg groupBy — shuffles all on the node key — plus the
    dangling scalar as a one-row broadcast cross join. Fixed round count,
    no convergence job."""
    out_deg = (
        e.groupBy("src").agg(F.sum("w").alias("out_w")).transform(cut)
    )
    ranks = nodes.select("node", (F.col("is_seed") / n).alias("rank"))
    base = (1.0 - damping) / n
    for i in range(iterations):
        # checkpointed (lazily) BEFORE the dangling-mass scalar: the
        # scalar's broadcast sub-job then materializes exactly one join
        # from persisted ranks, and the contribs chain reuses the same
        # blocks — without this every iteration's broadcast re-executed
        # the chain since the last checkpoint
        with_deg = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left")
            .select("node", "rank", "out_w")
            .transform(cut)
        )
        dang = with_deg.filter(F.col("out_w").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        contribs = (
            with_deg.filter(F.col("out_w").isNotNull())
            .join(e, with_deg["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("w") / F.col("out_w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base) * F.col("is_seed")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_sum"), F.lit(0.0))
                        + F.col("dang") / n * F.col("is_seed")
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % RANK_CHECKPOINT_EVERY == 0 or i == iterations - 1:
            # LAZY checkpoint: the logical plan is truncated immediately
            # (bounded plan size). Under AQE making it already runs the
            # chain's shuffle-map stages, one job each; the caller's first
            # action runs the final stage, and the persisted blocks serve
            # every later action
            ranks = cut(ranks)
    return ranks


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list -> (node, rank):
    _power_iteration with a uniform restart weight of 1.0 on every node,

    rank_{t+1}(n) = (1-d)/N + d * (dangling_t/N
                                   + sum_{m->n} rank_t(m) * w(m,n)/out_w(m))

    Parallel edges weigh by multiplicity; pass `weight` to use an explicit
    weight column (rows with the same (src, dst) sum). Returns ranks
    summing to 1."""
    e = _weighted_edges(edges, src, dst, weight)
    nodes = cut(_node_set(e), eager=True)
    n_nodes = nodes.count()
    return _power_iteration(
        e, nodes.withColumn("is_seed", F.lit(1.0)), n_nodes, iterations, damping
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph of an edge list -> canonical (a, b)
    edges with a < b, deduped, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """Canonical (a, b) edges -> (node, deg)."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _triangle_pairs(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered triangle kernel (Schank–Wagner / compact-forward)
    over canonical (a, b) edges and their _degrees -> (u, v, common): one
    row per oriented edge, common = N+(u) ∩ N+(v). Shared by
    triangle_count (sums the sizes), k_truss and clustering_coefficient
    (explode it into triangles).

    Every undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, so each triangle's vertices appear in (degree, id)
    order and it lands in exactly one `common` array, at its (source,
    middle) edge. The intersection runs over COLLECTED out-neighbor arrays
    (array_intersect in whole-stage codegen), not a wedge self-join: the
    r06 shape materialized Σ outdeg² wedge ROWS and shuffled them again for
    the closing semi-join; here the heavy exchange ships each edge's two
    adjacency arrays once (Σ outdeg² ELEMENTS, no per-wedge row overhead).

    Size cap of the collect_list arrays: a vertex of out-degree d points
    only at vertices of degree >= its own degree >= d, so d² <= 2m and no
    array holds more than sqrt(2m) elements, however large the hubs'
    degrees — the naive ordering (Σ deg²) never finished on the bench's
    co-purchase graph (BENCH/PLANS.md round-5 section). A collected array
    is one aggregation value and does not spill, so sqrt(2m) node ids must
    fit one task's memory."""
    ann = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ann.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nb"))
    return (
        oriented.join(adj, "u")
        .join(adj.select(F.col("u").alias("v"), F.col("nb").alias("nb_v")), "v")
        .select("u", "v", F.array_intersect("nb", "nb_v").alias("common"))
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Total triangle count of the UNDIRECTED simple graph induced by the
    edge list -> a 1-row (n_triangles) DataFrame: the sum of
    _triangle_pairs' intersection sizes (each triangle counted once)."""
    und = _undirected(edges, src, dst)
    return _triangle_pairs(und, _degrees(und)).agg(
        F.coalesce(F.sum(F.size("common")), F.lit(0)).cast("bigint").alias("n_triangles")
    )


def _frontier_bfs(
    edges: DataFrame,
    src: str,
    dst: str,
    directed: bool,
    start: DataFrame,
    max_hops: int,
    cadence: int,
) -> DataFrame:
    """Frontier-expansion BFS (the Pregel pattern as DataFrame ops) from the
    hop-0 keys `start` -> settled (*start.columns, dist): each key with the
    hop at which it was first reached, within `max_hops`. The key columns
    end in `node`, the one that walks the edges; a leading key
    (harmonic_centrality's `seed`) rides along, so each of its values keeps
    separate distances. `directed=False` expands along reversed edges too.

    A session.seminaive loop: each round joins only the FRONTIER — keys
    first settled last round — against the edge list and anti-joins the
    settled set, so per-round shuffle volume is O(frontier out-edges),
    never O(V): early rounds touch a sliver of the edge table and Catalyst
    broadcasts the frontier while it is small. The settled table is re-cut
    every `cadence` hops."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if not directed:
        e = cut(_symmetrize(e))
    keys = start.columns

    def expand(frontier, settled, hop):
        return (
            frontier.join(e, frontier["node"] == e["src"])
            .select(*keys[:-1], F.col("dst").alias("node"))
            .distinct()
            .join(settled, keys, "left_anti")
            .select(*keys, F.lit(hop).alias("dist"))
        )

    settled, _ = seminaive(
        start.select(*keys, F.lit(0).alias("dist")), expand, max_rounds=max_hops, cadence=cadence
    )
    return settled


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 20,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distance -> (node, dist): for every node
    reachable from the source set within `max_hops`, the hop count to the
    NEAREST source (sources themselves at dist 0). Unreachable nodes are
    absent — callers outer-join if they want nulls. `sources` is a
    1-column (node) DataFrame; `directed=False` expands along reversed
    edges too. Runs _frontier_bfs keyed on the node alone."""
    start = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    return _frontier_bfs(
        edges, src, dst, directed, start, max_hops, SETTLED_CHECKPOINT_EVERY
    )


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node (out_deg, in_deg, degree) over the distinct directed edge
    list — one partial-aggregated shuffle per direction plus the outer-join
    merge."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    out_d = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
        .withColumn("degree", F.col("out_deg") + F.col("in_deg"))
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Out-neighborhood Jaccard similarity between source nodes ->
    (u, v, common, jaccard) for u < v pairs sharing >= min_common
    out-neighbors — item-item similarity when edges are a bipartite
    incidence (part -> order: "bought together" strength), structural
    role similarity on a plain digraph.

    Plan: wedge enumeration through the shared neighbor (the center),
    exactly the Schank-Wagner shape triangle_count uses: the distinct
    adjacency self-joins on dst with u < v, one partial-agg groupBy
    counts common neighbors, then two degree joins close the Jaccard
    |A intersect B| / (|A| + |B| - |A intersect B|). Wedge volume is
    Sigma deg(center)^2 — `max_center_degree` drops hot CENTERS from
    candidate generation only (degrees stay true corpus degrees), the
    same bounded-hot-key cap as the dedup bands: a center seen by
    everything (a stop-word of the graph) contributes |deg|^2 pairs and
    near-zero Jaccard signal. Counts are integers; the single division
    is one IEEE op, bit-identical in any engine."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy(F.col("src").alias("u")).agg(F.count("*").alias("deg"))
    adj = e
    if max_center_degree is not None:
        hot = (
            e.groupBy("dst")
            .agg(F.count("*").alias("_cdeg"))
            .filter(F.col("_cdeg") > max_center_degree)
            .select("dst")
        )
        adj = e.join(hot, "dst", "left_anti")
    # wedge pairs generated MAP-SIDE from each center's sorted adjacency
    # array (posexplode + slice) instead of the r06 adjacency self-join:
    # same Σ deg(center)² pair population, but no sort-merge join and the
    # (u, v) fold is partial-aggregated before its one shuffle
    grouped = (
        adj.groupBy("dst")
        .agg(F.sort_array(F.collect_list("src")).alias("_ns"))
        .filter(F.size("_ns") >= 2)  # single-source centers pair nothing
    )
    lhs = grouped.select("_ns", F.posexplode("_ns").alias("_i", "u"))
    common = (
        lhs.select(
            "u",
            F.explode(F.slice("_ns", F.col("_i") + 2, F.size("_ns"))).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    return (
        common.join(deg, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg") + F.col("deg_v") - F.col("common")).cast("double"),
                8,
            ).alias("jaccard"),
        )
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_iters: int = 30,
) -> DataFrame:
    """Multi-source single-source-shortest-path (weighted BFS
    generalization) -> (node, dist): minimum total edge weight from the
    nearest source, sources at 0.0. Non-negative weights assumed (the
    Bellman-Ford frontier below is still CORRECT for negative weights
    without negative cycles, but the iteration bound then matters).

    Frontier relaxation, the Pregel pattern bfs_distances uses, plus the
    min-compare: each round joins only the nodes whose distance IMPROVED
    last round against the edge list, offers dist+w to their neighbors,
    and keeps offers strictly below the incumbent. Per-round shuffle
    volume is O(frontier out-edges) + one partial-agg min per touched
    node — never O(V). A session.seminaive loop whose new rows are the
    improvements: it ends when no node improves or at max_iters,
    whichever first."""
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("w"),
    )

    def expand(frontier, dist, _):
        offers = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        return (
            offers.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("node", F.col("cand").alias("dist"))
        )

    def merge(dist, improved):
        return dist.unionByName(improved).groupBy("node").agg(F.min("dist").alias("dist"))

    dist, _ = seminaive(
        sources.select(F.col(sources.columns[0]).alias("node"), F.lit(0.0).alias("dist")),
        expand, merge, max_iters, SETTLED_CHECKPOINT_EVERY,
    )
    return dist


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
) -> DataFrame:
    """k-core -> (node, degree): the maximal subgraph in which every node
    has degree >= k, with each surviving node's degree INSIDE the core.
    The standard corpus/graph-cleaning primitive (drop the sparse fringe
    before community detection or embedding training); the reference's
    community stage (ref src/pipeline.py -> graspologic) benefits from
    exactly this pre-filter on real KGs.

    Undirected simple-graph semantics: the edge list is symmetrized and
    deduped, self-loops dropped, so degree = distinct-neighbor count.

    Plan: INCREMENTAL peel (the textbook delta formulation), a
    session.seminaive loop whose state is replaced each round and whose
    new rows are the drop set. The symmetrized edge list is checkpointed
    ONCE and never rewritten; the loop maintains only the node-sized
    degree table. Per round: nodes under k drop; each dropped node
    decrements its still-alive neighbors by one partial-agg count over the
    static edge list semi-joined against the (small, AQE-broadcast) drop
    set. deg_{t+1}(v) = deg_t(v) - |N(v) ∩ drop_t| is exactly the degree
    of v in the peeled subgraph, so the round-by-round state — and the
    fixpoint — is identical to re-materializing the peeled edge list every
    round. Peel depth is the graph's degeneracy-ordering depth, not O(V) —
    tens of rounds on power-law graphs regardless of scale."""
    e = _symmetrize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    ).transform(cut)

    def merge(deg, drop):
        dec = (
            e.join(drop.withColumnRenamed("node", "src"), "src", "left_semi")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.count("*").alias("_dec"))
        )
        return (
            deg.join(drop, "node", "left_anti")
            .join(dec, "node", "left")
            .select("node", (F.col("_deg") - F.coalesce("_dec", F.lit(0))).alias("_deg"))
        )

    deg, _ = seminaive(
        e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("_deg")),
        lambda _, deg, __: deg.filter(F.col("_deg") < k).select("node"),
        merge,
        max_iters,
    )
    return deg.select("node", F.col("_deg").cast("int").alias("degree"))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    community: str = "community",
) -> DataFrame:
    """Newman modularity Q of a node partition -> one row (n_communities,
    intra_edges, total_edges, modularity): the quality score for the
    community stage's output (the reference's graspologic partition has
    exactly this figure of merit; wbkg/communities.py label propagation
    needs it to be auditable rather than taken on faith).

    Undirected simple-graph semantics (symmetrize + dedup, self-loops
    dropped). Q = sum_c [ e_c/m - (d_c/(2m))^2 ] with e_c the intra-
    community edge count, d_c the total degree of community c, m the
    undirected edge count.

    Plan: two broadcast-or-hash joins tag each directed half-edge with
    its endpoint communities (node -> community is the small side — the
    community map is vocabulary-sized, Catalyst broadcasts it), then ONE
    partial-agg groupBy per community folds e_c and d_c, and a one-row
    final aggregate closes Q. Integer counts throughout; the divisions
    are the only floating ops (round 8, the shared ulp convention).
    Nodes absent from the community map form singleton communities of
    their own (labelled by the node id) — standard convention, keeps Q
    well-defined on partial partitions."""
    und = _symmetrize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    cmap = communities.select(
        F.col(node).alias("_n"), F.col(community).cast("string").alias("_c")
    )
    tagged = (
        und.join(cmap.withColumnRenamed("_n", "src"), "src", "left")
        .withColumnRenamed("_c", "c_src")
        .join(
            cmap.select(F.col("_n").alias("dst"), F.col("_c").alias("c_dst")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("c_src", F.concat(F.lit("_singleton:"), F.col("src"))).alias("c_src"),
            F.coalesce("c_dst", F.concat(F.lit("_singleton:"), F.col("dst"))).alias("c_dst"),
        )
    )
    per_c = tagged.groupBy(F.col("c_src").alias("c")).agg(
        F.count("*").alias("d_c"),
        F.sum(F.when(F.col("c_src") == F.col("c_dst"), 1).otherwise(0)).alias(
            "intra_half"
        ),
    )
    # one-row broadcast of 2m (the crossJoin(broadcast(1-row agg)) scalar
    # fold — shows as BroadcastNestedLoopJoin in explain, intended)
    tot = per_c.agg(F.sum("d_c").alias("_two_m"))
    frac = F.col("d_c") / F.col("_two_m")
    return (
        per_c.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("int").alias("n_communities"),
            (F.sum("intra_half") / 2).cast("bigint").alias("intra_edges"),
            (F.min("_two_m") / 2).cast("bigint").alias("total_edges"),
            F.round(
                F.sum(F.col("intra_half") / F.col("_two_m") - frac * frac),
                8,
            ).alias("modularity"),
        )
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_center_degree: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Missing-link candidates -> (u, v, common, adamic_adar): node pairs
    NOT currently connected, scored by shared-neighbor evidence — the
    classic link-prediction primitives (common-neighbor count and
    Adamic-Adar, which discounts each shared neighbor by 1/ln(degree) so
    promiscuous hubs vouch for less). On the KG this proposes edges the
    extraction stage missed; on a co-purchase graph it is "customers also
    bought".

    Undirected simple-graph semantics (symmetrize + dedup, self-loops
    dropped). Plan: the same Schank-Wagner wedge enumeration as
    neighbor_jaccard — adjacency self-join through the shared CENTER with
    u < v, partial-agg fold of count and sum(1/ln(center_degree)) in ONE
    groupBy — then one LEFT ANTI join against the (undirected) edge list
    removes already-connected pairs. `max_center_degree` caps wedge
    volume at hubs exactly like neighbor_jaccard (candidate generation
    only; degrees in the score stay true). Scores: integer count + a sum
    of 1/ln(integer) terms, rounded to 8 (the shared ulp convention);
    top_k (if set) cuts on the total order (adamic_adar DESC, common
    DESC, u, v) so the LIMIT is engine-independent."""
    und = _symmetrize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    deg = und.groupBy(F.col("src").alias("center")).agg(
        F.count("*").alias("cdeg")
    )
    adj = und.select(F.col("dst").alias("center"), F.col("src").alias("node"))
    if max_center_degree is not None:
        adj = adj.join(
            deg.filter(F.col("cdeg") > max_center_degree).select("center"),
            "center",
            "left_anti",
        )
    # wedge pairs generated MAP-SIDE from each center's sorted adjacency
    # array (posexplode + slice — same rewrite as neighbor_jaccard): the
    # r06 adjacency self-join materialized Σ deg² wedge rows through a
    # sort-merge join; here the pairs stream out of two Generate operators
    # with the per-center 1/ln(cdeg) weight attached, and the (u, v) fold
    # is partial-aggregated before its one shuffle
    grouped = (
        adj.groupBy("center")
        .agg(F.sort_array(F.collect_list("node")).alias("_ns"))
        # single-neighbor centers generate no pairs; dropping them first
        # also keeps 1/ln(cdeg) well-defined (cdeg >= |_ns| >= 2)
        .filter(F.size("_ns") >= 2)
        .join(deg, "center")
        .select("_ns", (1.0 / F.log(F.col("cdeg"))).alias("_w"))
    )
    lhs = grouped.select("_ns", "_w", F.posexplode("_ns").alias("_i", "u"))
    scored = (
        lhs.select(
            "u",
            "_w",
            F.explode(F.slice("_ns", F.col("_i") + 2, F.size("_ns"))).alias("v"),
        )
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common"),
            F.round(F.sum("_w"), 8).alias("adamic_adar"),
        )
        .filter(F.col("common") >= min_common)
    )
    existing = und.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    out = scored.join(existing, ["u", "v"], "left_anti")
    if top_k is not None:
        out = out.orderBy(
            F.desc("adamic_adar"), F.desc("common"), "u", "v"
        ).limit(top_k)
    return out


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """k-truss -> (a, b, support): the maximal subgraph in which every
    edge participates in >= k-2 triangles (within the truss), with each
    surviving edge's final support. Strictly stronger cohesion than the
    k-core (every k-truss edge lies in a (k-1)-core) — the community-core
    extractor that ignores barely-attached spokes a degree threshold
    keeps.

    Undirected simple-graph semantics: canonical (a < b) edges, deduped,
    self-loops dropped.

    Iterative support peel, a session.seminaive loop whose state — each
    edge with its support — is replaced each round and whose new rows are
    the edges under support k-2. Support explodes _triangle_pairs'
    per-edge intersections into triangles (each materializes ONCE, never
    Σ outdeg² wedge rows), credits all three canonical edges of each
    triangle (one explode of a 3-element array) and folds in one
    partial-agg groupBy. A round drops the edges under k-2 and recomputes
    support on the survivors, so the state's supports always count the
    triangles of its own edge set, whether or not the peel converged
    within max_iters. Peel depth is bounded by the triangle-density
    profile, not V — same argument as k_core."""

    def with_support(cur: DataFrame) -> DataFrame:
        tris = _triangle_pairs(cur, _degrees(cur)).select(
            "u", "v", F.explode("common").alias("w")
        )
        edge = lambda x, y: F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))
        credit = tris.select(
            F.explode(F.array(edge("u", "v"), edge("u", "w"), edge("v", "w"))).alias("e")
        ).select("e.a", "e.b")
        support = credit.groupBy("a", "b").agg(F.count("*").alias("support"))
        return cur.join(support, ["a", "b"], "left").select(
            "a", "b", F.coalesce("support", F.lit(0)).cast("int").alias("support")
        )

    truss, _ = seminaive(
        with_support(_undirected(edges, src, dst)),
        lambda _, cur, __: cur.filter(F.col("support") < k - 2).select("a", "b"),
        lambda cur, _: with_support(cur.filter(F.col("support") >= k - 2).select("a", "b")),
        max_iters,
    )
    return truss


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) -> (node, authority, hub),
    L2-normalized each half-step, both rounded to 8 — the OTHER classic
    link-analysis scorer next to pagerank: an authority is pointed at by
    good hubs, a hub points at good authorities (on a KG: widely-cited
    entities vs survey-ish documents).

    Simple-digraph semantics (edges deduped). Per iteration: one
    edge-keyed join + partial-agg sum per direction (the pagerank shuffle
    shape, twice) and a one-row broadcast L2 norm (the crossJoin(
    broadcast(1-row agg)) scalar fold — BroadcastNestedLoopJoin in
    explain, intended). Zero-score nodes (no in-/out-edges) contribute
    nothing to the sums OR the norms, so the loop carries only the
    NONZERO rows and the all-node zero-fill happens once at the end —
    that drops two outer joins per iteration from the r06 shape.
    Checkpoints are lazy (plan truncated, no per-window job; the
    caller's first action runs the whole chain once). The norm's sum
    order is engine/partition dependent — the shared round-8 convention
    absorbs it (ulp-scale per round, linear growth across rounds)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .transform(cut)
    )
    nodes = cut(_node_set(e))
    # hub scores start at 1.0 on every node; only rows that stay nonzero
    # matter inside the loop (see docstring)
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    if iterations <= 0:
        return nodes.select(
            "node",
            F.lit(1.0).alias("authority"),
            F.lit(1.0).alias("hub"),
        )
    auth = None
    for i in range(iterations):
        # the RAW half-step sums are checkpointed (lazily) BEFORE the norm
        # scalar: the norm's broadcast sub-job then materializes exactly
        # one join+agg from persisted input, and the normalized scores are
        # a map-side projection over the same persisted blocks — without
        # this, every norm broadcast re-executed the whole chain since the
        # last checkpoint (quadratic within the window; profiled as ~10s
        # of scheduler-and-recompute on a 25-node fixture)
        raw_a = (
            hub.join(e, hub["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("ra"))
            .transform(cut)
        )
        norm_a = raw_a.agg(F.sqrt(F.sum(F.col("ra") * F.col("ra"))).alias("_n"))
        auth = raw_a.crossJoin(F.broadcast(norm_a)).select(
            "node",
            F.when(F.col("_n") > 0, F.col("ra") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("authority"),
        )
        raw_h = (
            auth.join(e, auth["node"] == e["dst"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("rh"))
            .transform(cut)
        )
        norm_h = raw_h.agg(F.sqrt(F.sum(F.col("rh") * F.col("rh"))).alias("_n"))
        hub = raw_h.crossJoin(F.broadcast(norm_h)).select(
            "node",
            F.when(F.col("_n") > 0, F.col("rh") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("hub"),
        )
    return (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("authority", F.lit(0.0)), 8).alias("authority"),
            F.round(F.coalesce("hub", F.lit(0.0)), 8).alias("hub"),
        )
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    src: str = "src",
    dst: str = "dst",
    salt: str = "rw",
) -> DataFrame:
    """Deterministic random-walk corpus -> (walk_id, step, node): the walk
    generation step of DeepWalk/node2vec-style graph-embedding pipelines
    (walks become "sentences" for a skip-gram trainer). `walks_per_node`
    walks start at every node with out-edges; each advances `walk_len`
    steps, stopping early at dead ends.

    There is NO RNG: step t of walk w picks out-edge number
    md5(walk_id:t) % outdeg, so re-runs, re-partitions and any engine
    with md5 reproduce the identical corpus (the same no-RNG contract as
    every sampler here). Neighbor slots are row_number over (src ORDER BY
    dst) — a deterministic total order.

    Plan: the slotted neighbor table and out-degrees build once (one
    window + one partial agg on src, co-partitioned) and are cut; the walk
    table is a session.seminaive loop whose round t equi-joins the walks
    at step t-1 on (node, slot) — the slot is computed BEFORE the join so
    there is no outdeg fan-out — so shuffle volume is O(live walks), never
    O(E). The round reads its walks from the accumulated table (a filter
    on the cached scan), so each re-cut of that table is stored by the
    round after it. Skew bound: walks are keyed by (start, idx) so hot
    nodes spread across walk ids; the neighbor join key is the current
    node — AQE skew-split is the second line on power-law graphs."""
    from pyspark.sql import Window

    if walk_len < 1 or walks_per_node < 1:
        # sequence(0, walks_per_node-1) would COUNT DOWN for 0 (Spark's
        # default step is -1 when start > stop) — reject instead
        raise ValueError("walk_len and walks_per_node must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    nbr = (
        e.withColumn("rn", (F.row_number().over(w) - 1).cast("long"))
        .withColumn("outdeg", F.count("*").over(Window.partitionBy("src")))
        .transform(cut)
    )
    starts = (
        nbr.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("i"),
        )
        .select(
            F.concat(F.col("node"), F.lit("#"), F.col("i").cast("string")).alias(
                "walk_id"
            ),
            F.lit(0).alias("step"),
            F.col("node"),
        )
    )
    deg = (
        nbr.select(F.col("src").alias("node"), "outdeg")
        .distinct()
        .transform(cut)
    )
    slots = nbr.select(
        F.col("src").alias("_s"), F.col("rn").alias("_rn"), F.col("dst").alias("_d")
    ).transform(cut)

    def expand(_, walks, t):
        stepped = walks.filter(F.col("step") == t - 1).join(deg, "node").select(
            "walk_id",
            "node",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("walk_id"), F.lit(f":{salt}:{t}"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("outdeg")
            ).alias("slot"),
        )
        return stepped.join(
            slots,
            (stepped["node"] == slots["_s"]) & (stepped["slot"] == slots["_rn"]),
        ).select("walk_id", F.lit(t).alias("step"), F.col("_d").alias("node"))

    walks, _ = seminaive(
        starts, expand, max_rounds=walk_len, cadence=SETTLED_CHECKPOINT_EVERY
    )
    return walks


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Seed-set harmonic closeness -> (node, n_reaching, harmonic):
    for every node reached from the seed set, harmonic(v) =
    sum over seeds s != v of 1/d(s, v), within `max_hops` — the standard
    sampled-centrality estimator (exact all-pairs closeness is O(V*E);
    production practice is a seed sample, which this IS).

    Per-seed labeled BFS: _frontier_bfs keyed on (seed, node), so each
    seed's distances stay separate (bfs_distances collapses to the
    nearest seed; this op cannot). State is O(|seeds| * V) — the caller
    controls |seeds|, that is the sampling knob. The 1/d fold is one
    partial-agg sum per node (round 8 absorbs sum-order ulps, the shared
    convention)."""
    start = (
        sources.select(F.col(sources.columns[0]).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"))
    )
    settled = _frontier_bfs(
        edges, src, dst, directed, start, max_hops, SEED_SETTLED_CHECKPOINT_EVERY
    )
    return (
        settled.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").cast("int").alias("n_reaching"),
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 8).alias("harmonic"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Personalized PageRank -> (node, rank): random walk with restart to
    a SEED set instead of the uniform teleport — "importance relative to
    these entities", the recommendation / related-entity scorer (on a KG:
    rank everything w.r.t. one document's entities).

    rank_{t+1}(n) = (1-d) * 1{n in S}/|S|
                    + d * (sum_{m->n} rank_t(m) * w(m,n)/out_w(m)
                           + dangling_t/|S| * 1{n in S})

    Initial mass 1/|S| on seeds, 0 elsewhere; dangling mass restarts to
    the seeds (the standard PPR convention — mass conservation holds, so
    ranks always sum to 1). _power_iteration with restart weight 1{n in S},
    so with S = all nodes this reduces float-exactly to pagerank (the unit
    test pins it)."""
    e = _weighted_edges(edges, src, dst, weight)
    seed_set = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    n_seeds = seed_set.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    nodes = (
        _node_set(e)
        .join(seed_set.withColumn("is_seed", F.lit(1.0)), "node", "left")
        .select("node", F.coalesce("is_seed", F.lit(0.0)).alias("is_seed"))
        .transform(cut)
    )
    return _power_iteration(e, nodes, n_seeds, iterations, damping)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient -> (node, deg, triangles, coeff) for
    every node with degree >= 2: coeff = 2*T_v / (deg_v*(deg_v-1)) — how
    close each node's neighborhood is to a clique (the per-node companion
    to triangle_count's global number; on a KG it separates hub entities
    whose neighbors interconnect from pure star centers).

    EXPLODING _triangle_pairs' per-edge intersections materializes each
    triangle once as (u, v, w), a 3-way explode attributes it to each
    corner, and one partial-agg groupBy counts per node. Triangle volume
    (not Σ outdeg² wedge volume) is the only row population beyond the
    edge list."""
    und = _undirected(edges, src, dst)
    deg = cut(_degrees(und))
    tri = _triangle_pairs(und, deg).select("u", "v", F.explode("common").alias("w"))
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.coalesce("triangles", F.lit(0))
                * 2
                / (F.col("deg") * (F.col("deg") - 1)),
                8,
            ).alias("coeff"),
        )
    )


def strongly_connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph -> (member,
    scc_id) with scc_id = the minimum node id of the component — the
    directed counterpart of g4's connected components (mutual
    reachability: cycles collapse, DAG edges don't).

    Orzan-style coloring, the standard distributed SCC scheme: each round
    (1) colors every remaining node with the MINIMUM id that can reach it
    (forward min-label propagation to fixpoint), (2) inside each color
    class, propagates the minimum within-class id reachable FROM each
    node (backward propagation on color-matched edges — correctness: any
    v->*c path stays inside c's class, provable from color minimality);
    nodes where the two labels agree are exactly the SCC of their class's
    minimal node, get labeled, and leave the graph. Every round removes
    at least each minimal color's SCC, so rounds <= #SCC (in practice a
    handful: every singleton whose color is itself peels immediately).

    Both floods are canonicalize.min_label_fixpoint run to CONVERGENCE
    (one eager cut per probe of two steps) — probe count tracks the remaining
    subgraph's diameter, not V. State is (node, label) pairs only. The
    rounds are a session.seminaive loop over every node with its scc_id
    (null until labeled), replaced each round; the new rows are the nodes
    still unlabeled, and the merge runs the round on them. A round's edge
    and label tables are released once the next round's probe has stored
    the state they feed."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = _node_set(e)

    def peel(state: DataFrame, remaining: DataFrame) -> DataFrame:
        re = (
            e.join(remaining.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .transform(cut)
        )
        # (Considered and rejected: an FW-BW-style TRIM prefilter for
        # trivial SCCs — on cycle-dominated graphs like the bench fixture
        # it never fires and costs an extra probe job per round; measured
        # 7.2s -> 8.7s. The coloring rounds already peel singletons.)
        # (1) color(v) = min id reaching v: propagate src's color to dst
        color, _ = min_label_fixpoint(remaining, re)
        color = color.withColumnRenamed("label", "color")
        # (2) within each color class, f(v) = min same-class id reachable
        # FROM v: propagate dst's label to src on color-matched edges,
        # so the fixpoint runs over them reversed
        ec = (
            re.join(color.select(F.col("node").alias("src"), F.col("color").alias("cs")), "src")
            .join(color.select(F.col("node").alias("dst"), F.col("color").alias("cd")), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .transform(cut)
        )
        f, _ = min_label_fixpoint(remaining, ec)
        labeled = (
            color.join(f.withColumnRenamed("label", "f"), "node")
            .filter(F.col("color") == F.col("f"))
            .select("node", F.col("color").alias("_scc"))
        )
        return state.join(labeled, "node", "left").select(
            "node", F.coalesce("scc_id", "_scc").alias("scc_id")
        )

    # every round peels at least the minimal color's SCC, so this
    # terminates with every node labeled
    state, _ = seminaive(
        nodes.select("node", F.lit(None).cast(nodes.schema["node"].dataType).alias("scc_id")),
        lambda _, state, __: state.filter(F.col("scc_id").isNull()).select("node"),
        peel,
    )
    return state.select(F.col("node").alias("member"), "scc_id")


def katz_centrality(
    edges: DataFrame,
    iterations: int = 10,
    alpha: float = 0.1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Katz centrality -> (node, katz): k_{t+1}(v) = 1 + alpha * sum over
    in-edges u->v of k_t(u), truncated at `iterations` — counts walks of
    every length into v, geometrically damped. The third classic
    link-analysis scorer next to pagerank (no out-degree normalization:
    prolific linkers contribute fully) and hits (no mutual reinforcement
    split); alpha must be < 1/lambda_max for the series to converge —
    the fixed-iteration truncation keeps it finite regardless.

    Simple-digraph semantics (edges deduped). Per iteration: ONE
    edge-keyed join + one partial-agg sum on the node key — the pagerank
    shuffle shape minus the degree join and the dangling fold (Katz needs
    neither). Fully lazy between localCheckpoints; the deduped edge list
    is checkpointed once (static across iterations)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .transform(cut)
    )
    nodes = cut(_node_set(e))
    a = F.lit(float(alpha))
    katz = nodes.select("node", F.lit(1.0).alias("katz"))
    for i in range(iterations):
        contrib = (
            katz.join(e, katz["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("katz").alias("s"))
        )
        katz = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(1.0) + a * F.coalesce("s", F.lit(0.0))).alias("katz"),
        )
        if (i + 1) % RANK_CHECKPOINT_EVERY == 0 or i == iterations - 1:
            # lazy: one caller-action job for the whole chain
            katz = cut(katz)
    return katz
