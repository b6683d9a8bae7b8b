"""Graph analytics (wbkg/graph_analytics.py): PageRank, triangles, degrees."""

import pytest
from pyspark.sql import functions as F

from wbkg.graph_analytics import degree_stats, pagerank, triangle_count


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_cycle_uniform(spark):
    # a 4-cycle: uniform distribution is the fixed point
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    ranks = {r.node: r.rank for r in pagerank(e, iterations=5).collect()}
    for v in ranks.values():
        assert abs(v - 0.25) < 1e-12
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_matches_reference_iteration(spark):
    """Spark result == a plain-python power iteration with the identical
    dangling-redistribution rule, on a graph WITH dangling nodes."""
    pairs = [("a", "c"), ("b", "c"), ("c", "d")]  # d dangles
    nodes = ["a", "b", "c", "d"]
    out = {"a": ["c"], "b": ["c"], "c": ["d"], "d": []}
    d, n = 0.85, len(nodes)
    r = {x: 1.0 / n for x in nodes}
    for _ in range(10):
        dang = sum(r[x] for x in nodes if not out[x])
        nxt = {}
        for x in nodes:
            in_sum = sum(r[m] / len(out[m]) for m in nodes if x in out[m])
            nxt[x] = (1 - d) / n + d * (in_sum + dang / n)
        r = nxt
    got = {row.node: row.rank for row in pagerank(_edges(spark, pairs), iterations=10).collect()}
    for x in nodes:
        assert abs(got[x] - r[x]) < 1e-12, (x, got[x], r[x])
    assert got["c"] > got["a"]  # the hub outranks its sources
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_triangle_count(spark):
    # two triangles sharing the edge (a,b); directions and duplicates must
    # not matter after undirected canonicalization
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a"), ("a", "d"), ("d", "b"),
         ("a", "b"), ("d", "e")],
    )
    assert triangle_count(e).first().n_triangles == 2
    assert triangle_count(_edges(spark, [("a", "b"), ("b", "c")])).first().n_triangles == 0


def test_degree_stats(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")])
    got = {r.node: (r.out_deg, r.in_deg, r.degree) for r in degree_stats(e).collect()}
    assert got == {"a": (2, 0, 2), "b": (1, 1, 2), "c": (0, 2, 2)}


def test_pagerank_weights_parallel_edges(spark):
    """Multigraph semantics (ADVICE r05): a doubled edge carries twice the
    rank of a single one — a splits 2/3 to b, 1/3 to c."""
    e = _edges(spark, [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")])
    got = {r.node: r.rank for r in pagerank(e, iterations=20).collect()}
    assert got["b"] > got["c"]
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # explicit weight column gives the identical distribution
    ew = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    got_w = {r.node: r.rank for r in pagerank(ew, iterations=20, weight="w").collect()}
    for k in got:
        assert abs(got[k] - got_w[k]) < 1e-12


def test_pagerank_simple_graph_unchanged_by_weighting(spark):
    """On a simple graph (no parallel edges) the weighted formulation is
    float-identical to rank/outdeg — weights are all exactly 1.0."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")])
    got = {r.node: r.rank for r in pagerank(e, iterations=10).collect()}
    # replay the recurrence in python floats
    ranks = {n: 1 / 3 for n in "abc"}
    out = {"a": ["b", "c"], "b": ["c"], "c": ["a"]}
    for _ in range(10):
        nxt = {n: (1 - 0.85) / 3 for n in "abc"}
        for m, tgts in out.items():
            for t in tgts:
                nxt[t] += 0.85 * (ranks[m] * 1.0 / len(tgts))
        ranks = nxt
    for n in "abc":
        assert abs(got[n] - ranks[n]) < 1e-12


def test_bfs_distances_directed(spark):
    from wbkg.graph_analytics import bfs_distances

    # a -> b -> c -> d, plus a shortcut a -> c; z unreachable from a
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("z", "a")])
    src = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(e, src).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}  # shortcut wins; z absent


def test_bfs_distances_undirected_multi_source(spark):
    from wbkg.graph_analytics import bfs_distances

    # chain a-b-c-d-e, sources at both ends: dist = min from either end
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    src = spark.createDataFrame([("a",), ("e",)], "node string")
    got = {
        r.node: r.dist
        for r in bfs_distances(e, src, directed=False).collect()
    }
    assert got == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}


def test_bfs_distances_max_hops_cutoff(spark):
    from wbkg.graph_analytics import bfs_distances

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    src = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(e, src, max_hops=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d is 3 hops away -> cut off


def test_sssp_weighted(spark):
    from wbkg.graph_analytics import sssp

    # direct heavy edge (a->d, 10) loses to the 3-hop light path (1+1+1);
    # x is unreachable and absent; multi-source takes the nearer source
    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0),
            ("b", "c", 1.0),
            ("c", "d", 1.0),
            ("a", "d", 10.0),
            ("s2", "d", 0.5),
            ("y", "x", 1.0),  # island, no source reaches y
        ],
        "src string, dst string, weight double",
    )
    sources = spark.createDataFrame([("a",), ("s2",)], "node string")
    got = {r.node: r.dist for r in sssp(edges, sources).collect()}
    assert got == {"a": 0.0, "s2": 0.0, "b": 1.0, "c": 2.0, "d": 0.5}


def test_k_core_triangle_with_tail(spark):
    # triangle a-b-c plus tail c-d: the 2-core is exactly the triangle
    # (d peels, which drops c's degree to 2 — still in)
    from wbkg.graph_analytics import k_core

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    got = {r.node: r.degree for r in k_core(e, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_cascading_peel(spark):
    # path a-b-c-d-e: 2-core is empty, but only after CASCADING rounds
    # (endpoints peel first, exposing the next nodes round by round)
    from wbkg.graph_analytics import k_core

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    assert k_core(e, k=2).count() == 0
    # ... while the 1-core keeps everything
    assert k_core(e, k=1).count() == 5


def test_k_core_ignores_direction_and_duplicates(spark):
    # both orientations + duplicates of the same undirected edge count once
    from wbkg.graph_analytics import k_core

    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "a")],
    )
    got = {r.node: r.degree for r in k_core(e, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_modularity_perfect_partition(spark):
    # two disconnected triangles, each its own community:
    # Q = sum_c (e_c/m - (d_c/2m)^2) = (3/6 - 1/4) + (3/6 - 1/4) = 0.5
    from wbkg.graph_analytics import modularity

    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
    )
    cmap = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t1"), ("x", "t2"), ("y", "t2"), ("z", "t2")],
        "node string, community string",
    )
    row = modularity(e, cmap).collect()[0]
    assert row.n_communities == 2
    assert row.intra_edges == 6
    assert row.total_edges == 6
    assert abs(row.modularity - 0.5) < 1e-8


def test_modularity_single_community_is_zero(spark):
    # everything in one community: e_c/m = 1, (d_c/2m)^2 = 1 -> Q = 0
    from wbkg.graph_analytics import modularity

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    cmap = spark.createDataFrame(
        [("a", "one"), ("b", "one"), ("c", "one")], "node string, community string"
    )
    row = modularity(e, cmap).collect()[0]
    assert row.n_communities == 1
    assert abs(row.modularity - 0.0) < 1e-8


def test_modularity_unmapped_nodes_are_singletons(spark):
    # a-b intra (mapped), c unmapped -> its own singleton community;
    # hand-fold: edges {a-b, b-c}, m=2, communities: g={a,b}, s={c}
    # d_g = 3, d_s = 1, intra_g = 1, intra_s = 0
    # Q = (1/2 - (3/4)^2) + (0 - (1/4)^2) = 0.5 - 0.5625 - 0.0625 = -0.125
    from wbkg.graph_analytics import modularity

    e = _edges(spark, [("a", "b"), ("b", "c")])
    cmap = spark.createDataFrame(
        [("a", "g"), ("b", "g")], "node string, community string"
    )
    row = modularity(e, cmap).collect()[0]
    assert row.n_communities == 2
    assert row.intra_edges == 1
    assert row.total_edges == 2
    assert abs(row.modularity - (-0.125)) < 1e-8


def test_link_prediction_scores_and_anti_join(spark):
    # star: hub h connected to a,b,c; plus direct edge a-b.
    # Candidate pairs through h: (a,b),(a,c),(b,c) — but a-b already
    # exists, so only (a,c),(b,c) survive; deg(h)=3 so AA = 1/ln(3)
    import math

    from wbkg.graph_analytics import link_prediction

    e = _edges(spark, [("h", "a"), ("h", "b"), ("h", "c"), ("a", "b")])
    rows = link_prediction(e, min_common=1).collect()
    got = {(r.u, r.v): (r.common, r.adamic_adar) for r in rows}
    aa = round(1.0 / math.log(3.0), 8)
    assert got == {("a", "c"): (1, aa), ("b", "c"): (1, aa)}


def test_link_prediction_center_cap_drops_hot_hub(spark):
    # with the hub capped out of candidate generation, nothing remains
    from wbkg.graph_analytics import link_prediction

    e = _edges(spark, [("h", "a"), ("h", "b"), ("h", "c")])
    assert link_prediction(e, min_common=1, max_center_degree=2).count() == 0


def test_link_prediction_common_neighbor_count(spark):
    # 4-cycle a-x-b-y-a: the two diagonals (a,b) and (x,y) each share two
    # degree-2 centers: common=2, AA = 2 / ln(2) for both
    import math

    from wbkg.graph_analytics import link_prediction

    e = _edges(spark, [("a", "x"), ("b", "x"), ("a", "y"), ("b", "y")])
    rows = link_prediction(e, min_common=2).collect()
    got = {(r.u, r.v): (r.common, r.adamic_adar) for r in rows}
    aa = round(2.0 / math.log(2.0), 8)
    assert got == {("a", "b"): (2, aa), ("x", "y"): (2, aa)}


def test_k_truss_clique_and_pendant_triangle(spark):
    from wbkg.graph_analytics import k_truss

    # K4 on a,b,c,d (every edge in 2 triangles) + pendant triangle d-e-f
    # (each of its edges in exactly 1 triangle)
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    pend = [("d", "e"), ("d", "f"), ("e", "f")]
    e = _edges(spark, k4 + pend)
    # 4-truss (support >= 2): exactly the K4
    got4 = {(r.a, r.b): r.support for r in k_truss(e, k=4).collect()}
    assert set(got4) == set(k4)
    assert all(s == 2 for s in got4.values())
    # 3-truss (support >= 1): everything — the pendant triangle survives
    assert k_truss(e, k=3).count() == 9


def test_k_truss_cascading_collapse(spark):
    from wbkg.graph_analytics import k_truss

    # two triangles sharing edge (b,c): (b,c) has support 2, the other
    # four edges support 1. A 4-truss first drops those four, which kills
    # (b,c)'s triangles -> second round drops it too: empty. Cascade.
    e = _edges(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")],
    )
    assert k_truss(e, k=4).count() == 0
    assert k_truss(e, k=3).count() == 5


def test_k_truss_path_has_no_triangles(spark):
    from wbkg.graph_analytics import k_truss

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert k_truss(e, k=3).count() == 0


def test_hits_matches_python_reference(spark):
    import math

    from wbkg.graph_analytics import hits

    pairs = [("a", "c"), ("b", "c"), ("c", "d"), ("a", "d")]
    nodes = ["a", "b", "c", "d"]
    inn = {n: [s for s, t in pairs if t == n] for n in nodes}
    out = {n: [t for s, t in pairs if s == n] for n in nodes}
    a = {n: 1.0 for n in nodes}
    h = {n: 1.0 for n in nodes}
    for _ in range(10):
        ra = {n: sum(h[m] for m in inn[n]) for n in nodes}
        na = math.sqrt(sum(v * v for v in ra.values()))
        a = {n: (ra[n] / na if na > 0 else 0.0) for n in nodes}
        rh = {n: sum(a[m] for m in out[n]) for n in nodes}
        nh = math.sqrt(sum(v * v for v in rh.values()))
        h = {n: (rh[n] / nh if nh > 0 else 0.0) for n in nodes}
    got = {
        r.node: (r.authority, r.hub)
        for r in hits(_edges(spark, pairs), iterations=10).collect()
    }
    for n in nodes:
        assert abs(got[n][0] - a[n]) < 1e-7, (n, got[n], a[n])
        assert abs(got[n][1] - h[n]) < 1e-7
    # structure: c,d are the authorities; a is the best hub
    assert got["c"][0] > got["a"][0] and got["d"][0] > got["a"][0]
    assert got["a"][1] > got["c"][1]


def test_hits_empty_direction_is_zero(spark):
    from wbkg.graph_analytics import hits

    got = {
        r.node: (r.authority, r.hub)
        for r in hits(_edges(spark, [("a", "b")]), iterations=3).collect()
    }
    assert got["a"][0] == 0.0  # nothing points at a
    assert got["b"][1] == 0.0  # b points at nothing
    assert got["b"][0] == 1.0 and got["a"][1] == 1.0


# ---------------------------------------------------------------- round 6 s4


def test_random_walks_structure(spark):
    from wbkg.graph_analytics import random_walks

    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b")]
    out = random_walks(_edges(spark, pairs), walk_len=4, walks_per_node=2)
    rows = out.collect()
    byw = {}
    for r in rows:
        byw.setdefault(r.walk_id, {})[r.step] = r.node
    edge_set = set(pairs)
    for wid, steps in byw.items():
        # contiguous steps from 0; start node matches the walk id
        assert sorted(steps) == list(range(len(steps)))
        assert wid.split("#")[0] == steps[0]
        # every hop is a real directed edge
        for t in range(1, len(steps)):
            assert (steps[t - 1], steps[t]) in edge_set
    # 3 nodes with out-edges x 2 walks
    assert len(byw) == 6


def test_random_walks_dead_end_and_determinism(spark):
    from wbkg.graph_analytics import random_walks

    pairs = [("a", "b")]  # b is a dead end
    out1 = {
        (r.walk_id, r.step): r.node
        for r in random_walks(_edges(spark, pairs), walk_len=5).collect()
    }
    # walks from a: a -> b, stop (b has no out-edges). 2 walks x 2 rows.
    assert len(out1) == 4
    assert out1[("a#0", 1)] == "b" and out1[("a#1", 1)] == "b"
    out2 = {
        (r.walk_id, r.step): r.node
        for r in random_walks(
            _edges(spark, pairs).repartition(4), walk_len=5
        ).collect()
    }
    assert out1 == out2  # no RNG: partitioning never changes the corpus


def test_harmonic_centrality_path(spark):
    from wbkg.graph_analytics import harmonic_centrality

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    seeds = spark.createDataFrame([("a",), ("d",)], "node string")
    got = {
        r.node: (r.n_reaching, r.harmonic)
        for r in harmonic_centrality(e, seeds, max_hops=6).collect()
    }
    # undirected path a-b-c-d, seeds {a, d}
    assert got["b"] == (2, 1.5)        # 1/1 from a + 1/2 from d
    assert got["c"] == (2, 1.5)
    assert got["a"] == (1, 0.33333333)  # 1/3 from d (self dist-0 excluded)
    assert got["d"] == (1, 0.33333333)


def test_harmonic_centrality_hop_bound(spark):
    from wbkg.graph_analytics import harmonic_centrality

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r.node: r.harmonic
        for r in harmonic_centrality(e, seeds, max_hops=2).collect()
    }
    assert "d" not in got  # beyond the hop budget
    assert got["c"] == 0.5


def test_personalized_pagerank_mass_and_locality(spark):
    from wbkg.graph_analytics import personalized_pagerank

    # two disconnected cycles; seed only in the first
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.rank for r in personalized_pagerank(e, seeds, 20).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    # all mass stays in the seed's component
    assert got["x"] == 0.0 and got["y"] == 0.0 and got["z"] == 0.0
    assert got["a"] > got["b"] > 0 and got["c"] > 0


def test_personalized_pagerank_all_seeds_equals_pagerank(spark):
    from wbkg.graph_analytics import pagerank, personalized_pagerank

    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]  # d dangles
    e = _edges(spark, pairs)
    nodes = spark.createDataFrame([(n,) for n in "abcd"], "node string")
    pr = {r.node: r.rank for r in pagerank(e, iterations=8).collect()}
    ppr = {
        r.node: r.rank
        for r in personalized_pagerank(e, nodes, iterations=8).collect()
    }
    for n in pr:
        assert abs(pr[n] - ppr[n]) < 1e-12, (n, pr[n], ppr[n])


def test_clustering_coefficient_hand_graph(spark):
    from wbkg.graph_analytics import clustering_coefficient

    # triangle a-b-c plus pendant d on a, plus star center e -> f,g
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
             ("e", "f"), ("e", "g")]
    got = {
        r.node: (r.deg, r.triangles, r.coeff)
        for r in clustering_coefficient(_edges(spark, pairs)).collect()
    }
    assert got["a"] == (3, 1, 0.33333333)  # one of three neighbor pairs closed
    assert got["b"] == (2, 1, 1.0)
    assert got["c"] == (2, 1, 1.0)
    assert got["e"] == (2, 0, 0.0)         # star: neighbors not connected
    assert "d" not in got and "f" not in got  # deg < 2 excluded


def test_clustering_coefficient_clique_is_one(spark):
    from itertools import combinations

    from wbkg.graph_analytics import clustering_coefficient

    pairs = [(a, b) for a, b in combinations("abcde", 2)]
    got = clustering_coefficient(_edges(spark, pairs)).collect()
    assert len(got) == 5
    assert all(r.coeff == 1.0 and r.deg == 4 and r.triangles == 6 for r in got)


def test_scc_cycles_and_dag(spark):
    from wbkg.graph_analytics import strongly_connected_components

    # cycle {a,b,c}; cycle {x,y}; DAG edges c->x and c->q (q singleton)
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "x"), ("c", "x"), ("c", "q")]
    got = {
        r.member: r.scc_id
        for r in strongly_connected_components(_edges(spark, pairs)).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x",
        "q": "q",
    }


def test_scc_pure_dag_is_all_singletons(spark):
    from wbkg.graph_analytics import strongly_connected_components

    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = {
        r.member: r.scc_id
        for r in strongly_connected_components(_edges(spark, pairs)).collect()
    }
    assert got == {n: n for n in "abcd"}


def test_scc_chain_of_cycles_needs_multiple_rounds(spark):
    from wbkg.graph_analytics import strongly_connected_components

    # cycle {a,b} -> cycle {c,d} -> cycle {e,f}: coloring floods 'a'
    # everywhere in round 1, so only {a,b} peels first — the multi-round
    # path is exercised for real
    pairs = [("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"),
             ("e", "f"), ("f", "e"), ("b", "c"), ("d", "e")]
    got = {
        r.member: r.scc_id
        for r in strongly_connected_components(_edges(spark, pairs)).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e", "f": "e"}


def test_degenerate_inputs_rejected(spark):
    import pytest as _pytest

    from wbkg.graph_analytics import personalized_pagerank, random_walks

    e = _edges(spark, [("a", "b")])
    with _pytest.raises(ValueError):
        random_walks(e, walk_len=0)
    with _pytest.raises(ValueError):
        random_walks(e, walks_per_node=0)
    empty_seeds = spark.createDataFrame([], "node string")
    with _pytest.raises(ValueError):
        personalized_pagerank(e, empty_seeds)


def test_katz_centrality_path(spark):
    from wbkg.graph_analytics import katz_centrality

    # path a->b->c, alpha=0.5, truncated series:
    # katz(a)=1; katz(b)=1+0.5*katz(a)=1.5; katz(c)=1+0.5*katz(b)=1.75
    got = {
        r.node: r.katz
        for r in katz_centrality(
            _edges(spark, [("a", "b"), ("b", "c")]), iterations=10, alpha=0.5
        ).collect()
    }
    assert got["a"] == 1.0
    assert got["b"] == 1.5
    assert abs(got["c"] - 1.75) < 1e-12


def test_katz_more_inlinks_scores_higher(spark):
    from wbkg.graph_analytics import katz_centrality

    e = _edges(spark, [("a", "x"), ("b", "x"), ("c", "x"), ("a", "y")])
    got = {r.node: r.katz for r in katz_centrality(e, 5, alpha=0.2).collect()}
    assert got["x"] > got["y"] > got["a"]


def _chain(n):
    return [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)]


def _truss_strip(n):
    """Edges (i, i+d) for d in {1, 3, 4}: its 4-truss peels from both ends
    inward, 2 rounds at n=4 and 9 at n=32, and ends empty."""
    return [(f"v{i:02d}", f"v{i + d:02d}") for i in range(n) for d in (1, 3, 4) if i + d < n]


def _tournament(n):
    """Every edge v_i -> v_j, i < j: n singleton SCCs, each coloring round
    floods in one step and peels only the least remaining node."""
    return [(f"v{i:02d}", f"v{j:02d}") for i in range(n) for j in range(i + 1, n)]


@pytest.mark.parametrize(
    "loop",
    ["k_core", "bfs_distances", "sssp", "harmonic_centrality", "k_truss", "random_walks",
     "strongly_connected_components"],
)
def test_probe_loop_storage_does_not_grow_with_rounds(spark, loop):
    """Every session.seminaive loop releases the cuts a re-cut superseded
    once a later probe has stored that re-cut: it leaves as many persisted
    RDDs behind on a large input that runs many rounds as on a small one
    that runs few — a 32-node chain against a 4-node one (k_core 16 peel
    rounds against 2, BFS, harmonic, sssp and random walks 31 against 3),
    k_truss's strip 9 rounds against 2, SCC's tournament 8 against 4."""
    from wbkg import graph_analytics as ga

    jsc = spark.sparkContext._jsc
    one = lambda: spark.createDataFrame([("v00",)], "node string")
    graph, sizes, run = {
        "k_core": (_chain, (4, 32), lambda e, n: ga.k_core(e, k=2).count() == 0),
        "bfs_distances": (_chain, (4, 32), lambda e, n: ga.bfs_distances(
            e, one(), max_hops=40).count() == n),
        "sssp": (_chain, (4, 32), lambda e, n: ga.sssp(
            e.withColumn("weight", F.lit(1.0)), one(), max_iters=40).count() == n),
        "harmonic_centrality": (_chain, (4, 32), lambda e, n: ga.harmonic_centrality(
            e, one(), max_hops=40).count() == n - 1),
        "k_truss": (_truss_strip, (4, 32), lambda e, n: ga.k_truss(e, k=4).count() == 0),
        "random_walks": (_chain, (4, 32), lambda e, n: ga.random_walks(
            e, walk_len=40, walks_per_node=1).count() == n * (n + 1) // 2 - 1),
        "strongly_connected_components": (_tournament, (4, 8), lambda e, n: (
            ga.strongly_connected_components(e).count() == n)),
    }[loop]

    def growth(n):
        e = _edges(spark, graph(n))
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        assert run(e, n)
        return len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)

    assert growth(sizes[0]) == growth(sizes[1])


def test_round_bookkeeping_lives_in_the_loop_driver():
    """No for/while body in graph_analytics or sparql releases a cut or
    probes with isEmpty/take(1): every frontier loop's cut, probe and
    release run in session.seminaive."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "wbkg"
    for name in ("graph_analytics.py", "sparql.py"):
        tree = ast.parse((root / name).read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.For, ast.While)):
                body = "\n".join(ast.unparse(b) for b in node.body + node.orelse)
                assert not re.search(r"\brelease\(|\.isEmpty\(\)|\.take\(1\)", body), (
                    f"{name}:{node.lineno}"
                )
