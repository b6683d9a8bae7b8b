"""Property-based invariants for the iterative graph operators and table
maintenance ops (hypothesis over small random graphs — the same strategy
the chunker/ttl property suites use: few examples, Spark per example, so
budgets stay sane while the INVARIANT, not an instance, is what's
asserted).

Invariants checked (the definitional ones, independent of the
implementation's join shapes):

- k-core: every output node's degree (within the output subgraph) >= k,
  and the output is a FIXPOINT (running k_core on it changes nothing).
- k-truss: every surviving edge's support, recomputed in plain Python
  over the surviving edge set, >= k-2; reported support matches.
- bfs_distances / harmonic_centrality (the shared frontier loop): equal
  to a plain-Python BFS, directed and undirected, under a hop cutoff.
- query.entity_neighborhood (one lazy plan, no frontier loop): equal to
  the minimum hop of a plain-Python undirected BFS, over multigraphs with
  self-loops and from a start node that may be absent.
- connected_components / strongly_connected_components (the shared
  min-label fixpoint): equal to the driver union-find and to Tarjan.
- label_propagation (the same fixpoint with a weighted-vote candidate):
  equal to the driver's monotone weighted label propagation.
- hierarchical_communities: the driver path equal to the distributed
  loop, rows and schema; the driver leaves partition the nodes within the
  size bound.
- merge_upsert: idempotent (re-applying the same source is a no-op) and
  key-complete (output keys == target keys ∪ source keys).
"""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

HC = dict(deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])

NODE = st.integers(min_value=0, max_value=11)
EDGES = st.lists(
    st.tuples(NODE, NODE).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=30,
)


def _und(pairs):
    """canonical undirected simple edge set"""
    return {(min(a, b), max(a, b)) for a, b in pairs}


def _named(pairs):
    return [(f"n{a:02d}", f"n{b:02d}") for a, b in pairs]


def _edge_df(spark, pairs):
    return spark.createDataFrame(_named(pairs), "src string, dst string")


def _adjacency(pairs, directed):
    adj = {}
    for a, b in _named(pairs):
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    return adj


def _py_bfs(adj, sources, max_hops):
    """{node: hops from the nearest source} within max_hops"""
    dist = dict.fromkeys(sources, 0)
    frontier = set(sources)
    for hop in range(1, max_hops + 1):
        frontier = {w for v in frontier for w in adj.get(v, ()) if w not in dist}
        dist.update(dict.fromkeys(frontier, hop))
    return dist


def _py_tarjan(adj):
    """{node: min member of its strongly connected component}"""
    index, low, stack, out = {}, {}, [], {}
    nodes = set(adj) | {w for ws in adj.values() for w in ws}

    def visit(v):
        index[v] = low[v] = len(index)
        stack.append(v)
        for w in adj.get(v, ()):
            if w not in index:
                visit(w)
                low[v] = min(low[v], low[w])
            elif w not in out:  # still on the stack
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            comp = stack[stack.index(v):]
            del stack[stack.index(v):]
            out.update(dict.fromkeys(comp, min(comp)))

    for v in sorted(nodes):
        if v not in index:
            visit(v)
    return out


@settings(max_examples=12, **HC)
@given(pairs=EDGES, k=st.integers(min_value=1, max_value=4))
def test_k_core_definition_and_fixpoint(spark, pairs, k):
    from wbkg.graph_analytics import k_core

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in pairs] or [("x", "x")],
        "src string, dst string",
    )
    out = {(r.node, r.degree) for r in k_core(df, k=k).collect()}
    nodes = {n for n, _ in out}
    # recompute degrees inside the surviving subgraph in plain python
    surviving = {
        (a, b)
        for a, b in _und((f"n{x}", f"n{y}") for x, y in pairs)
        if a in nodes and b in nodes
    }
    deg = {n: 0 for n in nodes}
    for a, b in surviving:
        deg[a] += 1
        deg[b] += 1
    for n, d in out:
        assert deg[n] == d, (n, d, deg[n])
        assert d >= k
    # fixpoint: the k-core of the k-core is itself
    if nodes:
        df2 = spark.createDataFrame(
            [(a, b) for a, b in surviving], "src string, dst string"
        )
        again = {(r.node, r.degree) for r in k_core(df2, k=k).collect()}
        assert again == out


@settings(max_examples=10, **HC)
@given(pairs=EDGES, k=st.integers(min_value=3, max_value=5))
def test_k_truss_definition(spark, pairs, k):
    from wbkg.graph_analytics import k_truss

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in pairs] or [("x", "x")],
        "src string, dst string",
    )
    out = {(r.a, r.b): r.support for r in k_truss(df, k=k).collect()}
    edges = set(out)
    # recompute triangle support within the surviving edge set
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for (a, b), s in out.items():
        support = len(adj.get(a, set()) & adj.get(b, set()))
        assert support == s, ((a, b), s, support)
        assert support >= k - 2


SOURCES = st.sets(NODE, min_size=1, max_size=3)


@settings(max_examples=8, **HC)
@given(
    pairs=EDGES,
    sources=SOURCES,
    directed=st.booleans(),
    max_hops=st.integers(min_value=1, max_value=4),
)
def test_bfs_distances_matches_python_bfs(spark, pairs, sources, directed, max_hops):
    from wbkg.graph_analytics import bfs_distances

    names = [f"n{s:02d}" for s in sorted(sources)]
    src = spark.createDataFrame([(n,) for n in names], "node string")
    got = {
        r.node: r.dist
        for r in bfs_distances(
            _edge_df(spark, pairs), src, max_hops=max_hops, directed=directed
        ).collect()
    }
    assert got == _py_bfs(_adjacency(pairs, directed), names, max_hops)


@settings(max_examples=8, **HC)
@given(
    pairs=EDGES,
    seeds=SOURCES,
    directed=st.booleans(),
    max_hops=st.integers(min_value=1, max_value=4),
)
def test_harmonic_centrality_matches_python_bfs(spark, pairs, seeds, directed, max_hops):
    from wbkg.graph_analytics import harmonic_centrality

    names = [f"n{s:02d}" for s in sorted(seeds)]
    adj = _adjacency(pairs, directed)
    want = {}
    for seed in names:
        for node, d in _py_bfs(adj, [seed], max_hops).items():
            if d > 0:
                n, h = want.get(node, (0, 0.0))
                want[node] = (n + 1, h + 1.0 / d)
    got = {
        r.node: (r.n_reaching, r.harmonic)
        for r in harmonic_centrality(
            _edge_df(spark, pairs),
            spark.createDataFrame([(n,) for n in names], "node string"),
            max_hops=max_hops,
            directed=directed,
        ).collect()
    }
    assert set(got) == set(want)
    for node, (n, h) in want.items():
        assert got[node][0] == n
        assert abs(got[node][1] - h) < 1e-7, (node, got[node], h)


# self-loops and repeated rows allowed; a start of 12 or 13 is absent
MULTI_EDGES = st.lists(st.tuples(NODE, NODE), min_size=0, max_size=30)


@settings(max_examples=10, **HC)
@given(
    pairs=MULTI_EDGES,
    start=st.integers(min_value=0, max_value=13),
    hops=st.integers(min_value=1, max_value=4),
)
# a self-loop, a repeated row and two parallel paths; then an absent start
@example(pairs=[(0, 0), (0, 1), (0, 1), (1, 3), (0, 2), (2, 3), (3, 4)], start=0, hops=4)
@example(pairs=[(0, 1), (1, 2)], start=12, hops=2)
def test_entity_neighborhood_matches_python_bfs(spark, pairs, start, hops):
    """query.entity_neighborhood (walk-set hops reduced by min) == the
    minimum hop of a plain-Python undirected BFS from one start node."""
    from wbkg.query import entity_neighborhood

    edges = spark.createDataFrame(_named(pairs), "subj string, obj string")
    name = f"n{start:02d}"
    got = {r.node: r.hop for r in entity_neighborhood(edges, name, hops=hops).collect()}
    assert got == _py_bfs(_adjacency(pairs, directed=False), [name], hops)


@settings(max_examples=8, **HC)
@given(pairs=EDGES)
def test_connected_components_matches_union_find(spark, pairs):
    from wbkg.canonicalize import connected_components, union_find

    got = {
        r.member: r.component
        for r in connected_components(_edge_df(spark, pairs)).collect()
    }
    assert got == union_find(_named(pairs))


@settings(max_examples=6, **HC)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda p: p[0] != p[1]),
        max_size=16,
    )
)
def test_scc_matches_tarjan(spark, pairs):
    from wbkg.graph_analytics import strongly_connected_components

    got = {
        r.member: r.scc_id
        for r in strongly_connected_components(_edge_df(spark, pairs)).collect()
    }
    assert got == _py_tarjan(_adjacency(pairs, directed=True))


@settings(max_examples=8, **HC)
@given(
    rows=st.lists(
        st.tuples(NODE, NODE, st.integers(1, 4)).filter(lambda r: r[0] != r[1]),
        max_size=30,
    ),
    n_dup=st.integers(0, 5),
)
def test_label_propagation_matches_python_lp(spark, rows, n_dup):
    """Duplicate rows (here the first n_dup rows again, reversed) add their
    weights; the node range leaves disconnected parts."""
    from wbkg.communities import label_propagation, local_label_propagation

    rows = rows + [(b, a, w) for a, b, w in rows[:n_dup]]
    named = [(f"n{a:02d}", f"n{b:02d}", w) for a, b, w in rows]
    got = {
        r.chunk_id: r.community_id
        for r in label_propagation(
            spark.createDataFrame(named, "src string, dst string, weight long")
        ).collect()
    }
    assert got == local_label_propagation(named)


WEIGHTED = st.lists(st.tuples(NODE, NODE, st.integers(1, 4)), max_size=30)
# a graph that splits at every level down to MAX_LEVELS' even split
# (bound 1)
_FOUR_LEVELS = [
    (4, 2, 2), (7, 1, 2), (8, 4, 1), (1, 9, 2), (2, 4, 4), (8, 0, 1), (4, 2, 1),
    (7, 6, 2), (9, 4, 1), (6, 4, 1), (4, 5, 2), (5, 3, 3), (1, 4, 3), (1, 5, 4),
]


@settings(max_examples=5, **HC)
@given(rows=WEIGHTED, max_cluster_size=st.integers(1, 5))
@example(rows=_FOUR_LEVELS, max_cluster_size=1)
def test_hierarchical_driver_path_matches_spark_path(spark, rows, max_cluster_size):
    """Below the collect threshold hierarchical_communities runs on the
    driver; its rows (community-id strings included) and schema are the
    distributed loop's, over random weighted multigraphs with self-loops,
    split at one level or several."""
    import wbkg.canonicalize as cz
    from wbkg.communities import hierarchical_communities

    named = [(f"c{a:02d}", f"c{b:02d}", w) for a, b, w in rows]
    edges = spark.createDataFrame(named, "src string, dst string, weight long")
    local = hierarchical_communities(edges, max_cluster_size)
    leaf = local._jdf.queryExecution().optimizedPlan().collectLeaves().head()
    assert leaf.nodeName() == "LocalRelation"  # the driver path ran
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cz, "LOCAL_CC_THRESHOLD", 0)
        dist = hierarchical_communities(edges, max_cluster_size)
        want = sorted(dist.collect())
    assert sorted(local.collect()) == want
    assert local.schema == dist.schema


@settings(max_examples=200, deadline=None)
@given(rows=WEIGHTED, max_cluster_size=st.integers(1, 5))
def test_local_hierarchy_leaves_partition_within_bound(rows, max_cluster_size):
    """Every node of the graph has exactly one leaf (its community at its
    deepest level), and no leaf holds more than max_cluster_size nodes."""
    from wbkg.communities import local_hierarchy

    named = [(f"c{a:02d}", f"c{b:02d}", w) for a, b, w in rows]
    hier = local_hierarchy(named, max_cluster_size)
    assert len({(chunk, level) for chunk, level, _ in hier}) == len(hier)
    leaf = {}
    for chunk, level, comm in sorted(hier):
        leaf[chunk] = comm  # sorted by level within a chunk: the deepest wins
    assert set(leaf) == {v for a, b, _ in named for v in (a, b)}
    sizes = {}
    for comm in leaf.values():
        sizes[comm] = sizes.get(comm, 0) + 1
    assert all(n <= max_cluster_size for n in sizes.values())


@settings(max_examples=10, **HC)
@given(
    tgt=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), max_size=12),
    src=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), max_size=12),
)
def test_merge_upsert_idempotent_and_key_complete(spark, tgt, src):
    from wbkg.ops.table import merge_upsert

    # unique key per side (latest-version row per key), as the contract asks
    tgt = {k: v for k, v in tgt}
    src = {k: v for k, v in src}
    target = spark.createDataFrame(
        [(k, f"t{k}", v) for k, v in tgt.items()] or [(99, "t", 0)],
        "k long, payload string, version int",
    )
    source = spark.createDataFrame(
        [(k, f"s{k}", v) for k, v in src.items()],
        "k long, payload string, version int",
    ) if src else spark.createDataFrame([], "k long, payload string, version int")
    once = merge_upsert(target, source, ["k"], "version")
    rows1 = {(r.k, r.payload, r.version) for r in once.collect()}
    # key-complete
    want_keys = set(tgt or {99: 0}) | set(src)
    assert {k for k, _, _ in rows1} == want_keys
    # idempotent: merging the same source into the result changes nothing
    rows2 = {
        (r.k, r.payload, r.version)
        for r in merge_upsert(once, source, ["k"], "version").collect()
    }
    assert rows2 == rows1
    # winner rule: source wins ties and higher versions, target keeps newer
    for k in want_keys:
        tv, sv = tgt.get(k, 99 if k == 99 else None), src.get(k)
        row = next(r for r in rows1 if r[0] == k)
        if sv is None:
            assert row[1].startswith("t")
        elif tv is None or sv >= tv:
            assert row[1].startswith("s")
        else:
            assert row[1].startswith("t")
