import random

import pytest
from pyspark.sql import functions as F

from wbkg.communities import (
    community_sizes_topk,
    community_triples,
    cooccurrence_edges,
    label_propagation,
    summarize_communities,
    summary_triples,
)


@pytest.fixture()
def distributed(monkeypatch):
    """Pins hierarchical_communities to its distributed loop: these tests
    measure that loop's storage and planning, and their graphs are far
    below the collect threshold that sends a graph to the driver."""
    import wbkg.canonicalize as cz

    monkeypatch.setattr(cz, "LOCAL_CC_THRESHOLD", 0)


def _linked(spark, rows):
    return spark.createDataFrame(
        rows, schema="chunk_id string, qid_c string, rdf_safe_c string"
    )


def test_cooccurrence_weights(spark):
    # ref summarize.py:134-143: weight = number of shared entities
    rows = [
        ("c1", "Q1", "Q1"), ("c2", "Q1", "Q1"),       # Q1 shared by c1,c2
        ("c1", "Q2", "Q2"), ("c2", "Q2", "Q2"),       # Q2 shared by c1,c2
        ("c3", "Q3", "Q3"), ("c1", "Q3", "Q3"),       # Q3 shared by c1,c3
        ("c1", "Q1", "Q1"),                            # duplicate mention -> no double count
    ]
    out = {(r.src, r.dst): r.weight for r in cooccurrence_edges(_linked(spark, rows)).collect()}
    assert out == {("c1", "c2"): 2, ("c1", "c3"): 1}


def test_cooccurrence_hub_cap(spark):
    # hub entity mentioned in 6 chunks, cap=3 -> pairs only among first 3
    rows = [(f"c{i}", "HUB", "HUB") for i in range(6)]
    out = cooccurrence_edges(_linked(spark, rows), entity_chunk_cap=3).collect()
    assert len(out) == 3  # C(3,2)
    chunks = {r.src for r in out} | {r.dst for r in out}
    assert chunks == {"c0", "c1", "c2"}


def test_label_propagation_two_clusters(spark):
    edges = spark.createDataFrame(
        [
            ("a1", "a2", 5), ("a2", "a3", 5), ("a1", "a3", 5),
            ("b1", "b2", 5), ("b2", "b3", 5),
            ("a3", "b1", 1),  # weak bridge
        ],
        schema="src string, dst string, weight long",
    )
    comm = {r.chunk_id: r.community_id for r in label_propagation(edges).collect()}
    assert comm["a1"] == comm["a2"] == comm["a3"]
    assert comm["b1"] == comm["b2"] == comm["b3"]
    # determinism
    comm2 = {r.chunk_id: r.community_id for r in label_propagation(edges).collect()}
    assert comm == comm2


def test_label_propagation_storage_does_not_grow_with_rounds(spark, distributed):
    """Label propagation releases every round it supersedes and its
    symmetrized edges: it (and hierarchical_communities over it) leaves as
    many persisted RDDs behind on a 32-node chain (every step changes a
    label) as on a 4-node one (converged after three steps)."""
    from wbkg.communities import hierarchical_communities

    jsc = spark.sparkContext._jsc

    def growth(run, n):
        edges = spark.createDataFrame(
            [(f"v{i:02d}", f"v{i + 1:02d}", 1) for i in range(n - 1)],
            "src string, dst string, weight long",
        )
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        assert run(edges).count() == n
        return len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)

    assert growth(label_propagation, 4) == growth(label_propagation, 32)
    assert growth(hierarchical_communities, 4) == growth(hierarchical_communities, 32)


def test_hierarchical_split_levels_release_their_label_propagation(spark, distributed):
    """Each refinement level's label propagation is released once its
    level is materialized: one split level or two, the persisted RDDs left
    behind are exactly the ones the output reads (the level-0 labels and
    one checkpoint per split level)."""
    from wbkg.communities import hierarchical_communities

    # duplicate weight-1 rows to a top hub and weight-2 rows to a hub per
    # group outvote the weight-3 pair edges, so level 0 is one community;
    # each split level drops the lightest class and re-runs propagation
    rows = []
    for g in range(2):
        pairs = [(f"g{g}c{c}n0", f"g{g}c{c}n1") for c in range(2)]
        rows += [(a, b, 3) for a, b in pairs]
        rows += [(f"g{g}a", v, 2) for p in pairs for v in p for _ in range(2)]
        rows += [("a", v, 1) for v in [f"g{g}a", *(v for p in pairs for v in p)] for _ in range(5)]
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    jsc = spark.sparkContext._jsc

    def run(max_cluster_size):
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        levels = {r.level for r in hierarchical_communities(edges, max_cluster_size).collect()}
        return levels, len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)

    assert run(5) == ({0, 1}, 2)  # groups of five
    assert run(2) == ({0, 1, 2}, 3)  # then pairs and singleton hubs


def test_community_triples_and_topk(spark):
    comms = spark.createDataFrame(
        [("c1", 7), ("c2", 7), ("c3", 9)], schema="chunk_id string, community_id long"
    )
    t = community_triples(comms).collect()
    preds = {(r.subj, r.pred, r.obj) for r in t}
    assert (
        "http://worldbank.example.org/chunk/c1",
        "http://schema.org/isPartOf",
        "http://worldbank.example.org/community/7",
    ) in preds
    assert (
        "http://worldbank.example.org/community/9",
        "rdf:type",
        "http://schema.org/Community",
    ) in preds
    top = community_sizes_topk(comms).collect()
    assert top[0].community_id == 7 and top[0].size == 2


def test_summarize_budget_and_triples(spark):
    comms = spark.createDataFrame(
        [("c1", 1), ("c2", 1), ("c3", 1)], schema="chunk_id string, community_id long"
    )
    chunks = spark.createDataFrame(
        [
            ("c1", "First sentence here. More text follows."),
            ("c2", " ".join(["w"] * 50)),
            ("c3", " ".join(["x"] * 10000)),  # exceeds the budget -> dropped
        ],
        schema="chunk_id string, text string",
    )
    s = summarize_communities(comms, chunks, max_tokens=100).collect()
    assert len(s) == 1
    row = s[0]
    assert row.n_chunks_used == 2  # c3 over budget
    assert row.summary == "First sentence here."
    st = summary_triples(spark.createDataFrame(s)).collect()
    assert st[0].pred == "http://schema.org/abstract"


# --------------------------------------------------------------------------- #
# hierarchical communities (G2 max_cluster_size; ref summarize.py:160-166)     #
# --------------------------------------------------------------------------- #


def _hier_rows(hier_df):
    return {(r.chunk_id, r.level): r.community_id for r in hier_df.collect()}


def test_hierarchical_bound_uniform_weights(spark):
    """A uniform-weight chain of 7 merges into one L0 community; the even
    split must bound every final community at max_cluster_size=3."""
    from wbkg.communities import final_communities, hierarchical_communities

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 1) for i in range(6)],
        schema="src string, dst string, weight long",
    )
    hier = hierarchical_communities(edges, max_cluster_size=3)
    l0 = hier.filter("level = 0")
    assert l0.select("community_id").distinct().count() == 1  # one big community
    fin = final_communities(hier)
    sizes = [r.sz for r in fin.groupBy("community_id").agg(F.count("*").alias("sz")).collect()]
    assert max(sizes) <= 3 and sum(sizes) == 7
    # deterministic
    assert _hier_rows(hier) == _hier_rows(hierarchical_communities(edges, max_cluster_size=3))


def test_hierarchical_weak_tie_refinement(spark):
    """Two strong cliques joined by a weak bridge collapse at L0 (monotone LP
    pulls all labels to the min), then refinement drops the min-weight edge
    class and recovers the two cliques at L1."""
    from wbkg.communities import final_communities, hierarchical_communities

    edges = spark.createDataFrame(
        [
            ("a1", "a2", 5), ("a2", "a3", 5), ("a1", "a3", 5),
            ("b1", "b2", 5), ("b2", "b3", 5), ("b1", "b3", 5),
            ("a3", "b1", 1),  # weak bridge: the min-weight class to drop
        ],
        schema="src string, dst string, weight long",
    )
    hier = hierarchical_communities(edges, max_cluster_size=4)
    fin = {r.chunk_id: r.community_id for r in final_communities(hier).collect()}
    assert fin["a1"] == fin["a2"] == fin["a3"]
    assert fin["b1"] == fin["b2"] == fin["b3"]
    assert fin["a1"] != fin["b1"]
    sizes = [3, 3]
    got = sorted(
        r.sz
        for r in final_communities(hier).groupBy("community_id").agg(F.count("*").alias("sz")).collect()
    )
    assert got == sizes


def test_hierarchical_small_communities_untouched(spark):
    from wbkg.communities import hierarchical_communities

    edges = spark.createDataFrame(
        [("x1", "x2", 2), ("y1", "y2", 2)], schema="src string, dst string, weight long"
    )
    hier = hierarchical_communities(edges, max_cluster_size=10)
    assert hier.filter("level > 0").count() == 0  # nothing oversized -> flat


def _seeded_weighted_graph(spark, seed=6):
    rng = random.Random(seed)
    rows = []
    for _ in range(30):
        a, b = rng.sample(range(12), 2)
        rows.append((f"c{a:02d}", f"c{b:02d}", rng.randint(1, 3)))
    return spark.createDataFrame(rows, "src string, dst string, weight long")


def test_hierarchical_split_levels_plan_in_bounded_time(spark, distributed):
    """A 12-node weighted graph that splits at several levels: every
    checkpoint restarts the optimizer's size estimate, so planning stays
    bounded. When a checkpoint kept its origin's estimate, the join
    products compounded through the probes and levels and this call spent
    many minutes in BigInteger.multiply."""
    from wbkg.communities import final_communities, hierarchical_communities

    hier = hierarchical_communities(_seeded_weighted_graph(spark), 3)
    leaves = final_communities(hier).groupBy("community_id").count().collect()
    assert sum(r["count"] for r in leaves) == 12
    assert max(r["count"] for r in leaves) <= 3
    assert {r.level for r in hier.select("level").distinct().collect()} >= {0, 1, 2}


def test_hierarchical_small_graph_is_one_collect(spark, job_count):
    """Below the collect threshold the whole hierarchy (here split at
    several levels) costs the edges' collect (a limit's one or two jobs) and the
    result is a LocalRelation that persists nothing; the distributed loop
    runs dozens of jobs for the same rows."""
    from wbkg.communities import hierarchical_communities

    jsc = spark.sparkContext._jsc
    edges = _seeded_weighted_graph(spark)
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    hier, jobs = job_count(lambda: hierarchical_communities(edges, 3))
    assert jobs <= 2
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == before
    assert {r.level for r in hier.select("level").distinct().collect()} >= {0, 1, 2}


def test_label_propagation_size_estimate_stays_small(spark):
    """The optimizer's size estimate of a label-propagation output stays a
    plain long-sized figure, not a product compounded per probe."""
    labels = label_propagation(_seeded_weighted_graph(spark))
    size = labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) < 40
