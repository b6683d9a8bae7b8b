from pyspark.sql import functions as F

from wbkg.materialize import (
    dedup_latest,
    sanitize_column,
    sanitize_str_py,
    to_turtle_lines,
    union_distinct,
)


def test_sanitize_column_matches_pure(spark):
    vals = ["México City", "a-b-c", "  x  y ", "nan", "Türkiye", None, "__pad__"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r.s for r in df.select(sanitize_column(F.col("v")).alias("s")).collect()]
    want = [sanitize_str_py(v) if v is not None else None for v in vals]
    # Spark translate(null) -> null; pure fn mirrors
    assert got == want
    assert got[0] == "Mexico_City"
    assert got[3] is None  # 'nan' -> null (ref graph.py:148)
    assert got[4] == "Turkiye"
    assert got[6] == "pad"


def test_dedup_latest_tiebreak(spark):
    df = spark.createDataFrame(
        [
            ("d1", "old", "2024-01-01 00:00:00"),
            ("d1", "new", "2024-02-01 00:00:00"),
            ("d2", "only", "2024-01-01 00:00:00"),
        ],
        "id string, display_title string, last_modified_date string",
    ).withColumn("last_modified_date", F.col("last_modified_date").cast("timestamp"))
    out = {r.id: r.display_title for r in dedup_latest(df).collect()}
    assert out == {"d1": "new", "d2": "only"}


def test_union_distinct_collapses(spark):
    e = spark.createDataFrame(
        [("s", "p", "o", False, None)],
        "subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )
    assert union_distinct(e, e, e).count() == 1


def test_turtle_lines(spark):
    e = spark.createDataFrame(
        [
            ("http://x/s", "http://schema.org/name", 'va"l', True, "en"),
            ("http://x/s", "rdf:type", "http://schema.org/Thing", False, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )
    lines = sorted(r.line for r in to_turtle_lines(e).collect())
    assert lines[0] == '<http://x/s> <http://schema.org/name> "va\\"l"@en .'
    assert lines[1] == "<http://x/s> rdf:type <http://schema.org/Thing> ."


# --------------------------------------------------------------------------- #
# canonicalization keying + CC hardening (ADVICE r01 / VERDICT r01 #9)         #
# --------------------------------------------------------------------------- #


def test_accented_expansion_joins_mention_component(spark):
    """An acronym whose expansion carries accents must still canonicalize to
    the expansion's QID: alias-edge keys use normalize_surface, not bare
    lower()."""
    from pyspark.sql import functions as F

    from wbkg.canonicalize import apply_canonicalization, canonical_map

    edict = spark.createDataFrame(
        [],
        "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
    )
    acronyms = spark.createDataFrame(
        [("d1", "ESMF", "École  de Santé")], "doc_id string, abbr string, expansion string"
    )
    linked = spark.createDataFrame(
        [
            ("c1", "esmf", None, "esmf"),
            ("c2", "ecole de sante", "Q77", "Q77"),
        ],
        "chunk_id string, surface_norm string, qid string, rdf_safe string",
    )
    cmap = canonical_map(edict, acronyms, linked)
    out = {r.surface_norm: r.qid_c for r in apply_canonicalization(linked, cmap).collect()}
    assert out["esmf"] == "Q77"  # inherited via the normalized expansion key


def test_cc_nonconvergence_warns(spark):
    import pytest as _pytest

    from wbkg.canonicalize import connected_components

    # a chain of 12 has diameter > 2 propagation rounds (max_iter=2 -> 1x2 rounds)
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i+1:02d}") for i in range(12)], "src string, dst string"
    )
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_cc_storage_does_not_grow_with_rounds(spark):
    """The min-label fixpoint releases each superseded round's checkpoint:
    connected_components leaves as many persisted RDDs behind on a 16-node
    chain (~8 probes) as on a 4-node one (~2)."""
    from wbkg.canonicalize import connected_components

    jsc = spark.sparkContext._jsc

    def growth(n):
        edges = spark.createDataFrame(
            [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)], "src string, dst string"
        )
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        comp = connected_components(edges)
        assert {r.component for r in comp.collect()} == {"v00"}
        return len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)

    assert growth(4) == growth(16)


def test_large_alias_graph_takes_distributed_cc(spark, monkeypatch):
    """Above LOCAL_CC_THRESHOLD the driver union-find must NOT run."""
    import wbkg.canonicalize as cz

    monkeypatch.setattr(cz, "LOCAL_CC_THRESHOLD", 3)

    def boom(*_args):
        raise AssertionError("driver union-find used above threshold")

    monkeypatch.setattr(cz, "union_find", boom)
    edict = spark.createDataFrame(
        [],
        "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
    )
    acronyms = spark.createDataFrame(
        [("d1", f"AB{i}", f"Alpha Beta {i}") for i in range(5)],
        "doc_id string, abbr string, expansion string",
    )
    linked = spark.createDataFrame(
        [], "chunk_id string, surface_norm string, qid string, rdf_safe string"
    )
    cmap = cz.canonical_map(edict, acronyms, linked)
    assert cmap.count() == 10  # 5 abbr<->expansion components, 2 members each


def test_sanitize_full_latin_fold(spark):
    """NFKD-generated fold table + ligature folds: parity between the
    Catalyst expression and the Python twin on exotic Latin."""
    from pyspark.sql import functions as F

    from wbkg.materialize import sanitize_column, sanitize_str_py

    samples = [
        "Łódź Āžuolas Çam",
        "Ðorđe Þing ßtraße",
        "Œuvre Ærø señor",
        "Ştefan İstanbul ırmak",
        "plain ASCII stays",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "v string")
    got = [r.s for r in df.select(sanitize_column(F.col("v")).alias("s")).collect()]
    want = [sanitize_str_py(s) for s in samples]
    assert got == want
    assert got[0] == "Lodz_Azuolas_Cam"
    assert got[1] == "Dorde_Thing_sstrasse"
    assert got[2] == "OEuvre_AEro_senor"


def _random_alias_batches(rng, n_batches=4):
    """Seeded alias-edge batches with the shapes incremental canonicalization
    must get right: two QID components built in different batches and
    merged in a later one, surface-only components, a replayed batch, and
    non-ASCII members whose code-point order differs from their UTF-16
    order (U+FF21 < U+1F600 by code point, > by UTF-16 unit)."""
    surf = [f"surf::{c}{i}" for c in ("a", "é", "\uff21", "\U0001f600") for i in range(6)]
    qids = [f"qid::Q{i}" for i in (3, 7, 11)] + ["qid::Qé"]
    batches = [[] for _ in range(n_batches)]
    # late merge: each half gets its own qid early, a bridge arrives last
    batches[0].append((surf[0], qids[1]))
    batches[1].append((surf[1], qids[0]))
    batches[-1].append((surf[0], surf[1]))
    # surface-only component
    batches[1].append((surf[22], surf[23]))
    for b in batches:
        for _ in range(8):
            x, y = rng.choice(surf + qids), rng.choice(surf)
            if x != y:
                b.append((x, y))
    batches.insert(2, list(batches[1]))  # replay of batch 1
    return batches


def test_incremental_equals_full_canonical_map(spark, monkeypatch):
    """incremental_canonical_map, and its driver twin advance_map, folded
    over batches == one full canonical_map_from_edges over all history —
    including a LATE MERGE of two components built in earlier batches, and
    qid-preference across the merge (the streaming state-advance
    correctness contract)."""
    import random

    from wbkg.canonicalize import (
        advance_map,
        canonical_map_from_edges,
        incremental_canonical_map,
    )

    def df(rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def advanced(batches):
        cmap = {}
        for b in batches:
            before = dict(cmap)
            nxt = advance_map(cmap, b)
            assert cmap == before  # a new dict; the held one is untouched
            cmap = nxt
        return set(cmap.items())

    batches = [
        # batch 1: component A (has a qid) + separate pair
        [("surf::a", "qid::Q1"), ("surf::b", "surf::a"), ("surf::x", "surf::y")],
        # batch 2: new isolated component, plus a repeat of an old edge
        [("surf::m", "surf::n"), ("surf::a", "qid::Q1")],
        # batch 3: LATE MERGE — x/y joins the Q1 component; m gets a qid
        [("surf::y", "surf::b"), ("surf::n", "qid::Q0")],
    ]
    state = None
    for b in batches:
        state = incremental_canonical_map(state, df(b))
    got = {(r.member, r.canonical_id) for r in state.collect()}
    full = canonical_map_from_edges(df([e for b in batches for e in b]))
    want = {(r.member, r.canonical_id) for r in full.collect()}
    assert got == want
    assert advanced(batches) == want
    # qid preference survived the late merge
    as_map = dict(got)
    assert as_map["surf::x"] == "qid::Q1" and as_map["surf::m"] == "qid::Q0"

    # randomized: any edge stream, any batch split -> same converged map
    rng = random.Random(42)
    nodes = [f"surf::{i}" for i in range(30)] + ["qid::Q7", "qid::Q3"]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    cut1, cut2 = len(edges) // 3, 2 * len(edges) // 3
    state = None
    for b in (edges[:cut1], edges[cut1:cut2], edges[cut2:]):
        state = incremental_canonical_map(state, df(b))
    got = {(r.member, r.canonical_id) for r in state.collect()}
    want = {(r.member, r.canonical_id) for r in canonical_map_from_edges(df(edges)).collect()}
    assert got == want
    assert advanced([edges[:cut1], edges[cut1:cut2], edges[cut2:]]) == want

    # seeded random batches (late QID merges, surface-only components, a
    # replayed batch, non-ASCII members): the driver-side incremental map
    # equals the full map on the DISTRIBUTED branch — Spark's binary F.min
    # must agree with Python's code-point min — and so does the distributed
    # incremental branch
    import wbkg.canonicalize as cz

    def as_set(m):
        return {(r.member, r.canonical_id) for r in m.collect()}

    for seed in (1, 2, 3):
        batches = _random_alias_batches(random.Random(seed))
        state = None
        for b in batches:
            state = incremental_canonical_map(state, df(b))
        got = as_set(state)
        with monkeypatch.context() as mp:
            mp.setattr(cz, "LOCAL_CC_THRESHOLD", 0)
            want = as_set(canonical_map_from_edges(df([e for b in batches for e in b])))
            if seed == 1:
                state = None
                for b in batches:
                    state = incremental_canonical_map(state, df(b))
                assert as_set(state) == want
        assert got == want
        assert advanced(batches) == want
        assert len({m for m, _ in got}) == len(got)  # one row per member


def test_incremental_canonical_map_idempotent_replay(spark):
    """Replay semantics: re-advancing the map with the SAME batch (the
    at-least-once foreachBatch case) or with no new edges leaves it
    bit-identical — no drift, no spurious relabels — on the DataFrame path
    and on the driver (advance_map)."""
    from wbkg.canonicalize import advance_map, incremental_canonical_map

    def df(rows):
        return spark.createDataFrame(rows, "src string, dst string")

    b1 = [("surf::a", "qid::Q1"), ("surf::x", "surf::y")]
    state = incremental_canonical_map(None, df(b1))
    snap = {(r.member, r.canonical_id) for r in state.collect()}
    replay = incremental_canonical_map(state, df(b1))
    assert {(r.member, r.canonical_id) for r in replay.collect()} == snap
    empty = incremental_canonical_map(state, df([]).limit(0))
    assert {(r.member, r.canonical_id) for r in empty.collect()} == snap
    held = advance_map({}, b1)
    assert set(held.items()) == snap
    assert advance_map(held, b1) == held and advance_map(held, []) == held


def _plan_leaves(df, origins=None) -> list:
    """The optimized plan's leaf names; a cut listed in `origins` (its RDD
    id -> the plan it cut) is looked through to that plan's leaves."""
    it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    out = []
    while it.hasNext():
        leaf = it.next()
        origin = (origins or {}).get(leaf.rdd().id()) if leaf.nodeName() == "LogicalRDD" else None
        out += [leaf.nodeName()] if origin is None else _plan_leaves(origin, origins)
    return out


def test_driver_built_tables_are_local_relations(spark, monkeypatch):
    """Every table built from driver rows is a LocalRelation, empty or not:
    its scans run in the JVM. createDataFrame(<python list>, ddl) would plan
    a Python-RDD LogicalRDD, whose every scan runs Python tasks. All inputs
    here are LocalRelations too, so any LogicalRDD leaf is a driver table
    built the other way — once the cuts a loop driver makes (DESCRIBE's
    closure) are looked through to the plans they cut."""
    import wbkg.session as session
    from wbkg.canonicalize import canonical_map_from_edges, incremental_canonical_map
    from wbkg.materialize import metadata_triples
    from wbkg.ops.decontam import bloom_bitmap
    from wbkg.ops.dedup import near_dup_keep_list
    from wbkg.ops.textops import phrase_search
    from wbkg.query import entity_neighborhood
    from wbkg.session import local_frame
    from wbkg.sparql import sparql_describe, sparql_select, sparql_update
    from wbkg.synth import entity_dict_df, gen_metadata_df

    origins = {}
    real_cut = session.cut

    def recording_cut(df, eager=False):
        out = real_cut(df, eager)
        origins[session._cut_rdd(out).id()] = df
        return out

    monkeypatch.setattr(session, "cut", recording_cut)
    empty = local_frame(spark, [], "member string, canonical_id string")
    assert _plan_leaves(empty) == ["LocalRelation"] and empty.collect() == []

    def alias(rows):
        return local_frame(spark, rows, "src string, dst string")

    edges = local_frame(
        spark,
        [("s:1", "p:x", "o:1", None, False), ("s:2", "p:x", "_:b", None, False),
         ("_:b", "p:y", "v", "en", True)],
        "subj string, pred string, obj string, lang string, obj_is_literal boolean",
    )
    state = canonical_map_from_edges(alias([("surf::a", "qid::Q1"), ("surf::x", "surf::y")]))
    docs = local_frame(spark, [(3, "a b c"), (4, "a b c"), (5, "b c d")], "doc_id long, text string")
    cases = {
        "canonical map": state,
        "incremental map": incremental_canonical_map(state, alias([("surf::y", "surf::a"), ("surf::m", "qid::Q2")])),
        "incremental map, nothing new": incremental_canonical_map(state, alias([])),
        "neighborhood": entity_neighborhood(edges, "s:1"),
        "VALUES rows": sparql_select(
            edges, "SELECT ?s ?o WHERE { ?s <p:x> ?o VALUES (?s ?o) { (<s:1> <o:1>) (<s:2> UNDEF) } }"
        ),
        "DESCRIBE constants": sparql_describe(edges, "DESCRIBE ?s <s:1> WHERE { ?s <p:y> ?o }"),
        "INSERT DATA": sparql_update(edges, "INSERT DATA { <s:9> <p:x> <o:9> }"),
        "class triples": metadata_triples(
            spark.createDataFrame(gen_metadata_df(spark, 3).toArrow()),
            spark.createDataFrame(entity_dict_df(spark, 3).toArrow()),
        ),
        "phrase slots": phrase_search(docs, "b c"),
        "near-dup components": near_dup_keep_list(
            docs, local_frame(spark, [(3, 4)], "doc_a long, doc_b long")
        ),
        "bloom bitmap": bloom_bitmap(docs.select(F.col("text").alias("k")), "k", 64, 2),
    }
    for name, df in cases.items():
        leaves = _plan_leaves(df, origins)
        assert "LocalRelation" in leaves and "LogicalRDD" not in leaves, (name, leaves)


def test_cut_keeps_a_small_estimate_and_drops_an_overflowing_one(spark):
    """session.cut keeps its origin's size estimate while it fits a long,
    so a 3-row cut still plans a static broadcast against a large table
    with AQE off; an estimate compounded past Long.MaxValue by joins
    restarts at the default size, on the same rows."""
    from wbkg.session import cut, local_frame, release

    small = cut(local_frame(spark, [(1,), (2,), (3,)], "id long"), eager=True)
    big = spark.range(10**9)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = big.join(small, "id")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BroadcastHashJoin" in plan

    wide = small
    for _ in range(12):
        wide = wide.join(small, "id")
    assert len(str(wide._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())) > 19
    reset = cut(wide)
    assert reset._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() == (1 << 63) - 1
    assert sorted(r.id for r in reset.collect()) == [1, 2, 3]
    release(reset, small)


def test_lineage_cuts_go_through_session_cut():
    """`.localCheckpoint(` appears in wbkg/ only inside session.cut, so every
    cut restarts the size estimate; session.release is the one way to free
    a cut (no module imports or defines a private `_release`)."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "wbkg"
    session = ast.parse((root / "session.py").read_text())
    cut = [range(n.lineno, n.end_lineno + 1) for n in session.body
           if isinstance(n, ast.FunctionDef) and n.name == "cut"]
    for path in sorted(root.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            where = f"{path.relative_to(root)}:{no}"
            if ".localCheckpoint(" in line:
                assert path == root / "session.py" and any(no in r for r in cut), where
            assert not re.search(r"\b_release\b", line), where
