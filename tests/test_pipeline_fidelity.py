"""The triple-fidelity gate: Spark pipeline vs pure-Python oracle.

BASELINE.md: precision >= 0.95 AND recall >= 0.95 on the deterministic
synthetic interleaved corpus (seed=42). We assert exact-match (P=R=1.0) —
stricter than the gate — because both sides implement the same deterministic
semantics; any gap is a real plumbing bug.
"""

import pytest
from pyspark.sql import functions as F

from wbkg.extract import build_pattern_rows
from wbkg.oracle import oracle_pipeline
from wbkg.pipeline import run_pipeline
from wbkg.synth import (
    build_entity_dict_rows,
    build_unbis_rows,
    entity_dict_df,
    gen_documents_df,
    gen_metadata_df,
    unbis_df,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def result(spark):
    from wbkg.synth import build_country_props_rows

    docs = gen_documents_df(spark, N_DOCS)
    edict = entity_dict_df(spark, N_DOCS)
    meta = gen_metadata_df(spark, N_DOCS)
    props = spark.createDataFrame(
        build_country_props_rows(), "qid string, pred string, value string"
    )
    pats = build_pattern_rows(build_entity_dict_rows(N_DOCS), build_unbis_rows())
    return run_pipeline(spark, docs, edict, pats, metadata_df=meta, country_props_df=props)


def _spark_triples(result):
    return {
        (r["subj"], r["pred"], r["obj"])
        for r in result["edges"].select("subj", "pred", "obj").collect()
    }


def test_triple_precision_recall(result):
    got = _spark_triples(result)
    want = oracle_pipeline(N_DOCS, with_country_props=True)
    assert got, "pipeline produced no triples"
    inter = got & want
    precision = len(inter) / len(got)
    recall = len(inter) / len(want)
    if precision < 1.0 or recall < 1.0:
        extra = sorted(got - want)[:10]
        missing = sorted(want - got)[:10]
        raise AssertionError(
            f"P={precision:.4f} R={recall:.4f}\nextra(sample)={extra}\nmissing(sample)={missing}"
        )


def test_salted_strategy_equivalent(spark):
    """The salted shuffle join must produce byte-identical links."""
    docs = gen_documents_df(spark, 15)
    edict = entity_dict_df(spark, 15)
    pats = build_pattern_rows(build_entity_dict_rows(15), build_unbis_rows())
    res_b = run_pipeline(spark, docs, edict, pats, link_strategy="broadcast", cache=False)
    res_s = run_pipeline(spark, docs, edict, pats, link_strategy="salted", cache=False)
    tb = {tuple(r) for r in res_b["edges"].select("subj", "pred", "obj").collect()}
    ts = {tuple(r) for r in res_s["edges"].select("subj", "pred", "obj").collect()}
    assert tb == ts


def test_union_distinct_set_semantics(result):
    edges = result["edges"]
    assert edges.count() == edges.dropDuplicates(["subj", "pred", "obj"]).count()


def test_nodes_table(result):
    nodes = result["nodes"].toPandas()
    assert (nodes["type"] != "").all()
    wd_nodes = nodes[nodes.uri.str.startswith("http://www.wikidata.org/")]
    assert (wd_nodes["qid"].str.len() > 0).all()
    assert len(wd_nodes) > 0


def test_url_lookup_j9(result):
    from wbkg.materialize import get_url_by_id

    got = get_url_by_id(result["edges"]).toPandas()
    assert len(got) == N_DOCS
    assert (got["url"].str.contains("documents.example.org")).all()


def test_salted_plan_exchange_keyed_on_surface_and_salt(spark):
    """The salted join's shuffle must be keyed on (surface_norm, _salt) — the
    whole point of salting (PLANS.md claim, asserted per VERDICT r01 #4)."""
    import io as _io
    from contextlib import redirect_stdout

    from wbkg.link import link_mentions

    mentions = spark.createDataFrame(
        [("d1", "c1", 0, "World Bank", "world bank", "DICT_ORG", "Q1")],
        "doc_id string, chunk_id string, begin int, surface string, surface_norm string, label string, rule_id string",
    )
    edict = entity_dict_df(spark, 5)
    linked = link_mentions(mentions, edict, strategy="salted")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        linked.explain()
    plan = buf.getvalue()
    assert "hashpartitioning(surface_norm" in plan and "_salt" in plan


def test_auto_strategy_dispatch(spark, monkeypatch):
    """'auto' picks broadcast for small dictionaries and salted above the
    row threshold; both produce identical links."""
    import wbkg.link as lk

    mentions = spark.createDataFrame(
        [("d1", "c1", 0, "World Bank", "world bank", "DICT_ORG", "Q1"),
         ("d1", "c1", 9, "unknown thing", "unknown thing", "DICT_ORG", "X")],
        "doc_id string, chunk_id string, begin int, surface string, surface_norm string, label string, rule_id string",
    )
    edict = entity_dict_df(spark, 5)
    small = lk.link_mentions(mentions, edict, strategy="auto").collect()
    want = lk.link_mentions(mentions, edict, strategy="broadcast").collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, want))

    monkeypatch.setattr(lk, "AUTO_BROADCAST_MAX_ROWS", 1)  # force salted branch
    big = lk.link_mentions(mentions, edict, strategy="auto").collect()
    assert sorted(map(tuple, big)) == sorted(map(tuple, want))


def test_broadcast_link_plan_has_no_probe_shuffle(spark):
    """The merged-lookup broadcast path must compile to BroadcastHashJoins
    with no mention-stream shuffle: the r01 work-list formulation aggregated
    the probe side on (surface_norm, label) — that HashAggregate must be
    gone. (Exchanges inside the broadcast build side are dictionary-sized
    and fine.)"""
    import io as _io
    from contextlib import redirect_stdout

    from wbkg.link import link_mentions

    mentions = spark.createDataFrame(
        [("d1", "c1", 0, "World Bank", "world bank", "DICT_ORG", "Q1")],
        "doc_id string, chunk_id string, begin int, surface string, surface_norm string, label string, rule_id string",
    )
    edict = entity_dict_df(spark, 5)
    linked = link_mentions(mentions, edict, strategy="broadcast")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        linked.explain()
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate(keys=[surface_norm" not in plan


def test_link_crosses_into_python_once(spark):
    """rdf_safe's filter stays above the projection that computes it: the
    executed plan has ONE ArrowEvalPython, so each mention makes one Python
    round trip. Pushed below the projection, the filter would carry a copy
    of the UDF as a second ArrowEvalPython node."""
    from wbkg.link import link_mentions

    mentions = spark.createDataFrame(
        [("d1", "c1", 0, "World Bank", "world bank", "DICT_ORG", "Q1"),
         ("d1", "c1", 9, "unknown thing", "unknown thing", "DICT_ORG", "X"),
         ("d1", "c1", 20, "???", "???", "DICT_ORG", "X")],
        "doc_id string, chunk_id string, begin int, surface string, surface_norm string, label string, rule_id string",
    )
    linked = link_mentions(mentions, entity_dict_df(spark, 5))
    assert linked._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython") == 1
    got = {r.surface: (r.qid, r.rdf_safe) for r in linked.collect()}
    assert set(got) == {"World Bank", "unknown thing"}  # '???' sanitizes away, unlinked
    assert got["World Bank"][0] is not None and got["World Bank"][1] == got["World Bank"][0]
    assert got["unknown thing"] == (None, "unknown_thing")


def test_aqe_skew_join_splits_hub_key(spark):
    """Second line of skew defense after salting (north-star: 'skewed
    entities handled via salting and AQE skew-join splitting'): with AQE
    skew-join on, a Zipf-hub join key is split across tasks at RUNTIME —
    the final adaptive plan marks the join skew=true. Thresholds are
    lowered so the (scaled-down) hub triggers the same code path a
    100 TB 'World Bank' key would."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # 150k mentions of ONE hub surface + a sprinkle of others, joined
        # unsalted against a small dictionary: classic hub-key skew. The
        # payload must be INCOMPRESSIBLE (md5 per row) — skew detection
        # reads compressed map-output sizes, and 150k identical strings
        # lz4 down to a few KB, under any sane threshold.
        hub = spark.range(150_000).select(
            F.lit("world bank").alias("surface_norm"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        tail = spark.range(500).select(
            F.concat(F.lit("ent_"), (F.col("id") % 50).cast("string")).alias("surface_norm"),
            F.md5((F.col("id") + 1_000_000).cast("string")).alias("payload"),
        )
        mentions = hub.unionByName(tail).repartition(8)
        dictionary = spark.createDataFrame(
            [("world bank", "Q1")] + [(f"ent_{i}", f"Q{i+2}") for i in range(50)],
            "surface_norm string, qid string",
        )
        joined = mentions.join(dictionary, "surface_norm")
        # drive THIS DataFrame's own QueryExecution (count() would spawn a
        # separate one and leave this plan isFinalPlan=false); keep the
        # payload in the projection so column pruning can't shrink the hub
        probe = joined.select("payload")
        assert len(probe.collect()) == 150_500
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_link_plan_has_no_corpus_bounded_broadcast(spark):
    """VERDICT r03 #3: the old rdf_safe side-map broadcast was built from
    DISTINCT CORPUS SURFACES — unbounded at 100 TB. It is gone: broadcast
    mode carries exactly ONE broadcast exchange (the dictionary, bounded by
    construction); salted mode carries ZERO."""
    from wbkg.link import link_mentions

    mentions = spark.createDataFrame(
        [("d1", "c1", 0, "World Bank", "world bank", "DICT_ORG", "Q1"),
         ("d1", "c1", 9, "Unlinked Surface", "unlinked surface", "DICT_ORG", "Q1")],
        "doc_id string, chunk_id string, begin int, surface string, surface_norm string, label string, rule_id string",
    )
    edict = entity_dict_df(spark, 5)

    for strategy, n_bcast in (("broadcast", 1), ("salted", 0)):
        linked = link_mentions(mentions, edict, strategy=strategy)
        plan = linked._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") == n_bcast, (strategy, plan)
    # semantics unchanged: unlinked surfaces still get a sanitized rdf_safe
    rows = {r.surface: r.rdf_safe for r in link_mentions(mentions, edict).collect()}
    assert rows["Unlinked Surface"] == "Unlinked_Surface"


def test_fidelity_with_heuristic_ner(spark):
    """C5 narrowing (VERDICT r03 #5): the full pipeline with the heuristic
    NER pass enabled must still match the pure-Python oracle exactly — the
    candidate emitter is shared per-document code, but the matcher (word
    trie vs char AC), the ruler-first merge, linking, canonicalization and
    materialization all replay independently."""
    from wbkg.extract import build_pattern_rows
    from wbkg.oracle import oracle_pipeline
    from wbkg.pipeline import run_pipeline
    from wbkg.synth import (
        build_entity_dict_rows,
        build_unbis_rows,
        entity_dict_df,
        gen_documents_df,
        gen_metadata_df,
    )

    n = 40
    res = run_pipeline(
        spark,
        gen_documents_df(spark, n),
        entity_dict_df(spark, n),
        build_pattern_rows(build_entity_dict_rows(n), build_unbis_rows()),
        metadata_df=gen_metadata_df(spark, n),
        persist_edges=False,
        heuristic_ner=True,
    )
    got = {(r.subj, r.pred, r.obj) for r in res["edges"].collect()}
    want = oracle_pipeline(n, heuristic_ner=True)
    assert got == want
    # the pass actually adds mentions (otherwise this test proves nothing)
    base = oracle_pipeline(n, heuristic_ner=False)
    assert len(want) > len(base)
