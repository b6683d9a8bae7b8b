import pytest
from pyspark.sql import functions as F

from wbkg.sparql import SparqlError, parse_sparql, sparql_select


@pytest.fixture(scope="module")
def graph(spark):
    rows = [
        ("e:a", "rdf:type:T", "c:Org"),
        ("e:b", "rdf:type:T", "c:Org"),
        ("e:c", "rdf:type:T", "c:Person"),
        ("e:a", "p:in", "n:1"),
        ("e:b", "p:in", "n:1"),
        ("e:c", "p:in", "n:2"),
        ("n:1", "p:name", "alpha"),
        ("n:2", "p:name", "beta"),
        ("e:a", "p:knows", "e:a"),  # self-loop for repeated-var pattern
        ("e:a", "p:knows", "e:b"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    # real rdf:type triples for the `a` shorthand
    typed = spark.createDataFrame(
        [("e:a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "c:Org")],
        "subj string, pred string, obj string",
    )
    return df.unionByName(typed)


def test_chain_join_with_prefix(graph):
    out = sparql_select(
        graph,
        """
        PREFIX p: <p:>
        SELECT ?e ?nm WHERE { ?e p:in ?n . ?n p:name ?nm . } ORDER BY ?e
        """,
    ).collect()
    assert [(r.e, r.nm) for r in out] == [("e:a", "alpha"), ("e:b", "alpha"), ("e:c", "beta")]


def test_constant_filters_and_literal(graph):
    out = sparql_select(
        graph, 'SELECT ?n WHERE { ?n <p:name> "alpha" . }'
    ).collect()
    assert [r.n for r in out] == ["n:1"]


def test_rdf_type_shorthand(graph):
    out = sparql_select(graph, "SELECT ?x WHERE { ?x a <c:Org> . }").collect()
    assert [r.x for r in out] == ["e:a"]


def test_rdf_type_shorthand_matches_pipeline_edges(spark):
    """The materializer stores rdf:type as the string "rdf:type"; `a` (the
    full IRI) must match it, alongside full-IRI edges, while the explicit
    <rdf:type> spelling keeps matching only the stored string."""
    from wbkg.materialize import RDF_TYPE, SCHEMA, WD, entity_triples
    from wbkg.sparql import RDF_TYPE_IRI

    linked = spark.createDataFrame(
        [("D1", "World Bank", "ORG", "Q7164", "Q7164")],
        "doc_id string, surface string, label string, qid_c string, rdf_safe_c string",
    )
    edges = entity_triples(linked)
    assert edges.filter(F.col("pred") == RDF_TYPE).count() == 1
    full = spark.createDataFrame(
        [("e:x", RDF_TYPE_IRI, "c:Org", False, None)], edges.schema
    )
    both = edges.unionByName(full)

    def xc(q):
        return sorted((r.x, r.c) for r in sparql_select(both, q).collect())

    want = [("e:x", "c:Org"), (WD + "Q7164", SCHEMA + "Thing")]
    assert xc("SELECT ?x ?c WHERE { ?x a ?c . }") == want
    assert xc(f"SELECT ?x ?c WHERE {{ ?x <{RDF_TYPE_IRI}> ?c . }}") == want
    assert xc("SELECT ?x ?c WHERE { ?x <rdf:type> ?c . }") == want[1:]
    # a property-path step and a negated property set treat `a` the same way
    assert xc("SELECT ?x ?c WHERE { ?x a/<p:none>? ?c . }") == want
    # entity_triples' other three edges (name, additionalType, mentions)
    assert sparql_select(both, "SELECT ?x WHERE { ?x !a ?c . }").count() == 3


def test_distinct_and_star(graph):
    out = sparql_select(
        graph, "SELECT DISTINCT * WHERE { ?s <p:knows> ?o . ?s <p:in> ?n . } ORDER BY ?o"
    )
    assert out.columns == ["n", "o", "s"]  # star = sorted bound vars
    assert [(r.s, r.o) for r in out.collect()] == [("e:a", "e:a"), ("e:a", "e:b")]


def test_repeated_var_in_one_pattern(graph):
    """?x ?p ?x must compile to an intra-scan equality, not a join."""
    out = sparql_select(graph, "SELECT ?x WHERE { ?x <p:knows> ?x . }").collect()
    assert [r.x for r in out] == ["e:a"]


def test_existence_gate(graph):
    present = sparql_select(
        graph, 'SELECT ?n WHERE { "n:1" <p:name> "alpha" . ?n <p:name> ?v . } ORDER BY ?n'
    ).collect()
    assert [r.n for r in present] == ["n:1", "n:2"]  # gate passes, no row blow-up
    absent = sparql_select(
        graph, 'SELECT ?n WHERE { "n:9" <p:name> "zzz" . ?n <p:name> ?v . }'
    ).collect()
    assert absent == []


def test_limit_and_iri_with_dots(graph):
    """IRIs contain dots — pattern separation must be token-level."""
    typed = sparql_select(
        graph,
        "SELECT ?x WHERE { ?x <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?c . } LIMIT 1",
    ).collect()
    assert [r.x for r in typed] == ["e:a"]


def test_parse_errors(graph):
    with pytest.raises(SparqlError, match="undeclared prefix"):
        parse_sparql("SELECT ?x WHERE { ?x foo:bar ?y . }")
    with pytest.raises(SparqlError, match="3 terms"):
        parse_sparql("SELECT ?x WHERE { ?x <p:in> . }")
    with pytest.raises(SparqlError, match="unbound"):
        sparql_select(graph, "SELECT ?zzz WHERE { ?x <p:in> ?y . }")
    with pytest.raises(SparqlError, match="empty group"):
        parse_sparql("SELECT ?x WHERE {  }")


def test_constant_pred_pushed_to_scan(graph, tmp_path):
    """A constant predicate must reach the parquet scan as a pushed filter
    (and under the pred-partitioned layout, as a partition prune)."""
    p = str(tmp_path / "edges")
    graph.write.parquet(p)
    edges = graph.sparkSession.read.parquet(p)
    plan = (
        sparql_select(edges, "SELECT ?e ?n WHERE { ?e <p:in> ?n . }")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred,p:in)" in plan


def test_optional_left_join(graph):
    """OPTIONAL compiles to a left join: every required match survives,
    optional vars null out when the group doesn't match."""
    out = sparql_select(
        graph,
        """
        PREFIX p: <p:>
        SELECT ?e ?n ?k WHERE {
            ?e p:in ?n .
            OPTIONAL { ?e p:knows ?k . }
        } ORDER BY ?e ?k
        """,
    ).collect()
    assert [(r.e, r.k) for r in out] == [
        ("e:a", "e:a"),
        ("e:a", "e:b"),
        ("e:b", None),
        ("e:c", None),
    ]


def test_optional_requires_shared_var(graph):
    with pytest.raises(SparqlError, match="shares no variable"):
        sparql_select(
            graph, "SELECT ?e WHERE { ?e <p:in> ?n . OPTIONAL { ?x <p:name> ?y . } }"
        )


def test_filter_comparison_and_regex(graph):
    out = sparql_select(
        graph,
        """
        PREFIX p: <p:>
        SELECT ?n ?nm WHERE {
            ?n p:name ?nm . FILTER(REGEX(?nm, "^a") || ?n = "n:2")
        } ORDER BY ?n
        """,
    ).collect()
    assert [(r.n, r.nm) for r in out] == [("n:1", "alpha"), ("n:2", "beta")]
    only_regex = sparql_select(
        graph, 'SELECT ?n WHERE { ?n <p:name> ?nm . FILTER(REGEX(?nm, "^a")) }'
    ).collect()
    assert [r.n for r in only_regex] == ["n:1"]


def test_filter_not_bound_after_optional(graph):
    """!BOUND over an OPTIONAL var = SPARQL's negation idiom: entities with
    NO p:knows edge."""
    out = sparql_select(
        graph,
        """
        SELECT ?e WHERE {
            ?e <p:in> ?n .
            OPTIONAL { ?e <p:knows> ?k . }
            FILTER(!BOUND(?k))
        } ORDER BY ?e
        """,
    ).collect()
    assert [r.e for r in out] == ["e:b", "e:c"]


def test_filter_precedence_and_parens(graph):
    # && binds tighter than ||: a || (b && c)
    out = sparql_select(
        graph,
        'SELECT ?n WHERE { ?n <p:name> ?nm . '
        'FILTER(?nm = "alpha" || ?nm != "alpha" && ?n = "n:2") } ORDER BY ?n',
    ).collect()
    assert [r.n for r in out] == ["n:1", "n:2"]
    grouped = sparql_select(
        graph,
        'SELECT ?n WHERE { ?n <p:name> ?nm . '
        'FILTER((?nm = "alpha" || ?nm != "alpha") && ?n = "n:2") }',
    ).collect()
    assert [r.n for r in grouped] == ["n:2"]


def test_filter_errors(graph):
    with pytest.raises(SparqlError, match="unbound variable"):
        sparql_select(graph, 'SELECT ?n WHERE { ?n <p:name> ?nm . FILTER(?zz = "x") }')
    with pytest.raises(SparqlError, match="unbalanced"):
        parse_sparql('SELECT ?n WHERE { ?n <p:name> ?nm . FILTER(?nm = "x" }')
    # FILTER inside OPTIONAL is legal since round 4 (scoped to the group);
    # since round 5 the optional body is a full recursive group
    _sv, _d, groups, *_rest = parse_sparql(
        'SELECT ?e WHERE { ?e <p:in> ?n . OPTIONAL { ?e <p:knows> ?k . FILTER(?k = "x") } }'
    )
    (opt_body,) = groups[0].optionals
    (opt_group,) = opt_body
    assert len(opt_group.patterns) == 1 and opt_group.filters == ['?k = "x"']


def test_group_by_count(graph):
    out = sparql_select(
        graph,
        """
        SELECT ?n (COUNT(?e) AS ?members) WHERE { ?e <p:in> ?n . }
        GROUP BY ?n ORDER BY ?n
        """,
    ).collect()
    assert [(r.n, r.members) for r in out] == [("n:1", 2), ("n:2", 1)]


def test_global_count_and_distinct(graph):
    out = sparql_select(
        graph, "SELECT (COUNT(*) AS ?c) (COUNT(DISTINCT ?s) AS ?subjects) "
               "WHERE { ?s <p:knows> ?o . }"
    ).collect()
    assert out[0].c == 2 and out[0].subjects == 1


def test_min_max_and_group_only(graph):
    out = sparql_select(
        graph,
        "SELECT ?n (MIN(?nm) AS ?lo) (MAX(?nm) AS ?hi) WHERE { ?n <p:name> ?nm . } "
        "GROUP BY ?n ORDER BY ?n",
    ).collect()
    assert [(r.n, r.lo, r.hi) for r in out] == [("n:1", "alpha", "alpha"), ("n:2", "beta", "beta")]
    # GROUP BY without aggregates = distinct group rows
    groups = sparql_select(
        graph, "SELECT ?n WHERE { ?e <p:in> ?n . } GROUP BY ?n ORDER BY ?n"
    ).collect()
    assert [r.n for r in groups] == ["n:1", "n:2"]


def test_aggregate_errors(graph):
    with pytest.raises(SparqlError, match="must appear in GROUP BY"):
        parse_sparql("SELECT ?e (COUNT(?n) AS ?c) WHERE { ?e <p:in> ?n . }")
    with pytest.raises(SparqlError, match="not valid SPARQL"):
        parse_sparql("SELECT (MIN(*) AS ?m) WHERE { ?e <p:in> ?n . }")
    with pytest.raises(SparqlError, match="unbound"):
        sparql_select(graph, "SELECT (COUNT(?zz) AS ?c) WHERE { ?e <p:in> ?n . }")


def test_union_branches(graph):
    """UNION = bag union over the variable union; vars unbound in a branch
    null out; DISTINCT collapses cross-branch duplicates."""
    out = sparql_select(
        graph,
        """
        SELECT ?e ?n ?k WHERE {
            { ?e <p:in> ?n . }
            UNION
            { ?e <p:knows> ?k . }
        } ORDER BY ?e ?n ?k
        """,
    ).collect()
    rows = [(r.e, r.n, r.k) for r in out]
    assert ("e:a", "n:1", None) in rows and ("e:a", None, "e:b") in rows
    assert len(rows) == 5  # 3 p:in + 2 p:knows, no implicit distinct

    # branch with FILTER + dedup across branches
    both = sparql_select(
        graph,
        'SELECT DISTINCT ?e WHERE { { ?e <p:in> "n:1" . } UNION '
        '{ ?e <p:in> ?x . FILTER(?x = "n:1" || ?x = "n:2") } } ORDER BY ?e',
    ).collect()
    assert [r.e for r in both] == ["e:a", "e:b", "e:c"]


def test_union_errors(graph):
    # junk between groups is not silently dropped (it fails pattern parse)
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?e WHERE { { ?e <p:in> ?n . } JUNK { ?e <p:knows> ?k . } }")
    # a single nested group is legal SPARQL since round 5 (recursive groups)
    out = sparql_select(graph, "SELECT ?e WHERE { { ?e <p:in> ?n . } } ORDER BY ?e").collect()
    assert [r.e for r in out] == ["e:a", "e:b", "e:c"]


def test_construct_inverse_edges(graph):
    from wbkg.sparql import sparql_construct

    out = sparql_construct(
        graph,
        """
        PREFIX p: <p:>
        CONSTRUCT { ?n <p:contains> ?e . ?e a <c:Member> . }
        WHERE { ?e p:in ?n . }
        """,
    ).collect()
    triples = {(r.subj, r.pred, r.obj) for r in out}
    assert ("n:1", "p:contains", "e:a") in triples
    assert ("n:1", "p:contains", "e:b") in triples
    assert ("e:c", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "c:Member") in triples
    assert len(triples) == 6  # 3 contains + 3 typed, set semantics


def test_construct_unbound_template_var(graph):
    from wbkg.sparql import sparql_construct

    with pytest.raises(SparqlError, match="unbound"):
        sparql_construct(
            graph, "CONSTRUCT { ?zz <p:x> ?e . } WHERE { ?e <p:in> ?n . }"
        )


def test_values_inline_bindings(graph):
    out = sparql_select(
        graph,
        'SELECT ?e ?n WHERE { ?e <p:in> ?n . VALUES ?n { "n:1" "n:9" } } ORDER BY ?e',
    ).collect()
    assert [r.e for r in out] == ["e:a", "e:b"]
    plan = sparql_select(
        graph, 'SELECT ?e WHERE { ?e <p:in> ?n . VALUES ?n { "n:1" "n:9" } }'
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "IN (" in plan.upper() or "n:1" in plan  # pushed as an In predicate
    with pytest.raises(SparqlError, match="not bound"):
        sparql_select(graph, 'SELECT ?e WHERE { ?e <p:in> ?n . VALUES ?zz { "x" } }')


def test_ask(graph):
    from wbkg.sparql import sparql_ask

    assert sparql_ask(graph, 'ASK { ?e <p:in> "n:1" . }') is True
    assert sparql_ask(graph, 'ASK WHERE { ?e <p:in> "n:99" . }') is False
    assert sparql_ask(graph, 'PREFIX p: <p:> ASK { ?x p:knows ?x . }') is True


def test_underscore_m_variable_survives(graph):
    """'?_m0' is a legal SPARQL variable — the existence-gate cleanup must
    drop only its own generated markers (ADVICE r03)."""
    out = sparql_select(
        graph,
        'SELECT ?_m0 WHERE { ?_m0 <p:in> <n:1> . <e:a> <p:knows> <e:a> . }',
    )
    assert sorted(r._m0 for r in out.collect()) == ["e:a", "e:b"]


def test_order_by_desc(graph):
    out = sparql_select(
        graph,
        'SELECT ?n (COUNT(*) AS ?c) WHERE { ?e <p:in> ?n . } '
        'GROUP BY ?n ORDER BY DESC(?c) ?n',
    ).collect()
    assert [(r.n, r.c) for r in out] == [("n:1", 2), ("n:2", 1)]
    # mixed directions: DESC primary, ascending tie-break
    out2 = sparql_select(
        graph, "SELECT ?e ?n WHERE { ?e <p:in> ?n . } ORDER BY DESC(?n) ?e"
    ).collect()
    assert [(r.e, r.n) for r in out2] == [
        ("e:c", "n:2"), ("e:a", "n:1"), ("e:b", "n:1")
    ]


def test_filter_not_exists(graph):
    # entities in a nation where NO one knows them: e:a knows e:a and e:b
    out = sparql_select(
        graph,
        "SELECT ?e WHERE { ?e <p:in> ?n . "
        "FILTER NOT EXISTS { ?who <p:knows> ?e . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out] == ["e:c"]
    # EXISTS keeps only known entities; multiplicity preserved (semi join)
    out2 = sparql_select(
        graph,
        "SELECT ?e WHERE { ?e <p:in> ?n . "
        "FILTER EXISTS { ?who <p:knows> ?e . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out2] == ["e:a", "e:b"]


def test_not_exists_no_shared_var_errors(graph):
    with pytest.raises(SparqlError):
        sparql_select(
            graph,
            "SELECT ?e WHERE { ?e <p:in> ?n . "
            "FILTER NOT EXISTS { ?x <p:name> ?y . } }",
        )


def test_sum_avg_aggregates(graph):
    nums = graph.sparkSession.createDataFrame(
        [("e:a", "p:score", "10"), ("e:b", "p:score", "20"), ("e:c", "p:score", "30"),
         ("e:a", "p:in", "n:1"), ("e:b", "p:in", "n:1"), ("e:c", "p:in", "n:2")],
        "subj string, pred string, obj string",
    )
    out = sparql_select(
        nums,
        "SELECT ?n (SUM(?s) AS ?total) (AVG(?s) AS ?mean) WHERE { "
        "?e <p:score> ?s . ?e <p:in> ?n . } GROUP BY ?n ORDER BY ?n",
    ).collect()
    assert [(r.n, r.total, r.mean) for r in out] == [("n:1", 30.0, 15.0), ("n:2", 30.0, 30.0)]
    with pytest.raises(SparqlError):
        parse_sparql("SELECT (SUM(*) AS ?x) WHERE { ?a <p> ?b . }")


def test_string_filter_functions(graph):
    out = sparql_select(
        graph,
        'SELECT ?n ?nm WHERE { ?n <p:name> ?nm . FILTER(STRSTARTS(?nm, "a")) }',
    ).collect()
    assert [(r.n, r.nm) for r in out] == [("n:1", "alpha")]
    out2 = sparql_select(
        graph,
        'SELECT ?nm WHERE { ?n <p:name> ?nm . '
        'FILTER(CONTAINS(?nm, "et") && !STRENDS(?nm, "x")) }',
    ).collect()
    assert [r.nm for r in out2] == ["beta"]


def test_property_path_sequence_and_inverse(graph):
    out = sparql_select(
        graph, "SELECT ?e ?nm WHERE { ?e <p:in>/<p:name> ?nm . } ORDER BY ?e"
    ).collect()
    assert [(r.e, r.nm) for r in out] == [
        ("e:a", "alpha"), ("e:b", "alpha"), ("e:c", "beta")
    ]
    inv = sparql_select(
        graph, "SELECT ?n ?e WHERE { ?n ^<p:in> ?e . } ORDER BY ?n ?e"
    ).collect()
    assert [(r.n, r.e) for r in inv] == [
        ("n:1", "e:a"), ("n:1", "e:b"), ("n:2", "e:c")
    ]


def test_property_path_plus_closure(spark):
    chain = spark.createDataFrame(
        [("x1", "p:next", "x2"), ("x2", "p:next", "x3"), ("x3", "p:next", "x4"),
         ("y1", "p:next", "y2"), ("x1", "p:other", "z9")],
        "subj string, pred string, obj string",
    )
    out = sparql_select(
        chain, "SELECT ?a ?b WHERE { ?a <p:next>+ ?b . } ORDER BY ?a ?b"
    ).collect()
    assert [(r.a, r.b) for r in out] == [
        ("x1", "x2"), ("x1", "x3"), ("x1", "x4"),
        ("x2", "x3"), ("x2", "x4"), ("x3", "x4"), ("y1", "y2"),
    ]
    # combined: closure then sequence step
    out2 = sparql_select(
        chain, "SELECT ?b WHERE { <x1> <p:next>+/<p:next> ?b . } ORDER BY ?b"
    ).collect()
    assert [r.b for r in out2] == ["x3", "x4"]


def test_property_path_errors(graph):
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?x WHERE { ?x ?p/<u:b> ?y . }")
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?x WHERE { ?x <u:a>/ ?y . }")
    from wbkg.sparql import sparql_construct
    with pytest.raises(SparqlError):
        sparql_construct(
            graph,
            "CONSTRUCT { ?x <u:a>+ ?y . } WHERE { ?x <p:in> ?y . }",
        )


def test_filter_inside_optional(graph):
    """FILTER scoped to the OPTIONAL group: failing filter nulls the
    optional columns, never drops the outer row (SPARQL 1.1 leftjoin)."""
    out = sparql_select(
        graph,
        'SELECT ?n ?nm WHERE { ?e <p:in> ?n . '
        'OPTIONAL { ?n <p:name> ?nm . FILTER(?nm != "beta") } } ORDER BY ?n ?nm',
    ).collect()
    # n:2's name is beta -> filtered inside the optional -> null, row kept
    assert [(r.n, r.nm) for r in out] == [
        ("n:1", "alpha"), ("n:1", "alpha"), ("n:2", None)
    ]
    # a filter over a variable NOT bound inside the optional is loud
    with pytest.raises(SparqlError):
        sparql_select(
            graph,
            "SELECT ?n WHERE { ?e <p:in> ?n . "
            'OPTIONAL { ?n <p:name> ?nm . FILTER(?e != "x") } }',
        )


def test_minus(graph):
    out = sparql_select(
        graph,
        "SELECT ?e WHERE { ?e <p:in> ?n . MINUS { ?who <p:knows> ?e . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out] == ["e:c"]
    # disjoint-domain MINUS removes nothing (SPARQL 1.1 8.3 — key
    # difference from NOT EXISTS, which errors here)
    out2 = sparql_select(
        graph,
        "SELECT ?e WHERE { ?e <p:in> ?n . MINUS { ?x <p:name> ?y . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out2] == ["e:a", "e:b", "e:c"]


def test_property_path_alternation(graph):
    out = sparql_select(
        graph, "SELECT ?s ?o WHERE { ?s <p:in>|<p:knows> ?o . } ORDER BY ?s ?o"
    ).collect()
    assert [(r.s, r.o) for r in out] == [
        ("e:a", "e:a"), ("e:a", "e:b"), ("e:a", "n:1"),
        ("e:b", "n:1"), ("e:c", "n:2"),
    ]


def test_property_path_grouped_alternation_closure(spark):
    g = spark.createDataFrame(
        [("x1", "p:next", "x2"), ("x2", "p:skip", "x3"), ("x3", "p:next", "x4")],
        "subj string, pred string, obj string",
    )
    out = sparql_select(
        g, "SELECT ?b WHERE { <x1> (<p:next>|<p:skip>)+ ?b . } ORDER BY ?b"
    ).collect()
    assert [r.b for r in out] == ["x2", "x3", "x4"]


def test_property_path_star(spark):
    chain = spark.createDataFrame(
        [("x1", "p:next", "x2"), ("x2", "p:next", "x3"), ("x1", "p:other", "z9")],
        "subj string, pred string, obj string",
    )
    # zero-or-more from a constant includes the zero-length match (b = x1)
    out = sparql_select(
        chain, "SELECT ?b WHERE { <x1> <p:next>* ?b . } ORDER BY ?b"
    ).collect()
    assert [r.b for r in out] == ["x1", "x2", "x3"]
    # subject = object: every graph node zero-length-matches itself
    refl = sparql_select(
        chain, "SELECT ?a WHERE { ?a <p:next>* ?a . } ORDER BY ?a"
    ).collect()
    assert [r.a for r in refl] == ["x1", "x2", "x3", "z9"]


def test_property_path_zero_or_one(spark):
    chain = spark.createDataFrame(
        [("x1", "p:next", "x2"), ("x2", "p:next", "x3")],
        "subj string, pred string, obj string",
    )
    out = sparql_select(
        chain, "SELECT ?b WHERE { <x1> <p:next>? ?b . } ORDER BY ?b"
    ).collect()
    # zero-length (x1 itself) + exactly one step (x2), never two
    assert [r.b for r in out] == ["x1", "x2"]
    # inverse of a modified path: ^p? from the middle node
    inv = sparql_select(
        chain, "SELECT ?b WHERE { <x2> ^<p:next>? ?b . } ORDER BY ?b"
    ).collect()
    assert [r.b for r in inv] == ["x1", "x2"]


def test_property_path_star_sequence(spark):
    """isPartOf*-style hierarchy hop: closure followed by a plain step."""
    g = spark.createDataFrame(
        [("leaf", "p:part", "mid"), ("mid", "p:part", "root"),
         ("root", "p:label", "ROOT"), ("mid", "p:label", "MID")],
        "subj string, pred string, obj string",
    )
    out = sparql_select(
        g, "SELECT ?l WHERE { <leaf> <p:part>*/<p:label> ?l . } ORDER BY ?l"
    ).collect()
    # zero steps -> leaf has no label; 1 step -> MID; 2 steps -> ROOT
    assert [r.l for r in out] == ["MID", "ROOT"]


def test_bind_expressions(graph):
    out = sparql_select(
        graph,
        'SELECT ?e ?lbl WHERE { ?e <p:in> ?n . ?n <p:name> ?nm . '
        'BIND(CONCAT(?e, "-", UCASE(?nm)) AS ?lbl) } ORDER BY ?e',
    ).collect()
    assert [(r.e, r.lbl) for r in out] == [
        ("e:a", "e:a-ALPHA"), ("e:b", "e:b-ALPHA"), ("e:c", "e:c-BETA")
    ]
    # STRLEN stringifies (the graph stores strings); chained binds see
    # earlier bind vars; REPLACE is regex-based (fn:replace)
    out2 = sparql_select(
        graph,
        "SELECT ?nm ?len ?both WHERE { ?n <p:name> ?nm . "
        'BIND(STRLEN(?nm) AS ?len) BIND(CONCAT(REPLACE(?nm, "a$", "A"), "/", ?len) AS ?both) } '
        "ORDER BY ?nm",
    ).collect()
    assert [(r.nm, r.len, r.both) for r in out2] == [
        ("alpha", "5", "alphA/5"), ("beta", "4", "betA/4")
    ]


def test_bind_usable_in_filter_and_errors(graph):
    out = sparql_select(
        graph,
        "SELECT ?nm WHERE { ?n <p:name> ?nm . "
        'BIND(UCASE(?nm) AS ?up) FILTER(?up = "ALPHA") }',
    ).collect()
    assert [r.nm for r in out] == ["alpha"]
    with pytest.raises(SparqlError):  # rebinding a bound variable
        sparql_select(
            graph, "SELECT ?n WHERE { ?n <p:name> ?nm . BIND(UCASE(?nm) AS ?nm) }"
        )
    with pytest.raises(SparqlError):  # expr over an unbound variable
        sparql_select(
            graph, "SELECT ?n WHERE { ?n <p:name> ?nm . BIND(UCASE(?zz) AS ?u) }"
        )
    with pytest.raises(SparqlError):  # malformed: missing AS ?var
        sparql_select(graph, "SELECT ?n WHERE { ?n <p:name> ?nm . BIND(?nm) }")


def test_substr_strbefore_strafter(graph):
    # SUBSTR is 1-based (fn:substring); 2-arg form runs to end of string
    out = sparql_select(
        graph,
        "SELECT ?nm ?a ?b WHERE { ?n <p:name> ?nm . "
        "BIND(SUBSTR(?nm, 2, 3) AS ?a) BIND(SUBSTR(?nm, 3) AS ?b) } ORDER BY ?nm",
    ).collect()
    assert [(r.nm, r.a, r.b) for r in out] == [
        ("alpha", "lph", "pha"), ("beta", "eta", "ta")
    ]
    # STRBEFORE/STRAFTER §17.4.3: absent separator -> "" for both; empty
    # separator -> "" for STRBEFORE but the whole string for STRAFTER
    out2 = sparql_select(
        graph,
        "SELECT ?nm ?pre ?post ?none ?eb ?ea WHERE { ?n <p:name> ?nm . "
        'BIND(STRBEFORE(?nm, "t") AS ?pre) BIND(STRAFTER(?nm, "t") AS ?post) '
        'BIND(STRAFTER(?nm, "zz") AS ?none) '
        'BIND(STRBEFORE(?nm, "") AS ?eb) BIND(STRAFTER(?nm, "") AS ?ea) } '
        "ORDER BY ?nm",
    ).collect()
    assert [(r.nm, r.pre, r.post, r.none, r.eb, r.ea) for r in out2] == [
        ("alpha", "", "", "", "", "alpha"),  # no "t" in alpha
        ("beta", "be", "a", "", "", "beta"),
    ]
    # multi-char separator: STRAFTER skips the full separator
    out3 = sparql_select(
        graph,
        'SELECT ?x WHERE { ?n <p:name> ?nm . FILTER(?nm = "alpha") '
        'BIND(STRAFTER(?nm, "al") AS ?x) }',
    ).collect()
    assert [r.x for r in out3] == ["pha"]


@pytest.fixture(scope="module")
def null_key_graph(spark):
    """Outer (?e p ?n) rows where OPTIONAL leaves ?k null for e=b; the
    inner group binds BOTH e and k — the corner where Spark's null-unequal
    equi-join keys diverge from SPARQL's per-solution compatibility."""
    return spark.createDataFrame(
        [("a", "p:p", "1"), ("b", "p:p", "1"), ("a", "p:q", "x"), ("b", "p:r", "z")],
        "subj string, pred string, obj string",
    )


def test_minus_with_optional_null_shared_key(null_key_graph):
    # mu1 = {e:b, k:unbound}: unbound k is COMPATIBLE with the inner
    # solution {e:b, k:z} and dom overlap holds via ?e -> row removed
    # (SPARQL 1.1 8.3); a null-unequal equi anti join would keep it.
    out = sparql_select(
        null_key_graph,
        "SELECT ?e WHERE { ?e <p:p> ?n . OPTIONAL { ?e <p:q> ?k } "
        "MINUS { ?e <p:r> ?k . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out] == ["a"]


def test_exists_with_optional_null_shared_key(null_key_graph):
    # EXISTS substitutes the outer solution: unbound ?k stays a free
    # variable, so {e:b, k:null} passes (b r z matches) while
    # {e:a, k:x} fails (no `a r x` triple).
    out = sparql_select(
        null_key_graph,
        "SELECT ?e WHERE { ?e <p:p> ?n . OPTIONAL { ?e <p:q> ?k } "
        "FILTER EXISTS { ?e <p:r> ?k . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out] == ["b"]
    # and NOT EXISTS is its exact complement
    out2 = sparql_select(
        null_key_graph,
        "SELECT ?e WHERE { ?e <p:p> ?n . OPTIONAL { ?e <p:q> ?k } "
        "FILTER NOT EXISTS { ?e <p:r> ?k . } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out2] == ["a"]


def test_limit_offset(graph):
    base = sparql_select(
        graph, "SELECT ?e ?n WHERE { ?e <p:in> ?n . } ORDER BY ?e"
    ).collect()
    off = sparql_select(
        graph, "SELECT ?e ?n WHERE { ?e <p:in> ?n . } ORDER BY ?e LIMIT 1 OFFSET 1"
    ).collect()
    assert [(r.e, r.n) for r in off] == [(base[1].e, base[1].n)]
    # OFFSET-first spelling and OFFSET without LIMIT
    off2 = sparql_select(
        graph, "SELECT ?e ?n WHERE { ?e <p:in> ?n . } ORDER BY ?e OFFSET 2"
    ).collect()
    assert [(r.e, r.n) for r in off2] == [(base[2].e, base[2].n)]


def test_negated_property_set(graph):
    # !<p:in> over e:a's out-edges: keeps knows/type/name... but not p:in
    out = sparql_select(
        graph, "SELECT ?o WHERE { <e:a> !<p:in> ?o . } ORDER BY ?o"
    ).collect()
    assert "n:1" not in [r.o for r in out]
    assert "e:b" in [r.o for r in out]  # p:knows survives
    # multi-member set
    out2 = sparql_select(
        graph,
        "SELECT ?o WHERE { <e:a> !(<p:in>|<p:knows>) ?o . } ORDER BY ?o",
    ).collect()
    assert {r.o for r in out2} == {"c:Org"}  # only the type edges remain
    # inverse member: !(^<p:in>) from n:1 matches nothing forward-negated...
    inv = sparql_select(
        graph, "SELECT ?o WHERE { <n:1> !(^<p:knows>) ?o . } ORDER BY ?o"
    ).collect()
    # inverse clause only: pairs (x,y) with (y,p,x), p != p:knows;
    # from n:1 that's the p:in sources e:a and e:b
    assert [r.o for r in inv] == ["e:a", "e:b"]


def test_describe_constants(graph):
    from wbkg.sparql import sparql_describe

    out = sparql_describe(graph, "DESCRIBE <n:1> <n:2>").collect()
    got = {(r.subj, r.pred, r.obj) for r in out}
    assert got == {("n:1", "p:name", "alpha"), ("n:2", "p:name", "beta")}


def test_describe_with_where(graph):
    from wbkg.sparql import sparql_describe

    out = sparql_describe(
        graph, 'DESCRIBE ?n WHERE { ?n <p:name> "alpha" . }'
    ).collect()
    assert {(r.subj, r.pred, r.obj) for r in out} == {("n:1", "p:name", "alpha")}
    with pytest.raises(SparqlError):
        sparql_describe(graph, "DESCRIBE ?n")  # variables need WHERE


def test_describe_bnode_closure(spark):
    """CBD: blank-node objects pull their own description in, recursively."""
    from wbkg.sparql import sparql_describe

    g = spark.createDataFrame(
        [("e:x", "p:addr", "_:b1"), ("_:b1", "p:city", "_:b2"),
         ("_:b2", "p:name", "Lima"), ("e:y", "p:other", "zzz")],
        "subj string, pred string, obj string",
    )
    out = sparql_describe(g, "DESCRIBE <e:x>").collect()
    assert {(r.subj, r.pred, r.obj) for r in out} == {
        ("e:x", "p:addr", "_:b1"), ("_:b1", "p:city", "_:b2"), ("_:b2", "p:name", "Lima"),
    }


def test_group_concat_and_sample(graph):
    out = sparql_select(
        graph,
        'SELECT ?n (GROUP_CONCAT(?e; SEPARATOR="|") AS ?members) '
        "(SAMPLE(?e) AS ?any) WHERE { ?e <p:in> ?n . } GROUP BY ?n ORDER BY ?n",
    ).collect()
    # GROUP_CONCAT is sorted for determinism; SAMPLE pinned to MIN
    assert [(r.n, r.members, r.any) for r in out] == [
        ("n:1", "e:a|e:b", "e:a"), ("n:2", "e:c", "e:c")
    ]
    # default separator is a single space; DISTINCT collapses duplicates
    out2 = sparql_select(
        graph,
        "SELECT ?s (GROUP_CONCAT(DISTINCT ?o) AS ?knows) "
        "WHERE { ?s <p:knows> ?o . } GROUP BY ?s",
    ).collect()
    assert [(r.s, r.knows) for r in out2] == [("e:a", "e:a e:b")]


def test_having(graph):
    out = sparql_select(
        graph,
        "SELECT ?n (COUNT(?e) AS ?c) WHERE { ?e <p:in> ?n . } "
        "GROUP BY ?n HAVING(COUNT(?e) > 1)",
    ).collect()
    assert [(r.n, r.c) for r in out] == [("n:1", 2)]
    # HAVING without the aggregate in SELECT; string comparison form
    out2 = sparql_select(
        graph,
        "SELECT ?n WHERE { ?e <p:in> ?n . } GROUP BY ?n "
        'HAVING(MIN(?e) = "e:c") ORDER BY ?n',
    ).collect()
    assert [r.n for r in out2] == ["n:2"]
    with pytest.raises(SparqlError):
        sparql_select(
            graph,
            "SELECT ?n WHERE { ?e <p:in> ?n . } GROUP BY ?n HAVING(COUNT(?zz) > 1)",
        )


def test_having_literal_holding_a_delimiter(spark):
    """A ')' inside a HAVING literal is data, not the clause's closer."""
    g = spark.createDataFrame(
        [("s:1", "p:n", ")"), ("s:1", "p:n", "z"), ("s:2", "p:n", "a"), ("s:2", "p:n", ")(")],
        "subj string, pred string, obj string",
    )
    q = 'SELECT ?s WHERE { ?s <p:n> ?n . } GROUP BY ?s HAVING(MIN(?n) = ")")'
    assert parse_sparql(q)[9] == ['MIN(?n) = ")"']
    # MIN per subject: s:1 -> ")", s:2 -> ")(" (')' sorts before 'a' and 'z')
    assert [r.s for r in sparql_select(g, q).collect()] == ["s:1"]


def test_nested_optional(graph):
    """OPTIONAL inside OPTIONAL: inner nulls don't drop outer optional rows."""
    out = sparql_select(
        graph,
        "SELECT ?e ?n ?nm WHERE { ?e <p:in> ?n . "
        "OPTIONAL { ?n <p:name> ?nm . OPTIONAL { ?nm <p:zzz> ?x } } } ORDER BY ?e",
    ).collect()
    assert [(r.e, r.nm) for r in out] == [
        ("e:a", "alpha"), ("e:b", "alpha"), ("e:c", "beta")
    ]


def test_join_of_subgroups(graph):
    """Adjacent bare groups join on shared variables."""
    out = sparql_select(
        graph,
        "SELECT ?e ?nm WHERE { { ?e <p:in> ?n . } { ?n <p:name> ?nm . } } ORDER BY ?e",
    ).collect()
    assert [(r.e, r.nm) for r in out] == [
        ("e:a", "alpha"), ("e:b", "alpha"), ("e:c", "beta")
    ]


def test_union_nested_in_group(graph):
    """UNION inside a bare subgroup, joined with an outer pattern."""
    out = sparql_select(
        graph,
        "SELECT ?e ?nm WHERE { ?e <p:in> ?n . ?n <p:name> ?nm . "
        '{ { ?e a <c:Org> . } UNION { ?e <p:knows> <e:b> . } } } ORDER BY ?e',
    ).collect()
    # e:a matches BOTH branches -> bag semantics keeps two rows
    assert [(r.e, r.nm) for r in out] == [("e:a", "alpha"), ("e:a", "alpha")]


def test_optional_containing_union(graph):
    out = sparql_select(
        graph,
        "SELECT ?e ?x WHERE { ?e <p:in> ?n . "
        "OPTIONAL { { ?e <p:knows> ?x . } UNION { ?e a ?x . } } } ORDER BY ?e ?x",
    ).collect()
    got = [(r.e, r.x) for r in out]
    assert ("e:a", "e:a") in got and ("e:a", "e:b") in got and ("e:a", "c:Org") in got
    assert ("e:b", None) in got and ("e:c", None) in got


def test_minus_with_nested_body(graph):
    """MINUS body containing its own OPTIONAL/nested group compiles."""
    out = sparql_select(
        graph,
        "SELECT ?e WHERE { ?e <p:in> ?n . "
        "MINUS { { ?who <p:knows> ?e . } } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out] == ["e:c"]


def test_deep_nesting_parses(graph):
    out = sparql_select(
        graph,
        "SELECT ?e WHERE { { { { ?e <p:in> ?n . } } } } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out] == ["e:a", "e:b", "e:c"]


def test_subquery(graph):
    """SPARQL 1.1 §12 subqueries: { SELECT ... } joins on its projection."""
    out = sparql_select(
        graph,
        "SELECT ?e ?n ?c WHERE { ?e <p:in> ?n . "
        "{ SELECT ?n (COUNT(?e2) AS ?c) WHERE { ?e2 <p:in> ?n . } GROUP BY ?n } } "
        "ORDER BY ?e",
    ).collect()
    assert [(r.e, r.n, r.c) for r in out] == [
        ("e:a", "n:1", 2), ("e:b", "n:1", 2), ("e:c", "n:2", 1)
    ]
    # only the projection is visible: ?e2 must not leak out
    with pytest.raises(SparqlError, match="unbound"):
        sparql_select(
            graph,
            "SELECT ?e2 WHERE { ?e <p:in> ?n . "
            "{ SELECT ?n WHERE { ?e2 <p:in> ?n . } } }",
        )
    # subquery alone in the WHERE block
    out2 = sparql_select(
        graph,
        "SELECT ?n WHERE { { SELECT DISTINCT ?n WHERE { ?e <p:in> ?n . } } } ORDER BY ?n",
    ).collect()
    assert [r.n for r in out2] == ["n:1", "n:2"]
    # prefixes declared on the OUTER query reach subquery patterns
    out3 = sparql_select(
        graph,
        "PREFIX p: <p:> SELECT ?nm WHERE { "
        "{ SELECT ?n WHERE { <e:c> p:in ?n . } } ?n p:name ?nm . }",
    ).collect()
    assert [r.nm for r in out3] == ["beta"]


def test_values_multi_var(graph):
    out = sparql_select(
        graph,
        "SELECT ?e ?n WHERE { ?e <p:in> ?n . "
        'VALUES (?e ?n) { (<e:a> <n:1>) (<e:c> <n:2>) } } ORDER BY ?e',
    ).collect()
    assert [(r.e, r.n) for r in out] == [("e:a", "n:1"), ("e:c", "n:2")]
    # UNDEF cell matches anything in that position
    out2 = sparql_select(
        graph,
        "SELECT ?e ?n WHERE { ?e <p:in> ?n . "
        'VALUES (?e ?n) { (UNDEF <n:1>) } } ORDER BY ?e',
    ).collect()
    assert [(r.e, r.n) for r in out2] == [("e:a", "n:1"), ("e:b", "n:1")]
    with pytest.raises(SparqlError, match="2 terms for 2|has"):
        sparql_select(
            graph,
            "SELECT ?e WHERE { ?e <p:in> ?n . VALUES (?e ?n) { (<e:a>) } }",
        )


def test_filter_in(graph):
    out = sparql_select(
        graph,
        'SELECT ?e WHERE { ?e <p:in> ?n . FILTER(?n IN (<n:2>, "nope")) }',
    ).collect()
    assert [r.e for r in out] == ["e:c"]
    out2 = sparql_select(
        graph,
        "SELECT ?e WHERE { ?e <p:in> ?n . FILTER(?n NOT IN (<n:2>)) } ORDER BY ?e",
    ).collect()
    assert [r.e for r in out2] == ["e:a", "e:b"]
    # IN over an expression left side
    out3 = sparql_select(
        graph,
        'SELECT ?nm WHERE { ?n <p:name> ?nm . FILTER(UCASE(?nm) IN ("ALPHA")) }',
    ).collect()
    assert [r.nm for r in out3] == ["alpha"]


def test_keywords_inside_literals_are_data(graph):
    """A string literal containing FILTER( / OPTIONAL { / BIND( / MINUS {
    must stay DATA — the keyword lifts are string-literal aware (round-5
    hardening: FILTER/BIND used to be silently lifted out of literals)."""
    from wbkg.sparql import parse_sparql

    for body in [
        'has FILTER(?x = 1) inside', 'OPTIONAL { trap }', 'BIND(1 AS ?x)',
        'MINUS { x }', 'VALUES ?v { trap }', 'HAVING(COUNT(?x) > 1)',
    ]:
        g = parse_sparql(f'SELECT ?n WHERE {{ ?n <p:name> "{body}" . }}')[2][0]
        ((_s, _p, obj),) = g.patterns
        assert obj.value == body
        assert not (g.filters or g.binds or g.exists_groups or g.optionals)
    # and such a literal round-trips through execution
    rows = sparql_select(
        graph, 'SELECT ?n WHERE { ?n <p:name> "alpha" . FILTER(?n != "FILTER(x)") }'
    ).collect()
    assert [r.n for r in rows] == ["n:1"]


# ---------------------------------------------------------------- round 6


@pytest.fixture(scope="module")
def lang_graph(spark):
    """Edges WITH a lang column (the schema the Turtle ingest emits —
    the reference tags literals lang='en', ref src/graph.py:231,242,267)."""
    rows = [
        ("n:1", "p:count", "5", True, None),
        ("n:2", "p:count", "10", True, None),
        ("n:3", "p:count", "40", True, None),
        ("n:1", "p:name", "one", True, "en"),
        ("n:1", "p:name", "eins", True, "de"),
        ("n:2", "p:name", "two", True, "en"),
        ("n:3", "p:name", "three", True, None),
        ("m:1", "p:label", "one", True, "fr"),
        ("m:2", "p:label", "one", True, "en"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_literal boolean, lang string"
    )


def test_filter_numeric_literal_casts_both_sides(lang_graph):
    """A bare numeric literal makes the comparison numeric (rdflib compares
    typed literals numerically): 10 > 5 even though "10" < "5" lexically."""
    out = sparql_select(
        lang_graph, "SELECT ?n WHERE { ?n <p:count> ?c . FILTER(?c > 5) } ORDER BY ?n"
    ).collect()
    assert [r.n for r in out] == ["n:2", "n:3"]
    # >= and = also go numeric; 5.0 = "5" numerically
    eq = sparql_select(
        lang_graph, "SELECT ?n WHERE { ?n <p:count> ?c . FILTER(?c = 5.0) }"
    ).collect()
    assert [r.n for r in eq] == ["n:1"]


def test_filter_string_comparison_stays_lexical(lang_graph):
    """String-vs-string keeps lexical order: "10" < "5" as strings."""
    out = sparql_select(
        lang_graph,
        'SELECT ?n WHERE { ?n <p:count> ?c . FILTER(?c < "5") } ORDER BY ?n',
    ).collect()
    assert [r.n for r in out] == ["n:2", "n:3"]  # "10" and "40" sort below "5"


def test_lang_function_and_tagged_literals(lang_graph):
    en = sparql_select(
        lang_graph,
        'SELECT ?n ?nm WHERE { ?n <p:name> ?nm . FILTER(LANG(?nm) = "en") } ORDER BY ?n',
    ).collect()
    assert [(r.n, r.nm) for r in en] == [("n:1", "one"), ("n:2", "two")]
    plain = sparql_select(
        lang_graph,
        'SELECT ?n WHERE { ?n <p:name> ?nm . FILTER(LANG(?nm) = "") }',
    ).collect()
    assert [r.n for r in plain] == ["n:3"]
    # lang-tagged constant object filters on value AND tag
    tagged = sparql_select(lang_graph, 'SELECT ?n WHERE { ?n <p:name> "one"@en . }').collect()
    assert [r.n for r in tagged] == ["n:1"]
    assert sparql_select(lang_graph, 'SELECT ?n WHERE { ?n <p:name> "one"@hu . }').count() == 0
    # LANG of a subject-position (URI) variable is ""
    uri = sparql_select(
        lang_graph, 'SELECT ?n WHERE { ?n <p:count> ?c . FILTER(LANG(?n) = "") }'
    )
    assert uri.count() == 3


def test_lang_join_is_rdf_term_exact(lang_graph):
    """A variable bound at object position in two patterns joins on
    (value, lang): "one"@en meets "one"@en but not "one"@fr."""
    out = sparql_select(
        lang_graph,
        "SELECT ?a ?b WHERE { ?a <p:name> ?v . ?b <p:label> ?v . } ORDER BY ?a ?b",
    ).collect()
    assert [(r.a, r.b) for r in out] == [("n:1", "m:2")]  # en==en only


def test_select_star_hides_lang_companions(lang_graph):
    out = sparql_select(lang_graph, "SELECT * WHERE { ?n <p:name> ?nm . }")
    assert out.columns == ["n", "nm"]


def test_plain_edges_have_no_lang_surface(graph):
    """Over a (subj, pred, obj)-only table LANG() answers "" and plans are
    companion-free — the pre-round-6 compile path, unchanged."""
    out = sparql_select(
        graph, 'SELECT ?n WHERE { ?n <p:name> ?nm . FILTER(LANG(?nm) = "") } ORDER BY ?n'
    ).collect()
    assert [r.n for r in out] == ["n:1", "n:2"]


def test_if_and_coalesce(lang_graph):
    out = sparql_select(
        lang_graph,
        """SELECT ?n ?tag WHERE {
             ?n <p:name> ?nm .
             BIND(IF(LANG(?nm) = "", "plain", LANG(?nm)) AS ?tag)
           } ORDER BY ?n ?tag""",
    ).collect()
    assert [(r.n, r.tag) for r in out] == [
        ("n:1", "de"), ("n:1", "en"), ("n:2", "en"), ("n:3", "plain"),
    ]
    co = sparql_select(
        lang_graph,
        """SELECT ?n ?v WHERE {
             ?n <p:count> ?c . OPTIONAL { ?n <p:name> ?nm . FILTER(LANG(?nm) = "de") }
             BIND(COALESCE(?nm, "none") AS ?v)
           } ORDER BY ?n""",
    ).collect()
    assert [(r.n, r.v) for r in co] == [("n:1", "eins"), ("n:2", "none"), ("n:3", "none")]


def test_optional_inside_subselect_stays_nested(graph):
    """ADVICE r05 (high): an OPTIONAL nested inside a { SELECT } subquery
    must not be hoisted to the outer group. ?e is subquery-internal, so
    selecting it outside must raise; the subquery itself keeps its
    OPTIONAL multiplicity."""
    q_groups = parse_sparql(
        "SELECT ?x WHERE { ?x <p:in> ?n . "
        "{ SELECT ?x WHERE { ?x <p:in> ?m . OPTIONAL { ?x <p:knows> ?e } } } }"
    )[2]
    assert len(q_groups[0].optionals) == 0
    assert "OPTIONAL" in q_groups[0].subselects[0]
    with pytest.raises(SparqlError, match="unbound"):
        sparql_select(
            graph,
            "SELECT ?e WHERE { ?x <p:in> ?n . "
            "{ SELECT ?x WHERE { ?x <p:in> ?m . OPTIONAL { ?x <p:knows> ?e } } } }",
        )
    # e:a knows 2 entities -> subquery returns e:a twice (bag semantics)
    out = sparql_select(
        graph,
        "SELECT ?x WHERE { ?x <p:in> ?n . "
        "{ SELECT ?x WHERE { ?x <p:in> ?m . OPTIONAL { ?x <p:knows> ?e } } } } ORDER BY ?x",
    ).collect()
    assert [r.x for r in out] == ["e:a", "e:a", "e:b", "e:c"]


def test_optional_inside_bare_subgroup_stays_nested(graph):
    g = parse_sparql(
        "SELECT ?x WHERE { ?x <p:in> ?n . { ?x <p:in> ?m . OPTIONAL { ?x <p:knows> ?e } } }"
    )[2][0]
    assert len(g.optionals) == 0
    assert len(g.subgroups[0][0].optionals) == 1
    out = sparql_select(
        graph,
        "SELECT ?x ?e WHERE { ?x <p:in> ?n . "
        "{ ?x <p:in> ?m . OPTIONAL { ?x <p:knows> ?e } } } ORDER BY ?x ?e",
    ).collect()
    assert [(r.x, r.e) for r in out] == [
        ("e:a", "e:a"), ("e:a", "e:b"), ("e:b", None), ("e:c", None),
    ]


def test_having_inside_subquery_stays_nested(graph):
    """ADVICE r05 (medium): HAVING inside a { SELECT } subquery filters the
    SUBQUERY's groups, and the outer query gains no HAVING."""
    parsed = parse_sparql(
        "SELECT ?n WHERE { ?n <p:name> ?nm . "
        "{ SELECT ?n (COUNT(?e) AS ?c) WHERE { ?e <p:in> ?n } GROUP BY ?n "
        "HAVING(COUNT(?e) > 1) } }"
    )
    assert parsed[9] == []  # outer HAVING list empty
    assert "HAVING" in parsed[2][0].subselects[0]
    out = sparql_select(
        graph,
        "SELECT ?n ?c WHERE { ?n <p:name> ?nm . "
        "{ SELECT ?n (COUNT(?e) AS ?c) WHERE { ?e <p:in> ?n } GROUP BY ?n "
        "HAVING(COUNT(?e) > 1) } }",
    ).collect()
    assert [(r.n, int(r.c)) for r in out] == [("n:1", 2)]  # n:2 filtered IN the subquery


def test_exists_body_with_optional_inner_null(graph):
    """ADVICE r05 (low): an inner variable left unbound by an OPTIONAL
    inside the EXISTS/MINUS body is compatible with ANYTHING (SPARQL
    solution compatibility), so MINUS removes and EXISTS keeps."""
    # inner ?v: unbound (p:nothere never matches) -> compatible with all
    out = sparql_select(
        graph,
        "SELECT ?n ?v WHERE { ?n <p:name> ?v . "
        "MINUS { ?n <p:name> ?x . OPTIONAL { ?n <p:nothere> ?v } } }",
    )
    assert out.count() == 0  # compatible + dom overlap on shared ?v? no — on value
    ex = sparql_select(
        graph,
        "SELECT ?n ?v WHERE { ?n <p:name> ?v . "
        "FILTER EXISTS { ?n <p:name> ?x . OPTIONAL { ?n <p:nothere> ?v } } } ORDER BY ?n",
    ).collect()
    assert [r.n for r in ex] == ["n:1", "n:2"]


_XSD_STR = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTR = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


@pytest.fixture(scope="module")
def typed_graph(spark):
    """Edges with BOTH lang and obj_is_literal — the full edge schema."""
    rows = [
        ("n:1", "p:name", "one", True, "en"),
        ("n:1", "p:alias", "uno", True, None),
        ("n:1", "p:ref", "urn:x:one", False, None),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )


def test_datatype_function(typed_graph):
    out = sparql_select(
        typed_graph,
        "SELECT ?p ?dt WHERE { ?n ?p ?v . BIND(DATATYPE(?v) AS ?dt) } ORDER BY ?p",
    ).collect()
    assert [(r.p, r.dt) for r in out] == [
        ("p:alias", _XSD_STR),
        ("p:name", _RDF_LANGSTR),
        ("p:ref", None),  # IRI binding: type error -> unbound
    ]
    # in FILTER the type error (null) fails the row — only the plain
    # literal passes an = xsd:string test
    f = sparql_select(
        typed_graph,
        f'SELECT ?p WHERE {{ ?n ?p ?v . FILTER(DATATYPE(?v) = "{_XSD_STR}") }}',
    ).collect()
    assert [r.p for r in f] == ["p:alias"]
    # SELECT * hides the term-type companions
    star = sparql_select(typed_graph, "SELECT * WHERE { ?n ?p ?v . }")
    assert star.columns == ["n", "p", "v"]


def test_term_type_join_is_exact(spark):
    """An IRI object and a literal with the same text never join once the
    table carries obj_is_literal (RDF-term equality, not string equality)."""
    g = spark.createDataFrame(
        [
            ("a:1", "p:x", "one", True, None),
            ("b:1", "p:y", "one", False, None),
            ("a:2", "p:x", "two", True, None),
            ("b:2", "p:y", "two", True, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )
    out = sparql_select(
        g, "SELECT ?a ?b WHERE { ?a <p:x> ?v . ?b <p:y> ?v . }"
    ).collect()
    assert [(r.a, r.b) for r in out] == [("a:2", "b:2")]


def test_update_writes_term_kind(typed_graph):
    """Inserts write obj_is_literal: an IRI object is an IRI (DATATYPE
    unbound, joins the equal IRI already in the graph), a template variable
    keeps the term type of its WHERE binding, a BIND output is a literal."""
    from wbkg.sparql import sparql_update

    def datatypes(g, subj):
        return [
            (r.p, r.dt)
            for r in sparql_select(
                g,
                f"SELECT ?p ?dt WHERE {{ <{subj}> ?p ?v . BIND(DATATYPE(?v) AS ?dt) }} ORDER BY ?p",
            ).collect()
        ]

    out = sparql_update(typed_graph, 'INSERT DATA { <m:1> <p:ref> <urn:x:one> . <m:1> <p:alias> "uno" }')
    assert datatypes(out, "m:1") == [("p:alias", _XSD_STR), ("p:ref", None)]
    shared = sparql_select(
        out, "SELECT ?a WHERE { ?a <p:ref> ?v . <n:1> <p:ref> ?v . } ORDER BY ?a"
    ).collect()
    assert [r.a for r in shared] == ["m:1", "n:1"]

    out = sparql_update(
        typed_graph,
        "INSERT { <m:2> <p:iri> ?r . <m:2> <p:lit> ?a . <m:2> <p:subj> ?n . <m:2> <p:up> ?u } "
        "WHERE { ?n <p:ref> ?r . ?n <p:alias> ?a . BIND(UCASE(?a) AS ?u) }",
    )
    assert datatypes(out, "m:2") == [
        ("p:iri", None), ("p:lit", _XSD_STR), ("p:subj", None), ("p:up", _XSD_STR),
    ]


def test_strlang(lang_graph):
    out = sparql_select(
        lang_graph,
        'SELECT ?n ?x ?t ?dt WHERE { ?n <p:count> ?c . '
        'BIND(STRLANG(?c, "en") AS ?x) BIND(LANG(?x) AS ?t) '
        "BIND(DATATYPE(?x) AS ?dt) } ORDER BY ?n",
    ).collect()
    assert [(r.n, r.x, r.t, r.dt) for r in out] == [
        ("n:1", "5", "en", _RDF_LANGSTR),
        ("n:2", "10", "en", _RDF_LANGSTR),
        ("n:3", "40", "en", _RDF_LANGSTR),
    ]
    # the companion participates in tagged-constant matching downstream
    f = sparql_select(
        lang_graph,
        'SELECT ?n WHERE { ?n <p:count> ?c . BIND(STRLANG(?c, "en") AS ?x) '
        'FILTER(LANG(?x) = "en") }',
    )
    assert f.count() == 3
    # nested STRLANG is rejected loudly, not silently untagged
    with pytest.raises(SparqlError):
        sparql_select(
            lang_graph,
            'SELECT ?x WHERE { ?n <p:count> ?c . '
            'BIND(CONCAT(STRLANG(?c, "en"), "!") AS ?x) }',
        )
    # SELECT * hides the STRLANG companion
    star = sparql_select(
        lang_graph,
        'SELECT * WHERE { ?n <p:count> ?c . BIND(STRLANG(?c, "en") AS ?x) }',
    )
    assert star.columns == ["c", "n", "x"]


# --------------------------------------------------------------------------- #
# SPARQL 1.1 Update                                                            #
# --------------------------------------------------------------------------- #


@pytest.fixture()
def small_graph(spark):
    return spark.createDataFrame(
        [
            ("e:a", "p:in", "n:1", None),
            ("e:b", "p:in", "n:2", None),
            ("n:1", "p:name", "alpha", "en"),
            ("n:1", "p:name", "alpha", None),
            ("n:2", "p:name", "beta", None),
        ],
        "subj string, pred string, obj string, lang string",
    )


def _triples(df):
    return {(r.subj, r.pred, r.obj, r.lang) for r in df.collect()}


def test_update_insert_data_is_set_semantics(small_graph):
    from wbkg.sparql import sparql_update

    out = sparql_update(
        small_graph,
        """INSERT DATA { <e:c> <p:in> <n:1> .
                         <e:a> <p:in> <n:1> .
                         <n:3> <p:name> "gamma"@fr }""",
    )
    got = _triples(out)
    assert ("e:c", "p:in", "n:1", None) in got
    assert ("n:3", "p:name", "gamma", "fr") in got
    # existing triple not duplicated
    assert out.filter("subj='e:a' and pred='p:in'").count() == 1


def test_update_delete_data_lang_exact(small_graph):
    from wbkg.sparql import sparql_update

    out = sparql_update(small_graph, 'DELETE DATA { <n:1> <p:name> "alpha" }')
    got = _triples(out)
    # only the UNTAGGED literal went; the @en twin stays
    assert ("n:1", "p:name", "alpha", "en") in got
    assert ("n:1", "p:name", "alpha", None) not in got


def test_update_delete_where_ignores_lang(small_graph):
    from wbkg.sparql import sparql_update

    out = sparql_update(
        small_graph,
        "PREFIX p: <p:>\nDELETE WHERE { ?n p:name ?v }",
    )
    assert _triples(out) == {
        ("e:a", "p:in", "n:1", None),
        ("e:b", "p:in", "n:2", None),
    }


def test_update_modify_rewrites_predicate(small_graph):
    from wbkg.sparql import sparql_update

    out = sparql_update(
        small_graph,
        """DELETE { ?s <p:in> ?o } INSERT { ?s <p:member_of> ?o }
           WHERE { ?s <p:in> ?o }""",
    )
    got = _triples(out)
    assert ("e:a", "p:member_of", "n:1", None) in got
    assert ("e:b", "p:member_of", "n:2", None) in got
    assert not any(p == "p:in" for _, p, _, _ in got)


def test_update_sequence_applies_left_to_right(small_graph):
    from wbkg.sparql import sparql_update

    out = sparql_update(
        small_graph,
        """INSERT DATA { <e:z> <p:in> <n:9> } ;
           DELETE WHERE { ?s <p:in> <n:2> }""",
    )
    got = _triples(out)
    assert ("e:z", "p:in", "n:9", None) in got
    assert not any(s == "e:b" for s, _, _, _ in got)


def test_update_insert_where_with_filter(small_graph):
    from wbkg.sparql import sparql_update

    out = sparql_update(
        small_graph,
        """INSERT { ?n <p:flagged> "yes" }
           WHERE { ?n <p:name> ?v FILTER(STRSTARTS(?v, "a")) }""",
    )
    got = _triples(out)
    assert ("n:1", "p:flagged", "yes", None) in got
    assert not any(s == "n:2" and p == "p:flagged" for s, p, _, _ in got)


def test_update_rejects_nonground_data_and_garbage(small_graph):
    from wbkg.sparql import SparqlError, sparql_update

    with pytest.raises(SparqlError):
        sparql_update(small_graph, "INSERT DATA { ?s <p:x> <o:y> }")
    with pytest.raises(SparqlError):
        sparql_update(small_graph, "LOAD <http://example.org/g>")


def test_update_without_lang_column(spark):
    from wbkg.sparql import sparql_update

    g = spark.createDataFrame(
        [("a", "p:x", "b")], "subj string, pred string, obj string"
    )
    out = sparql_update(g, "INSERT DATA { <c> <p:x> <d> } ; DELETE DATA { <a> <p:x> <b> }")
    assert {(r.subj, r.obj) for r in out.collect()} == {("c", "d")}
    assert out.columns == ["subj", "pred", "obj"]


def test_update_split_is_linear():
    """Splitting an update request on top-level ';' is one linear scan:
    4,000 INSERT DATA triples whose literals hold ';' and braces split in
    well under 2 s (pure Python, no Spark)."""
    import time

    from wbkg.sparql import _split_top

    data = " ".join(f'<s:{i}> <p:v> "v{i}; {{x}}" .' for i in range(4000))
    body = f"INSERT DATA {{ {data} }} ; DELETE DATA {{ <s:0> <p:v> \"v0\" }}"
    t0 = time.perf_counter()
    ops = [op for op in _split_top(body, ";") if op.strip()]
    assert time.perf_counter() - t0 < 2.0
    assert [op.split("{")[0].strip() for op in ops] == ["INSERT DATA", "DELETE DATA"]


def test_update_skips_triples_with_unbound_variable(spark):
    """SPARQL 1.1 §16.2: a template triple with an unbound variable
    produces nothing — for both update verbs and for CONSTRUCT."""
    from wbkg.sparql import sparql_construct, sparql_update

    edges = spark.createDataFrame(
        [("a", "p:x", "b"), ("c", "p:x", "d"), ("a", "p:y", "z")],
        "subj string, pred string, obj string",
    )
    where = "WHERE { ?s <p:x> ?b OPTIONAL { ?s <p:y> ?o } }"
    out = sparql_update(edges, "INSERT { ?s <p:copy> ?o } " + where)
    assert sorted(tuple(r) for r in out.filter("pred = 'p:copy'").collect()) == [
        ("a", "p:copy", "z")
    ]
    built = sparql_construct(edges, "CONSTRUCT { ?s <p:copy> ?o } " + where)
    assert [tuple(r) for r in built.collect()] == [("a", "p:copy", "z")]
    # an unbound variable in a DELETE template deletes nothing; the bound
    # solution still deletes its triple
    out = sparql_update(edges, "DELETE { ?s <p:y> ?o } " + where)
    assert sorted(tuple(r) for r in out.collect()) == [("a", "p:x", "b"), ("c", "p:x", "d")]


def test_update_matches_term_kind(spark):
    """With obj_is_literal, update set semantics compare the term kind:
    IRI <o> and literal "o" are different triples."""
    from wbkg.sparql import sparql_update

    edges = spark.createDataFrame(
        [("s:1", "p:x", "o", True), ("s:2", "p:x", "o", False)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    out = sparql_update(edges, "INSERT DATA { <s:1> <p:x> <o> }")
    assert rows(out) == [
        ("s:1", "p:x", "o", False), ("s:1", "p:x", "o", True), ("s:2", "p:x", "o", False),
    ]
    out = sparql_update(edges, 'DELETE DATA { <s:1> <p:x> "o" . <s:2> <p:x> "o" }')
    assert rows(out) == [("s:2", "p:x", "o", False)]


def test_update_where_delete_without_term_kind(spark):
    """A WHERE-driven DELETE of an object bound through a property path
    (alone or restricted by VALUES) deletes the literal: an alternation
    carries the term kind, and a `+` closure carries none, so its delete
    matches either kind."""
    from wbkg.sparql import sparql_update

    edges = spark.createDataFrame(
        [("s:1", "p:name", "a", True), ("s:2", "p:label", "b", True), ("s:3", "p:x", "o", True)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    out = sparql_update(edges, "DELETE { ?s <p:name> ?n } WHERE { ?s <p:name>|<p:label> ?n }")
    assert rows(out) == [("s:2", "p:label", "b", True), ("s:3", "p:x", "o", True)]
    out = sparql_update(edges, 'DELETE { ?s <p:x> ?o } WHERE { ?s <p:x>|<p:y> ?o VALUES ?o { "o" } }')
    assert rows(out) == [("s:1", "p:name", "a", True), ("s:2", "p:label", "b", True)]
    out = sparql_update(edges, "DELETE { ?s <p:x> ?o } WHERE { ?s <p:x>+ ?o }")
    assert rows(out) == [("s:1", "p:name", "a", True), ("s:2", "p:label", "b", True)]


def test_update_through_path_keeps_term_kind(spark):
    """A variable bound at the object end of a path that carries the term
    kind (step, '^', '/', '|', '!') brings it into an update: the copy of
    a literal stays a literal, and a DELETE through the path removes the
    literal but not an IRI with the same text."""
    from wbkg.sparql import sparql_update

    one = spark.createDataFrame(
        [("s:1", "p:name", "a", True)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )

    def copies(where):
        out = sparql_update(one, f"INSERT {{ ?s <p:copy> ?n }} WHERE {{ {where} }}")
        return [tuple(r) for r in out.filter(F.col("pred") == "p:copy").collect()]

    for where in (
        "?s <p:name> ?n", "?s <p:name>|<p:label> ?n", "?s !<p:label> ?n",
        "?s (<p:name>/^<p:name>)/<p:name> ?n",
    ):
        assert copies(where) == [("s:1", "p:copy", "a", True)], where
    # an inverse step's object end is a subject: an IRI
    assert copies("?s ^<p:name> ?n") == [("a", "p:copy", "s:1", False)]

    edges = spark.createDataFrame(
        [("s:1", "p:name", "a", True), ("s:1", "p:ref", "a", True), ("s:1", "p:ref", "a", False)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )
    out = sparql_update(edges, "DELETE { ?s <p:ref> ?n } WHERE { ?s <p:name>|<p:label> ?n }")
    assert sorted(tuple(r) for r in out.collect()) == [
        ("s:1", "p:name", "a", True), ("s:1", "p:ref", "a", False),
    ]


def test_sequence_with_kindless_middle_unit(spark):
    """A '/' sequence whose middle unit carries no term kind ('+', '?')
    still compiles over edges with obj_is_literal and takes the last
    unit's kind: the rows are the plain chain's, and an INSERT through it
    copies a literal as a literal."""
    from wbkg.sparql import sparql_update

    edges = spark.createDataFrame(
        [("s:1", "p:a", "m:1", False), ("m:1", "p:b", "m:2", False),
         ("m:2", "p:c", "lit", True), ("m:1", "p:c", "x", True)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )

    def rows(path):
        q = f"SELECT ?s ?o WHERE {{ ?s {path} ?o }}"
        return sorted(tuple(r) for r in sparql_select(edges, q).collect())

    assert rows("<p:a>/<p:b>+/<p:c>") == [("s:1", "lit")]
    assert rows("<p:a>/<p:b>?/<p:c>") == [("s:1", "lit"), ("s:1", "x")]
    out = sparql_update(edges, "INSERT { ?s <p:copy> ?o } WHERE { ?s <p:a>/<p:b>+/<p:c> ?o }")
    assert [tuple(r) for r in out.filter(F.col("pred") == "p:copy").collect()] == [
        ("s:1", "p:copy", "lit", True),
    ]


def test_prefix_text_inside_literal_is_data():
    """Only PREFIX declarations outside literals are declarations."""
    q = 'PREFIX p: <urn:p:> SELECT ?s WHERE { ?s p:n "see PREFIX x: <urn:y>" }'
    _vars, _d, groups, prefixes, *_ = parse_sparql(q)
    assert prefixes == {"p": "urn:p:"}
    (_s, pred, obj), = groups[0].patterns
    assert (pred.value, obj.value) == ("urn:p:n", "see PREFIX x: <urn:y>")


def test_one_line_prefixed_update(spark):
    """A PREFIX declaration on the update's own line still leaves the
    operation to apply."""
    from wbkg.sparql import sparql_update

    edges = spark.createDataFrame([("s:1", "urn:p:x", "a")], "subj string, pred string, obj string")
    out = sparql_update(edges, 'PREFIX p: <urn:p:> INSERT DATA { <s:2> p:x "b" }')
    assert sorted(tuple(r) for r in out.collect()) == [
        ("s:1", "urn:p:x", "a"), ("s:2", "urn:p:x", "b"),
    ]


def test_path_closure_storage_does_not_grow_with_rounds(spark):
    """`+` closure releases every round it supersedes: a 32-node chain
    (~5 doubling rounds) leaves as many persisted RDDs behind as a 4-node
    one (~2)."""
    jsc = spark.sparkContext._jsc

    def growth(n):
        chain = spark.createDataFrame(
            [(f"x{i:02d}", "p:next", f"x{i + 1:02d}") for i in range(n - 1)],
            "subj string, pred string, obj string",
        )
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        out = sparql_select(chain, "SELECT ?a ?b WHERE { ?a <p:next>+ ?b . }")
        assert out.count() == n * (n - 1) // 2
        return len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)

    assert growth(4) == growth(32)


def test_numeric_value_fns(spark):
    from wbkg.sparql import sparql_select

    edges = spark.createDataFrame(
        [("a", "urn:p:v", "2.5"), ("b", "urn:p:v", "-3.7")],
        "subj string, pred string, obj string",
    )
    out = {
        r.s: (r.f, r.c, r.r, r.a)
        for r in sparql_select(
            edges,
            """
            SELECT ?s ?f ?c ?r ?a WHERE {
              ?s <urn:p:v> ?v .
              BIND(FLOOR(?v) AS ?f) BIND(CEIL(?v) AS ?c)
              BIND(ROUND(?v) AS ?r) BIND(ABS(?v) AS ?a)
            }
            """,
        ).collect()
    }
    assert out["a"] == ("2", "3", "3.0", "2.5")
    # ROUND half-away-from-zero: -3.7 -> -4; ABS restringifies the double
    assert out["b"] == ("-4", "-3", "-4.0", "3.7")


def test_numeric_fns_in_filter(spark):
    from wbkg.sparql import sparql_select

    edges = spark.createDataFrame(
        [("a", "urn:p:v", "2.5"), ("b", "urn:p:v", "9.9")],
        "subj string, pred string, obj string",
    )
    got = sparql_select(
        edges,
        'SELECT ?s WHERE { ?s <urn:p:v> ?v . FILTER(FLOOR(?v) > 5) }',
    ).collect()
    assert [r.s for r in got] == ["b"]


STAR = "SELECT ?e ?n ?nm WHERE { ?e <p:in> ?n . ?n <p:name> ?nm . ?e <p:knows> ?k }"


def _star_edges(spark):
    return spark.createDataFrame(
        [
            ("e:a", "p:in", "n:1"),
            ("e:b", "p:in", "n:2"),
            ("n:1", "p:name", "alpha"),
            ("n:2", "p:name", "beta"),
            ("e:a", "p:knows", "e:b"),
            ("e:b", "p:knows", "e:a"),
        ],
        "subj string, pred string, obj string",
    )


def test_pred_stats_paid_once_per_dataframe(spark, job_count):
    """The join-ordering stats job runs on the first >= 3-pattern query over
    an edges DataFrame; a second query on the same object plans without
    starting a job and answers the same."""
    edges = _star_edges(spark)
    first, jobs = job_count(lambda: sparql_select(edges, STAR))
    assert jobs > 0
    want = sorted(map(tuple, first.collect()))
    assert want == [("e:a", "n:1", "alpha"), ("e:b", "n:2", "beta")]
    again, jobs = job_count(lambda: sparql_select(edges, STAR))
    assert jobs == 0
    assert sorted(map(tuple, again.collect())) == want


def test_pred_stats_shared_with_subselect(spark, job_count):
    """A { SELECT } sub-select over the same edges reuses the outer query's
    stats: planning starts the jobs of one stats computation, not two."""
    _df, one = job_count(lambda: sparql_select(_star_edges(spark), STAR))
    nested = (
        "SELECT ?e ?nm WHERE { ?e <p:in> ?n . ?n <p:name> ?nm . ?e <p:knows> ?k . "
        "{ SELECT ?e WHERE { ?e <p:in> ?m . ?m <p:name> ?x . ?k2 <p:knows> ?e } } }"
    )
    df, jobs = job_count(lambda: sparql_select(_star_edges(spark), nested))
    assert jobs == one
    assert sorted(map(tuple, df.collect())) == [("e:a", "alpha"), ("e:b", "beta")]


def test_pred_stats_recomputed_for_updated_snapshot(spark, job_count):
    """The DataFrame sparql_update returns is a new snapshot: it computes
    its own stats, which see the inserted triple; the input's stay as
    they were."""
    from wbkg.sparql import _collect_pred_stats, sparql_update

    edges = _star_edges(spark)
    sparql_select(edges, STAR)
    upd = sparql_update(edges, "INSERT DATA { <e:c> <p:in> <n:1> }")
    _df, jobs = job_count(lambda: sparql_select(upd, STAR))
    assert jobs > 0
    _df, jobs = job_count(lambda: sparql_select(upd, STAR))
    assert jobs == 0
    assert _collect_pred_stats(upd)["p:in"] == 3
    assert _collect_pred_stats(edges)["p:in"] == 2


def test_many_to_many_bgp_is_not_force_broadcast(spark):
    """The force-broadcast guard reads a join-output estimate, not a sum of
    pattern sizes: p:a and p:b each hold 800 rows of ONE subject, so their
    join has ~640k rows although the summed estimate is 1,600. No
    broadcast hint may be placed on it (checked on the analyzed plan,
    without collecting the result)."""
    rows = (
        [("k", "p:a", f"x{i}") for i in range(800)]
        + [("k", "p:b", f"y{i}") for i in range(800)]
        + [(f"y{i}", "p:c", f"z{i}") for i in range(1000)]
    )
    edges = spark.createDataFrame(rows, "subj string, pred string, obj string")
    df = sparql_select(
        edges, "SELECT ?x ?y ?z WHERE { ?k <p:a> ?x . ?k <p:b> ?y . ?y <p:c> ?z }"
    )
    assert "strategy=broadcast" not in df._jdf.queryExecution().analyzed().toString()


COMENTION = (
    "PREFIX s: <http://schema.org/> "
    'SELECT ?other (COUNT(DISTINCT ?c) AS ?n) WHERE { ?e s:name "alpha" . '
    "?c s:mentions ?e . ?c s:mentions ?other . ?c <rdf:type> s:TextObject . "
    "FILTER(?other != ?e) } GROUP BY ?other ORDER BY DESC(?n) ?other LIMIT 10"
)


def _comention_edges(spark):
    s = "http://schema.org/"
    rows = [(f"x:e{i}", s + "name", name) for i, name in enumerate(["alpha", "beta", "gamma"])]
    for c, ents in enumerate([(0, 1), (0, 1, 2), (0, 2), (1, 2)]):
        rows.append((f"x:c{c}", "rdf:type", s + "TextObject"))
        rows += [(f"x:c{c}", s + "mentions", f"x:e{i}") for i in ents]
    return spark.createDataFrame(rows, "subj string, pred string, obj string").persist()


# Spark jobs building and collecting COMENTION over _comention_edges with a
# warm stats memo, as the DataFrame-built plan ran them
COMENTION_JOB_BUDGET = 6


def test_select_plans_in_few_jvm_round_trips(spark, job_count, monkeypatch):
    """A comention-shaped SELECT (4 patterns, FILTER, GROUP BY, ORDER BY,
    LIMIT) over a persisted frame with a warm stats memo is built in at
    most 60 py4j commands (the DataFrame-built plan took ~500), its plan
    reads the cached table, the table stays cached, and the query starts
    no more jobs than the DataFrame-built plan did."""
    from py4j.clientserver import ClientServerConnection

    edges = _comention_edges(spark)
    want = [("x:e1", 2), ("x:e2", 2)]
    assert [tuple(r) for r in sparql_select(edges, COMENTION).collect()] == want
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        sent.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    df = sparql_select(edges, COMENTION)
    monkeypatch.undo()
    assert 0 < len(sent) <= 60
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    rows, jobs = job_count(lambda: sparql_select(edges, COMENTION).collect())
    assert [tuple(r) for r in rows] == want
    assert jobs <= COMENTION_JOB_BUDGET
    later = edges.filter(F.col("pred") == "rdf:type")._jdf.queryExecution()
    assert "InMemoryTableScan" in later.executedPlan().toString()


def test_select_compiler_builds_no_dataframe_operators():
    """The SELECT compiler emits SQL text: outside the exempt functions no
    function in wbkg/sparql.py calls a DataFrame operator. Exempt: the `+`
    closure loop (_path_closure), the pred-stats job (_collect_pred_stats)
    and the verbs built on sparql_select's result (CONSTRUCT, ASK,
    DESCRIBE, UPDATE and their helpers). str.join calls (on a literal
    separator) are not DataFrame joins."""
    import ast
    import pathlib

    exempt = {
        "_path_closure", "_collect_pred_stats", "sparql_construct", "sparql_ask",
        "sparql_describe", "sparql_update", "_instantiate_template",
        "_update_bindings", "_apply_delta",
    }
    ops = {"filter", "select", "join", "withColumn", "groupBy", "orderBy"}
    path = pathlib.Path(__file__).resolve().parents[1] / "wbkg" / "sparql.py"
    tree = ast.parse(path.read_text())
    # top-level functions and class methods; a nested function is scanned
    # as part of the one it is defined in
    funcs = [n for n in tree.body if isinstance(n, ast.FunctionDef)] + [
        m for c in tree.body if isinstance(c, ast.ClassDef)
        for m in c.body if isinstance(m, ast.FunctionDef)
    ]
    assert exempt <= {fn.name for fn in funcs}
    for fn in funcs:
        if fn.name in exempt:
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ops
                and not isinstance(node.func.value, ast.Constant)
            ):
                raise AssertionError(f"{fn.name}:{node.lineno} calls .{node.func.attr}(")


def test_count_distinct_exchanges_follow_solution_estimate(spark, monkeypatch):
    """Over few estimated solutions a grouped COUNT(DISTINCT) hash-partitions
    them on the group once; past _ONE_EXCHANGE_MAX_ROWS, or with no estimate
    (no pattern group of 3+ patterns, or a join after the BGP that may
    multiply it), it keeps Spark's two exchanges, on (group, value) then on
    the group. The estimate leaves out the constant terms' selectivity
    guess, so a bound just below COMENTION's 7 solutions keeps two
    exchanges. Both plans give the same rows."""
    import wbkg.sparql as sparql

    edges = _comention_edges(spark)

    def exchanges(query):
        df = sparql_select(edges, query)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning"), [tuple(r) for r in df.collect()]

    want = [("x:e1", 2), ("x:e2", 2)]
    assert exchanges(COMENTION) == (1, want)
    two_patterns = (
        "PREFIX s: <http://schema.org/> SELECT ?e (COUNT(DISTINCT ?c) AS ?n) "
        "WHERE { ?c s:mentions ?e . ?c <rdf:type> s:TextObject } GROUP BY ?e ORDER BY ?e"
    )
    assert exchanges(two_patterns)[0] == 2
    optional = COMENTION.replace("FILTER", "OPTIONAL { ?other s:name ?nm } FILTER")
    assert exchanges(optional) == (2, want)
    monkeypatch.setattr(sparql, "_ONE_EXCHANGE_MAX_ROWS", 6)
    assert exchanges(COMENTION) == (2, want)
