"""Property-based robustness for the SPARQL surface (hypothesis).

The BGP compiler is a user-facing query parser: arbitrary identifiers,
IRIs and literals flow through it. These properties pin down that (a) any
structurally-valid query parses and compiles to a plan with the declared
columns, (b) string literals round-trip through tokenizer + escape
handling regardless of content, (c) invalid input raises SparqlError, not
an arbitrary exception.
"""

import pytest
from hypothesis import given, settings, strategies as st

from wbkg.sparql import SparqlError, parse_sparql, sparql_select

VAR = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True)
LOCAL = st.from_regex(r"[A-Za-z_][A-Za-z0-9_.-]{0,10}", fullmatch=True)
# IRI body: anything printable except '>' and whitespace
IRI = st.from_regex(r"[a-z]+://[A-Za-z0-9_./#-]{0,20}", fullmatch=True)


@settings(max_examples=60, deadline=None)
@given(
    vars_=st.lists(VAR, min_size=3, max_size=3, unique=True),
    pred_iri=IRI,
    use_prefix=st.booleans(),
    pfx=st.from_regex(r"[A-Za-z_][A-Za-z0-9_-]{0,6}", fullmatch=True),
    local=LOCAL,
)
def test_any_valid_bgp_parses(vars_, pred_iri, use_prefix, pfx, local):
    s, p, o = vars_
    if use_prefix:
        q = f"PREFIX {pfx}: <{pred_iri}> SELECT ?{s} ?{o} WHERE {{ ?{s} {pfx}:{local} ?{o} . }}"
        want_pred = pred_iri + local
    else:
        q = f"SELECT ?{s} ?{o} WHERE {{ ?{s} <{pred_iri}> ?{o} . }}"
        want_pred = pred_iri
    select_vars, _d, groups, _pfx, _agg, _g, _ov, _lim, _off, _hav = parse_sparql(q)
    assert select_vars == [s, o]
    (grp,) = groups
    patterns = grp.patterns
    (subj, pred, obj), = patterns
    assert subj.kind == "var" and subj.value == s
    assert pred.kind == "const" and pred.value == want_pred
    assert obj.kind == "var" and obj.value == o


# literal content: anything without raw '"' or '\' (those must be escaped)
LIT_BODY = st.text(
    alphabet=st.characters(blacklist_characters='"\\', blacklist_categories=("Cs",)),
    max_size=20,
)


@settings(max_examples=60, deadline=None)
@given(body=LIT_BODY)
def test_literal_roundtrip_through_parser(body):
    escaped = body.replace("\\", "\\\\").replace('"', '\\"')
    q = f'SELECT ?s WHERE {{ ?s <p:name> "{escaped}" . }}'
    _sv, _d, groups, _pfx, _agg, _g, _ov, _lim, _off, _hav = parse_sparql(q)
    (_s, _p, obj), = groups[0].patterns
    assert obj.kind == "const"
    # the tokenizer may drop tokens it cannot lex only for whitespace-
    # normalized content; the literal itself must survive verbatim
    assert obj.value == body


@settings(max_examples=40, deadline=None)
@given(junk=st.text(max_size=30))
def test_garbage_raises_sparql_error_not_crash(junk):
    q = f"SELECT ?x WHERE {{ {junk} }}"
    try:
        parse_sparql(q)
    except SparqlError:
        pass  # the contract: structured error, never IndexError/TypeError


def test_compiled_columns_match_select(spark):
    g = spark.createDataFrame(
        [("a", "p:x", "b")], "subj string, pred string, obj string"
    )
    out = sparql_select(g, "SELECT ?o ?s WHERE { ?s <p:x> ?o . }")
    assert out.columns == ["o", "s"]  # SELECT order preserved


@settings(max_examples=200, deadline=None)
@given(junk=st.text(max_size=60))
def test_arbitrary_where_text_never_crashes(junk):
    """Fuzz: ANY WHERE-body text either parses or raises SparqlError — the
    parser's error boundary is its own exception type, never IndexError/
    TypeError leaking from tokenizer internals."""
    try:
        parse_sparql("SELECT ?x WHERE { " + junk + " }")
    except SparqlError:
        pass


# literal content made of what the structural scan must read as data:
# brackets, separators, keywords, quotes and backslashes (escaped by _lit)
LIT_TEXT = st.lists(
    st.sampled_from(
        ["{", "}", "(", ")", ";", ".", " UNION ", "FILTER(", "OPTIONAL {",
         "BIND(", "HAVING(", '"', "\\", " ", "x"]
    ),
    max_size=8,
).map("".join)


def _lit(value: str) -> str:
    return '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'


@st.composite
def where_group(draw, depth=2):
    """-> (text, shape): one group whose triple patterns, FILTERs, BINDs,
    OPTIONALs and nested UNIONs come in random order, and the _shape its
    parse must have."""
    items = [("triple", v) for v in draw(st.lists(LIT_TEXT, min_size=1, max_size=2))]
    items += [("filter", v) for v in draw(st.lists(LIT_TEXT, max_size=2))]
    items += [("bind", v) for v in draw(st.lists(LIT_TEXT, max_size=2))]
    if depth:
        sub = where_group(depth - 1)
        items += [("optional", g) for g in draw(st.lists(sub, max_size=2))]
        items += [
            ("union", b)
            for b in draw(st.lists(st.lists(sub, min_size=2, max_size=3), max_size=1))
        ]
    shape = {k: [] for k in ("patterns", "filters", "binds", "optionals", "subgroups")}
    text = []
    for i, (kind, x) in enumerate(draw(st.permutations(items))):
        if kind == "triple":
            text.append(f"?s <p:x> {_lit(x)} .")
            shape["patterns"].append(("s", "p:x", x))
        elif kind == "filter":
            text.append(f"FILTER(?s != {_lit(x)})")
            shape["filters"].append(f"?s != {_lit(x)}")
        elif kind == "bind":
            text.append(f"BIND(CONCAT({_lit(x)}) AS ?b{i})")
            shape["binds"].append((f"CONCAT({_lit(x)})", f"b{i}"))
        elif kind == "optional":
            text.append(f"OPTIONAL {{ {x[0]} }}")
            shape["optionals"].append([x[1]])
        else:
            text.append("{ " + " UNION ".join("{ " + t + " }" for t, _s in x) + " }")
            shape["subgroups"].append([s for _t, s in x])
    return " ".join(text), shape


def where_query(groups):
    """A SELECT over one generated group, or a top-level UNION of several."""
    if len(groups) == 1:
        return f"SELECT * WHERE {{ {groups[0][0]} }}"
    return "SELECT * WHERE { " + " UNION ".join("{ " + t + " }" for t, _s in groups) + " }"


def _shape(group) -> dict:
    """A parsed _Group in where_group's shape form; kinds the generator
    never writes must come back empty."""
    assert not (group.values or group.exists_groups or group.subselects or group.values_multi)
    return {
        "patterns": [(s.value, p.value, o.value) for s, p, o in group.patterns],
        "filters": group.filters,
        "binds": group.binds,
        "optionals": [[_shape(g) for g in body] for body in group.optionals],
        "subgroups": [[_shape(g) for g in body] for body in group.subgroups],
    }


@settings(max_examples=150, deadline=None)
@given(groups=st.lists(where_group(), min_size=1, max_size=3))
def test_scanner_lifts_exactly_the_generated_blocks(groups):
    """Nested OPTIONAL / UNION / FILTER / BIND blocks whose literals hold
    brackets, ';', '.', keywords and escaped quotes: the parse lifts exactly
    the written blocks, and every literal value comes back unchanged."""
    parsed = parse_sparql(where_query(groups))[2]
    assert [_shape(g) for g in parsed] == [s for _t, s in groups]
