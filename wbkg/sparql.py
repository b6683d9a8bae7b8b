"""SPARQL queries compiled to one Spark SQL statement over the edges table.

The reference talks SPARQL in two places: outbound lookups against the
public Wikidata endpoint (ref src/linker.py:184-199 — a network boundary
this engine replaces with the dictionary join, SURVEY §2.3) and sanitizing
entity text so it is SPARQL/Turtle-safe (ref src/utils.py:4-40, ported as
P3). The graph it *builds* is an rdflib Graph, and rdflib's own query
surface is SPARQL — so a user coming from the reference expects to ask the
finished KG SPARQL questions. This module gives the edges table that
surface, Spark-first: a SELECT is parsed into triple patterns and groups
and compiled to the text of one Spark SQL statement (aliased scans +
equi-joins) that Catalyst/AQE then plan and broadcast like any other
relational query; only a `+`/`*` path closure runs as DataFrame code.

Supported grammar (the BGP core that covers rdflib-demo-style queries):

    PREFIX pfx: <iri>
    SELECT [DISTINCT] ?a ?b | * | (COUNT([DISTINCT] ?v|*) AS ?c)
           | (MIN/MAX/SUM/AVG(?v) AS ?m)
    WHERE { s p o . s2 p2 o2 . ...
            OPTIONAL { s3 p3 o3 . ... } }   # `a` == rdf:type
    WHERE { { ... } UNION { ... } }         # alternation (nests anywhere)
    WHERE { A { B } { C UNION D } }          # groups nest ARBITRARILY:
        bare { } subgroups join on shared vars; OPTIONAL / MINUS / EXISTS
        bodies are full recursive groups (their own OPTIONALs, FILTERs,
        BINDs, unions) — SPARQL's group scoping falls out of the recursion
    WHERE { ... { SELECT ... } }            # §12 subqueries (join on the
        projection; aggregates/nesting inside all work)
    WHERE { ... VALUES ?v { "a" <iri:b> } }  # inline bindings
    WHERE { ... VALUES (?a ?b) { (<i> "x") (UNDEF "y") } }  # multi-var rows
    ASK [WHERE] { ... }                      # sparql_ask -> bool
    WHERE { ... FILTER [NOT] EXISTS { ... } }  # semi/anti join gate
    WHERE { ... MINUS { ... } }             # anti join; disjoint = identity
    WHERE { ... BIND(expr AS ?v) }          # derived binding (a column)
    GROUP BY ?a [?b ...]
    ORDER BY ?a [ASC(?b)|DESC(?b) ...]
    LIMIT n [OFFSET k] | OFFSET k [LIMIT n]
    DESCRIBE <iri>... | DESCRIBE ?v ... WHERE { ... }   # sparql_describe

Property paths in the predicate position (SPARQL 1.1 §9 subset, IRI-only):
sequence `p/q`, inverse `^p`, alternation `p|q`, one-or-more `p+`,
zero-or-more `p*`, zero-or-one `p?`, negated property sets `!iri` /
`!(iri|^iri|...)`, and parenthesized groups like `(p|q)+`. `/` compiles to
an equi-join chain, `|` to a bag UNION ALL, `^` pushes column-swap to the
leaves, `!(...)` to a NOT-IN predicate scan (forward/inverse clauses per
the spec's NPS translation), and `+` to a doubling semi-naive transitive
closure; `*`/`?` union the graph-node identity relation per §9.1
ZeroOrMorePath. The closure runs EAGERLY at compile time and enters the
statement as a temp view — see sparql_select's docstring.

Terms: ?var, <iri>, pfx:local, "literal", "literal"@lang. OPTIONAL groups
compile to LEFT JOINs on the shared variables; UNION branches compile
independently and UNION ALL on the variable union (unbound -> null, bag
semantics). FILTER(...) supports comparisons (= != < <= > >=;
string-vs-string compares in lexical order, while a bare NUMERIC literal
on either side casts both to double — rdflib compares typed numerics
numerically, and HAVING always did the same here), REGEX(?v, "pat"),
BOUND(?v), CONTAINS/STRSTARTS/STRENDS(?v, "s"), expr [NOT] IN (v, ...)
and && || ! ( ), compiled to SQL predicates applied over the joined
pattern block — Catalyst then pushes the sargable ones down into the
scans on its own. Comparison operands and BIND expressions share a
value-expression subset: CONCAT, STR, UCASE, LCASE, STRLEN, REPLACE
(regex, fn:replace), SUBSTR (1-based, fn:substring), STRBEFORE, STRAFTER
(§17.4.3 empty/absent-separator semantics), IF(cond, then, else),
COALESCE(v, ...), LANG(?v).
sparql_construct gives the CONSTRUCT verb (template-projected triple set).

Text front end: one literal-aware scan (`_scan`: per position, inside a
"..." literal or not, and brace depth) underlies every block lift
(`_lift`) and top-level split (`_split_top`), in time linear in the text.

Language tags: when the edges table carries a `lang` column (the Turtle
ingest and KG materializer schemas), object-position variable bindings
carry a hidden lang companion — LANG(?v) reads it, `"x"@en` constants
filter on value AND tag, and a variable bound at object position in two
patterns joins RDF-term-exactly (value, lang). Plain (subj, pred, obj)
tables compile exactly as before and answer LANG() with "".

Plan shape at 100 TB: each triple pattern becomes one scan of the edges
table with its constant terms pushed down as filters — a constant predicate
prunes whole partitions under the --partition-edges-by-pred layout
(wbkg/job.py) — and shared variables become join keys. Catalyst sees an
ordinary star/chain join over one physical table: AQE picks
broadcast-vs-shuffle per pattern from runtime sizes, so a selective pattern
(rare predicate) broadcasts into the big ones. Variables repeated inside a
single pattern compile to an intra-scan equality filter, not a join.
"""

from __future__ import annotations

import re
import uuid
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wbkg.materialize import RDF_TYPE, RDF_TYPE_IRI
from wbkg.session import cut, local_frame, seminaive

_TOKEN = re.compile(
    r"""\?[A-Za-z_][\w]*   # variable
      | <[^>\s]*>          # iri
      | "(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*)?  # literal ["x"@lang]
      | [A-Za-z_][\w-]*:[A-Za-z_][\w.-]*   # prefixed name
      | \ba\b              # rdf:type shorthand
      | [.{}/+^|*?()!]""",
    re.X,
)


@dataclass
class _Term:
    kind: str  # "var" | "const"
    value: str
    lang: str | None = None  # language tag of a `"x"@en` literal term
    literal: bool = False  # a "..." literal constant (else an IRI)


@dataclass
class _PathStep:
    """Leaf: a (possibly inverted) constant-IRI step."""

    iri: str
    inverse: bool  # ^iri — swap subject/object


@dataclass
class _PathSeq:
    """a/b/... — equi-join chain of sub-paths."""

    items: list


@dataclass
class _PathAlt:
    """a|b|... — bag union of sub-paths (SPARQL alternation keeps
    duplicate solutions; the surrounding SELECT decides DISTINCT)."""

    items: list


@dataclass
class _PathMod:
    """child+ / child* / child? — closure / reflexive-closure /
    zero-or-one. '+', '*' and '?' produce solution SETS (SPARQL 1.1 §9.1
    ArbitraryLengthPath / ZeroOrMorePath are defined over node sets)."""

    child: object
    mod: str  # "+" | "*" | "?"


@dataclass
class _PathNeg:
    """!iri / !(iri|^iri|...) — negated property set (SPARQL 1.1 §9.1
    NegatedPropertySet): per the spec's translation, the forward clause
    (any triple whose predicate is NOT in `fwd`) exists iff there is at
    least one forward member, the inverse clause likewise for `inv`, and a
    mixed set is the union of both."""

    fwd: list  # forward-negated IRIs
    inv: list  # inverse-negated IRIs (^iri members)


@dataclass
class _Path:
    """Predicate position holding a property-path AST (root node)."""

    root: object

    # duck-type as a non-var term for code that only checks .kind
    kind = "path"
    value = None


class SparqlError(ValueError):
    pass


def _pred_forms(iri: str) -> list[str]:
    """The stored predicate spellings a constant predicate IRI matches. The
    KG materializer stores rdf:type as the string "rdf:type"
    (wbkg.materialize.RDF_TYPE) while Turtle ingest and CONSTRUCT store the
    full IRI, so the full IRI (and `a`, which expands to it) matches both;
    every other IRI matches itself only."""
    return [RDF_TYPE_IRI, RDF_TYPE] if iri == RDF_TYPE_IRI else [iri]


def _pred_in(iris: list[str]) -> str:
    """SQL condition: the predicate is a stored spelling of one of `iris`."""
    forms = [_q(f) for iri in iris for f in _pred_forms(iri)]
    return f"pred = {forms[0]}" if len(forms) == 1 else f"pred IN ({', '.join(forms)})"


def _q(value: str) -> str:
    """A constant as a Spark SQL string literal, the one quoting rule for
    constants: backslash and quote escaped for the SQL lexer. Constants are
    inlined: an args= marker would cost a lit() round trip each."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _id(name: str) -> str:
    """A variable (or hidden companion) as a quoted SQL column name."""
    return f"`{name}`"


def _parse_term(tok: str, prefixes: dict[str, str]) -> _Term:
    if tok.startswith("?"):
        return _Term("var", tok[1:])
    if tok.startswith("<") and tok.endswith(">"):
        return _Term("const", tok[1:-1])
    if tok.startswith('"'):
        lang = None
        lm = re.search(r'"@([A-Za-z][A-Za-z0-9-]*)$', tok)
        if lm:
            lang = lm.group(1)
            tok = tok[: lm.start() + 1]
        body = tok[1:-1]
        return _Term("const", re.sub(r'\\(["\\])', r"\1", body), lang=lang, literal=True)
    if tok == "a":
        return _Term("const", RDF_TYPE_IRI)
    if ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx not in prefixes:
            raise SparqlError(f"undeclared prefix '{pfx}:' in {tok}")
        return _Term("const", prefixes[pfx] + local)
    raise SparqlError(f"cannot parse term: {tok}")


_FILTER_TOKEN = re.compile(
    r"""\?[A-Za-z_][\w]*
      | <[^>\s]*>
      | "(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*)?
      | -?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?
      | [A-Za-z_][\w-]*:[A-Za-z_][\w.-]*
      | (?i:REGEX|BOUND|CONTAINS|STRSTARTS|STRENDS|STRLEN|CONCAT|REPLACE|UCASE|LCASE|STRBEFORE|STRAFTER|SUBSTR|STR|NOT|IN|IF|COALESCE|LANG|DATATYPE|ABS|ROUND|CEIL|FLOOR)\b
      | !=|<=|>=|&&|\|\||[=<>!(),]""",
    re.X,
)

_NUMERIC_LIT = re.compile(r"^-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?$")

# value-producing builtins usable in BIND expressions and on either side of
# a FILTER comparison; (min_args, max_args). IF / COALESCE / LANG are
# special-cased in _value (IF's first argument is a boolean expression,
# LANG reads the hidden lang companion column).
_VALUE_FNS = {
    "CONCAT": (1, 99),
    "STR": (1, 1),
    "UCASE": (1, 1),
    "LCASE": (1, 1),
    "STRLEN": (1, 1),
    "REPLACE": (3, 3),
    "SUBSTR": (2, 3),
    "STRBEFORE": (2, 2),
    "STRAFTER": (2, 2),
    # numeric fns (SPARQL 1.1 §17.4.4): operate on the string value cast
    # to double, restringify. ROUND is half-away-from-zero (Spark/DuckDB
    # round) — deviates from fn:round's toward-positive-infinity tie rule
    # for NEGATIVE halves only (fn:round(-0.5)=0, here -1); documented.
    "ABS": (1, 1),
    "ROUND": (1, 1),
    "CEIL": (1, 1),
    "FLOOR": (1, 1),
}

# hidden companion column prefix carrying the language tag of an
# object-position variable binding (only created when the edges table has a
# `lang` column — plain (subj, pred, obj) tables compile exactly as before)
_LANG_PFX = "__wbkg_lang_"

# second hidden companion ("true"/"false" string, union-alignable) carrying
# obj_is_literal for object-position bindings — created only when the edges
# table has that column (wbkg/schemas.py edge schema). DATATYPE(?v) reads
# it: IRI binding -> null (SPARQL type error: the row fails in FILTER,
# stays unbound in BIND), lang-tagged literal -> rdf:langString, plain
# literal -> xsd:string (this graph stores strings — no numeric datatypes).
_LIT_PFX = "__wbkg_lit_"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


class _FilterParser:
    """Recursive-descent parser for FILTER expressions -> Spark SQL
    expression text over the group's variable columns.
    Grammar: or := and (|| and)* ; and := not (&& not)* ;
    not := '!' not | prim ; prim := '(' or ')' | REGEX(?v,"p") | BOUND(?v)
    | term cmp term."""

    def __init__(self, text: str, prefixes: dict[str, str], bound: set[str]):
        self.toks = _FILTER_TOKEN.findall(text)
        self.i = 0
        self.prefixes = prefixes
        self.bound = bound
        # set by _value when the expression it just parsed was a bare
        # numeric literal (e.g. 5, -2.5): comparisons with a numeric
        # operand cast BOTH sides to double (rdflib compares typed
        # numerics numerically); string-vs-string stays lexical.
        self._last_numeric = False

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self):
        tok = self._peek()
        if tok is None:
            raise SparqlError("unexpected end of FILTER expression")
        self.i += 1
        return tok

    def _expect(self, tok: str):
        got = self._next()
        if got != tok:
            raise SparqlError(f"expected {tok!r} in FILTER, got {got!r}")

    def _accept(self, tok: str) -> bool:
        if self._peek() == tok:
            self._next()
            return True
        return False

    def parse(self):
        col = self._or()
        if self._peek() is not None:
            raise SparqlError(f"trailing tokens in FILTER: {self.toks[self.i:]}")
        return col

    def _or(self):
        col = self._and()
        while self._peek() == "||":
            self._next()
            col = f"({col} OR {self._and()})"
        return col

    def _and(self):
        col = self._not()
        while self._peek() == "&&":
            self._next()
            col = f"({col} AND {self._not()})"
        return col

    def _not(self):
        if self._peek() == "!":
            self._next()
            return f"(NOT {self._not()})"
        return self._prim()

    def _term_col(self, tok: str):
        t = _parse_term(tok, self.prefixes)
        if t.kind == "var":
            if t.value not in self.bound:
                raise SparqlError(f"unbound variable ?{t.value} in FILTER")
            return _id(t.value)
        if t.lang is not None:
            raise SparqlError(
                f'language-tagged literal "{t.value}"@{t.lang} in a FILTER '
                "expression — compare the value and LANG(?v) separately"
            )
        return _q(t.value)

    def parse_value(self):
        """Entry point for BIND: a single value expression -> SQL text."""
        col = self._value(self._next())
        if self._peek() is not None:
            raise SparqlError(f"trailing tokens in expression: {self.toks[self.i:]}")
        return col

    def _var_arg(self, fn: str) -> str:
        """`( ?var )` of LANG / DATATYPE -> the bound variable's name."""
        self._expect("(")
        var = self._next()
        if not var.startswith("?"):
            raise SparqlError(f"{fn} takes a variable")
        if var[1:] not in self.bound:
            raise SparqlError(f"unbound variable {var} in {fn}")
        self._expect(")")
        return var[1:]

    def _lang(self, name: str) -> str:
        # the companion column exists only for object-position bindings
        # over a lang-carrying edges table; everything else (URIs, plain
        # literals, BIND output) has LANG "" per SPARQL
        if _LANG_PFX + name in self.bound:
            return f"coalesce({_id(_LANG_PFX + name)}, '')"
        return "''"

    def _value(self, tok: str):
        """Value expression: term | numeric literal | CONCAT(v,...) |
        STR(v) | UCASE(v) | LCASE(v) | STRLEN(v) | REPLACE(v, "pat",
        "rep") | IF(cond, then, else) | COALESCE(v,...) | LANG(?v).
        Everything stays a string (the graph stores strings; STRLEN
        stringifies), so BIND output unions/compares like any other graph
        value; a bare numeric literal flags the surrounding comparison to
        compare numerically (see _prim)."""
        self._last_numeric = False
        fn = tok.upper()
        if fn == "IF":
            self._expect("(")
            cond = self._or()
            self._expect(",")
            then = self._value(self._next())
            self._expect(",")
            els = self._value(self._next())
            self._expect(")")
            self._last_numeric = False
            return f"CASE WHEN {cond} THEN {then} ELSE {els} END"
        if fn == "COALESCE":
            self._expect("(")
            args = [self._value(self._next())]
            while self._accept(","):
                args.append(self._value(self._next()))
            self._expect(")")
            self._last_numeric = False
            return args[0] if len(args) == 1 else f"coalesce({', '.join(args)})"
        if fn == "LANG":
            return self._lang(self._var_arg("LANG"))
        if fn == "DATATYPE":
            name = self._var_arg("DATATYPE")
            base = (
                f"CASE WHEN {self._lang(name)} != '' THEN {_q(_RDF_LANGSTRING)} "
                f"ELSE {_q(_XSD_STRING)} END"
            )
            if _LIT_PFX + name in self.bound:
                # IRI binding -> null (type error per SPARQL §17.4.2.7)
                return f"CASE WHEN {_id(_LIT_PFX + name)} = 'true' THEN {base} END"
            # no term-type companion (plain spo table / subject position):
            # documented lenient — everything reads as a literal
            return base
        if fn in _VALUE_FNS:
            lo, hi = _VALUE_FNS[fn]
            self._expect("(")
            args = [self._value(self._next())]
            while self._peek() == ",":
                self._next()
                args.append(self._value(self._next()))
            self._expect(")")
            self._last_numeric = False  # cleared: args may have set it
            if not lo <= len(args) <= hi:
                raise SparqlError(f"{fn} takes {lo}..{hi} arguments, got {len(args)}")
            a = args[0]
            if fn == "CONCAT":
                return f"concat({', '.join(args)})"
            if fn == "STR":
                return f"CAST({a} AS STRING)"
            if fn in ("UCASE", "LCASE"):
                return f"{'upper' if fn == 'UCASE' else 'lower'}({a})"
            if fn == "STRLEN":
                return f"CAST(length({a}) AS STRING)"
            if fn in ("ABS", "ROUND", "CEIL", "FLOOR"):
                # CEIL/FLOOR give an integral long, not "x.0"
                extra = ", 0" if fn == "ROUND" else ""
                return f"CAST({fn.lower()}(CAST({a} AS DOUBLE){extra}) AS STRING)"
            if fn == "SUBSTR":
                # SPARQL SUBSTR is 1-based (xpath fn:substring); omitted
                # length = to end of string
                length = f"CAST({args[2]} AS INT)" if len(args) == 3 else f"length({a})"
                return f"substring({a}, CAST({args[1]} AS INT), {length})"
            if fn in ("STRBEFORE", "STRAFTER"):
                sep, pos = args[1], f"instr({a}, {args[1]})"
                if fn == "STRBEFORE":
                    # empty/absent separator -> "" per SPARQL 1.1 §17.4.3.10
                    return (
                        f"CASE WHEN length({sep}) = 0 OR {pos} = 0 THEN '' "
                        f"ELSE substring({a}, 1, {pos} - 1) END"
                    )
                # empty separator -> the whole string; absent -> ""
                return (
                    f"CASE WHEN length({sep}) = 0 THEN {a} WHEN {pos} = 0 THEN '' "
                    f"ELSE substring({a}, {pos} + length({sep}), length({a})) END"
                )
            # REPLACE is regex-based in SPARQL 1.1 (fn:replace)
            return f"regexp_replace({a}, {args[1]}, {args[2]})"
        if _NUMERIC_LIT.match(tok):
            self._last_numeric = True
            return _q(tok)
        return self._term_col(tok)

    def _prim(self):
        tok = self._next()
        if tok == "(":
            col = self._or()
            self._expect(")")
            return col
        fn = tok.upper()
        if fn in ("REGEX", "CONTAINS", "STRSTARTS", "STRENDS"):
            self._expect("(")
            target = self._value(self._next())
            self._accept(",")
            arg_tok = self._next()
            if not arg_tok.startswith('"'):
                if fn == "REGEX":
                    raise SparqlError("REGEX pattern must be a string literal")
                raise SparqlError(f"{fn} needs a string literal second argument")
            arg = _q(_parse_term(arg_tok, self.prefixes).value)
            self._expect(")")
            if fn == "REGEX":
                return f"({target} RLIKE {arg})"
            sql_fn = {"CONTAINS": "contains", "STRSTARTS": "startswith"}.get(fn, "endswith")
            return f"{sql_fn}({target}, {arg})"
        if fn == "BOUND":
            self._expect("(")
            var = self._next()
            if not var.startswith("?"):
                raise SparqlError("BOUND takes a variable")
            col = self._term_col(var)
            self._expect(")")
            return f"({col} IS NOT NULL)"
        left = self._value(tok)
        left_num = self._last_numeric
        nxt = self._peek()
        if nxt is not None and nxt.upper() in ("IN", "NOT"):
            negated = nxt.upper() == "NOT"
            self._next()
            if negated:
                tok2 = self._next()
                if tok2.upper() != "IN":
                    raise SparqlError(f"expected IN after NOT, got {tok2!r}")
            self._expect("(")
            items = [(self._value(self._next()), self._last_numeric)]
            while self._accept(","):
                items.append((self._value(self._next()), self._last_numeric))
            self._expect(")")
            # an OR-chain (items may be expressions, not literals); a
            # typed-numeric member compares as numbers
            col = " OR ".join(
                _cmp(left, "=", it, left_num or it_num) for it, it_num in items
            )
            return f"(NOT ({col}))" if negated else f"({col})"
        op = self._next()
        right = self._value(self._next())
        if op not in ("=", "!=", "<", "<=", ">", ">="):
            raise SparqlError(f"unsupported FILTER operator {op!r}")
        # a bare numeric literal on either side makes this a typed numeric
        # comparison (rdflib: Literal(5) compares numerically), exactly as
        # HAVING casts; quoted strings stay lexical
        return _cmp(left, op, right, left_num or self._last_numeric)


def _cmp(left: str, op: str, right: str, numeric: bool) -> str:
    """SQL comparison, both sides cast to double when `numeric`."""
    if numeric:
        left, right = f"CAST({left} AS DOUBLE)", f"CAST({right} AS DOUBLE)"
    return f"({left} {op} {right})"


def _parse_patterns(block: str, prefixes: dict[str, str]):
    """Tokenize a braces-free pattern block and split on '.' TOKENS —
    splitting the raw string on '.' would cut IRIs like
    <http://schema.org/mentions> apart. The predicate position may be a
    property path (iri/iri sequence, iri+ closure, ^iri inverse)."""
    patterns, group = [], []
    for tok in _TOKEN.findall(block):
        if tok == ".":
            if group:
                patterns.append(group)
                group = []
        else:
            group.append(tok)
    if group:
        patterns.append(group)
    out = []
    for g in patterns:
        if len(g) < 3:
            raise SparqlError(f"triple pattern must have 3 terms: {g!r}")
        if len(g) == 3 and not any(t in "/+^|*?()!" for t in g):
            out.append(tuple(_parse_term(t, prefixes) for t in g))
            continue
        out.append(
            (
                _parse_term(g[0], prefixes),
                _parse_path(g[1:-1], prefixes),
                _parse_term(g[-1], prefixes),
            )
        )
    return out


def _parse_path(mid: list, prefixes: dict[str, str]) -> _Path:
    """Recursive-descent parse of the predicate-position token list into a
    property-path AST (SPARQL 1.1 §9 subset):

        alt  := seq ('|' seq)*
        seq  := elt ('/' elt)*
        elt  := ['^'] prim ['+' | '*' | '?']
        prim := iri | '(' alt ')'

    Property paths are IRI-only; a variable inside a path is an error.
    Note ^p+ parses (per the SPARQL grammar) as (^p)+ — equal to ^(p+) by
    reversal, so no expressiveness is lost."""
    if not mid:
        raise SparqlError("empty property path")
    pos = 0

    def peek():
        return mid[pos] if pos < len(mid) else None

    def alt():
        nonlocal pos
        items = [seq()]
        while peek() == "|":
            pos += 1
            items.append(seq())
        return items[0] if len(items) == 1 else _PathAlt(items)

    def seq():
        nonlocal pos
        items = [elt()]
        while peek() == "/":
            pos += 1
            items.append(elt())
        return items[0] if len(items) == 1 else _PathSeq(items)

    def elt():
        nonlocal pos
        inv = False
        if peek() == "^":
            inv = True
            pos += 1
        node = prim()
        if inv:
            node = _invert(node)
        if peek() in ("+", "*", "?"):
            node = _PathMod(node, mid[pos])
            pos += 1
        return node

    def prim():
        nonlocal pos
        tok = peek()
        if tok is None or tok in "/+^|*?)":
            raise SparqlError(f"malformed property path: {mid!r}")
        if tok == "!":
            pos += 1
            return negset()
        if tok == "(":
            pos += 1
            node = alt()
            if peek() != ")":
                raise SparqlError(f"unbalanced parentheses in property path: {mid!r}")
            pos += 1
            return node
        t = _parse_term(tok, prefixes)
        if t.kind != "const":
            raise SparqlError("property-path elements must be IRIs, not variables")
        pos += 1
        return _PathStep(t.value, inverse=False)

    def negset():
        nonlocal pos
        fwd, inv = [], []

        def member():
            nonlocal pos
            target = fwd
            if peek() == "^":
                target = inv
                pos += 1
            tok = peek()
            if tok is None or tok in "/+^|*?()!":
                raise SparqlError(f"malformed negated property set: {mid!r}")
            t = _parse_term(tok, prefixes)
            if t.kind != "const":
                raise SparqlError("negated-property-set members must be IRIs")
            pos += 1
            target.append(t.value)

        if peek() == "(":
            pos += 1
            member()
            while peek() == "|":
                pos += 1
                member()
            if peek() != ")":
                raise SparqlError(f"unbalanced parentheses in negated property set: {mid!r}")
            pos += 1
        else:
            member()
        return _PathNeg(fwd, inv)

    root = alt()
    if pos != len(mid):
        raise SparqlError(f"malformed property path: {mid!r}")
    return _Path(root)


def _invert(node):
    """^path — push the inverse down to the leaves: (p/q)^- = q^-/p^-,
    (p|q)^- = p^-|q^-, (p+)^- = (p^-)+."""
    if isinstance(node, _PathStep):
        return _PathStep(node.iri, inverse=not node.inverse)
    if isinstance(node, _PathSeq):
        return _PathSeq([_invert(c) for c in reversed(node.items)])
    if isinstance(node, _PathAlt):
        return _PathAlt([_invert(c) for c in node.items])
    if isinstance(node, _PathMod):
        return _PathMod(_invert(node.child), node.mod)
    if isinstance(node, _PathNeg):
        # inverse of the forward clause IS the inverse clause with the same
        # negation set, and vice versa — swap the member lists
        return _PathNeg(list(node.inv), list(node.fwd))
    raise SparqlError(f"cannot invert path node {node!r}")


# the only lexemes the structural scan looks at: a double-quoted literal
# (escape-aware; an unterminated one runs to the end of the text, as does
# one whose last character is a lone backslash) and the four brackets
_LEXEME = re.compile(r'"(?:[^"\\]|\\.)*(?:"|\\?\Z)|[{}()]', re.S)


def _scan(text: str):
    """The one literal-aware pass over query text (SPARQL 1.1 §19: brackets,
    keywords and separators inside a "..." literal are data, and \\" does
    not end it). -> (lit, depth, closer): lit[i] is 1 where text[i] lies in
    a literal; depth[i] is the { } depth before text[i] (depth[len(text)]
    the final one; a stray '}' drives it negative); closer maps each '{'
    and '(' outside literals to its matching bracket, when there is one."""
    lit = bytearray(len(text))
    depth: list[int] = []
    closer: dict[int, int] = {}
    open_at: dict[str, list[int]] = {"{": [], "(": []}
    d = 0
    for m in _LEXEME.finditer(text):
        i, c = m.start(), m.group()[0]
        if c == '"':
            lit[i:m.end()] = b"\x01" * (m.end() - i)
        elif c in "{(":
            open_at[c].append(i)
        else:
            stack = open_at["{" if c == "}" else "("]
            if stack:
                closer[stack.pop()] = i
        if c in "{}":
            depth.extend([d] * (i + 1 - len(depth)))
            d += 1 if c == "{" else -1
    depth.extend([d] * (len(text) + 1 - len(depth)))
    return lit, depth, closer


def _lift(text: str, keyword_re: str, opener: str = "{"):
    """Lift every top-level `<keyword><opener> ... <closer>` block out of
    `text`, in document order. Top level means outside literals at brace
    depth 0: a keyword block nested in braces belongs to that inner group
    (bare subgroup, { SELECT } subquery, EXISTS/MINUS body) and is lifted
    when the recursion parses it — hoisting it would change the query.
    -> (residual with each block replaced by a space,
    [(match groups, body), ...])."""
    lit, depth, closer = _scan(text)
    pat = re.compile(keyword_re + r"\s*" + re.escape(opener), re.I | re.S)
    kept, found, start, pos = [], [], 0, 0
    while m := pat.search(text, pos):
        if lit[m.start()] or depth[m.start()]:
            pos = m.start() + 1
            continue
        end = closer.get(m.end() - 1)
        if end is None:
            kind = "braces" if opener == "{" else "parentheses"
            raise SparqlError(f"unbalanced {kind} after {m.group(0)!r}")
        found.append((m.groups(), text[m.end():end]))
        kept.append(text[start:m.start()])
        start = pos = end + 1
    kept.append(text[start:])
    return " ".join(kept), found


def _split_top(text: str, sep_re: str) -> list[str]:
    """Split `text` at each `sep_re` match outside literals at brace depth 0."""
    lit, depth, _closer = _scan(text)
    pieces, start = [], 0
    for m in re.finditer(sep_re, text):
        if not lit[m.start()] and not depth[m.start()]:
            pieces.append(text[start:m.start()])
            start = m.end()
    pieces.append(text[start:])
    return pieces


# an IRIREF holds no '"', so a declaration lies wholly inside or outside a literal
_PREFIX = r'PREFIX\s+([A-Za-z_][\w-]*):\s*<([^>"]*)>'
_PREFIX_DECL = re.compile("(?i)" + _PREFIX)
_PREFIX_BLOCK = r"(\s*(?:" + _PREFIX.replace("(", "(?:") + r"\s*)*)"


def _prefixes(text: str) -> tuple[dict[str, str], str]:
    """PREFIX declarations outside literals in `text` -> ({prefix: namespace
    IRI}, `text` with each of them blanked); a literal's text is data."""
    lit = _scan(text)[0]
    decls = [m for m in _PREFIX_DECL.finditer(text) if not lit[m.start()]]
    for m in reversed(decls):
        text = text[: m.start()] + " " + text[m.end():]
    return {m.group(1): m.group(2) for m in decls}, text


@dataclass
class _Group:
    """One group graph pattern (SPARQL 1.1 GroupGraphPattern), recursive:
    optionals / exists_groups / subgroups hold BODIES (lists of _Group —
    UNION branches; a 1-element body is a plain group)."""

    patterns: list       # triple patterns
    optionals: list      # [body] — OPTIONAL { ... }
    filters: list        # [str] — group-scoped FILTER expression texts
    values: list         # [(var, [constants])]
    exists_groups: list  # [(mode, body)] — FILTER [NOT] EXISTS / MINUS
    binds: list          # [(expr_text, var)] in document order
    subgroups: list      # [body] — bare { ... } join groups
    subselects: list     # [query_text] — { SELECT ... } subqueries (§12)
    values_multi: list   # [(vars, rows)] — VALUES (?a ?b) { (..) } blocks


def _parse_body(text: str, prefixes: dict[str, str]) -> list:
    """A WHERE body -> list of _Group UNION branches (bag semantics;
    nested unions flatten — union is associative). The body is a union
    only when it is `{ ... } UNION { ... } [UNION { ... }]*` and nothing
    else; anything other than that parses as one group."""
    if text.strip().startswith("{"):
        depth = _scan(text)[1]
        if min(depth) < 0 or depth[-1]:
            raise SparqlError("unbalanced braces in WHERE")
        parts = [_lift(part, "") for part in _split_top(text, r"(?i)\bUNION\b")]
        if len(parts) > 1 and all(len(b) == 1 and not r.strip() for r, b in parts):
            return [g for _r, ((_g, body),) in parts for g in _parse_body(body, prefixes)]
    return [_parse_group(text, prefixes)]


def _parse_group(text: str, prefixes: dict[str, str]) -> _Group:
    """One conjunctive group: recursively lift OPTIONALs, FILTER [NOT]
    EXISTS, MINUS, bare `{ ... }` subgroups (all with BALANCED braces, so
    groups nest arbitrarily), plus VALUES, BINDs and FILTERs; the rest is
    triple patterns. Group-scoped FILTERs inside a lifted body stay inside
    that body's _Group — SPARQL's scoping falls out of the recursion
    (e.g. a FILTER inside OPTIONAL applies before the left join)."""
    text, opt_blocks = _lift(text, r"\bOPTIONAL")
    optionals = [_parse_body(body, prefixes) for _g, body in opt_blocks]

    text, ex_blocks = _lift(text, r"\bFILTER\s+(NOT\s+)?EXISTS")
    exists_groups = [
        ("not_exists" if g[0] else "exists", _parse_body(body, prefixes))
        for g, body in ex_blocks
    ]
    text, minus_blocks = _lift(text, r"\bMINUS")
    exists_groups += [("minus", _parse_body(body, prefixes)) for _g, body in minus_blocks]

    values_multi = []
    text, mval_blocks = _lift(text, r"\bVALUES\s*\(((?:\s*\?[\w]+)+)\s*\)")
    for (vars_raw,), body in mval_blocks:
        vars_ = [v[1:] for v in re.findall(r"\?[\w]+", vars_raw)]
        rows = []
        for _g, row in _lift(body, "", "(")[1]:
            toks = re.findall(
                r'<[^>\s]*>|"(?:[^"\\]|\\.)*"|\bUNDEF\b|[A-Za-z_][\w-]*:[A-Za-z_][\w.-]*',
                row,
            )
            if len(toks) != len(vars_):
                raise SparqlError(
                    f"VALUES row ({row}) has {len(toks)} terms for "
                    f"{len(vars_)} variables"
                )
            rows.append(tuple(
                None if t == "UNDEF" else _parse_term(t, prefixes).value for t in toks
            ))
        if not rows:
            raise SparqlError(f"empty VALUES block for ({vars_raw})")
        values_multi.append((vars_, rows))

    values = []
    text, val_blocks = _lift(text, r"\bVALUES\s+\?([\w]+)")
    for (var,), body in val_blocks:
        consts = []
        for tok in _TOKEN.findall(body):
            t = _parse_term(tok, prefixes)
            if t.kind != "const":
                raise SparqlError(f"VALUES for ?{var} must list constants, got {tok!r}")
            consts.append(t.value)
        if not consts:
            raise SparqlError(f"empty VALUES block for ?{var}")
        values.append((var, consts))

    # remaining bare { ... } blocks are join subgroups (each may be a
    # nested UNION body) — or SPARQL 1.1 §12 subqueries when the body
    # starts with SELECT (compiled through sparql_select and joined on the
    # projected variables)
    text, bare_blocks = _lift(text, r"(?<![\w?])")
    subgroups, subselects = [], []
    for _g, body in bare_blocks:
        if re.match(r"(?is)^\s*(?:PREFIX\b|SELECT\b)", body):
            subselects.append(body)
        else:
            subgroups.append(_parse_body(body, prefixes))

    if any(_scan(text)[1]):
        raise SparqlError(f"unbalanced braces in group: {text!r}")
    text, bind_blocks = _lift(text, r"\bBIND", "(")
    binds = []
    for _g, inner in bind_blocks:
        am = re.search(r"(?is)^(.*)\sAS\s+\?([A-Za-z_][\w]*)\s*$", inner)
        if not am:
            raise SparqlError(f"expected BIND(expr AS ?var), got BIND({inner})")
        binds.append((am.group(1).strip(), am.group(2)))
    text, filter_blocks = _lift(text, r"\bFILTER", "(")
    filters = [body for _g, body in filter_blocks]
    # anything the pattern lexer cannot consume is an error, not silently
    # dropped (e.g. junk text between nested groups)
    residue = _TOKEN.sub(" ", text)
    if residue.strip():
        raise SparqlError(f"cannot parse group text: {residue.strip()[:60]!r}")
    patterns = _parse_patterns(text, prefixes) if text.strip() else []
    if not patterns and not subgroups and not subselects:
        raise SparqlError("empty group pattern")
    return _Group(
        patterns, optionals, filters, values, exists_groups, binds, subgroups,
        subselects, values_multi,
    )


def parse_sparql(query: str):
    """-> (select_vars | None for *, distinct, groups, prefixes,
    aggregates, group_vars, order_vars, limit). groups: one
    (patterns, optionals, filters, values, exists_groups, binds) tuple per
    UNION branch (a plain WHERE body is one group); patterns: (subj, pred, obj)
    _Term triples; filters: raw FILTER expression strings (compiled against
    the bound variables in sparql_select); exists_groups: (negated,
    patterns) for FILTER [NOT] EXISTS; order_vars: (var, ascending)."""
    prefixes, body = _prefixes(query)
    # HAVING(...) is lifted before the shape regex — top level only: one
    # inside a { SELECT } subquery belongs to that subquery's own parse
    body, having_blocks = _lift(body, r"\bHAVING", "(")
    having = [h for _g, h in having_blocks]

    m = re.search(
        r"(?is)SELECT\s+(DISTINCT\s+)?(.*?)\s*WHERE\s*\{(.*)\}\s*"
        r"(?:GROUP\s+BY\s+((?:\?[\w]+\s*)+))?\s*"
        r"(?:ORDER\s+BY\s+((?:(?:ASC|DESC)\s*\(\s*\?[\w]+\s*\)\s*|\?[\w]+\s*)+))?"
        r"\s*(?:LIMIT\s+(\d+)\s*(?:OFFSET\s+(\d+))?|OFFSET\s+(\d+)\s*(?:LIMIT\s+(\d+))?)?\s*$",
        body.strip(),
    )
    if not m:
        raise SparqlError(
            "expected SELECT ... WHERE { ... } [GROUP BY ...] [ORDER BY ...] "
            "[LIMIT n] [OFFSET k]"
        )
    distinct = bool(m.group(1))
    sel_raw, where, group_raw, order_raw = (
        m.group(2), m.group(3), m.group(4), m.group(5),
    )
    limit = m.group(6) or m.group(9)
    offset = m.group(7) or m.group(8)
    group_vars = [v[1:] for v in re.findall(r"\?[\w]+", group_raw or "")]

    # SELECT items: plain ?var or
    # (COUNT|MIN|MAX|SUM|AVG([DISTINCT] ?v|*) AS ?alias)
    _AGG = re.compile(
        r"(?is)\(\s*(COUNT|MIN|MAX|SUM|AVG|SAMPLE|GROUP_CONCAT)\s*\(\s*(DISTINCT\s+)?(\?[\w]+|\*)\s*"
        r'(?:;\s*SEPARATOR\s*=\s*"((?:[^"\\]|\\.)*)"\s*)?\)\s+AS\s+\?([\w]+)\s*\)'
        r"|(\?[\w]+)"
    )
    if sel_raw.strip() == "*":
        select_vars = None
        aggregates = []
    else:
        select_vars, aggregates = [], []
        for am in _AGG.finditer(sel_raw):
            if am.group(6):
                select_vars.append(am.group(6)[1:])
            else:
                func, dist, target, sep, alias = (
                    am.group(1).upper(), bool(am.group(2)), am.group(3),
                    am.group(4), am.group(5),
                )
                if func != "COUNT" and target == "*":
                    raise SparqlError(f"{func}(*) is not valid SPARQL")
                if sep is not None and func != "GROUP_CONCAT":
                    raise SparqlError(f"SEPARATOR is only valid in GROUP_CONCAT, not {func}")
                sep = " " if sep is None else re.sub(r'\\(["\\])', r"\1", sep)
                aggregates.append(
                    (func, dist, None if target == "*" else target[1:], alias, sep)
                )
        if not select_vars and not aggregates:
            raise SparqlError(f"empty SELECT clause: {sel_raw!r}")
    if aggregates and select_vars is not None:
        extra = [v for v in select_vars if v not in group_vars]
        if extra:
            raise SparqlError(
                f"non-aggregated SELECT variable(s) {extra} must appear in GROUP BY"
            )

    groups = _parse_body(where, prefixes)

    # ORDER BY items: ?v (ascending), ASC(?v), DESC(?v) -> (var, ascending)
    order_vars = [
        (am.group(2) or am.group(3), (am.group(1) or "ASC").upper() != "DESC")
        for am in re.finditer(
            r"(?is)(?:(ASC|DESC)\s*\(\s*\?([\w]+)\s*\))|\?([\w]+)", order_raw or ""
        )
    ]
    return (
        select_vars,
        distinct,
        groups,
        prefixes,
        aggregates,
        group_vars,
        order_vars,
        (int(limit) if limit else None),
        (int(offset) if offset else None),
        having,
    )


PATH_MAX_ITERS = 16


def _path_closure(step: DataFrame, max_iters: int = PATH_MAX_ITERS) -> DataFrame:
    """One-or-more transitive closure of a (a, b) edge set. Semi-naive with
    path DOUBLING: each round joins the new pairs against the accumulated
    closure, so reachable path length grows as 2^round — max_iters=16
    covers diameters past 65k, and a graph that still hasn't converged
    warns instead of silently truncating (the contract of
    canonicalize.connected_components). The rounds are session.seminaive's,
    which re-cuts the closure every round and releases what it supersedes.
    Property-path graphs are vocabulary-bounded here (edges over a
    filtered predicate), not corpus-bounded."""

    def expand(frontier, total, _):
        # nonlinear seminaive: path(a,b) :- path(a,m), path(m,b) needs BOTH
        # delta-first and delta-second compositions for completeness
        return (
            frontier.withColumnRenamed("b", "_m")
            .join(total.withColumnRenamed("a", "_m"), "_m")
            .select("a", "b")
            .unionByName(
                total.withColumnRenamed("b", "_m")
                .join(frontier.withColumnRenamed("a", "_m"), "_m")
                .select("a", "b")
            )
            .distinct()
            .join(total, ["a", "b"], "left_anti")
        )

    total, converged = seminaive(step.distinct(), expand, max_rounds=max_iters)
    if not converged:
        import warnings

        warnings.warn(
            f"property-path closure did not converge within {max_iters} "
            "doubling rounds; results may be incomplete — raise "
            "PATH_MAX_ITERS for graphs of diameter beyond 2^16",
            RuntimeWarning,
            stacklevel=2,
        )
    return total


def _graph_nodes(ctx: _Ctx) -> str:
    """The zero-length-path identity relation as SQL: every node of the
    graph (term in subject or object position), as (a, b=a) pairs. SPARQL
    1.1 §9.1 evaluates a zero-length path over the graph's node set; two
    scans of one table + a partial-aggregated distinct, no payload shuffle.

    Known deviation (documented, rdflib differs): a CONSTANT subject/object
    that appears nowhere in the graph does not zero-length-match itself
    here — the identity relation is built from the graph, and the
    surrounding join filters constants against it."""
    return f"SELECT a, a AS b FROM (SELECT subj AS a FROM {ctx.e} UNION SELECT obj FROM {ctx.e}) n"


# an edge's object term kind as the "true"/"false" string of the term-type
# companions (a null flag reads as a literal)
_KIND = "coalesce(CAST(obj_is_literal AS STRING), 'true')"


class _Ctx:
    """One statement's compile state: the edges frame and the temp view
    the SQL text reads it as (`e`), which optional columns it carries, and
    every view registered for the statement (the edges, each closure)."""

    def __init__(self, edges: DataFrame):
        self.edges = edges
        self.has_lang = "lang" in edges.columns
        self.has_lit = "obj_is_literal" in edges.columns
        self.views: list[str] = []
        self.e = self.view(edges)

    def view(self, df: DataFrame) -> str:
        """Register `df` as a temp view the statement text names."""
        name = f"wbkg_{uuid.uuid4().hex}"
        df.createTempView(name)
        self.views.append(name)
        return name

    def sql(self, text: str) -> DataFrame:
        return self.edges.sparkSession.sql(text)

    def drop(self) -> None:
        """Drop the views once the statement is analyzed, from the session
        catalog directly: Catalog.dropTempView (what spark.sql(text,
        **frames) calls) also uncaches the frame's plan, so a persisted
        edges frame would lose its cache on the first query."""
        catalog = self.edges.sparkSession._jsparkSession.sessionState().catalog()
        for name in self.views:
            catalog.dropTempView(name)


def _edge_scan(ctx: _Ctx, inverse: bool, cond: str) -> str:
    """One path step: the (a, b[, k]) pairs of the edges whose predicate
    meets `cond`, read backwards under '^' (b is then a subject: an IRI)."""
    a, b, k = ("obj", "subj", "'false'") if inverse else ("subj", "obj", _KIND)
    kind = f", {k} AS k" if ctx.has_lit else ""
    return f"SELECT {a} AS a, {b} AS b{kind} FROM {ctx.e} WHERE {cond}"


def _path_kind(node) -> bool:
    """Whether _compile_path's relation for `node` carries k, the b end's
    term kind (over edges with obj_is_literal)."""
    if isinstance(node, _PathSeq):
        return _path_kind(node.items[-1])
    if isinstance(node, _PathAlt):
        return all(map(_path_kind, node.items))
    return not isinstance(node, _PathMod)


def _compile_path(ctx: _Ctx, node) -> str:
    """Property-path AST node -> SQL over (a, b[, k]). k is the b end's
    term kind, like the BGP's term-type companion, when the edges carry
    obj_is_literal and _path_kind says so.

    - step: one filtered scan of the edges table (constant predicate pushed
      down; prunes whole partitions under --partition-edges-by-pred),
      '^' swaps the columns; k is obj_is_literal, "false" under '^'.
    - '/': chain by equi-join on the middle node; k is the last unit's.
    - '|': bag UNION ALL of the branches (no implicit distinct — SPARQL
      alternation has bag semantics); k is each branch's.
    - '!': NOT-IN predicate scans per direction; k is each direction's.
    - '+': transitive closure (solution set, _path_closure), read as a
      temp view.
    - '*': closure UNION the graph-node identity relation (distinct).
    - '?': step UNION the identity relation (distinct).
    '+', '*' and '?' leave k out, so a variable they bind has no term kind
    (unknown) and joins on its value alone: a null companion would change
    their row set.

    '+'/'*' run EAGER Spark jobs (the closure loop materializes per
    doubling round) at compile time — see sparql_select's docstring."""
    if isinstance(node, _PathStep):
        return _edge_scan(ctx, node.inverse, _pred_in([node.iri]))
    if isinstance(node, _PathNeg):
        scans = []
        if node.fwd or not node.inv:
            scans.append(_edge_scan(ctx, False, f"NOT ({_pred_in(node.fwd)})"))
        if node.inv:
            scans.append(_edge_scan(ctx, True, f"NOT ({_pred_in(node.inv)})"))
        return " UNION ALL ".join(scans)
    k = ", k" if ctx.has_lit and _path_kind(node) else ""
    if isinstance(node, _PathSeq):
        sql = _compile_path(ctx, node.items[0])
        for child in node.items[1:]:
            kk = ", r.k" if k and child is node.items[-1] else ""  # the last unit's kind
            sql = (
                f"SELECT l.a, r.b{kk} FROM ({sql}) l "
                f"JOIN ({_compile_path(ctx, child)}) r ON l.b = r.a"
            )
        return sql
    if isinstance(node, _PathAlt):
        return " UNION ALL ".join(
            f"SELECT a, b{k} FROM ({_compile_path(ctx, c)}) u" for c in node.items
        )
    if isinstance(node, _PathMod):
        step = f"SELECT a, b FROM ({_compile_path(ctx, node.child)}) s"
        if node.mod != "?":
            step = f"SELECT a, b FROM {ctx.view(_path_closure(ctx.sql(step)))}"
        return step if node.mod == "+" else f"{step} UNION {_graph_nodes(ctx)}"
    raise SparqlError(f"cannot compile path node {node!r}")


_PRED_STATS_MAX = 10_000  # above this many distinct predicates, skip stats
_REPART_MIN_ROWS = 100_000  # repartition pattern scans in this size band:
_REPART_MAX_ROWS = 10_000_000  # big enough to need parallelism, small
#                                enough that the shuffle is trivially cheap
_BCAST_FORCE_MAX = 500_000  # don't force-broadcast an accumulated side
#                             whose estimated join output exceeds this
_ONE_EXCHANGE_MAX_ROWS = 100_000  # a grouped COUNT(DISTINCT) over at most
#   this many estimated solutions shuffles once (4 cores, all solutions in
#   one group: one exchange tied two at 130k solutions, lost 27% at 600k)


def _pattern_vars(pat) -> set[str]:
    """Variable names a triple pattern binds (path predicates bind none)."""
    s, p, o = pat
    return {t.value for t in (s, p, o) if t.kind == "var"}


class _PredStats(dict):
    """pred -> row count, plus `distinct`: pred -> (approx distinct subj,
    approx distinct obj), the per-position counts a join-output estimate
    divides by."""

    def __init__(self, rows):
        super().__init__((r["pred"], r["_c"]) for r in rows)
        self.distinct = {r["pred"]: (r["_vs"], r["_vo"]) for r in rows}


# edges DataFrame -> its _PredStats (or None); an entry lives as long as
# the DataFrame object does. Two threads planning on a new DataFrame at once
# may both compute its stats; the results are equal.
_PRED_STATS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _collect_pred_stats(edges: DataFrame) -> _PredStats | None:
    """Per-predicate row counts and approx distinct subject/object counts
    over the edges table, or None when the predicate vocabulary is
    implausibly large (no RDF dataset has 10k+ predicates; past the cap the
    one-row-per-pred collect would stop being driver-safe). One
    partial-aggregated map-side job — the only eager work join reordering
    costs, paid once per edges DataFrame object: sub-selects and every
    later query on the same DataFrame reuse it, and a new DataFrame (each
    snapshot sparql_update returns, say) computes its own. This is Spark's
    own cache contract: a DataFrame's contents do not change under it."""
    if edges in _PRED_STATS:
        return _PRED_STATS[edges]
    rows = (
        edges.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.approx_count_distinct("subj").alias("_vs"),
            F.approx_count_distinct("obj").alias("_vo"),
        )
        .limit(_PRED_STATS_MAX + 1)
        .collect()
    )
    stats = None if len(rows) > _PRED_STATS_MAX else _PredStats(rows)
    _PRED_STATS[edges] = stats
    return stats


def _key_distinct(pred_stats: _PredStats, pat, rename: dict, keys) -> float:
    """The new pattern's approx distinct count at the position of its most
    selective join key, over every stored spelling of its predicate; 1
    when unknown (a variable or path predicate), so the join estimate then
    multiplies."""
    p = pat[1]
    if isinstance(p, _Path) or p.kind != "const":
        return 1.0
    best = 1.0
    for k in keys:
        pos = {"subj": 0, "obj": 1}.get(rename[k])
        if pos is not None:
            forms = _pred_forms(p.value)
            best = max(best, *(pred_stats.distinct.get(f, (1, 1))[pos] for f in forms))
    return float(best)


def _pattern_rows(pred_stats, p) -> float:
    """A pattern's row count before its constant subject/object: its
    predicate's stored rows, the table's for a variable or path predicate."""
    if isinstance(p, _Path) or p.kind != "const":
        return float(sum(pred_stats.values())) or 1.0
    return float(sum(pred_stats.get(f, 0.0) for f in _pred_forms(p.value)))


def _order_patterns(patterns, pred_stats):
    """Greedy selectivity-based join ordering for one BGP group (the
    classic SPARQL engine optimization — Jena/Sesame do the same with
    richer stats): start from the lowest-estimated-cardinality pattern and
    repeatedly add the cheapest pattern CONNECTED to the bound variable
    set, so multiplicative (many-to-many) joins happen as late as
    possible and feed directly into the consumer (e.g. the ORDER BY +
    LIMIT TakeOrdered) instead of being re-probed by every later join.

    Inner joins commute, so the solution MULTISET is identical for every
    order — only intermediate sizes change (measured on the bench BGP:
    the 60M-row customer x supplier expansion re-probed by two more joins
    at 12.3s collapses to 1.5s with the expansion last). Estimates:
    constant-predicate patterns use the exact per-pred count, unknown
    predicates the table total; each additional constant position scales
    by 1e-4 (a bounded-selectivity guess, only a tie-breaker in
    practice). Deterministic: ties break on the original pattern index,
    and with pred_stats None the input order is returned unchanged."""
    if pred_stats is None or len(patterns) < 3:
        return [(p, None) for p in patterns]

    def est(pat) -> float:
        s, p, o = pat
        if isinstance(p, _Path):
            return _pattern_rows(pred_stats, p)  # closure size unknown; join it late
        sel = 1.0
        if s.kind == "const":
            sel *= 1e-4
        if o.kind == "const":
            sel *= 1e-4
        return _pattern_rows(pred_stats, p) * sel

    items = [
        {"i": i, "pat": p, "est": est(p), "vars": _pattern_vars(p)}
        for i, p in enumerate(patterns)
    ]
    ordered, bound = [], set()
    while items:
        pool = [it for it in items if it["vars"] & bound] or items
        pick = min(pool, key=lambda it: (it["est"], it["i"]))
        ordered.append((pick["pat"], pick["est"]))
        bound |= pick["vars"]
        items.remove(pick)
    return ordered


def _cols(names) -> str:
    """A SELECT list of variable columns; a placeholder when there are
    none (a group of constant patterns binds no variable)."""
    return ", ".join(map(_id, names)) or "1 AS `__wbkg_gate`"


def _join(left: str, right: str, keys, how: str = "JOIN") -> str:
    """SELECT * over `left` joined to `right` on the shared variables `keys`
    (USING: one output column per key, as DataFrame.join(keys) gives); a
    cross join when there are none."""
    on = f"USING ({', '.join(map(_id, keys))})" if keys else ""
    return f"SELECT * FROM ({left}) l {how if keys else 'CROSS JOIN'} ({right}) r {on}"


def _compile_bgp(ctx: _Ctx, patterns, tag: str, pred_stats: dict | None = None):
    """Compile one conjunctive pattern group to (SQL, bound_vars, rows): one
    aliased scan per pattern in _order_patterns order, each a subquery that
    names its variables and holds its constant terms as WHERE conditions,
    USING-joined on the shared variables. A fully-constant pattern is a
    LIMIT 1 existence gate, cross-joined. The force-broadcast guard pins
    the accumulated join as a /*+ BROADCAST */ subquery; a scan in the
    _REPART_* band gets a /*+ REPARTITION */ hint. rows is the join-output
    estimate with the constant-term guess left out (None without pred
    stats): it errs high where the guard's estimate errs low.

    When the edges table carries a `lang` column (the schema the Turtle
    ingest and the KG materializer emit — the reference tags its literals
    `lang='en'` throughout, ref src/graph.py:231,242,267), every
    object-position variable also binds a hidden `__wbkg_lang_<var>`
    companion (null lang folded to "" — SPARQL's LANG() value for plain
    literals). The companion participates in joins, so a variable bound at
    object position in two patterns joins RDF-term-exactly ("x"@en does
    not meet "x"@fr), and LANG(?v) in FILTER/BIND reads it. The
    `__wbkg_lit_<var>` term-type companion works the same way, for plain
    patterns and for paths that carry the kind (_compile_path). Plain
    (subj, pred, obj) tables get no companions. A lang-tagged constant
    object `"x"@en` filters on value AND tag; an untagged constant keeps
    matching on value alone (documented lenient — this engine's edges
    store one literal per (value, lang))."""
    ordered = _order_patterns(patterns, pred_stats)
    bound: set[str] = set()
    tree, hints = None, ""
    est_max: float | None = None
    est_acc: float | None = None
    sols: float | None = None
    for i, ((s, p, o), est_i) in enumerate(ordered):
        if isinstance(p, _Path):
            src, pos_terms = f"({_compile_path(ctx, p.root)}) q", (("a", s), ("b", o))
            companions = [(_LIT_PFX, "k")] if ctx.has_lit and _path_kind(p.root) else []
        else:
            src, pos_terms = ctx.e, (("subj", s), ("pred", p), ("obj", o))
            # the term kind as a "true"/"false" string so UNION branches
            # align on the common null-string fill; joins on it are
            # RDF-term-exact (IRI x never meets literal "x")
            companions = [(_LANG_PFX, "coalesce(lang, '')")] if ctx.has_lang else []
            if ctx.has_lit:
                companions.append((_LIT_PFX, _KIND))
        cols, rename, conds = [], {}, []
        for col, term in pos_terms:
            if term.kind == "const":
                conds.append(
                    _pred_in([term.value]) if col == "pred" else f"{col} = {_q(term.value)}"
                )
                if col == "obj" and ctx.has_lang and term.lang is not None:
                    conds.append(f"coalesce(lang, '') = {_q(term.lang)}")
            elif term.value in rename:  # repeated var inside one pattern
                conds.append(f"{col} = {rename[term.value]}")
            else:
                rename[term.value] = col
                cols.append(f"{col} AS {_id(term.value)}")
                for pfx, expr in companions if col in ("obj", "b") else []:
                    rename[pfx + term.value] = expr
                    cols.append(f"{expr} AS {_id(pfx + term.value)}")
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        alias = f"{tag}{i}"
        if not cols:
            scan = f"SELECT 1 AS `__wbkg_gate_{alias}` FROM {src}{where} LIMIT 1"
        else:
            # mid-size patterns joined late are the expansion's STREAM
            # side; their scan can be a single small file (one task), which
            # would serialize a many-to-many join's output. A bounded
            # repartition guarantees parallelism; past _REPART_MAX_ROWS the
            # scan has native splits and a blind shuffle would be the scale
            # bug.
            hint = ""
            if est_i is not None and _REPART_MIN_ROWS <= est_i <= _REPART_MAX_ROWS:
                n = ctx.edges.sparkSession.sparkContext.defaultParallelism
                hint = f"/*+ REPARTITION({n}) */ "
            scan = f"SELECT {hint}{', '.join(cols)} FROM {src}{where}"
        scan = f"({scan}) {alias}"
        if tree is None:
            tree, bound = scan, set(rename)
            est_max = est_acc = est_i
            sols = None if est_i is None else _pattern_rows(pred_stats, p)
            continue
        keys = sorted(bound & set(rename))
        if (
            est_i is not None
            and est_max is not None
            and est_i > est_max
            and est_acc <= _BCAST_FORCE_MAX
        ):
            # the new pattern is the biggest seen: stream it and PIN the
            # accumulated side as the broadcast build (Catalyst's size
            # estimate otherwise broadcasts the big scan and serializes a
            # many-to-many expansion through the small side's partitions —
            # measured 12.3s vs 1.5s on the bench star BGP). est_acc bounds
            # what we force: past _BCAST_FORCE_MAX rows the accumulated
            # side may not be broadcast-safe and Catalyst keeps the choice.
            # A hint does not reach into a subquery, so the pending one
            # moves inside the pinned subquery.
            left, right = scan, f"(SELECT {hints}* FROM {tree}) pin{alias}"
            hints = f"/*+ BROADCAST(pin{alias}) */ "
            est_max = est_i
        else:
            left, right = tree, scan
            if est_i is not None and est_max is not None:
                est_max = max(est_max, est_i)
        using = f" USING ({', '.join(map(_id, keys))})" if keys else ""
        tree = f"{left} {'JOIN' if keys else 'CROSS JOIN'} {right}{using}"
        if est_acc is not None and est_i is not None:
            # the accumulated side's join-output estimate: dividing by the
            # new pattern's key distinct count alone (not the textbook max
            # of both sides') overestimates, so the guard errs toward
            # leaving the broadcast choice to AQE; a cross join multiplies
            div = _key_distinct(pred_stats, (s, p, o), rename, keys)
            est_acc *= est_i / div
            sols *= _pattern_rows(pred_stats, p) / div
        bound |= set(rename)
    return f"SELECT {hints}{_cols(sorted(bound))} FROM {tree}", bound, sols


def _any_big_group(body) -> bool:
    """True when some (recursive) group joins >= 3 triple patterns — the
    only case where BGP join order can matter."""
    for g in body:
        if len(g.patterns) >= 3:
            return True
        bodies = list(g.optionals) + list(g.subgroups) + [b for _m, b in g.exists_groups]
        if any(_any_big_group(b) for b in bodies):
            return True
    return False


def sparql_select(edges: DataFrame, query: str) -> DataFrame:
    """Run a SPARQL BGP SELECT against an edges table with (subj, pred, obj)
    string columns. Returns one column per selected variable; variables bound
    only in an unmatched OPTIONAL group come back null, as in SPARQL.

    The query compiles to ONE Spark SQL statement over the edges frame
    (a temp view), run as one spark.sql call: the plan is built and
    analyzed once in the JVM instead of one py4j round trip and one
    re-analysis per DataFrame operator. Constants are inlined (_q).

    Evaluation contract: compilation is lazy (a DataFrame plan comes back
    untouched) EXCEPT for (1) `+`/`*` property paths — the transitive
    closure is an inherently iterative fixpoint, so _path_closure runs its
    doubling rounds (a cut and an isEmpty probe per round, bounded by
    PATH_MAX_ITERS) while this function builds the plan; the closure
    enters the statement as a temp view — and (2) the first
    query on an `edges` DataFrame object where some group joins >= 3
    triple patterns, which pays ONE partial-aggregated pred-stats job to
    drive selectivity-based join ordering (_order_patterns; identical
    solution multiset, orders of magnitude smaller intermediates on
    star+chain BGPs). The stats are memoized per DataFrame object, so
    sub-selects and later queries on it plan lazily; as with Spark's own
    cache, a DataFrame's contents must not change under it. Every other
    construct defers."""
    ctx = _Ctx(edges)
    try:
        text, cols = _select_sql(ctx, query)
        out = ctx.sql(text)
    finally:
        ctx.drop()
    # a SELECT * over a group that binds no variable: the solutions, no columns
    return out if cols else out.drop("__wbkg_gate")


def _select_sql(ctx: _Ctx, query: str) -> tuple[str, list[str]]:
    """A SELECT query -> (SQL text, its output columns in order)."""
    (
        select_vars,
        distinct,
        groups,
        prefixes,
        aggregates,
        group_vars,
        order_vars,
        limit,
        offset,
        having,
    ) = parse_sparql(query)

    # one cheap pred-stats job per edges DataFrame buys selectivity-ordered
    # joins (see _order_patterns); skipped entirely for the common
    # <=2-pattern case, so those queries keep the fully-lazy contract
    pred_stats = _collect_pred_stats(ctx.edges) if _any_big_group(groups) else None

    def compile_body(body, tag):
        """UNION-branch list -> (SQL, bound, nullable): branches align on
        the variable union (unbound -> null string, SPARQL bag-union
        semantics — no implicit DISTINCT); a variable missing from any
        branch is nullable downstream."""
        compiled = [compile_spec(g, f"{tag}b{i}") for i, g in enumerate(body)]
        if len(compiled) == 1:
            return compiled[0]
        bound = set().union(*(b for _p, b, _n, _r in compiled))
        all_vars = sorted(bound)

        def aligned(sql, b):
            cols = [_id(v) if v in b else f"CAST(NULL AS STRING) AS {_id(v)}" for v in all_vars]
            return f"SELECT {', '.join(cols) or _cols(())} FROM ({sql}) q"

        sql = " UNION ALL ".join(aligned(p, b) for p, b, _n, _r in compiled)
        common = set.intersection(*(b for _p, b, _n, _r in compiled))
        nullable = set().union(*(n for _p, _b, n, _r in compiled)) | (bound - common)
        return sql, bound, nullable, None

    def compile_spec(g, tag):
        """One _Group -> (SQL, bound, nullable, rows), recursing into nested
        bodies; rows is the BGP's solution estimate while no later join can
        multiply it, else None. Join order: required patterns, then bare subgroups (equi
        join on shared vars — Spark null-unequal key semantics; an
        OPTIONAL-nullable shared var joining a nested subgroup is the one
        SPARQL-compatibility corner this engine keeps, documented), then
        OPTIONAL left joins, negation gates, BINDs, VALUES, FILTERs."""
        if g.patterns:
            sql, bound, rows = _compile_bgp(ctx, g.patterns, f"{tag}r", pred_stats)
        else:
            sql, bound, rows = None, set(), None
        nullable: set[str] = set()
        parts = [compile_body(sub, f"{tag}g{gi}") for gi, sub in enumerate(g.subgroups)]
        if g.subgroups or g.subselects or g.optionals or g.values_multi:
            rows = None
        for sub_text in g.subselects:
            # { SELECT ... } subquery: compile through the full SELECT
            # machinery (aggregates/paths/nesting all work), then join on
            # the projected variables — only the projection is visible
            # outside, per SPARQL 1.1 §12. Outer PREFIX declarations are
            # re-prepended (the subquery text lost them to the outer
            # parse). Projected vars are conservatively nullable (the
            # subquery may union/left-join internally).
            decls = " ".join(f"PREFIX {k}: <{v}>" for k, v in prefixes.items())
            sub_sql, sub_cols = _select_sql(ctx, f"{decls} {sub_text}")
            parts.append((sub_sql, set(sub_cols), set(sub_cols), None))
        for sp, sb, sn, _r in parts:
            if sql is None:
                sql, bound, nullable = sp, set(sb), set(sn)
                continue
            sql = _join(sql, sp, sorted(bound & sb))
            nullable |= sn
            bound |= sb
        if sql is None:
            raise SparqlError("empty group pattern")
        for gi, opt_body in enumerate(g.optionals):
            # the optional body is a FULL group: its own filters/binds/
            # nested groups compile inside it, BEFORE the left join
            # (SPARQL 1.1 §8 leftjoin with expression) — a failing inner
            # filter nulls the optional columns instead of dropping the
            # outer row. Only inner-bound variables are visible inside.
            opt_sql, opt_bound, opt_null, _r = compile_body(opt_body, f"{tag}o{gi}")
            keys = sorted(bound & opt_bound)
            if not keys:
                raise SparqlError("OPTIONAL group shares no variable with the required patterns")
            sql = _join(sql, opt_sql, keys, "LEFT JOIN")
            nullable |= (opt_bound - bound) | opt_null
            bound |= opt_bound
        for gi, (mode, ex_body) in enumerate(g.exists_groups):
            # FILTER [NOT] EXISTS { ... } = semi/anti join on the shared
            # variables (rdflib/SPARQL 1.1 semantics: keep a binding iff
            # the inner group does/doesn't match under it). Semi/anti joins
            # never multiply rows, and Spark broadcasts the inner side when
            # it's small — the plan you'd want for a selective gate at
            # scale. MINUS differs from NOT EXISTS exactly when the groups
            # share no variable: MINUS then removes NOTHING (SPARQL 1.1
            # §8.3), while NOT EXISTS without shared variables is rejected
            # loudly.
            ex_sql, ex_bound, ex_null, _r = compile_body(ex_body, f"{tag}e{gi}")
            keys = sorted(bound & ex_bound)
            if not keys:
                if mode == "minus":
                    continue  # disjoint-domain MINUS is the identity
                raise SparqlError(
                    "FILTER EXISTS group shares no variable with the outer patterns"
                )
            how = "LEFT SEMI JOIN" if mode == "exists" else "LEFT ANTI JOIN"
            # a key is null-capable when EITHER side can leave it unbound
            # (outer OPTIONAL, or an OPTIONAL inside the EXISTS/MINUS body)
            if not any(k in nullable or k in ex_null for k in keys):
                # no shared key can be null: plain equi semi/anti join —
                # shuffle- or broadcast-hash, the plan you want at scale
                sql = _join(sql, f"SELECT {_cols(keys)} FROM ({ex_sql}) q", keys, how)
                continue
            # An OPTIONAL-bound shared key can be null = unbound (on either
            # side), and SPARQL's per-solution compatibility says unbound
            # matches anything (for EXISTS, the unbound var stays free; for
            # MINUS, compatibility plus a dom-overlap requirement — at
            # least one shared var actually bound on BOTH sides, else
            # nothing is removed, SPARQL 1.1 §8.3). Spark's null-unequal
            # equi-join keys get that wrong in both directions, so compile
            # an explicit condition: null key on EITHER side OR equal. This
            # is a non-equi join (broadcast nested loop on the DEDUPED
            # inner key set — bounded by the inner group's distinct key
            # combos, small for selective gates); the fast path above
            # covers every query without OPTIONAL-shared keys.
            pairs = [(f"l.{_id(k)}", f"r.{_id('__ex_' + k)}") for k in keys]
            inner = ", ".join(f"{_id(k)} AS {_id('__ex_' + k)}" for k in keys)
            cond = " AND ".join(f"({a} IS NULL OR {b} IS NULL OR {a} = {b})" for a, b in pairs)
            if mode == "minus":
                overlap = " OR ".join(f"({a} IS NOT NULL AND {b} IS NOT NULL)" for a, b in pairs)
                cond = f"{cond} AND ({overlap})"
            sql = (
                f"SELECT * FROM ({sql}) l {how} "
                f"(SELECT DISTINCT {inner} FROM ({ex_sql}) q) r ON {cond}"
            )
        for expr_text, var in g.binds:
            # BIND(expr AS ?v) -> a derived column; expr reuses the FILTER
            # expression compiler's value subset (CONCAT/STR/UCASE/LCASE/
            # STRLEN/REPLACE/SUBSTR/STRBEFORE/STRAFTER + terms), stays a
            # string, and is visible to later binds, VALUES and group
            # FILTERs
            if var in bound:
                raise SparqlError(f"BIND would rebind already-bound variable ?{var}")
            # STRLANG(expr, "tag") constructs a lang-tagged literal: the
            # value compiles like any BIND, and the bound variable gains a
            # lang companion so LANG(?v), "x"@tag joins and DATATYPE(?v)
            # (rdf:langString) all see the tag. Top-level only — a nested
            # STRLANG has nowhere to carry its tag (one companion per var).
            m_sl = re.fullmatch(
                r"(?is)\s*STRLANG\s*\((.*),\s*\"([A-Za-z][A-Za-z0-9-]*)\"\s*\)\s*",
                expr_text,
            )
            if m_sl is None and re.search(r"(?i)\bSTRLANG\s*\(", expr_text):
                raise SparqlError(
                    "STRLANG is only supported as the top-level BIND expression"
                )
            value = _FilterParser(
                m_sl.group(1) if m_sl else expr_text, prefixes, bound
            ).parse_value()
            derived = f"{value} AS {_id(var)}"
            bound.add(var)
            if m_sl:
                derived += f", {_q(m_sl.group(2))} AS {_id(_LANG_PFX + var)}"
                bound.add(_LANG_PFX + var)
            sql = f"SELECT *, {derived} FROM ({sql}) q"
        for var, consts in g.values:
            # inline bindings restrict an already-bound variable: an In
            # predicate Catalyst pushes into the scans
            if var not in bound:
                raise SparqlError(f"VALUES variable ?{var} is not bound by the patterns")
            sql = f"SELECT * FROM ({sql}) q WHERE {_id(var)} IN ({', '.join(map(_q, consts))})"
        for vars_, rows in g.values_multi:
            # VALUES (?a ?b) { (..) (..) }: a broadcast inline table joined
            # on per-variable compatibility (UNDEF cell = matches anything);
            # multiple compatible rows multiply, per SPARQL's multiset join.
            # Like the single-var form, every VALUES variable must already
            # be bound by the group.
            missing = [v for v in vars_ if v not in bound]
            if missing:
                raise SparqlError(f"VALUES variable(s) {missing} not bound by the patterns")
            cells = ", ".join(
                "(" + ", ".join("CAST(NULL AS STRING)" if c is None else _q(c) for c in row) + ")"
                for row in rows
            )
            names = [(_id(v), f"v.{_id('__val_' + v)}") for v in vars_]
            cond = " AND ".join(f"({c} IS NULL OR l.{v} = {c})" for v, c in names)
            sql = (
                f"SELECT /*+ BROADCAST(v) */ l.* FROM ({sql}) l JOIN (VALUES {cells}) "
                f"AS v({', '.join(_id('__val_' + v) for v in vars_)}) ON {cond}"
            )
        if g.filters:
            # compiled AFTER the joins (group scope); Catalyst pushes
            # sargable predicates back down into the scans on its own
            conds = [_FilterParser(f, prefixes, bound).parse() for f in g.filters]
            sql = f"SELECT * FROM ({sql}) q WHERE {' AND '.join(conds)}"
        return sql, bound, nullable, rows

    sql, bound, _nullable, rows = compile_body(groups, "u")
    head = "SELECT DISTINCT" if distinct else "SELECT"

    if aggregates or group_vars or having:
        # grouped/aggregated query: Spark's partial-aggregation (map-side
        # combine before the group exchange) is exactly what a 100 TB
        # COUNT-per-group wants
        if select_vars is None:
            raise SparqlError("SELECT * cannot be combined with GROUP BY / aggregates")
        missing = [v for v in group_vars + [ov for ov, _a in order_vars]
                   if v not in bound and v not in [a[3] for a in aggregates]]
        missing += [t for _f, _d, t, _a, _s in aggregates if t is not None and t not in bound]
        if missing:
            raise SparqlError(f"unbound variable(s) in GROUP BY/ORDER BY/aggregate: {missing}")
        cols = select_vars + [a[3] for a in aggregates]
        aggs = [f"{_agg_sql(f, d, t, sep)} AS {_id(a)}" for f, d, t, a, sep in aggregates]
        # HAVING filters on its own aggregates: Spark's partial aggregation
        # runs once for all of them (one exchange)
        conds = [_having_sql(h_text, bound) for h_text in having]
        if aggs or conds:
            if (
                group_vars
                and any(f == "COUNT" and d and t for f, d, t, _a, _s in aggregates)
                and rows is not None
                and rows <= _ONE_EXCHANGE_MAX_ROWS
            ):
                # COUNT(DISTINCT) plans two exchanges, on (group, value)
                # then on the group, and under AQE each is a Spark job
                # (~40 ms on a small graph). For few estimated solutions
                # they are hash-partitioned on the group once and both
                # phases run in place; more keep the two exchanges, which
                # combine map-side and spread a hot group across tasks.
                sql = f"SELECT /*+ REPARTITION({_cols(group_vars)}) */ * FROM ({sql}) q"
            text = f"{head} {', '.join(list(map(_id, select_vars)) + aggs)} FROM ({sql}) q"
            if group_vars:
                text += f" GROUP BY {_cols(group_vars)}"
            if conds:
                text += f" HAVING {' AND '.join(conds)}"
        else:
            # GROUP BY with no aggregates = distinct group rows
            text = f"{head} {_cols(select_vars)} FROM (SELECT DISTINCT {_cols(group_vars)} FROM ({sql}) q) q"
    else:
        if select_vars is None:
            # SELECT *: user-visible variables only — the hidden lang
            # companions are internal plumbing for LANG()/term-exact joins
            select_vars = sorted(
                v
                for v in bound
                if not v.startswith(_LANG_PFX) and not v.startswith(_LIT_PFX)
            )
        missing = [v for v in select_vars + [ov for ov, _a in order_vars] if v not in bound]
        if missing:
            raise SparqlError(f"unbound variable(s) in SELECT/ORDER BY: {missing}")
        cols = select_vars
        text = f"{head} {_cols(cols)} FROM ({sql}) q"
    if order_vars:
        # unbound sorts lowest either way, like rdflib: nulls first
        # ascending, last descending
        text += " ORDER BY " + ", ".join(
            f"{_id(v)} {'ASC NULLS FIRST' if asc else 'DESC NULLS LAST'}" for v, asc in order_vars
        )
    # SPARQL OFFSET skips k solutions after ORDER BY, before LIMIT
    if limit is not None:
        text += f" LIMIT {limit}"
    if offset is not None:
        text += f" OFFSET {offset}"
    return text, cols


def _agg_sql(func: str, dist: bool, target, sep: str) -> str:
    """One SPARQL aggregate -> a Spark SQL aggregate expression.
    GROUP_CONCAT sorts its operands so the result is deterministic under
    Spark's nondeterministic row order (SPARQL leaves concat order
    implementation-defined); SAMPLE is pinned to MIN for the same reason."""
    if func == "COUNT" and target is None:
        return "count(1)"
    col = _id(target)
    if func == "COUNT":
        return f"count(DISTINCT {col})" if dist else f"count({col})"
    if func in ("MIN", "MAX", "SAMPLE"):
        return f"{'max' if func == 'MAX' else 'min'}({col})"
    if func in ("SUM", "AVG"):
        # the graph stores strings; numeric literals aggregate as doubles
        # (rdflib promotes the same way for mixed input)
        return f"{func.lower()}(CAST({col} AS DOUBLE))"
    if func == "GROUP_CONCAT":
        collected = f"collect_{'set' if dist else 'list'}({col})"
        return f"array_join(array_sort({collected}), {_q(sep)})"
    raise SparqlError(f"unsupported aggregate {func}")


_HAVING = re.compile(
    r"""(?isx)^\s*(COUNT|MIN|MAX|SUM|AVG|SAMPLE)\s*\(\s*(DISTINCT\s+)?(\?[\w]+|\*)\s*\)
        \s*(!=|<=|>=|=|<|>)\s*("(?:[^"\\]|\\.)*"|[0-9.]+)\s*$"""
)


def _having_sql(text: str, bound: set) -> str:
    """HAVING(AGG([DISTINCT] ?v|*) cmp literal) -> a SQL condition. Quoted
    literals compare lexically; bare numbers numerically (the aggregate is
    cast to double)."""
    m = _HAVING.match(text)
    if not m:
        raise SparqlError(
            f"unsupported HAVING expression {text!r} — expected "
            "AGG([DISTINCT] ?var|*) <op> <number|string>"
        )
    func, dist, target, op, lit = (
        m.group(1).upper(), bool(m.group(2)), m.group(3), m.group(4), m.group(5),
    )
    if func != "COUNT" and target == "*":
        raise SparqlError(f"{func}(*) is not valid SPARQL")
    tname = None if target == "*" else target[1:]
    if tname is not None and tname not in bound:
        raise SparqlError(f"unbound variable ?{tname} in HAVING")
    agg = _agg_sql(func, dist, tname, " ")
    if lit.startswith('"'):
        return _cmp(agg, op, _q(re.sub(r'\\(["\\])', r"\1", lit[1:-1])), False)
    return _cmp(agg, op, _q(repr(float(lit))), True)


def sparql_construct(edges: DataFrame, query: str) -> DataFrame:
    """CONSTRUCT { template triples } WHERE { ... } -> an edges-shaped
    (subj, pred, obj) DataFrame: the rule-based materialization verb (e.g.
    derive inverse or shortcut edges from matched patterns). Template
    variables must be bound by the WHERE block; constants are allowed in
    any position. SPARQL graph semantics: the result is a triple SET
    (distinct), ready to union into the edges table.

    Compiles to: WHERE block via the SELECT machinery, one projection per
    template triple, unionByName, dropDuplicates — the same
    partial-aggregated dedup shuffle union_distinct uses at scale."""
    m = re.search(r"(?is)^" + _PREFIX_BLOCK + r"CONSTRUCT\s*\{(.*?)\}\s*(WHERE\s*\{.*)$", query.strip())
    if not m:
        raise SparqlError("expected CONSTRUCT { template } WHERE { ... }")
    prefixes = _prefixes(m.group(1))[0]
    template = _parse_patterns(m.group(2), prefixes)
    if not template:
        raise SparqlError("empty CONSTRUCT template")
    if any(isinstance(t, _Path) for pat in template for t in pat):
        raise SparqlError("property paths are not allowed in a CONSTRUCT template")
    tmpl_vars = sorted(
        {t.value for pat in template for t in pat if t.kind == "var"}
    )
    inner = f"{m.group(1)} SELECT {' '.join('?' + v for v in tmpl_vars)} {m.group(3)}"
    bindings = sparql_select(edges, inner)
    return (
        _instantiate_template(bindings, template)
        .select("subj", "pred", "obj")
        .dropDuplicates(["subj", "pred", "obj"])
    )


def sparql_ask(edges: DataFrame, query: str) -> bool:
    """ASK { patterns } / ASK WHERE { patterns } -> does any binding exist?
    Compiles to the SELECT machinery with LIMIT 1 — the scan stops at the
    first match (Spark's limit is pushed into the job as a take(1))."""
    m = re.search(r"(?is)^" + _PREFIX_BLOCK + r"ASK\s*(?:WHERE\s*)?(\{.*\})\s*$", query.strip())
    if not m:
        raise SparqlError("expected ASK [WHERE] { ... }")
    inner = f"{m.group(1)} SELECT * WHERE {m.group(2)} LIMIT 1"
    return len(sparql_select(edges, inner).take(1)) > 0


def sparql_describe(edges: DataFrame, query: str) -> DataFrame:
    """DESCRIBE <iri> [<iri> ...] or DESCRIBE ?v [?w ...] WHERE { ... } ->
    an edges-shaped (subj, pred, obj) DataFrame holding the concise bounded
    description of each resource: every triple whose subject is a described
    resource, recursively pulling in the descriptions of blank-node objects
    (CBD — the same default Jena and rdflib serve for DESCRIBE; which
    triples DESCRIBE returns is implementation-defined in SPARQL 1.1 §16.4).

    Plan shape: constants become an isin filter on the subject scan;
    variables run the WHERE block through the SELECT machinery and
    left-semi-join the edges table against the distinct binding set — no
    collect, targets stay distributed. The blank-node closure is a
    session.seminaive loop over the described triples, depth-bounded like
    rdflib's at 8 rounds; each round adds the triples of the blank-node
    objects the last round added that are not yet subjects. Its rounds run
    while the plan is built — the evaluation contract of `+`/`*` paths;
    graphs here hold bnodes only from Turtle-ingested property lists, so
    rounds are shallow."""
    m = re.search(
        r"(?is)^" + _PREFIX_BLOCK + r"DESCRIBE\s+((?:[^\s{]+\s*)+?)(WHERE\s*\{.*)?$",
        query.strip(),
    )
    if not m:
        raise SparqlError("expected DESCRIBE <iri>... or DESCRIBE ?v ... WHERE { ... }")
    prefixes = _prefixes(m.group(1))[0]
    terms = [_parse_term(t, prefixes) for t in _TOKEN.findall(m.group(2))]
    if not terms:
        raise SparqlError("DESCRIBE needs at least one resource or variable")
    vars_ = [t.value for t in terms if t.kind == "var"]
    consts = [t.value for t in terms if t.kind == "const"]

    edges = edges.select("subj", "pred", "obj")
    if vars_:
        if not m.group(3):
            raise SparqlError("DESCRIBE with variables needs a WHERE block")
        inner = f"{m.group(1)} SELECT {' '.join('?' + v for v in vars_)} {m.group(3)}"
        bindings = sparql_select(edges, inner)
        tgt = None
        for v in vars_:
            part = bindings.select(F.col(v).alias("subj")).filter(
                F.col("subj").isNotNull()
            )
            tgt = part if tgt is None else tgt.unionByName(part)
        if consts:
            tgt = tgt.unionByName(
                local_frame(edges.sparkSession, [(c,) for c in consts], "subj string")
            )
        base = edges.join(tgt, "subj", "left_semi")
    else:
        base = edges.filter(F.col("subj").isin(consts))

    def expand(frontier, out, rnd):
        # round 1's frontier is the seed's triples, later ones the blank
        # nodes the round before added
        rows = frontier if rnd == 1 else edges.join(frontier, "subj", "left_semi")
        return (
            rows.filter(F.col("obj").startswith("_:"))
            .select(F.col("obj").alias("subj"))
            .distinct()
            .join(out.select("subj"), "subj", "left_anti")
        )

    out, _ = seminaive(
        base, expand, lambda out, bn: out.unionByName(edges.join(bn, "subj", "left_semi")),
        max_rounds=8,
    )
    return out.dropDuplicates(["subj", "pred", "obj"])


def _instantiate_template(bindings: DataFrame, template) -> DataFrame:
    """Project one (subj, pred, obj, lang, obj_is_literal) frame per
    template triple from a solution set and union them — shared by
    CONSTRUCT and the update verbs. A solution that leaves one of a
    triple's variables unbound produces no triple (SPARQL 1.1 §16.2). A
    constant object carries its term's tag and kind; a variable object is
    untagged, of the kind its term-type companion says (null: unknown)."""
    frames = []
    for s, p, o in template:
        cols = [
            (F.col(t.value) if t.kind == "var" else F.lit(t.value)).alias(name)
            for name, t in (("subj", s), ("pred", p), ("obj", o))
        ]
        cols.append(
            (F.lit(o.lang) if (o.kind == "const" and o.lang) else F.lit(None).cast("string")).alias("lang")
        )
        if o.kind == "const":
            is_lit = F.lit(o.literal)
        elif _LIT_PFX + o.value in bindings.columns:
            is_lit = F.col(_LIT_PFX + o.value) == "true"
        else:
            is_lit = F.lit(None).cast("boolean")
        cols.append(is_lit.alias("obj_is_literal"))
        bound = bindings.dropna(subset=[t.value for t in (s, p, o) if t.kind == "var"])
        frames.append(bound.select(*cols))
    out = frames[0]
    for nxt in frames[1:]:
        out = out.unionByName(nxt)
    return out


def sparql_update(edges: DataFrame, query: str) -> DataFrame:
    """SPARQL 1.1 Update (§3 graph-update subset) applied FUNCTIONALLY:
    returns the updated edges DataFrame instead of mutating a store — the
    lazy-plan twin of rdflib's `graph.update(...)` over the reference's
    finished graph (ref src/graph.py builds exactly such an rdflib store).
    Callers persist the result wherever the previous snapshot lived
    (wbkg/ops/table.py merge_upsert is the upsert-shaped alternative when
    changes arrive as a batch, not a query).

    Supported operations, ';'-separated and applied left to right:

        INSERT DATA { ground triples }
        DELETE DATA { ground triples }
        DELETE WHERE { bgp }                      # pattern is its own template
        DELETE { template } INSERT { template } WHERE { group }
        DELETE { template } WHERE { group }
        INSERT { template } WHERE { group }

    Semantics: the graph is a triple SET — inserts that already exist are
    no-ops (anti-join before the union), deletes remove every row matching
    (subj, pred, obj). A "lit"@tag object in DATA matches/creates the
    `lang` companion null-safely when the input carries that column;
    WHERE-driven templates instantiate lang only for constant tagged
    literals (variables project the plain obj binding). When the input
    carries `obj_is_literal`, deltas carry it too: a constant object's term
    kind, a variable's term type from its WHERE binding, if any.

    Plan shape per op: deletes are ONE left-anti join of the snapshot
    against the (small) delete set; inserts are one anti-join + union.
    WHERE blocks compile through the full SELECT machinery (joins that
    Catalyst/AQE reorder and broadcast), so cost is carried by the match,
    not the apply — at 100 TB the snapshot streams through exactly once
    per op."""
    q = query.strip()
    prefix_block = re.match(r"(?is)^" + _PREFIX_BLOCK, q).group(1)
    prefixes, body = _prefixes(prefix_block)[0], q[len(prefix_block):]
    cur = edges

    for op in [op.strip() for op in _split_top(body, ";") if op.strip()]:
        m_data = re.match(r"(?is)^(INSERT|DELETE)\s+DATA\s*\{(.*)\}\s*$", op)
        m_delwhere = re.match(r"(?is)^DELETE\s+WHERE\s*\{(.*)\}\s*$", op)
        m_modify = re.match(
            r"(?is)^(?:DELETE\s*\{(.*?)\}\s*)?(?:INSERT\s*\{(.*?)\}\s*)?WHERE\s*(\{.*\})\s*$",
            op,
        )
        if m_data:
            verb = m_data.group(1).upper()
            triples = _parse_patterns(m_data.group(2), prefixes)
            if any(t.kind == "var" for pat in triples for t in pat):
                raise SparqlError(f"{verb} DATA requires ground triples")
            rows = [
                (s.value, p.value, o.value, o.lang, o.literal) for s, p, o in triples
            ]
            delta = local_frame(
                cur.sparkSession,
                rows,
                "subj string, pred string, obj string, lang string, obj_is_literal boolean",
            )
            cur = _apply_delta(cur, delta, insert=(verb == "INSERT"), lang_exact=True)
            continue
        if m_delwhere:
            pattern_block = "{" + m_delwhere.group(1) + "}"
            template = _parse_patterns(m_delwhere.group(1), prefixes)
            if any(isinstance(t, _Path) for pat in template for t in pat):
                raise SparqlError("property paths are not allowed in DELETE WHERE")
            delta = _instantiate_template(
                _update_bindings(cur, prefix_block, template, pattern_block), template
            )
            cur = _apply_delta(cur, delta, insert=False, lang_exact=False)
            continue
        if m_modify and (m_modify.group(1) or m_modify.group(2)):
            where_block = m_modify.group(3)
            # SPARQL 1.1 §3.1.3: WHERE is evaluated ONCE against the
            # pre-operation graph; both templates instantiate from those
            # solutions, then delete applies before insert.
            deltas = []
            for tmpl_text, insert in ((m_modify.group(1), False), (m_modify.group(2), True)):
                if tmpl_text is None:
                    continue
                template = _parse_patterns(tmpl_text, prefixes)
                if not template:
                    raise SparqlError("empty update template")
                if any(isinstance(t, _Path) for pat in template for t in pat):
                    raise SparqlError("property paths are not allowed in update templates")
                deltas.append(
                    (
                        _instantiate_template(
                            _update_bindings(cur, prefix_block, template, where_block),
                            template,
                        ).transform(cut, eager=True),
                        insert,
                    )
                )
            for delta, insert in deltas:
                cur = _apply_delta(cur, delta, insert=insert, lang_exact=insert)
            continue
        raise SparqlError(f"unsupported update operation: {op[:80]}")
    return cur


def _update_bindings(cur: DataFrame, prefix_block: str, template, where_block: str) -> DataFrame:
    """Solutions for an update WHERE block, projected to the template's
    variables (SELECT * when the template is ground — one dummy row set).
    Over a snapshot with obj_is_literal, each template object variable also
    brings its term type: the solutions' own term-type companion when a
    triple pattern (or a path that carries the kind, _path_kind) binds it
    at object position, "true" when a BIND does (BIND yields literals); a
    variable bound only at subject or predicate position, or through a
    `+`/`*`/`?` path, gets none: its kind is unknown."""
    tmpl_vars = sorted({t.value for pat in template for t in pat if t.kind == "var"})
    proj, from_bind = ["?" + v for v in tmpl_vars], []
    if "obj_is_literal" in cur.columns:
        at_obj, by_bind = set(), set()
        _binding_sources(
            parse_sparql(f"{prefix_block} SELECT * WHERE {where_block}")[2], at_obj, by_bind
        )
        for v in sorted({o.value for _s, _p, o in template if o.kind == "var"}):
            if v in at_obj:
                proj.append("?" + _LIT_PFX + v)
            elif v in by_bind:
                from_bind.append(v)
    out = sparql_select(cur, f"{prefix_block} SELECT {' '.join(proj) or '*'} WHERE {where_block}")
    for v in from_bind:
        out = out.withColumn(_LIT_PFX + v, F.lit("true"))
    return out


def _binding_sources(body, at_obj: set, by_bind: set) -> None:
    """Collect the variables a parsed WHERE body binds in scope at the
    object position of a triple pattern whose scan carries the term kind —
    the ones _compile_bgp gives a term-type companion (a variable repeated
    within one pattern binds at its first position) — into at_obj, and
    BIND targets into by_bind."""
    for g in body:
        for s, p, o in g.patterns:
            kind = not isinstance(p, _Path) or _path_kind(p.root)
            if kind and o.kind == "var" and o.value not in {
                t.value for t in (s, p) if t.kind == "var"
            }:
                at_obj.add(o.value)
        by_bind.update(v for _e, v in g.binds)
        for sub in g.optionals + g.subgroups:
            _binding_sources(sub, at_obj, by_bind)


def _apply_delta(cur: DataFrame, delta: DataFrame, insert: bool, lang_exact: bool) -> DataFrame:
    """The delta's lang / obj_is_literal columns are kept only where the
    snapshot has them. Insert: drop duplicate delta rows and those already
    in the snapshot (set semantics), null-fill any snapshot columns the
    delta lacks, union. Delete: one left-anti join on (subj, pred, obj) —
    plus the lang companion null-safely when the snapshot carries it AND
    the delta is lang-exact. Inserts are always lang-exact (a template's
    constant tagged literal carries its tag; variables insert untagged);
    WHERE-driven DELETEs are not (a variable object binds the plain obj
    value, so it must match a tagged literal regardless of its tag). With
    obj_is_literal, a delta row of known term kind matches only that kind
    (a null snapshot flag reads as a literal, as the compiler reads it);
    one of unknown kind matches either, and is inserted as an IRI."""
    kind = "obj_is_literal" in cur.columns
    delta = delta.drop(*[c for c in ("lang", "obj_is_literal") if c not in cur.columns])
    cond = [cur[k] == delta[k] for k in ("subj", "pred", "obj")]
    if "lang" in cur.columns and (lang_exact or insert):
        cond.append(cur["lang"].eqNullSafe(delta["lang"]))
    if kind:
        flag = delta["obj_is_literal"]
        cond.append(flag.isNull() | (F.coalesce(cur["obj_is_literal"], F.lit(True)) == flag))
    if insert:
        new = delta.join(cur, cond, "left_anti")
        if kind:
            new = new.fillna(False, subset=["obj_is_literal"])
        return cur.unionByName(new.dropDuplicates(), allowMissingColumns=True)
    return cur.join(delta, cond, "left_anti")
