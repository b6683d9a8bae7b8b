"""graphrag_query: a generated knowledge graph, then per run a community
refresh (a write step: community and summary triples go into the edge
table) followed by a closed loop of one client issuing a fixed, seeded mix
of queries: ``sparql_select`` with three- and four-pattern star/chain BGPs,
FILTER and GROUP BY/ORDER BY/LIMIT; ``docs_mentioning``; a 2-hop
``entity_neighborhood``; and ``community_sibling_chunks``. Read-heavy with
a write step in front; extraction and linking do nothing.

The input graph is generated without Spark: the reference pipeline
(``wbkg.oracle``) yields the batch pipeline's triple set for the seeded
corpus, and the refresh's inputs (chunk-level mentions and chunk texts) are
read off those triples. Everything goes to parquet with pyarrow. That is
the benchmark's own code, so it is timed in the detail record only; the
run's set-up time is the session start.

The run refreshes the graph twice: the first refresh, on a fresh JVM, is
a warm-up and the second is measured. The query loop starts with an
unmeasured warm-up pass of the mix; then passes run until --seconds have
passed. The metrics cover the first of them; every pass is checked, and
the latency percentiles in the detail record take them all. Every query execution is checked against DuckDB's
answer over the refreshed edges parquet, computed before the loop. Leaves
hold at most 50 chunks, every chunk of the co-occurrence graph is in
exactly one leaf, and every refresh of the run must give the same leaves.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import refs
from perfbench.harness import Result, p50, p90
from perfbench.host import Clock

N_DOCS = {"small": 4, "tiny": 3}
MAX_CLUSTER = 50


def _templates():
    from wbkg.materialize import EX, RDF_TYPE, SCHEMA as S

    # the graph stores rdf:type as the string "rdf:type", which SPARQL's
    # `a` shorthand (the full rdf:type IRI) does not match
    prefix = f"PREFIX s: <{S}>\n"
    sparql = {
        # star on a chunk: which entities share chunks with entity X
        "sparql_comention": (
            prefix
            + 'SELECT ?other (COUNT(DISTINCT ?c) AS ?n) WHERE {{ ?e s:name "{name}" . '
            f"?c s:mentions ?e . ?c s:mentions ?other . ?c <{RDF_TYPE}> s:TextObject . "
            "FILTER(?other != ?e) }} GROUP BY ?other ORDER BY DESC(?n) ?other LIMIT 10"
        ),
        # chain from document metadata to entity labels
        "sparql_country_types": (
            prefix
            + "SELECT ?t (COUNT(DISTINCT ?d) AS ?docs) WHERE {{ ?d s:countryOfOrigin ?cty . "
            '?cty s:name "{country}" . ?d s:mentions ?e . ?e s:additionalType ?t . '
            'FILTER(?t != "ACRONYM") }} GROUP BY ?t ORDER BY DESC(?docs) ?t LIMIT 5'
        ),
        # chain through the refreshed communities
        "sparql_entity_communities": (
            prefix
            + "SELECT ?comm (COUNT(DISTINCT ?c) AS ?chunks) WHERE {{ ?c s:isPartOf ?comm . "
            f"?comm <{RDF_TYPE}> s:Community . " '?c s:mentions ?e . ?e s:name "{name}" }} '
            "GROUP BY ?comm ORDER BY DESC(?chunks) ?comm LIMIT 5"
        ),
    }
    duck = {
        "sparql_comention": f"""
            SELECT o.obj AS other, count(DISTINCT c.subj) AS n
            FROM e n JOIN e c ON c.obj = n.subj JOIN e o ON o.subj = c.subj
                 JOIN e t ON t.subj = c.subj
            WHERE n.pred = '{S}name' AND n.obj = $name AND c.pred = '{S}mentions'
              AND o.pred = '{S}mentions' AND t.pred = '{RDF_TYPE}' AND t.obj = '{S}TextObject'
              AND o.obj <> n.subj
            GROUP BY o.obj ORDER BY n DESC, other LIMIT 10""",
        "sparql_country_types": f"""
            SELECT t.obj AS t, count(DISTINCT d.subj) AS docs
            FROM e d JOIN e c ON c.subj = d.obj JOIN e m ON m.subj = d.subj
                 JOIN e t ON t.subj = m.obj
            WHERE d.pred = '{S}countryOfOrigin' AND c.pred = '{S}name' AND c.obj = $country
              AND m.pred = '{S}mentions' AND t.pred = '{S}additionalType'
              AND t.obj <> 'ACRONYM'
            GROUP BY t.obj ORDER BY docs DESC, t LIMIT 5""",
        "sparql_entity_communities": f"""
            SELECT p.obj AS comm, count(DISTINCT p.subj) AS chunks
            FROM e p JOIN e k ON k.subj = p.obj JOIN e m ON m.subj = p.subj
                 JOIN e n ON n.subj = m.obj
            WHERE p.pred = '{S}isPartOf' AND k.pred = '{RDF_TYPE}' AND k.obj = '{S}Community'
              AND m.pred = '{S}mentions' AND n.pred = '{S}name' AND n.obj = $name
            GROUP BY p.obj ORDER BY chunks DESC, comm LIMIT 5""",
        "docs_mentioning": f"""
            SELECT DISTINCT m.subj AS doc_uri
            FROM e m JOIN e n ON m.obj = n.subj
            WHERE m.pred = '{S}mentions' AND starts_with(m.subj, '{EX}document/')
              AND n.pred = '{S}name' AND lower(n.obj) = lower($name)""",
        "entity_neighborhood": """
            WITH sym AS (SELECT subj AS src, obj AS dst FROM e
                         UNION ALL SELECT obj, subj FROM e),
            h1 AS (SELECT DISTINCT dst AS node FROM sym WHERE src = $start AND dst <> $start),
            h2 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN h1 ON s.src = h1.node
                   WHERE s.dst <> $start AND s.dst NOT IN (SELECT node FROM h1))
            SELECT $start AS node, 0 AS hop UNION ALL SELECT node, 1 FROM h1
            UNION ALL SELECT node, 2 FROM h2""",
        "community_sibling_chunks": f"""
            WITH ents AS (SELECT DISTINCT subj FROM e
                          WHERE pred = '{S}name' AND lower(obj) = lower($name)),
            chunks AS (SELECT DISTINCT subj FROM e
                       WHERE pred = '{S}mentions' AND obj IN (SELECT subj FROM ents)),
            comms AS (SELECT DISTINCT obj FROM e
                      WHERE pred = '{S}isPartOf' AND subj IN (SELECT subj FROM chunks))
            SELECT DISTINCT subj AS chunk_uri FROM e
            WHERE pred = '{S}isPartOf' AND obj IN (SELECT obj FROM comms)""",
    }
    # parameter pools, each read off the graph
    pools = {
        "name": f"""
            SELECT DISTINCT n.obj FROM e n JOIN e c ON c.obj = n.subj
            WHERE n.pred = '{S}name' AND c.pred = '{S}mentions'
              AND starts_with(c.subj, '{EX}chunk/') ORDER BY 1""",
        "country": f"""
            SELECT DISTINCT c.obj FROM e d JOIN e c ON c.subj = d.obj
            WHERE d.pred = '{S}countryOfOrigin' AND c.pred = '{S}name' ORDER BY 1""",
        "start": f"""
            SELECT DISTINCT subj FROM e
            WHERE pred = '{S}name' AND starts_with(subj, '{EX}entity/') ORDER BY 1""",
    }
    return sparql, duck, pools


SPARQL, DUCK, POOLS = _templates()
ORDERED = {"sparql_comention", "sparql_country_types", "sparql_entity_communities"}
# query kind -> parameter pool; a pass of the closed loop runs one instance
# of every kind
MIX = {
    "sparql_comention": "name",
    "sparql_country_types": "country",
    "sparql_entity_communities": "name",
    "docs_mentioning": "name",
    "entity_neighborhood": "start",
    "community_sibling_chunks": "name",
}


def _iri_preds() -> set:
    """Predicates whose objects are IRIs in the batch pipeline's output;
    every other object is a literal."""
    from wbkg.materialize import RDF_TYPE, RDFS_SUBCLASS, SCHEMA as S

    return {RDF_TYPE, RDFS_SUBCLASS} | {
        S + p for p in ("mentions", "isPartOf", "countryOfOrigin", "funder", "sameAs")
    }


def write_graph(n: int, seed: int, dest: str) -> None:
    """Set-up: the seeded corpus's triples from the reference pipeline, plus
    the refresh's inputs read off them, as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wbkg.materialize import EX, SCHEMA, WD

    triples = sorted(refs.pipeline_triples(n, seed, weight=1))
    iri_preds = _iri_preds()
    edges = pa.table({
        "subj": [t[0] for t in triples],
        "pred": [t[1] for t in triples],
        "obj": [t[2] for t in triples],
        "obj_is_literal": [t[1] not in iri_preds for t in triples],
        "lang": pa.nulls(len(triples), pa.string()),
    })
    chunk, ent = EX + "chunk/", EX + "entity/"
    linked = {"chunk_id": [], "qid_c": [], "rdf_safe_c": []}
    chunks = {"chunk_id": [], "text": []}
    for s, p, o in triples:
        if not s.startswith(chunk):
            continue
        if p == SCHEMA + "mentions":
            qid = o[len(WD):] if o.startswith(WD) else None
            linked["chunk_id"].append(s[len(chunk):])
            linked["qid_c"].append(qid)
            linked["rdf_safe_c"].append(qid or o[len(ent):])
        elif p == SCHEMA + "text":
            chunks["chunk_id"].append(s[len(chunk):])
            chunks["text"].append(o)
    linked = pa.table(linked, schema=pa.schema(
        [("chunk_id", pa.string()), ("qid_c", pa.string()), ("rdf_safe_c", pa.string())]
    ))
    for name, table in (("edges", edges), ("linked", linked), ("chunks", pa.table(chunks))):
        os.makedirs(os.path.join(dest, name))
        pq.write_table(table, os.path.join(dest, name, "part-0.parquet"))


def refresh(ctx, graph: str, dest: str):
    """Community refresh: co-occurrence graph -> hierarchical communities
    (leaves of at most MAX_CLUSTER chunks) -> community and summary triples
    unioned into the edge table, written to `dest`. Returns the leaf rows
    (chunk_id, community_id) and the co-occurrence graph's chunk ids."""
    from wbkg.communities import (
        community_triples,
        cooccurrence_edges,
        final_communities,
        hierarchical_communities,
        summarize_communities,
        summary_triples,
    )
    from wbkg.materialize import union_distinct

    spark, tracer = ctx.spark, ctx.tracer
    edges = spark.read.parquet(os.path.join(graph, "edges"))
    linked = spark.read.parquet(os.path.join(graph, "linked"))
    chunks = spark.read.parquet(os.path.join(graph, "chunks"))
    with tracer.layer("communities"):
        co = cooccurrence_edges(linked).persist()
        n_co = co.count()
        leaves = final_communities(
            hierarchical_communities(co, max_cluster_size=MAX_CLUSTER)
        ).persist()
        leaf_rows = [(r["chunk_id"], r["community_id"]) for r in leaves.collect()]
        new = [community_triples(leaves), summary_triples(summarize_communities(leaves, chunks))]
    out = union_distinct(edges, *new)
    with tracer.layer("materialize"):
        out.write.parquet(dest)
    tracer.count("communities.cooc_edges", n_co)
    tracer.io("communities", n_co, len(leaf_rows))
    cooc_chunks = {r[0] for r in co.select("src").union(co.select("dst")).distinct().collect()}
    ctx.release()
    return sorted(leaf_rows), cooc_chunks


def check_leaves(leaf_rows: list, cooc_chunks: set) -> list:
    """Leaves hold at most MAX_CLUSTER chunks; every chunk of the
    co-occurrence graph is in exactly one leaf."""
    notes = []
    sizes: dict = {}
    for _chunk, comm in leaf_rows:
        sizes[comm] = sizes.get(comm, 0) + 1
    if sizes and max(sizes.values()) > MAX_CLUSTER:
        notes.append(f"a leaf community has {max(sizes.values())} chunks > {MAX_CLUSTER}")
    chunk_ids = [c for c, _comm in leaf_rows]
    if len(chunk_ids) != len(set(chunk_ids)) or set(chunk_ids) != cooc_chunks:
        notes.append("some co-occurrence chunk is not in exactly one leaf")
    return notes


def choose_queries(con, seed: int) -> list:
    """One (kind, params) instance per kind, drawn from the seed among
    parameters whose answer is non-empty."""
    rng = random.Random(seed)
    pools = {key: [r[0] for r in con.execute(sql).fetchall()] for key, sql in POOLS.items()}
    out = []
    for kind, key in MIX.items():
        pool = pools[key][:]
        rng.shuffle(pool)
        params = next(({key: v} for v in pool if con.execute(DUCK[kind], {key: v}).fetchall()), None)
        if params is None:
            raise RuntimeError(f"the graph has no non-empty {kind} query")
        out.append((kind, params))
    return out


def _rows(kind: str, rows) -> list:
    rows = [tuple(r) for r in rows]
    return rows if kind in ORDERED else sorted(rows)


def run_query(ctx, edges, n_edges: int, kind: str, params: dict) -> list:
    from wbkg import query
    from wbkg.sparql import sparql_select

    tracer = ctx.tracer
    if kind.startswith("sparql"):
        with tracer.layer("sparql"):
            t0 = time.perf_counter()
            df = sparql_select(edges, SPARQL[kind].format(**params))
            t1 = time.perf_counter()
            rows = df.collect()
        tracer.sample("sparql.plan_ms", (t1 - t0) * 1e3)
        tracer.sample("sparql.exec_ms", (time.perf_counter() - t1) * 1e3)
        tracer.io("sparql", n_edges, len(rows))
        return _rows(kind, rows)
    with tracer.layer("query"):
        if kind == "docs_mentioning":
            rows = query.docs_mentioning(edges, params["name"]).collect()
        elif kind == "entity_neighborhood":
            rows = query.entity_neighborhood(edges, params["start"], hops=2).collect()
        else:
            rows = query.community_sibling_chunks(edges, params["name"]).collect()
    tracer.io("query", n_edges, len(rows))
    return _rows(kind, rows)


def run(ctx) -> Result:
    import duckdb

    spark, tracer = ctx.spark, ctx.tracer
    n = N_DOCS[ctx.size]

    graph = ctx.path("graph")
    with ctx.phase("inputs"):
        write_graph(n, ctx.seed, graph)

    notes: list = []
    tally = {"attempted": 0, "failed": 0}
    refreshes = []  # each refresh's leaf rows, in order

    def timed_refresh(dest: str):
        with Clock(ctx.tree) as clk:
            leaf_rows, cooc_chunks = refresh(ctx, graph, dest)
        bad = check_leaves(leaf_rows, cooc_chunks)
        notes.extend(bad)
        tally["attempted"] += 1
        tally["failed"] += bool(bad)
        refreshes.append(leaf_rows)
        return clk

    refreshed = ctx.path("edges_refreshed")
    with ctx.phase("warmup"):
        timed_refresh(ctx.path("edges_cold"))
    with ctx.phase("refresh"):
        clk = timed_refresh(refreshed)

    with ctx.phase("reference"):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{refreshed}/*.parquet')")
        n_triples = con.execute("SELECT count(*) FROM e").fetchone()[0]
        base = con.execute(
            f"SELECT count(*) FROM read_parquet('{graph}/edges/*.parquet')"
        ).fetchone()[0]
        instances = [
            (kind, p, _rows(kind, con.execute(DUCK[kind], p).fetchall()))
            for kind, p in choose_queries(con, ctx.seed)
        ]
        con.close()

    edges = spark.read.parquet(refreshed).persist()
    random.Random(ctx.seed + 1).shuffle(instances)

    def one_pass() -> tuple:
        """Each query of the mix once, in the seeded order -> (latencies in
        ms, the pass's wall seconds, the pass's /proc CPU seconds)."""
        out = []
        with Clock(ctx.tree) as pass_clk:
            for kind, p, rows in instances:
                t0 = time.perf_counter()
                got = run_query(ctx, edges, n_triples, kind, p)
                out.append((time.perf_counter() - t0) * 1e3)
                tally["attempted"] += 1
                if got != rows:
                    tally["failed"] += 1
                    notes.append(f"{kind} {p}: {len(got)} rows, DuckDB {len(rows)}")
        return out, pass_clk.wall_s, pass_clk.cpu_s

    with ctx.phase("warmup"):
        one_pass()
    with ctx.phase("queries"):
        passes = ctx.timed_loop(one_pass)
    # the metrics cover the first pass after the warm-up, whatever the
    # number of passes: later ones run warmer still
    measured_ms, measured_s, measured_cpu = passes[0]
    untraced_s = clk.wall_s + measured_s
    if ctx.trace:
        with ctx.phase("trace"):
            # the measured work again, untraced and warm, then traced
            t0 = time.perf_counter()
            timed_refresh(ctx.path("edges_warm"))
            one_pass()
            untraced_s = time.perf_counter() - t0
            with tracer.tracing():
                timed_refresh(ctx.path("edges_traced"))
                one_pass()

    if any(r != refreshes[0] for r in refreshes[1:]):
        tally["failed"] += 1
        notes.append("refreshes of the same graph gave different leaves")

    ms = [m for p in passes for m in p[0]]
    return Result(
        e2e={
            "setup_s": 0.0,
            "write_cpu_s": clk.cpu_s,
            "op_ms": measured_s / len(measured_ms) * 1e3,
            "op_cpu_ms": measured_cpu / len(measured_ms) * 1e3,
        },
        detail={
            "community_refresh_s": (clk.wall_s, "s"),
            # the refresh rewrites the whole edge table
            "triples_per_s": (n_triples / clk.wall_s, "triples/s"),
            "triples_per_cpu_s": (n_triples / clk.cpu_s, "triples/cpu_s"),
            "query_p50_ms": (p50(ms), "ms"),
            "query_p90_ms": (p90(ms), "ms"),
            "queries": (len(ms), "count"),
            "new_triples": (n_triples - base, "triples"),
            "graph_triples": (n_triples, "triples"),
            "leaves": (len({c for _ch, c in refreshes[0]}), "count"),
            "docs": (n, "docs"),
        },
        attempted=tally["attempted"],
        failed=tally["failed"],
        notes=notes,
        untraced_wall_s=untraced_s,
    )
