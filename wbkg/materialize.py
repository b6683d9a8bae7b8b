"""Stage 5 — triple materialization (C6/C7, SO1, J4-J6, A1, P1, P7, J9, K1).

The reference accumulates rdflib triples (a set) and serializes Turtle
(src/graph.py). Here the graph IS two tables:

    edges (subj, pred, obj, obj_is_literal, lang)
    nodes (uri, type, name, qid)

rdflib-set semantics == union-distinct over all per-stage edge frames (SO1;
double-adds like src/summarize.py:181,190 collapse). Turtle export is a sink
(mapPartitions formatter), not the storage model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCHEMA = "http://schema.org/"
WD = "http://www.wikidata.org/entity/"
EX = "http://worldbank.example.org/"
RDF_TYPE = "rdf:type"
RDFS_SUBCLASS = "rdfs:subClassOf"
RDFS_LABEL = "rdfs:label"

# ref src/graph.py:24-33
COLUMN_TO_SCHEMA = {
    "id": "identifier",
    "display_title": "name",
    "last_modified_date": "dateModified",
    "pdfurl": "url",
    "year": "datePublished",
    "docty": "genre",
    "owner": "creator",
}


def _uri(ns: str, *parts) -> "F.Column":
    return F.concat(F.lit(ns), *parts)


def _triple(subj, pred, obj, is_literal: bool, lang: str | None = None):
    """One edge as a struct column — triple projections build an array of
    these and explode ONCE, so a stage emits any number of triple kinds in a
    single pass instead of one union branch per kind (narrow plans; one
    codegen unit; one downstream dedup shuffle)."""
    return F.struct(
        subj.cast("string").alias("subj"),
        (pred if not isinstance(pred, str) else F.lit(pred)).alias("pred"),
        obj.cast("string").alias("obj"),
        F.lit(is_literal).alias("obj_is_literal"),
        F.lit(lang).cast("string").alias("lang"),
    )


def _explode_triples(df: DataFrame, *arrays) -> DataFrame:
    arr = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    return (
        df.select(F.explode(arr).alias("t"))
        .select("t.*")
        .filter(F.col("obj").isNotNull() & F.col("subj").isNotNull())
    )


def _lit_edges(df: DataFrame, subj, pred: str, obj, lang: str | None = None) -> DataFrame:
    return df.select(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        obj.cast("string").alias("obj"),
        F.lit(True).alias("obj_is_literal"),
        F.lit(lang).cast("string").alias("lang"),
    )


def _uri_edges(df: DataFrame, subj, pred: str, obj) -> DataFrame:
    return df.select(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("lang"),
    )


def union_distinct(*frames: DataFrame) -> DataFrame:
    """SO1 — rdflib Graph set semantics (union of all g.add calls)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.dropDuplicates(["subj", "pred", "obj"])


def entity_uri_col(qid_col: str, rdf_safe_col: str):
    """wd:<qid> if linked else ex:entity/<rdf_safe> (ref src/graph.py:681)."""
    return F.when(
        F.col(qid_col).isNotNull(), _uri(WD, F.col(qid_col))
    ).otherwise(_uri(EX, F.lit("entity/"), F.col(rdf_safe_col)))


# --------------------------------------------------------------------------- #
# C6 — entity + doc->entity triples (ref src/graph.py:665-696)                 #
# --------------------------------------------------------------------------- #


def entity_triples(linked: DataFrame) -> DataFrame:
    """linked mentions (canonicalized) -> C6 triples.

    One distinct (shrinks the Zipfian mention stream to unique
    (doc, entity, surface, label) combos — the expensive dedup happens ONCE
    here) then a single explode emitting all four triple kinds."""
    base = (
        linked.filter(F.col("surface").isNotNull() & F.col("rdf_safe_c").isNotNull())
        .select(
            entity_uri_col("qid_c", "rdf_safe_c").alias("ent_uri"),
            "surface",
            "label",
            _uri(EX, F.lit("document/"), F.col("doc_id")).alias("doc_uri"),
        )
        .distinct()
    )
    ent = F.col("ent_uri")
    arr = F.array(
        _triple(ent, RDF_TYPE, F.lit(SCHEMA + "Thing"), False),
        _triple(ent, SCHEMA + "name", F.col("surface"), True),
        _triple(ent, SCHEMA + "additionalType", F.col("label"), True),
        _triple(F.col("doc_uri"), SCHEMA + "mentions", ent, False),
    )
    return _explode_triples(base, arr)


# --------------------------------------------------------------------------- #
# C7 — chunk triples (ref src/graph.py:700-752), J8 semi-join gate             #
# --------------------------------------------------------------------------- #


def chunk_node_triples(chunks: DataFrame) -> DataFrame:
    """chunk type/text/isPartOf triples. These are UNIQUE BY CONSTRUCTION
    (one chunk row per chunk_id), so the pipeline can union them in after
    dedup — the heavy schema:text payload never rides through the
    dropDuplicates shuffle."""
    chunk_uri = _uri(EX, F.lit("chunk/"), F.col("chunk_id"))
    doc_uri = _uri(EX, F.lit("document/"), F.col("doc_id"))
    base = chunks.select(chunk_uri.alias("chunk_uri"), doc_uri.alias("doc_uri"), "text")
    cu = F.col("chunk_uri")
    node_arr = F.array(
        _triple(cu, RDF_TYPE, F.lit(SCHEMA + "TextObject"), False),
        _triple(cu, SCHEMA + "text", F.col("text"), True),
        _triple(cu, SCHEMA + "isPartOf", F.col("doc_uri"), False),
    )
    return _explode_triples(base, node_arr)


def chunk_mention_triples(linked: DataFrame, typed_entities: DataFrame) -> DataFrame:
    """chunk->entity mentions gated by a left SEMI join against already-typed
    entity URIs (graph.py:747)."""
    pairs = linked.select(
        _uri(EX, F.lit("chunk/"), F.col("chunk_id")).alias("chunk_uri"),
        entity_uri_col("qid_c", "rdf_safe_c").alias("ent_uri"),
    ).distinct()
    gated = pairs.join(
        typed_entities.select(F.col("uri").alias("ent_uri")), "ent_uri", "left_semi"
    )
    return _uri_edges(gated, F.col("chunk_uri"), SCHEMA + "mentions", F.col("ent_uri"))


# --------------------------------------------------------------------------- #
# Metadata KG (ref src/graph.py:755-768 build(); SURVEY §3.2)                  #
# --------------------------------------------------------------------------- #


def _build_fold_table() -> tuple[str, str]:
    """1:1 accent-fold translate table generated from NFKD over the Latin
    blocks (Latin-1 Supplement through Latin Extended-B + a few strays) —
    driver-side at import, applied JVM-side via F.translate. Covers every
    1-char-decomposable letter the reference's unidecode would fold."""
    import unicodedata as _ud

    src, dst = [], []
    for cp in list(range(0x00C0, 0x0250)) + [0x0131, 0x0130]:
        ch = chr(cp)
        de = _ud.normalize("NFKD", ch)
        base = "".join(c for c in de if not _ud.combining(c))
        if base != ch and len(base) == 1 and base.isascii() and base.isalpha():
            src.append(ch)
            dst.append(base)
    return "".join(src), "".join(dst)


SAN_SRC, SAN_DST = _build_fold_table()
# ligatures / letters with no NFKD decomposition (unidecode folds these too)
SAN_MULTI = [
    ("Æ", "AE"), ("æ", "ae"), ("Œ", "OE"), ("œ", "oe"), ("ß", "ss"),
    ("Ø", "O"), ("ø", "o"), ("Ð", "D"), ("ð", "d"), ("Þ", "Th"), ("þ", "th"),
    ("Ł", "L"), ("ł", "l"), ("Đ", "D"), ("đ", "d"), ("ı", "i"),
]


def sanitize_str_py(s) -> str | None:
    """Pure-Python twin of sanitize_column (shared with the oracle)."""
    import re as _re

    if s is None:
        return None
    s = str(s)
    for a, b in SAN_MULTI:
        s = s.replace(a, b)
    s = s.translate(str.maketrans(SAN_SRC, SAN_DST))
    s = _re.sub(r"\s+", "_", s)
    s = s.replace("-", "_").strip("_")
    return None if s == "nan" else s


def sanitize_column(col):
    """P1 — accent fold, \\s+ -> _, '-' -> _, strip '_', 'nan' -> null
    (ref src/graph.py:141-149). Folding = ligature replacements + an
    NFKD-generated translate table, all JVM-side expressions."""
    c = col.cast("string")
    for a, b in SAN_MULTI:
        c = F.replace(c, F.lit(a), F.lit(b))
    c = F.translate(c, SAN_SRC, SAN_DST)
    c = F.regexp_replace(c, r"\s+", "_")
    c = F.regexp_replace(c, "-", "_")
    c = F.regexp_replace(c, "^_+|_+$", "")
    return F.when(c == "nan", F.lit(None)).otherwise(c)


def dedup_latest(metadata: DataFrame) -> DataFrame:
    """A1 — keep the newest row per id (ref src/graph.py:185-190)."""
    w = Window.partitionBy("id").orderBy(
        F.desc("last_modified_date"), F.desc("display_title")
    )
    return metadata.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def prepare_metadata(metadata: DataFrame) -> DataFrame:
    meta = dedup_latest(metadata)
    for c in ["docty", "count", "trustfund", "trustfund_key", "projn", "projectid", "display_title", "owner"]:
        meta = meta.withColumn(c, sanitize_column(F.col(c)))
    return meta


def metadata_triples(
    metadata: DataFrame,
    entity_dict: DataFrame,
    dedup: bool = True,
    country_props: DataFrame | None = None,
) -> DataFrame:
    """Document instances + P7 unpivot of extra columns + countries (J4) +
    projects/trustfunds (J5/J6 zip-explode) + doc->entity links.

    dedup=False skips the union-distinct when the caller dedups downstream
    anyway (avoids a double shuffle in the full pipeline)."""
    meta = prepare_metadata(metadata).cache()
    doc_uri = _uri(EX, F.lit("document/"), F.col("id"))

    # --- document instances (graph.py:482-510; primary_key=True path) +
    # --- P7 extra-column props (graph.py:459-468) + J4/J5 doc->entity links
    # --- (graph.py:546-642) — ONE exploded projection over the doc row
    docs = meta.filter(F.col("id").isNotNull())
    du = doc_uri
    static_arr = F.array(
        _triple(du, RDF_TYPE, F.lit(EX + "document"), False),
        _triple(du, SCHEMA + "identifier", F.col("id"), True),
        _triple(du, SCHEMA + "name", F.col("display_title"), True, lang="en"),
        _triple(du, SCHEMA + "url", F.col("pdfurl"), True),
        _triple(du, SCHEMA + "dateModified", F.col("last_modified_date"), True),
        _triple(du, SCHEMA + "genre", F.col("docty"), True),
        _triple(du, SCHEMA + "creator", F.col("owner"), True),
        _triple(du, SCHEMA + "countryOfOrigin", _uri(EX, F.lit("country/"), F.col("count")), False),
    )

    def link_arr(id_col: str, pred: str, ref: str):
        return F.transform(
            F.split(F.coalesce(F.col(id_col), F.lit("")), ","),
            lambda x: _triple(
                du,
                SCHEMA + pred,
                F.when(F.trim(x) != "", F.concat(F.lit(EX + ref + "/"), F.trim(x))),
                False,
            ),
        )

    doc_frame = _explode_triples(
        docs,
        static_arr,
        link_arr("projectid", "isPartOf", "project"),
        link_arr("trustfund_key", "funder", "trustfund"),
    )
    frames = [doc_frame]
    # class triples (graph.py:422-426, 229-231)
    spark = metadata.sparkSession
    cls = spark.createDataFrame(
        [
            (EX + "document", RDF_TYPE, "rdfs:Class", False, None),
            (EX + "document", RDFS_SUBCLASS, SCHEMA + "CreativeWork", False, None),
            (EX + "document", RDFS_LABEL, "A document produced and written for the World Bank.", True, "en"),
            (EX + "project", RDF_TYPE, "rdfs:Class", False, None),
            (EX + "project", RDFS_SUBCLASS, SCHEMA + "Thing", False, None),
            (EX + "project", RDFS_LABEL, "World Bank Project", True, "en"),
            (EX + "trustfund", RDF_TYPE, "rdfs:Class", False, None),
            (EX + "trustfund", RDFS_SUBCLASS, SCHEMA + "Thing", False, None),
            (EX + "trustfund", RDFS_LABEL, "World Bank Trustfund", True, "en"),
        ],
        schema="subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )
    frames.append(cls)

    # --- countries (graph.py:259-287): distinct count values + dict QID join ---
    countries = meta.select(F.col("count").alias("ckey")).filter(F.col("ckey").isNotNull()).distinct()
    country_label = F.regexp_replace(F.col("ckey"), "_", " ")
    cdict = (
        entity_dict.filter((F.col("kind") == "country"))
        .select(F.col("surface_norm"), F.coalesce("alias_of", "entity_id").alias("cqid"))
        .groupBy("surface_norm")
        .agg(F.min("cqid").alias("cqid"))
    )
    countries = countries.withColumn("label", country_label).join(
        F.broadcast(cdict), F.lower(F.col("label")) == F.col("surface_norm"), "left"
    )
    c_uri = _uri(EX, F.lit("country/"), F.col("ckey"))
    country_arr = F.array(
        _triple(c_uri, RDF_TYPE, F.lit(SCHEMA + "Country"), False),
        _triple(c_uri, SCHEMA + "name", F.col("label"), True, lang="en"),
        _triple(
            c_uri,
            SCHEMA + "sameAs",
            F.when(F.col("cqid").isNotNull(), F.concat(F.lit(WD), F.col("cqid"))),
            False,
        ),
    )
    frames.append(_explode_triples(countries, country_arr))

    # --- J10 country enrichment: property-dimension broadcast join replaces
    # --- the per-QID Wikidata fetch (ref src/graph.py:290-383); values are
    # --- literals on the LOCAL country node, like the reference's
    # --- (country_uri, pred, obj) adds at graph.py:352
    if country_props is not None:
        enriched = countries.filter(F.col("cqid").isNotNull()).join(
            F.broadcast(country_props), F.col("cqid") == F.col("qid")
        )
        frames.append(
            enriched.select(
                _uri(EX, F.lit("country/"), F.col("ckey")).alias("subj"),
                F.col("pred"),
                F.col("value").alias("obj"),
                F.lit(True).alias("obj_is_literal"),
                F.lit(None).cast("string").alias("lang"),
            )
        )

    # --- projects & trustfunds (J6 arrays_zip + explode; graph.py:513-543):
    # --- one union of both kinds -> one groupBy -> one exploded projection
    zipped_parts = []
    for name_col, id_col, ref in [("projn", "projectid", "project"), ("trustfund", "trustfund_key", "trustfund")]:
        zipped_parts.append(
            meta.filter(F.col(id_col).isNotNull() & F.col(name_col).isNotNull())
            .select(
                F.lit(ref).alias("ref"),
                F.explode(
                    F.arrays_zip(
                        F.split(id_col, ",").alias("ids"),
                        F.split(name_col, ",").alias("names"),
                    )
                ).alias("z"),
            )
            .select(
                "ref",
                F.trim(F.col("z.ids")).alias("eid"),
                F.trim(F.col("z.names")).alias("ename"),
            )
            .filter((F.col("eid") != "") & F.col("eid").isNotNull() & (F.col("ename") != ""))
        )
    zipped = (
        zipped_parts[0]
        .unionByName(zipped_parts[1])
        # dict/zip semantics of the reference: a deterministic winner per id
        .groupBy("ref", "eid")
        .agg(F.max("ename").alias("ename"))
    )
    e_uri = F.concat(F.lit(EX), F.col("ref"), F.lit("/"), F.col("eid"))
    ent_arr = F.array(
        _triple(e_uri, RDF_TYPE, F.concat(F.lit(EX), F.col("ref")), False),
        _triple(e_uri, SCHEMA + "name", F.col("ename"), True, lang="en"),
        _triple(e_uri, SCHEMA + "identifier", F.col("eid"), True),
    )
    frames.append(_explode_triples(zipped, ent_arr))

    if not dedup:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    return union_distinct(*frames)


# --------------------------------------------------------------------------- #
# Node table + lookups                                                         #
# --------------------------------------------------------------------------- #


def nodes_from_edges(edges: DataFrame) -> DataFrame:
    """Derive the NODES table from typed subjects (uri, type, name, qid)."""
    typed = edges.filter(F.col("pred") == RDF_TYPE).select(
        F.col("subj").alias("uri"), F.col("obj").alias("type")
    )
    names = (
        edges.filter(F.col("pred") == SCHEMA + "name")
        .groupBy(F.col("subj").alias("uri"))
        .agg(F.min("obj").alias("name"))
    )
    qid = F.when(
        F.col("uri").startswith(WD), F.expr(f"substring(uri, {len(WD) + 1}, 100)")
    ).otherwise(F.lit(None))
    return (
        typed.groupBy("uri").agg(F.min("type").alias("type"))
        .join(names, "uri", "left")
        .withColumn("qid", qid)
    )


def get_url_by_id(edges: DataFrame) -> DataFrame:
    """J9 — self-join of edges on subj: identifier x url (graph.py:653-662)."""
    ids = edges.filter(F.col("pred") == SCHEMA + "identifier").select(
        F.col("subj"), F.col("obj").alias("doc_id")
    )
    urls = edges.filter(F.col("pred") == SCHEMA + "url").select(
        F.col("subj"), F.col("obj").alias("url")
    )
    return ids.join(urls, "subj").select("doc_id", "url")


# --------------------------------------------------------------------------- #
# K1 — Turtle sink (export only)                                               #
# --------------------------------------------------------------------------- #


def to_turtle_lines(edges: DataFrame) -> DataFrame:
    """Distributed TTL formatting via native expressions (one line per triple,
    N-Triples-ish; prefixes resolved inline). Write with df.write.text."""
    # java-regex replacement strings: '\\\\' in the replacement emits one
    # literal backslash, so escaping a quote needs four-then-quote.
    # \n/\r/\t must be escaped too (N-Triples string grammar): an unescaped
    # newline splits one triple across two lines and the parser would drop
    # both halves (ADVICE r02).
    esc = F.regexp_replace(F.regexp_replace(F.col("obj"), r"\\", r"\\\\"), '"', '\\\\"')
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    esc = F.regexp_replace(esc, "\t", r"\\t")
    obj_term = F.when(
        F.col("obj_is_literal") & F.col("lang").isNotNull(),
        F.concat(F.lit('"'), esc, F.lit('"@'), F.col("lang")),
    ).when(F.col("obj_is_literal"), F.concat(F.lit('"'), esc, F.lit('"'))).otherwise(
        F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    )
    pred_term = F.when(
        F.col("pred").startswith("rdf"), F.col("pred")
    ).otherwise(F.concat(F.lit("<"), F.col("pred"), F.lit(">")))
    return edges.select(
        F.concat(
            F.lit("<"), F.col("subj"), F.lit("> "), pred_term, F.lit(" "), obj_term, F.lit(" .")
        ).alias("line")
    )
