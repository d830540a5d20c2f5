"""RDF data model on Spark — SURVEY.md §1 (D1–D3) and §2.9 (O2).

The reference wraps rdflib Graphs per resource (razu/rdf_resource.py:4-19,
razu/meta_graph.py:16-29); here the canonical representation is a
**triples DataFrame** with schema (s, p, o, o_type, o_datatype, o_lang)
— columnar, partitionable, unionable. Entity rows fan out to triples
via a generated array<struct> + explode (pure Catalyst, no UDF), the
Spark-native form of `add_properties` recursion
(razu/rdf_resource.py:46-70).

Blank nodes are skolemized (`bnode:<uid>:<local>`), eliminating the
merge-time bnode-suffix remap of tools/collect_rdf.py:37-54 entirely.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# The 11 prefix bindings of razu/meta_graph.py:19-29.
NAMESPACES = {
    "ldto": "https://data.razu.nl/def/ldto/",
    "mdto": "http://www.nationaalarchief.nl/mdto#",
    "schema": "http://schema.org/",
    "dct": "http://purl.org/dc/terms/",
    "geo": "http://www.opengis.net/ont/geosparql#",
    "premis": "http://www.loc.gov/premis/rdf/v3/",
    "prov": "http://www.w3.org/ns/prov#",
    "eror": "http://id.loc.gov/vocabulary/preservation/eventRelatedObjectRole/",
    "erar": "http://id.loc.gov/vocabulary/preservation/eventRelatedAgentRole/",
    "eo": "http://id.loc.gov/vocabulary/preservation/eventOutcome/",
    "owl": "http://www.w3.org/2002/07/owl#",
}

TRIPLE_SCHEMA = StructType(
    [
        StructField("s", StringType(), False),
        StructField("p", StringType(), False),
        StructField("o", StringType(), True),
        StructField("o_type", StringType(), False),  # 'uri' | 'bnode' | 'literal'
        StructField("o_datatype", StringType(), True),
        StructField("o_lang", StringType(), True),
    ]
)


@dataclass(frozen=True)
class PropertyMap:
    """One predicate mapping for the entity→triples fan-out.

    `datatype` may be a Column for per-row datatypes (the date_type
    semantics of razu/util.py:9-30 tag each value xsd:date vs
    xsd:gYear depending on its lexical form).
    """

    predicate: str
    value: Column
    o_type: str = "literal"  # 'uri' | 'bnode' | 'literal'
    datatype: str | Column | None = None
    lang: str | None = None
    # When set, `value` is a term of this vocabulary and the object is
    # the term's URI (see entities_to_triples).
    vocabulary: str | None = None


def skolemize(uid: Column, local: Column) -> Column:
    """File-scoped blank node → stable global id (SURVEY §1.2)."""
    return F.concat(F.lit("bnode:"), uid, F.lit(":"), local.cast("string"))


def entity_to_triples(df: DataFrame, subject: Column, props: list[PropertyMap]) -> DataFrame:
    """Fan one entity row out into N triples (O2; csv2rdf.py:117-237):
    the one-entity case of :func:`entities_to_triples`."""
    return entities_to_triples(df, [(subject, props)])


def entities_to_triples(
    df: DataFrame,
    entities: list[tuple[Column, list[PropertyMap]]],
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Fan each row out into the triples of several entities at once —
    one ``(subject, props)`` pair per entity the row describes.

    Builds one array<struct> of candidate triples per row and explodes
    it; null-valued properties are dropped afterwards (the optional-
    field semantics of csv2rdf.py:188-200 / pandasutils.py:5-8).
    Entirely whole-stage-codegen — one narrow transformation, no
    shuffle, linear at any scale.

    Vocabulary cells (J2, concept_resolver.py:65-76): a property with
    ``vocabulary`` carries a term, and its object is the term's URI in
    ``vocab`` (vocabulary, term, uri). Every such cell of every entity
    resolves in ONE broadcast left join on (vocabulary, term) — the
    set-at-a-time replacement for the reference's per-row SPARQL +
    lru_cache. An unresolved term gives no triple; a term with several
    URIs gives one triple per URI.

    Construction (r13, guide §1.2 driver overhead): the subject and
    property-value COLUMNS project once under reserved names, and the
    array<struct> assembles as ONE F.expr parse over those names plus
    the literal predicate/o_type/datatype/lang strings — ~12 py4j
    round-trips instead of ~15 per property (measured 223 → ~35 ms
    per call). CollapseProject inlines the value projection into the
    Generate input exactly as an inline-struct form would plan.
    """
    resolve = any(p.vocabulary for _, props in entities for p in props)
    if resolve and vocab is None:
        raise ValueError("vocabulary properties need a vocab frame")
    sel, parts = [], []
    for j, (subject, props) in enumerate(entities):
        s = f"__ett_s{j}"
        sel.append(subject.cast("string").alias(s))
        for p in props:
            i = len(parts)
            sel.append(p.value.alias(f"__ett_v{i}"))
            if isinstance(p.datatype, Column):
                sel.append(p.datatype.alias(f"__ett_d{i}"))
                dt = f"CAST(__ett_d{i} AS STRING)"
            elif p.datatype is None:
                dt = _NULL
            else:
                dt = _sq(p.datatype)
            lang = _sq(p.lang) if p.lang is not None else _NULL
            voc = ""
            if resolve:
                voc = f", {_sq(p.vocabulary) if p.vocabulary else _NULL} AS voc"
            parts.append(
                f"struct({s} AS s, {_sq(p.predicate)} AS p, "
                f"CAST(__ett_v{i} AS STRING) AS o, {_sq(p.o_type)} AS o_type, "
                f"{dt} AS o_datatype, {lang} AS o_lang{voc})"
            )
    arr = ", ".join(parts)
    triples = (
        df.select(*sel)
        .select(F.expr(f"explode(array({arr}))").alias("t"))
        .select("t.*")
        .filter(F.col("o").isNotNull())
    )
    if not resolve:
        return triples
    dim = vocab.select(
        F.col("vocabulary").alias("__ett_voc"),
        F.col("term").alias("__ett_term"),
        F.col("uri").alias("__ett_uri"),
    )
    on = (F.col("voc") == F.col("__ett_voc")) & (F.col("o") == F.col("__ett_term"))
    return (
        triples.join(F.broadcast(dim), on, "left")
        .select(
            "s", "p",
            F.when(F.col("voc").isNull(), F.col("o"))
            .otherwise(F.col("__ett_uri")).alias("o"),
            "o_type", "o_datatype", "o_lang",
        )
        .filter(F.col("o").isNotNull())
    )


def graph_union(*triple_dfs: DataFrame) -> DataFrame:
    """Graph union (U2/A5; razu/rdf_resource.py:25-28, razu/sip.py:42-45).

    rdflib Graph union de-duplicates identical triples, hence the
    distinct() — dropped by callers that know their parts are disjoint.
    """
    out = triple_dfs[0]
    for other in triple_dfs[1:]:
        out = out.unionByName(other)
    return out.distinct()


def triple_pattern(triples: DataFrame, s=None, p=None, o=None) -> DataFrame:
    """Triple-pattern match (P4/P5; razu/meta_resource.py:224-232):
    filter on any bound combination of s/p/o."""
    out = triples
    for col_name, val in (("s", s), ("p", p), ("o", o)):
        if val is not None:
            out = out.filter(F.col(col_name) == val)
    return out


def valid_triples(triples: DataFrame) -> DataFrame:
    """P10 invalid-triple filter (tools/collect_rdf.py:122-132): drop
    rows whose node kinds are malformed — null/empty subject or
    predicate, unknown o_type, empty uri/bnode objects. With the
    TRIPLE_SCHEMA most invalid states are unrepresentable; this guards
    externally parsed input (S3/S4)."""
    nonempty = lambda c: F.col(c).isNotNull() & (F.length(F.trim(F.col(c))) > 0)
    return triples.filter(
        nonempty("s")
        & nonempty("p")
        & F.col("o_type").isin("uri", "bnode", "literal")
        & (F.col("o_type").isin("literal") | nonempty("o"))
    )


# Prefix expansion set: the 11 bound namespaces plus the core W3C
# prefixes rdflib binds implicitly (rdf/rdfs/xsd/skos appear in
# reference predicates and datatypes).
EXPANSIONS = {
    **NAMESPACES,
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
}


# Prefixed names and absolute URIs convert through ONE literal map
# lookup per term, whatever the number of bindings. Expansion keys the
# map on the text up to the first colon. Compaction finds the namespace
# with one anchored regex over the namespace alternation; that is
# order-independent only while no namespace URI is a string prefix of
# another (and no "k:" of another's), which is guarded at import, so
# a binding that breaks it fails loudly.
def _assert_prefix_free(expansions: dict[str, str]) -> None:
    vals = list(expansions.values())
    keys = [k + ":" for k in expansions]
    for group in (vals, keys):
        for a in group:
            for b in group:
                if a != b and b.startswith(a):
                    raise AssertionError(
                        f"namespace alternation ambiguous: {a!r} "
                        f"prefixes {b!r}"
                    )


_assert_prefix_free(EXPANSIONS)


_NULL = "CAST(NULL AS STRING)"


def _sq(s: str) -> str:
    """SQL single-quote a string literal (namespaces/keys contain no
    quotes; escape defensively anyway)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lookup(table: Mapping[str, str], key: Column) -> Column:
    """``table[key]`` as one lookup in a literal map; null when ``key``
    is null or not bound."""
    pairs = ", ".join(f"{_sq(k)}, {_sq(v)}" for k, v in table.items())
    return F.try_element_at(F.expr(f"map({pairs})"), key)


def _expand_with(col: Column, bindings: Mapping[str, str]) -> Column:
    """``k:local`` -> ``bindings[k] + local``, else ``col`` unchanged
    (no colon, an unbound prefix, null)."""
    if not bindings:
        return col
    colon = F.instr(col, ":")
    ns = _lookup({f"{k}:": v for k, v in bindings.items()}, col.substr(F.lit(1), colon))
    return F.coalesce(F.concat(ns, col.substr(colon + 1, F.lit(1_000_000))), col)


def _compact_with(col: Column, bindings: Mapping[str, str], local: str | None = None) -> Column:
    """``<namespace><local>`` -> ``k:local`` for the bound namespace
    ``col`` starts with, else null. With ``local`` (a regex), only a
    local part that matches it in full compacts."""
    alt = "|".join(rf"\Q{ns}\E" for ns in bindings.values())
    ns = F.regexp_extract(col, f"^({alt})" + (f"(?:{local})$" if local else ""), 1)
    prefix = _lookup({v: f"{k}:" for k, v in bindings.items()}, ns)
    return F.concat(prefix, col.substr(F.length(ns) + 1, F.lit(1_000_000)))


def _term(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def expand_prefixed(col: Column | str) -> Column:
    """`ldto:naam` → full URI; absolute URIs and unknown prefixes pass
    through. Engine-internal triples use compact names (cheaper to
    store and shuffle); expansion happens at the serialization edge so
    emitted N-Triples/JSON-LD are standards-valid."""
    return _expand_with(_term(col), EXPANSIONS)


def compact_prefixed(col: Column | str) -> Column:
    """Inverse of expand_prefixed: an absolute URI in a bound namespace
    → `k:local`; anything else passes through."""
    c = _term(col)
    return F.coalesce(_compact_with(c, EXPANSIONS), c)


def _convert_terms(triples: DataFrame, convert) -> DataFrame:
    """``convert`` applied to s, p, o_datatype and uri-typed objects;
    every other column is kept in place."""
    return triples.withColumns({
        "s": convert("s"),
        "p": convert("p"),
        "o": F.when(F.col("o_type") == "uri", convert("o")).otherwise(F.col("o")),
        "o_datatype": convert("o_datatype"),
    })


def expand_triples(triples: DataFrame) -> DataFrame:
    """Expand s/p/o_datatype (and uri-typed objects) to absolute URIs
    for standards-valid serialization."""
    return _convert_terms(triples, expand_prefixed).select(*TRIPLE_SCHEMA.names)


def compact_triples(triples: DataFrame) -> DataFrame:
    """Inverse of expand_triples."""
    return _convert_terms(triples, compact_prefixed).select(*TRIPLE_SCHEMA.names)


def bgp_match(triples: DataFrame, patterns: list[tuple]) -> DataFrame:
    """Basic-graph-pattern match over the triples DataFrame — the
    SPARQL surface of the reference (concept_resolver.py:65-76 issues
    per-row SPARQL SELECTs; here the graph IS a DataFrame and a BGP
    is a chain of self-joins on the shared subject).

    `patterns` is a list of (predicate, object_or_None, var_or_None):
    a bound object filters; a var projects the object under that
    column name. All patterns share the subject variable.

    Scale: each pattern is a predicate-filtered slice of the triples
    table — with predicate-partitioned storage every slice is a
    partition-pruned scan; the self-joins are equi-joins on `s`, so
    pre-partitioning the triples by `s` makes the whole BGP
    co-located (zero-shuffle under bucketing, see SCALE.md).
    """
    out = None
    for pred, obj, var in patterns:
        sel = triples.filter(F.col("p") == pred)
        if obj is not None:
            sel = sel.filter(F.col("o") == obj)
        sel = sel.select("s", *((F.col("o").alias(var),) if var else ()))
        out = sel if out is None else out.join(sel, "s")
    return out


def shape_report(
    triples: DataFrame, shapes: dict[str, tuple[str, ...]]
) -> DataFrame:
    """SHACL-lite required-predicate validation: for every subject
    whose ``rdf:type`` is in ``shapes``, report each required
    predicate the subject is MISSING — the set-at-a-time twin of the
    reference's per-resource MDTO structure templates
    (`razu/meta_resource.py:64-252` builds entities that must carry
    their mdto/ldto properties; this checks a whole graph at once).

    Plan: the typed-subject spine joins the (types × required-preds)
    shape table BROADCAST (a few dozen rows), then one LEFT ANTI
    against the distinct (s, p) projection of the graph — two narrow
    scans of the triple table, one shuffle on subject. At 100 TB of
    triples the anti-join probe side carries only (s, p) pairs."""
    spark = triples.sparkSession
    shape_rows = [
        (etype, pred) for etype, preds in shapes.items() for pred in preds
    ]
    required = spark.createDataFrame(
        shape_rows, "entity_type string, missing_predicate string"
    )
    typed = triples.filter(F.col("p") == "rdf:type").select(
        "s", F.col("o").alias("entity_type")
    )
    expected = typed.join(F.broadcast(required), "entity_type")
    present = triples.select("s", F.col("p").alias("missing_predicate"))
    return (
        expected.join(present, ["s", "missing_predicate"], "left_anti")
        .select("s", "entity_type", "missing_predicate")
    )
