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


# The when-chains below are ORDER-INDEPENDENT: no namespace URI is a
# string prefix of another, and no "k:" compact form is a prefix of
# another key's (e.g. "rdf:" does not prefix "rdfs:x" — the 4th char
# differs). That lets the chains iterate in HIT-FREQUENCY order (r13):
# the engine's own data overwhelmingly carries ldto/xsd/rdf/schema
# terms, which previously sat 4th-15th in the longest-first walk, so
# every term paid ~11 startswith evaluations; frequency order pays
# ~2. Guarded at import so a future namespace addition that breaks
# pairwise prefix-freedom fails loudly (longest-first would then be
# required again).
_FREQ_RANK = {
    k: i
    for i, k in enumerate(
        ["ldto", "xsd", "rdf", "schema", "dct", "premis", "prov",
         "skos", "rdfs", "mdto", "geo", "eo", "eror", "erar", "owl"]
    )
}


def _assert_prefix_free(expansions: dict[str, str]) -> None:
    vals = list(expansions.values())
    keys = [k + ":" for k in expansions]
    for group in (vals, keys):
        for a in group:
            for b in group:
                if a != b and b.startswith(a):
                    raise AssertionError(
                        f"prefix-ordered chains unsafe: {a!r} prefixes "
                        f"{b!r}; restore longest-first iteration"
                    )


def _ordered_expansions() -> list[tuple[str, str]]:
    return sorted(
        EXPANSIONS.items(),
        key=lambda kv: (_FREQ_RANK.get(kv[0], 99), -len(kv[1])),
    )


_assert_prefix_free(EXPANSIONS)


_NULL = "CAST(NULL AS STRING)"


def _sq(s: str) -> str:
    """SQL single-quote a string literal (namespaces/keys contain no
    quotes; escape defensively anyway)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _expand_case_sql(ref: str) -> str:
    """The expand_prefixed when-chain as ONE SQL CASE string over
    column reference ``ref`` (r13, guide §1.2 driver overhead): the
    Column-builder form issued ~4 py4j round-trips per branch × 15
    branches ≈ 85 ms of driver time PER CALL — ~0.5 s per RDF
    round-trip query construction across its s/p/o/o_datatype
    columns. The parsed expression tree is identical (StartsWith /
    Substring / Concat / CaseWhen)."""
    arms = "".join(
        f"WHEN startswith({ref}, {_sq(k + ':')}) THEN "
        f"concat({_sq(ns)}, substring({ref}, {len(k) + 2}, 1000000)) "
        for k, ns in _ordered_expansions()
    )
    return f"CASE {arms}ELSE {ref} END"


def _compact_case_sql(ref: str) -> str:
    """Inverse of :func:`_expand_case_sql` — one SQL CASE string."""
    arms = "".join(
        f"WHEN startswith({ref}, {_sq(ns)}) THEN "
        f"concat({_sq(k + ':')}, substring({ref}, {len(ns) + 1}, 1000000)) "
        for k, ns in _ordered_expansions()
    )
    return f"CASE {arms}ELSE {ref} END"


def expand_prefixed(col: Column | str) -> Column:
    """`ldto:naam` → full URI; absolute URIs and unknown prefixes pass
    through. Engine-internal triples use compact names (cheaper to
    store and shuffle); expansion happens at the serialization edge so
    emitted N-Triples/JSON-LD are standards-valid.

    Pass a column NAME (str) on hot construction paths: the chain then
    builds as one ``F.expr`` CASE parse (single py4j round-trip)
    instead of ~60 Column-builder calls — same expression tree, ~85 ms
    less driver time per call. Column input keeps the builder form for
    arbitrary expressions."""
    if isinstance(col, str):
        return F.expr(_expand_case_sql(f"`{col}`"))
    out = None
    for k, ns in _ordered_expansions():
        cond = col.startswith(f"{k}:")
        val = F.concat(F.lit(ns), F.substring(col, len(k) + 2, 1_000_000))
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out.otherwise(col)


def compact_prefixed(col: Column | str) -> Column:
    """Inverse of expand_prefixed (frequency-ordered chain — safe
    because the namespace set is pairwise prefix-free, see above).
    Accepts a column name for the cheap-construction path, like
    :func:`expand_prefixed`."""
    if isinstance(col, str):
        return F.expr(_compact_case_sql(f"`{col}`"))
    out = None
    for k, ns in _ordered_expansions():
        cond = col.startswith(ns)
        val = F.concat(F.lit(k + ":"), F.substring(col, len(ns) + 1, 1_000_000))
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out.otherwise(col)


def expand_triples(triples: DataFrame) -> DataFrame:
    """Expand s/p/o_datatype (and uri-typed objects) to absolute URIs
    for standards-valid serialization. selectExpr + the CASE-string
    chains: 6 py4j calls total instead of ~250 (r13)."""
    return triples.selectExpr(
        f"{_expand_case_sql('s')} AS s",
        f"{_expand_case_sql('p')} AS p",
        f"CASE WHEN o_type = 'uri' THEN {_expand_case_sql('o')} "
        f"ELSE o END AS o",
        "o_type",
        f"{_expand_case_sql('o_datatype')} AS o_datatype",
        "o_lang",
    )


def compact_triples(triples: DataFrame) -> DataFrame:
    """Inverse of expand_triples."""
    return triples.selectExpr(
        f"{_compact_case_sql('s')} AS s",
        f"{_compact_case_sql('p')} AS p",
        f"CASE WHEN o_type = 'uri' THEN {_compact_case_sql('o')} "
        f"ELSE o END AS o",
        "o_type",
        f"{_compact_case_sql('o_datatype')} AS o_datatype",
        "o_lang",
    )


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
