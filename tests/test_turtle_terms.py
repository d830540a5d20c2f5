"""Turtle term conversion: prefixed names and absolute URIs convert
through one map lookup per term, with literal expectations for every
bound namespace and edge case, and the Turtle writer emits only local
names that Turtle's PN_LOCAL accepts. The bytes of every kind of term
are pinned through the N-Triples line, the Turtle line and a grouped
Turtle block."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from razulibs_spark.operators.rdf import (
    EXPANSIONS,
    TRIPLE_SCHEMA,
    compact_prefixed,
    expand_prefixed,
)
from razulibs_spark.sources.rdf_io import (
    _compactable,
    _expand_with,
    _turtle_values,
    ntriples_line,
    turtle_line,
    write_turtle,
)
from razulibs_spark.sources.turtle_full import grouped_turtle_blocks

BINDINGS = {
    "dct": "http://purl.org/dc/terms/",
    "eo": "http://id.loc.gov/vocabulary/preservation/eventOutcome/",
    "erar": "http://id.loc.gov/vocabulary/preservation/eventRelatedAgentRole/",
    "eror": "http://id.loc.gov/vocabulary/preservation/eventRelatedObjectRole/",
    "geo": "http://www.opengis.net/ont/geosparql#",
    "ldto": "https://data.razu.nl/def/ldto/",
    "mdto": "http://www.nationaalarchief.nl/mdto#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "premis": "http://www.loc.gov/premis/rdf/v3/",
    "prov": "http://www.w3.org/ns/prov#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "schema": "http://schema.org/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}
LDTO = BINDINGS["ldto"]


def _one_column(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v string")


def test_bindings_are_pinned():
    assert EXPANSIONS == BINDINGS


def test_compaction_pinned_to_literal_values(spark):
    cases = {BINDINGS[k] + "naam": (f"{k}:naam", f"{k}:naam") for k in BINDINGS}
    cases.update({
        # (input): (_compactable, compact_prefixed)
        "http://example.org/x": (None, "http://example.org/x"),
        LDTO: (None, "ldto:"),  # empty local part
        LDTO + "bad local!": (None, "ldto:bad local!"),
        LDTO + "p.": (None, "ldto:p."),  # PN_LOCAL may not end in '.'
        LDTO + "a.b-_1": ("ldto:a.b-_1", "ldto:a.b-_1"),
        LDTO + "a:b": (None, "ldto:a:b"),  # ':' inside the local part
        LDTO + "x/y": (None, "ldto:x/y"),
        "ldto:naam": (None, "ldto:naam"),
        None: (None, None),
    })
    df = _one_column(spark, list(cases))
    got = {
        r["v"]: (r["t"], r["c"])
        for r in df.select(
            "v", _compactable("v").alias("t"), compact_prefixed(F.col("v")).alias("c")
        ).collect()
    }
    assert got == cases


def test_expansion_pinned_to_literal_values(spark):
    header = {"ex": "http://example.org/", "ldto": LDTO}
    # (input): (_expand_with over header, expand_prefixed)
    cases = {
        f"{k}:naam": (LDTO + "naam" if k == "ldto" else f"{k}:naam", BINDINGS[k] + "naam")
        for k in BINDINGS
    }
    cases.update({
        "ex:naam": ("http://example.org/naam", "ex:naam"),
        "ex:a:b": ("http://example.org/a:b", "ex:a:b"),  # ':' inside the local part
        "ldto:": (LDTO, LDTO),  # empty local part
        "zz:x": ("zz:x", "zz:x"),  # unknown prefix
        "ldto": ("ldto", "ldto"),  # no colon
        LDTO + "naam": (LDTO + "naam", LDTO + "naam"),
        None: (None, None),
    })
    df = _one_column(spark, list(cases))
    got = {
        r["v"]: (r["w"], r["e"])
        for r in df.select(
            "v",
            _expand_with(F.col("v"), header).alias("w"),
            expand_prefixed("v").alias("e"),
        ).collect()
    }
    assert got == cases
    assert df.select(_expand_with(F.col("v"), {}).alias("w")).collect() == df.collect()


BNODE = "_:3e99b369cccc60430b911793c51e1a90"  # md5("bnode:b1")
RDF_TYPE = BINDINGS["rdf"] + "type"
XSD_DATE = BINDINGS["xsd"] + "date"
ESCAPES = 'a\\b"c\nd\re\tf'  # backslash, quote, newline, CR, tab
# triple: (N-Triples line, Turtle line)
TERM_LINES = {
    (LDTO + "s1", RDF_TYPE, LDTO + "Informatieobject", "uri", None, None): (
        f"<{LDTO}s1> <{RDF_TYPE}> <{LDTO}Informatieobject> .",
        "ldto:s1 a ldto:Informatieobject ."),
    ("bnode:b1", LDTO + "naam", "hallo", "literal", None, "nl"): (
        f'{BNODE} <{LDTO}naam> "hallo"@nl .',
        f'{BNODE} ldto:naam "hallo"@nl .'),
    (LDTO + "s1", LDTO + "datum", "2020-01-01", "literal", XSD_DATE, None): (
        f'<{LDTO}s1> <{LDTO}datum> "2020-01-01"^^<{XSD_DATE}> .',
        'ldto:s1 ldto:datum "2020-01-01"^^xsd:date .'),
    (LDTO + "s1", LDTO + "w", "5", "literal", "http://example.org/dt#int", None): (
        f'<{LDTO}s1> <{LDTO}w> "5"^^<http://example.org/dt#int> .',
        'ldto:s1 ldto:w "5"^^<http://example.org/dt#int> .'),
    (LDTO + "s1", LDTO + "t", ESCAPES, "literal", None, None): (
        f'<{LDTO}s1> <{LDTO}t> "a\\\\b\\"c\\nd\\re\\tf" .',
        'ldto:s1 ldto:t "a\\\\b\\"c\\nd\\re\\tf" .'),
    (LDTO + "s1", "http://example.org/p", "http://example.org/o", "uri", None, None): (
        f"<{LDTO}s1> <http://example.org/p> <http://example.org/o> .",
        "ldto:s1 <http://example.org/p> <http://example.org/o> ."),
    (LDTO + "s1", LDTO + "dekking", "bnode:b1", "bnode", None, None): (
        f"<{LDTO}s1> <{LDTO}dekking> {BNODE} .",
        f"ldto:s1 ldto:dekking {BNODE} ."),
    ("http://example.org/x", LDTO + "y", "plain", "literal", None, None): (
        f'<http://example.org/x> <{LDTO}y> "plain" .',
        '<http://example.org/x> ldto:y "plain" .'),
}


def test_term_bytes_pinned_to_literal_lines(spark):
    df = spark.createDataFrame(list(TERM_LINES), TRIPLE_SCHEMA)
    got = {
        tuple(r[:6]): (r["nt"], r["ttl"])
        for r in df.select(
            "*", ntriples_line().alias("nt"), turtle_line().alias("ttl")
        ).collect()
    }
    assert got == TERM_LINES
    block = {
        r["sj"]: r["po"] for r in grouped_turtle_blocks(df, 1024, 64).collect()
    }["ldto:s1"]
    assert block == (
        "<http://example.org/p> <http://example.org/o> ;\n"
        "    a ldto:Informatieobject ;\n"
        '    ldto:datum "2020-01-01"^^xsd:date ;\n'
        f"    ldto:dekking {BNODE} ;\n"
        '    ldto:t "a\\\\b\\"c\\nd\\re\\tf" ;\n'
        '    ldto:w "5"^^<http://example.org/dt#int>'
    )


def test_local_name_ending_in_dot_round_trips_through_full_grammar(spark, tmp_path):
    """A local part ending in '.' is written as <IRI>: as `ldto:p.` the
    full-grammar reader takes the '.' for the statement terminator."""
    from razulibs_spark.sources.turtle_full import read_turtle_full

    rows = [
        (LDTO + "s.", LDTO + "p.", LDTO + "o.", "uri", None, None),
        (LDTO + "s", LDTO + "p", "v", "literal", LDTO + "dt.", None),
        (LDTO + "s", LDTO + "q.r", LDTO + "o.k", "uri", None, None),
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = str(tmp_path / "ttl")
    write_turtle(df, out)
    text = "".join(open(p).read() for p in glob.glob(os.path.join(out, "part-*")))
    assert f"<{LDTO}p.>" in text and "ldto:q.r ldto:o.k ." in text
    back = read_turtle_full(spark, out, glob="part-*")
    assert {tuple(r) for r in back.collect()} == set(rows)


def _count_nodes(jexpr, names) -> int:
    n = int(jexpr.getClass().getSimpleName() in names)
    children = jexpr.children()
    return n + sum(_count_nodes(children.apply(i), names) for i in range(children.size()))


def _pattern_nodes(spark) -> int:
    df = spark.createDataFrame([(LDTO + "s", LDTO + "p", "o", "literal", None, None)], TRIPLE_SCHEMA)
    plan = _turtle_values(df)._jdf.queryExecution().optimizedPlan()
    exprs = plan.expressions()
    names = {"StartsWith", "RLike", "Like", "RegExpExtract"}
    return sum(_count_nodes(exprs.apply(i), names) for i in range(exprs.size()))


def test_turtle_projection_matches_per_term_not_per_namespace(spark, monkeypatch):
    """The writer's projection holds a fixed number of pattern matches
    per term, however many namespaces are bound."""
    base = _pattern_nodes(spark)
    for i in range(10):
        monkeypatch.setitem(EXPANSIONS, f"extra{i}", f"http://example.org/extra{i}/")
    assert _pattern_nodes(spark) == base
    # subject, predicate, object and datatype: at most two each, plus
    # the subject's bnode test
    assert 0 < base <= 9, base
