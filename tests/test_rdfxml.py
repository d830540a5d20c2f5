"""Document-framed RDF formats (sources/rdfxml.py): RDF/XML, TriX,
TriG — S4 parity with razu/turtle.py:6-32's format list."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from razulibs_spark.sources.rdfxml import (
    _parse_rdfxml,
    _parse_trig,
    _parse_trix,
    read_rdfxml,
    read_trig,
    read_trix,
    write_rdfxml,
    write_trig,
    write_trix,
)

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"


def _triples_df(spark):
    rows = [
        ("https://ex.org/e1", "https://ex.org/p/rel", "https://ex.org/e2",
         "uri", None, None),
        ("https://ex.org/e1", "https://ex.org/p/title", 'Stuk "A" <&> \n tab\t',
         "literal", None, "nl"),
        ("https://ex.org/e1", "https://ex.org/p/size", "42",
         "literal", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("https://ex.org/e2", RDF + "type", "https://ex.org/Thing",
         "uri", None, None),
        ("https://ex.org/e2", "https://ex.org/p/note", "plain",
         "literal", None, None),
    ]
    return spark.createDataFrame(
        rows,
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string",
    )


def _key(rows):
    return sorted(
        (r["s"], r["p"], r["o"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in rows
    )


def test_rdfxml_roundtrip(spark, tmp_path):
    df = _triples_df(spark)
    path = str(tmp_path / "rt.rdfxml")
    write_rdfxml(df, path)
    got = read_rdfxml(spark, path)
    assert _key(got.collect()) == _key(df.collect())


def test_rdfxml_part_files_are_valid_xml(spark, tmp_path):
    """Each part file is ONE complete document (XML forbids
    concatenated roots) — parseable standalone."""
    import glob
    import xml.etree.ElementTree as ET

    path = str(tmp_path / "docs.rdfxml")
    write_rdfxml(_triples_df(spark), path)
    parts = [p for p in glob.glob(path + "/part-*") if "crc" not in p]
    assert parts
    n_nonempty = 0
    for p in parts:
        with open(p, "rb") as f:
            content = f.read()
        if not content.strip():
            continue
        n_nonempty += 1
        root = ET.fromstring(content)
        assert root.tag == "{%s}RDF" % RDF
    assert n_nonempty >= 1


def test_rdfxml_parser_constructs():
    """Typed nodes, property attributes, nested nodes, parseType
    Resource/Literal/Collection, rdf:li, rdf:ID + xml:base."""
    xml = b"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:dc="http://purl.org/dc/terms/" xml:base="https://ex.org/d">
  <rdf:Description rdf:about="https://ex.org/e1" dc:creator="razu">
    <dc:title xml:lang="nl">T</dc:title>
    <dc:related><rdf:Description rdf:about="https://ex.org/e2"/></dc:related>
    <dc:span rdf:parseType="Resource"><dc:date>2024</dc:date></dc:span>
    <dc:xml rdf:parseType="Literal"><b>bold</b></dc:xml>
    <dc:list rdf:parseType="Collection">
      <rdf:Description rdf:about="https://ex.org/a"/>
    </dc:list>
  </rdf:Description>
  <rdf:Description rdf:ID="frag">
    <rdf:li>x</rdf:li><rdf:li>y</rdf:li>
  </rdf:Description>
</rdf:RDF>"""
    ts = _parse_rdfxml(xml, "t")
    by_p = {}
    for s, p, o, ot, dt, lang in ts:
        by_p.setdefault(p, []).append((s, o, ot, dt, lang))
    dc = "http://purl.org/dc/terms/"
    assert by_p[dc + "creator"][0][1:3] == ("razu", "literal")
    assert by_p[dc + "title"][0][4] == "nl"
    assert by_p[dc + "related"][0][1:3] == ("https://ex.org/e2", "uri")
    span_obj = by_p[dc + "span"][0][1]
    assert span_obj.startswith("_:")
    assert by_p[dc + "date"][0][0] == span_obj  # nested under the bnode
    assert by_p[dc + "xml"][0][3] == RDF + "XMLLiteral"
    assert "<b>bold</b>" in by_p[dc + "xml"][0][1]
    head = by_p[dc + "list"][0][1]
    firsts = {s: o for s, o, *_ in by_p[RDF + "first"]}
    assert firsts[head] == "https://ex.org/a"
    assert by_p[RDF + "rest"][0][1] == RDF + "nil"
    # rdf:ID resolves against xml:base; rdf:li numbers per node
    assert by_p[RDF + "_1"][0][0] == "https://ex.org/d#frag"
    assert by_p[RDF + "_2"][0][1] == "y"


def test_rdfxml_honest_rejections():
    bad_parsetype = b"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:d="https://d/"><rdf:Description rdf:about="https://s">
      <d:p rdf:parseType="Other">x</d:p></rdf:Description></rdf:RDF>"""
    with pytest.raises(ValueError, match="parseType"):
        _parse_rdfxml(bad_parsetype, "t")
    no_base_id = b"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
      <rdf:Description rdf:ID="x"/></rdf:RDF>"""
    with pytest.raises(ValueError, match="xml:base"):
        _parse_rdfxml(no_base_id, "t")


def test_rdfxml_bnodes_scoped_per_file():
    doc = b"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:d="https://d/"><rdf:Description rdf:about="https://s">
      <d:p rdf:nodeID="x"/></rdf:Description></rdf:RDF>"""
    o1 = _parse_rdfxml(doc, "fileA")[0][2]
    o2 = _parse_rdfxml(doc, "fileB")[0][2]
    assert o1.startswith("_:") and o2.startswith("_:") and o1 != o2


def test_document_writers_tolerate_empty_partitions(spark, tmp_path):
    """A frame with more partitions than rows writes empty part files;
    the readers must skip them (a zero-byte file is a no-op document,
    not poison) and malformed XML must raise the module's ValueError,
    not ElementTree's SyntaxError subclass."""
    df = _triples_df(spark).limit(2).repartition(8)
    for ext, writer, reader in (
        ("rdfxml", write_rdfxml, read_rdfxml),
        ("trix", write_trix, read_trix),
    ):
        path = str(tmp_path / f"sparse.{ext}")
        writer(df, path)
        assert reader(spark, path).count() == 2
    with pytest.raises(ValueError, match="malformed XML"):
        _parse_rdfxml(b"<rdf:RDF", "t")
    with pytest.raises(ValueError, match="malformed XML"):
        _parse_trix(b"not xml at all", "t")


def test_xml_writers_roundtrip_cr_and_reject_illegal(spark, tmp_path):
    """ADVICE r7: \\r must survive XML round-trips exactly (parsers
    normalize raw CR to LF in text and whitespace to space in
    attributes — the writers emit numeric char refs instead), and
    XML-1.0-illegal control chars must fail at WRITE time, not poison
    the read side."""
    rows = [
        ("https://ex.org/e1", "https://ex.org/p/t", "a\rb\r\nc\td",
         "literal", None, None),
        ("https://ex.org/e1", "https://ex.org/p/u", "line1\rline2",
         "literal", None, "nl"),
    ]
    schema = (
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string"
    )
    df = spark.createDataFrame(rows, schema)
    for ext, writer, reader in (
        ("rdfxml", write_rdfxml, read_rdfxml),
        ("trix", write_trix, read_trix),
    ):
        path = str(tmp_path / f"cr.{ext}")
        writer(df, path)
        assert _key(reader(spark, path).collect()) == _key(df.collect())

    bad = spark.createDataFrame(
        [("https://s", "https://p/x", "bell\x07", "literal", None, None)],
        schema,
    )
    for ext, writer in (("rdfxml", write_rdfxml), ("trix", write_trix)):
        with pytest.raises(Exception, match="XML-1.0-illegal"):
            writer(bad, str(tmp_path / f"bad.{ext}"))


def test_rdfxml_rejects_text_with_property_attributes():
    """ADVICE r7: text content alongside property attributes has no
    triple mapping in the subset — honest rejection, never a drop."""
    doc = b"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:d="https://d/"><rdf:Description rdf:about="https://s">
      <d:p d:q="v">some text</d:p></rdf:Description></rdf:RDF>"""
    with pytest.raises(ValueError, match="mixes text content"):
        _parse_rdfxml(doc, "t")
    # whitespace-only text alongside property attributes stays legal
    ws = b"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:d="https://d/"><rdf:Description rdf:about="https://s">
      <d:p d:q="v">  </d:p></rdf:Description></rdf:RDF>"""
    ts = _parse_rdfxml(ws, "t")
    assert ("v" in {o for _, _, o, *_ in ts})


def test_trix_roundtrip_with_graphs(spark, tmp_path):
    df = _triples_df(spark).withColumn(
        "g",
        F.when(F.col("s").endswith("e1"), F.lit("https://ex.org/g1")),
    )
    path = str(tmp_path / "rt.trix")
    write_trix(df, path)
    got = read_trix(spark, path)
    want = sorted(tuple(r) for r in df.collect())
    have = sorted(tuple(r) for r in got.collect())
    assert have == want


def test_trig_roundtrip_with_graphs(spark, tmp_path):
    df = _triples_df(spark).withColumn(
        "g",
        F.when(F.col("s").endswith("e1"), F.lit("https://ex.org/g1")),
    )
    path = str(tmp_path / "rt.trig")
    write_trig(df, path)
    got = read_trig(spark, path)
    want = sorted(tuple(r) for r in df.collect())
    have = sorted(tuple(r) for r in got.collect())
    assert have == want


def test_trig_parser_blocks_and_errors():
    assert _parse_trig("@prefix ex: <https://e/> .\nex:s ex:p ex:o .") == [
        ("https://e/s", "https://e/p", "https://e/o", "uri", None, None, None)
    ]
    with pytest.raises(ValueError, match="unterminated"):
        _parse_trig("<https://g> {\n<https://s> <https://p> <https://o> .")
    with pytest.raises(ValueError, match="without an open"):
        _parse_trig("}")
    with pytest.raises(ValueError, match="nested"):
        _parse_trig("<https://g> {\n<https://h> {")


def test_trig_statement_lines_take_trailing_comments(spark, tmp_path):
    """A statement line ending in a `# comment` reads as read_turtle
    reads it: one Turtle line grammar, inside and outside a block."""
    from razulibs_spark.sources.rdf_io import read_turtle

    prefix = "@prefix ex: <https://ex.org/ns#> ."
    lines = [
        '<https://ex.org/s1> ex:title "v # not a comment"@nl . # a comment',
        "ex:s2 a ex:Thing .   # typed",
        '<https://ex.org/s3> <https://ex.org/ns#n> "7"^^ex:int . #',
        '_:b1 ex:rel <https://ex.org/s1> .# tight',
    ]
    (tmp_path / "t.ttl").write_text("\n".join([prefix] + lines) + "\n")
    want = [tuple(r) for r in read_turtle(spark, str(tmp_path / "t.ttl")).collect()]
    assert len(want) == len(lines)

    graph = "https://ex.org/g"
    (tmp_path / "q.trig").write_text(
        "\n".join([prefix] + lines + [f"<{graph}> {{"] + lines + ["}"]) + "\n"
    )
    got = [tuple(r) for r in read_trig(spark, str(tmp_path / "q.trig")).collect()]
    assert sorted(got, key=repr) == sorted(
        [t + (None,) for t in want] + [t + (graph,) for t in want], key=repr
    )


def test_trix_parser_errors():
    with pytest.raises(ValueError, match="not a TriX"):
        _parse_trix(b"<html/>", "t")
    bad = (
        b'<TriX xmlns="http://www.w3.org/2004/03/trix-BAD/"/>'
    )
    with pytest.raises(ValueError, match="not a TriX"):
        _parse_trix(bad, "t")
    two_terms = b"""<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
      <graph><triple><uri>a</uri><uri>b</uri></triple></graph></TriX>"""
    with pytest.raises(ValueError, match="3 terms"):
        _parse_trix(two_terms, "t")


def test_read_rdf_dispatches_document_formats(spark, tmp_path):
    from razulibs_spark.sources.jsonld import read_rdf

    df = _triples_df(spark)
    for ext, writer in (
        ("rdfxml", write_rdfxml), ("trig", write_trig), ("trix", write_trix),
    ):
        path = str(tmp_path / f"d.{ext}")
        writer(df, path)
        got = read_rdf(spark, path)
        assert got.columns == ["s", "p", "o", "o_type", "o_datatype", "o_lang"]
        assert _key(got.collect()) == _key(df.collect())
    with pytest.raises(ValueError, match="cannot infer"):
        read_rdf(spark, str(tmp_path / "x.unknown"))


# A fixed two-partition frame whose part files are pinned byte for
# byte: blank nodes spelled `bnode:` and `_:` as subject and object,
# lang beside a datatype on one literal, the XML and N-Triples escapes
# in a literal, an empty and a null literal, named and default graphs.
PINNED_ROWS = [
    ("bnode:e1", "https://ex.org/ns#title", "a&b<c>d\"e'f\tg\rh\ni",
     "literal", XSD + "string", "nl", "https://ex.org/g1"),
    ("_:x1", "https://ex.org/ns#rel", "bnode:e1", "bnode", None, None,
     "https://ex.org/g1"),
    ("https://ex.org/e2", "https://ex.org/ns#rel", "_:x1", "bnode", None,
     None, None),
    ("https://ex.org/e2", "https://ex.org/ns/size", "42", "literal",
     XSD + "integer", None, None),
    ("_:x1", RDF + "type", "https://ex.org/Thing", "uri", None, None,
     "https://ex.org/g2"),
    ("https://ex.org/e3?a=1&b=2", "https://ex.org/ns#note", "", "literal",
     None, None, "https://ex.org/g1"),
    ("https://ex.org/e3?a=1&b=2", "https://ex.org/ns#gap", None, "literal",
     None, None, None),
]

PINNED_PARTS = {
    "rdfxml": [
        (
            '<?xml version="1.0" encoding="utf-8"?>\n'
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
            '<rdf:Description rdf:nodeID="bd7932655587c22692c7453e95ed2ac8e">\n'
            '  <p:title xmlns:p="https://ex.org/ns#" xml:lang="nl">a&amp;b&lt;c&gt;d"e\'f\tg&#13;h\n'
            'i</p:title>\n'
            '</rdf:Description>\n'
            '<rdf:Description rdf:nodeID="bx1">\n'
            '  <p:rel xmlns:p="https://ex.org/ns#" rdf:nodeID="bd7932655587c22692c7453e95ed2ac8e"/>\n'
            '</rdf:Description>\n'
            '<rdf:Description rdf:about="https://ex.org/e2">\n'
            '  <p:rel xmlns:p="https://ex.org/ns#" rdf:nodeID="bx1"/>\n'
            '</rdf:Description>\n'
            '</rdf:RDF>\n'
        ),
        (
            '<?xml version="1.0" encoding="utf-8"?>\n'
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
            '<rdf:Description rdf:about="https://ex.org/e2">\n'
            '  <p:size xmlns:p="https://ex.org/ns/" rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</p:size>\n'
            '</rdf:Description>\n'
            '<rdf:Description rdf:nodeID="bx1">\n'
            '  <p:type xmlns:p="http://www.w3.org/1999/02/22-rdf-syntax-ns#" rdf:resource="https://ex.org/Thing"/>\n'
            '</rdf:Description>\n'
            '<rdf:Description rdf:about="https://ex.org/e3?a=1&amp;b=2">\n'
            '  <p:note xmlns:p="https://ex.org/ns#"></p:note>\n'
            '</rdf:Description>\n'
            '<rdf:Description rdf:about="https://ex.org/e3?a=1&amp;b=2">\n'
            '  <p:gap xmlns:p="https://ex.org/ns#"></p:gap>\n'
            '</rdf:Description>\n'
            '</rdf:RDF>\n'
        ),
    ],
    "trix": [
        (
            '<?xml version="1.0" encoding="utf-8"?>\n'
            '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">\n'
            '<graph>\n'
            '  <uri>https://ex.org/g1</uri>\n'
            '  <triple><id>bd7932655587c22692c7453e95ed2ac8e</id><uri>https://ex.org/ns#title</uri><plainLiteral xml:lang="nl">a&amp;b&lt;c&gt;d&quot;e\'f&#9;g&#13;h&#10;i</plainLiteral></triple>\n'
            '  <triple><id>bx1</id><uri>https://ex.org/ns#rel</uri><id>bd7932655587c22692c7453e95ed2ac8e</id></triple>\n'
            '</graph>\n'
            '<graph>\n'
            '  <triple><uri>https://ex.org/e2</uri><uri>https://ex.org/ns#rel</uri><id>bx1</id></triple>\n'
            '</graph>\n'
            '</TriX>\n'
        ),
        (
            '<?xml version="1.0" encoding="utf-8"?>\n'
            '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">\n'
            '<graph>\n'
            '  <triple><uri>https://ex.org/e2</uri><uri>https://ex.org/ns/size</uri><typedLiteral datatype="http://www.w3.org/2001/XMLSchema#integer">42</typedLiteral></triple>\n'
            '  <triple><uri>https://ex.org/e3?a=1&amp;b=2</uri><uri>https://ex.org/ns#gap</uri><plainLiteral></plainLiteral></triple>\n'
            '</graph>\n'
            '<graph>\n'
            '  <uri>https://ex.org/g2</uri>\n'
            '  <triple><id>bx1</id><uri>http://www.w3.org/1999/02/22-rdf-syntax-ns#type</uri><uri>https://ex.org/Thing</uri></triple>\n'
            '</graph>\n'
            '<graph>\n'
            '  <uri>https://ex.org/g1</uri>\n'
            '  <triple><uri>https://ex.org/e3?a=1&amp;b=2</uri><uri>https://ex.org/ns#note</uri><plainLiteral></plainLiteral></triple>\n'
            '</graph>\n'
            '</TriX>\n'
        ),
    ],
    "trig": [
        (
            '<https://ex.org/g1> {\n'
            '_:d7932655587c22692c7453e95ed2ac8e <https://ex.org/ns#title> "a&b<c>d\\"e\'f\\tg\\rh\\ni"@nl .\n'
            '_:x1 <https://ex.org/ns#rel> _:d7932655587c22692c7453e95ed2ac8e .\n'
            '}\n'
            '<https://ex.org/e2> <https://ex.org/ns#rel> _:x1 .\n'
        ),
        (
            '<https://ex.org/e2> <https://ex.org/ns/size> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
            '<https://ex.org/e3?a=1&b=2> <https://ex.org/ns#gap> "" .\n'
            '<https://ex.org/g2> {\n'
            '_:x1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://ex.org/Thing> .\n'
            '}\n'
            '<https://ex.org/g1> {\n'
            '<https://ex.org/e3?a=1&b=2> <https://ex.org/ns#note> "" .\n'
            '}\n'
        ),
    ],
}


@pytest.mark.parametrize("name", sorted(PINNED_PARTS))
def test_document_writers_pin_part_file_bytes(spark, tmp_path, name):
    """The exact bytes of every part file, so a change to a writer's
    code that keeps its output is checked, not assumed."""
    import glob

    writer = {"rdfxml": write_rdfxml, "trix": write_trix, "trig": write_trig}[name]

    df = spark.createDataFrame(
        spark.sparkContext.parallelize(PINNED_ROWS, 2),
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string, g string",
    )
    path = str(tmp_path / name)
    writer(df, path)
    parts = []
    for part in sorted(glob.glob(path + "/part-*")):
        with open(part, encoding="utf-8", newline="") as fh:
            parts.append(fh.read())
    assert parts == PINNED_PARTS[name]
