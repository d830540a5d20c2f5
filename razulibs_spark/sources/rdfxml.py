"""RDF/XML, TriX and TriG sources/sinks — the document-framed tail of
the S4 multi-format RDF scan (razu/turtle.py:6-32 tries
turtle/xml/n3/nt/trig/nquads/json-ld/trix; the line-framed five live
in sources/rdf_io.py and sources/jsonld.py).

These three formats are DOCUMENT-framed: an RDF/XML or TriX file is
one XML tree, and a TriG graph block spans lines — none of them can be
parsed per input split the way N-Triples can. The scale contract is
therefore per-FILE parallelism: ``session.map_files`` distributes one
task per file (archive metadata documents are per-entity and small —
the same argument as the S5 SIP dir scan), and each file parses
executor-side, its triples framed ``maxRecordsPerBatch`` rows at a
time. A single multi-GB RDF/XML file
does not split; that is the format's nature, and the honest answer at
100 TB is "convert to N-Triples once, then operate line-framed" — the
writers here exist so round trips are testable, while write_ntriples
remains the bulk sink.

The parsers are first principles over ``xml.etree.ElementTree``
(stdlib) — rdflib is deliberately absent. The RDF/XML subset covers
the constructs machine-generated archive RDF actually uses:
rdf:Description and typed node elements, rdf:about / rdf:ID /
rdf:nodeID, property elements with rdf:resource / rdf:nodeID /
rdf:datatype / xml:lang (inherited) / nested nodes, property
attributes, rdf:li, and parseType Resource / Literal / Collection.
Anything outside the subset raises ValueError naming the construct —
an honest rejection, never a silently dropped triple.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from razulibs_spark.operators.rdf import TRIPLE_SCHEMA
from razulibs_spark.sources.rdf_io import _TTL_RE, ntriples_line
from razulibs_spark.session import map_files

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"
TRIX_NS = "http://www.w3.org/2004/03/trix/trix-1/"

_RDF = "{%s}" % RDF_NS
_XML_LANG = "{%s}lang" % XML_NS
_XML_BASE = "{%s}base" % XML_NS

# TRIPLE_SCHEMA + nullable graph label — the quad shape shared with
# read_nquads (rdf_io.py).
QUAD_SCHEMA = StructType(
    list(TRIPLE_SCHEMA.fields) + [StructField("g", StringType(), True)]
)

_NCNAME_RE = r"[A-Za-z_][A-Za-z0-9_.\-]*"

# XML 1.0 Char excludes all C0 controls except TAB/LF/CR: a literal
# holding e.g. \x07 cannot be represented in RDF/XML or TriX at all —
# even as a character reference — so the writers raise instead of
# emitting a document the readers (and every conforming XML parser)
# would reject wholesale (ADVICE r7).
import re as _mod_re

_XML_ILLEGAL_RE = _mod_re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _reject_xml_illegal(col, what: str) -> None:
    bad = col.str.contains(_XML_ILLEGAL_RE, na=False)
    if bad.any():
        raise ValueError(
            f"{what} contains XML-1.0-illegal control character(s): "
            f"{col[bad].iloc[0]!r} — RDF/XML and TriX cannot represent "
            "them; serialize such data as N-Triples/TriG instead"
        )


# ---------------------------------------------------------------------------
# RDF/XML — parse
# ---------------------------------------------------------------------------


def _parse_rdfxml(content: bytes, scope: str) -> list[tuple]:
    """One RDF/XML document → triple tuples. ``scope`` discriminates
    generated blank-node labels so ids never collide across files
    (rdflib scopes bnodes per document the same way)."""
    import hashlib
    import xml.etree.ElementTree as ET
    from urllib.parse import urljoin

    try:
        root = ET.fromstring(content)
    except ET.ParseError as exc:
        # ParseError is a SyntaxError subclass — normalize to the
        # module's ValueError contract so callers need one catch.
        raise ValueError(f"malformed XML: {exc}") from exc
    out: list[tuple] = []
    n_gen = [0]
    tag8 = hashlib.md5(scope.encode()).hexdigest()[:8]

    def bnode(label: str | None = None) -> str:
        if label is None:
            n_gen[0] += 1
            return f"_:g{tag8}n{n_gen[0]}"
        return f"_:n{tag8}_{label}"

    def term_type(term: str) -> str:
        return "bnode" if term.startswith("_:") else "uri"

    def tag_uri(elem) -> str:
        tag = elem.tag
        if not tag.startswith("{"):
            raise ValueError(
                f"RDF/XML: element {tag!r} has no namespace — "
                "cannot form a property/type URI"
            )
        ns, local = tag[1:].split("}", 1)
        return ns + local

    def parse_node(elem, base: str, lang: str | None) -> str:
        base = elem.get(_XML_BASE, base)
        lang = elem.get(_XML_LANG, lang)
        about = elem.get(_RDF + "about")
        rid = elem.get(_RDF + "ID")
        nid = elem.get(_RDF + "nodeID")
        if about is not None:
            subj = urljoin(base, about) if base else about
        elif rid is not None:
            if not base:
                raise ValueError(
                    "RDF/XML: rdf:ID requires an xml:base to resolve "
                    "the fragment against"
                )
            subj = urljoin(base, "#" + rid)
        elif nid is not None:
            subj = bnode(nid)
        else:
            subj = bnode()
        if tag_uri(elem) != RDF_NS + "Description":
            out.append((subj, RDF_NS + "type", tag_uri(elem), "uri",
                        None, None))
        for attr, val in elem.attrib.items():
            if attr in (_RDF + "about", _RDF + "ID", _RDF + "nodeID",
                        _XML_LANG, _XML_BASE):
                continue
            if attr == _RDF + "type":
                out.append((subj, RDF_NS + "type",
                            urljoin(base, val) if base else val,
                            "uri", None, None))
                continue
            if attr.startswith(_RDF):
                raise ValueError(
                    f"RDF/XML: unsupported rdf:* node attribute {attr!r}"
                )
            if not attr.startswith("{"):
                raise ValueError(
                    f"RDF/XML: un-namespaced attribute {attr!r} is not "
                    "a property attribute"
                )
            ns, local = attr[1:].split("}", 1)
            out.append((subj, ns + local, val, "literal", None, lang))
        li = [0]
        for child in elem:
            parse_property(subj, child, base, lang, li)
        return subj

    def parse_property(subj, elem, base, lang, li) -> None:
        base = elem.get(_XML_BASE, base)
        lang = elem.get(_XML_LANG, lang)
        pred = tag_uri(elem)
        if pred == RDF_NS + "li":
            li[0] += 1
            pred = f"{RDF_NS}_{li[0]}"
        ptype = elem.get(_RDF + "parseType")
        res = elem.get(_RDF + "resource")
        nid = elem.get(_RDF + "nodeID")
        dt = elem.get(_RDF + "datatype")
        children = list(elem)
        if ptype == "Resource":
            b = bnode()
            out.append((subj, pred, b, "bnode", None, None))
            inner_li = [0]
            for child in children:
                parse_property(b, child, base, lang, inner_li)
            return
        if ptype == "Literal":
            import xml.etree.ElementTree as ET

            body = (elem.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in children
            )
            out.append((subj, pred, body, "literal",
                        RDF_NS + "XMLLiteral", None))
            return
        if ptype == "Collection":
            items = [parse_node(c, base, lang) for c in children]
            prev: str | None = None
            head = RDF_NS + "nil"
            for i, item in enumerate(items):
                cell = bnode()
                if i == 0:
                    head = cell
                else:
                    out.append((prev, RDF_NS + "rest", cell, "bnode",
                                None, None))
                out.append((cell, RDF_NS + "first", item,
                            term_type(item), None, None))
                prev = cell
            if prev is not None:
                out.append((prev, RDF_NS + "rest", RDF_NS + "nil",
                            "uri", None, None))
            out.append((subj, pred, head, term_type(head), None, None))
            return
        if ptype is not None:
            raise ValueError(f"RDF/XML: unsupported parseType {ptype!r}")
        if res is not None:
            obj = urljoin(base, res) if base else res
            out.append((subj, pred, obj, "uri", None, None))
            return
        if nid is not None:
            out.append((subj, pred, bnode(nid), "bnode", None, None))
            return
        extra = {
            a: v for a, v in elem.attrib.items()
            if a not in (_XML_LANG, _XML_BASE, _RDF + "datatype")
        }
        if children:
            if len(children) != 1 or (elem.text or "").strip():
                raise ValueError(
                    f"RDF/XML: property {pred!r} mixes text and "
                    "multiple node elements"
                )
            obj = parse_node(children[0], base, lang)
            out.append((subj, pred, obj, term_type(obj), None, None))
            return
        if extra:
            # empty property element with property attributes →
            # implicit blank node carrying them as literals. Text
            # content alongside property attributes has no defined
            # triple mapping in this subset — reject rather than
            # silently drop the text (ADVICE r7, same honest-rejection
            # posture as mixed node/text content above).
            if (elem.text or "").strip():
                raise ValueError(
                    f"RDF/XML: property {pred!r} mixes text content "
                    "and property attributes"
                )
            b = bnode()
            out.append((subj, pred, b, "bnode", None, None))
            for attr, val in extra.items():
                if not attr.startswith("{") or attr.startswith(_RDF):
                    raise ValueError(
                        f"RDF/XML: unsupported attribute {attr!r} on "
                        "empty property element"
                    )
                ns, local = attr[1:].split("}", 1)
                out.append((b, ns + local, val, "literal", None, lang))
            return
        text = elem.text or ""
        if dt is not None:
            out.append((subj, pred, text, "literal", dt, None))
        else:
            out.append((subj, pred, text, "literal", None, lang))

    if tag_uri(root) == RDF_NS + "RDF":
        base = root.get(_XML_BASE, "")
        lang = root.get(_XML_LANG)
        for child in root:
            parse_node(child, base, lang)
    else:
        parse_node(root, root.get(_XML_BASE, ""), root.get(_XML_LANG))
    return out


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """S4 source: RDF/XML documents → triples DataFrame. Per-file
    tasks (module docstring); each file parses executor-side with the
    first-principles subset parser. A malformed document raises — the
    scan is an ingest gate, not a best-effort filter."""
    return map_files(
        spark, path, lambda p, data: _parse_rdfxml(data, p), TRIPLE_SCHEMA
    )


# ---------------------------------------------------------------------------
# RDF/XML — serialize
# ---------------------------------------------------------------------------


_RDFXML_HEADER = (
    '<?xml version="1.0" encoding="utf-8"?>\n'
    f'<rdf:RDF xmlns:rdf="{RDF_NS}">'
)
_RDFXML_FOOTER = "</rdf:RDF>"
_QNAME_RE = _mod_re.compile(rf"^(.*[#/])({_NCNAME_RE})$")


def _md5hex(v: str) -> str:
    import hashlib

    return hashlib.md5(v.encode()).hexdigest()


def _xml_attr_escape(col: "pd.Series", what: str) -> "pd.Series":  # noqa: F821
    # \t/\n/\r as numeric refs: attribute-value normalization would
    # otherwise turn each into a space on read-back, and XML line-end
    # normalization a raw CR in text into LF, so the refs are exact in
    # both contexts (ADVICE r7). ``what`` names the value in the error.
    _reject_xml_illegal(col, what)
    return (
        col.str.replace("&", "&amp;", regex=False)
        .str.replace("<", "&lt;", regex=False)
        .str.replace(">", "&gt;", regex=False)
        .str.replace('"', "&quot;", regex=False)
        .str.replace("\t", "&#9;", regex=False)
        .str.replace("\n", "&#10;", regex=False)
        .str.replace("\r", "&#13;", regex=False)
    )


def _node_ids(col: "pd.Series", what: str) -> "pd.Series":  # noqa: F821
    """The escaped XML node id of each blank node in ``col``, for the
    subjects and objects of both XML writers: a parsed ``_:x`` label
    keeps its name as ``bx``; any other value (an engine ``bnode:…``
    id) becomes ``b`` + its md5."""
    ids = "b" + col.map(_md5hex)
    labelled = col.str.startswith("_:")
    ids[labelled] = "b" + col[labelled].str[2:]
    return _xml_attr_escape(ids, what)


def _xml_text_escape(col: "pd.Series") -> "pd.Series":  # noqa: F821
    # \r as &#13;: XML line-end normalization silently rewrites a
    # literal CR to LF on parse (ADVICE r7 — TriG already round-trips
    # CR via \r escapes; keep the three sinks agreeing).
    _reject_xml_illegal(col, "RDF/XML text content")
    return (
        col.str.replace("&", "&amp;", regex=False)
        .str.replace("<", "&lt;", regex=False)
        .str.replace(">", "&gt;", regex=False)
        .str.replace("\r", "&#13;", regex=False)
    )


def _rdfxml_description_lines(pdf) -> "pd.Series":  # noqa: F821
    """One pandas batch of widened triples → rdf:Description elements
    (one per TRIPLE — legal RDF/XML; repeated subjects merge on
    parse; the per-subject grouped form needed a per-row loop that
    measured ~10x slower). Module-level and pure-pandas so the
    roundtrip property suite fuzzes it without a Spark job;
    write_rdfxml frames its output with _RDFXML_HEADER/_RDFXML_FOOTER."""
    what = "RDF/XML attribute value"
    s = pdf["s"].astype(str)
    subj = 'rdf:about="' + _xml_attr_escape(s, what) + '"'
    blank = s.str.startswith(("bnode:", "_:"))
    if blank.any():
        subj[blank] = 'rdf:nodeID="' + _node_ids(s[blank], what) + '"'
    parts = pdf["p"].astype(str).str.extract(_QNAME_RE)
    if parts[0].isna().any():
        bad = pdf["p"][parts[0].isna()].iloc[0]
        raise ValueError(
            f"predicate {bad!r} has no XML-serializable local name"
        )
    open_tag = (
        "  <p:" + parts[1] + ' xmlns:p="' + _xml_attr_escape(parts[0], what)
        + '"'
    )
    o = pdf["o"].fillna("").astype(str)
    # literal body with optional lang/datatype attributes
    elem = open_tag.copy()
    lang_mask = pdf["o_lang"].notna()
    elem[lang_mask] = (
        elem[lang_mask] + ' xml:lang="'
        + _xml_attr_escape(pdf["o_lang"][lang_mask].astype(str), what) + '"'
    )
    dt_mask = pdf["o_datatype"].notna() & ~lang_mask
    elem[dt_mask] = (
        elem[dt_mask] + ' rdf:datatype="'
        + _xml_attr_escape(pdf["o_datatype"][dt_mask].astype(str), what)
        + '"'
    )
    elem = elem + ">" + _xml_text_escape(o) + "</p:" + parts[1] + ">"
    umask = pdf["o_type"] == "uri"
    elem[umask] = (
        open_tag[umask] + ' rdf:resource="' + _xml_attr_escape(o[umask], what)
        + '"/>'
    )
    bnmask = pdf["o_type"] == "bnode"
    if bnmask.any():
        elem[bnmask] = (
            open_tag[bnmask] + ' rdf:nodeID="' + _node_ids(o[bnmask], what)
            + '"/>'
        )
    return (
        "<rdf:Description " + subj + ">\n" + elem + "\n</rdf:Description>"
    )


def _write_framed(frame: DataFrame, path: str, chunks,
                  header: str | None = None,
                  footer: str | None = None) -> None:
    """The batch pass of the three document writers: each partition
    of ``frame`` becomes one part file holding ``header``, the rows
    ``chunks`` makes of every non-empty Arrow batch, then ``footer``;
    an empty partition gets neither. The text sink ends every row with
    a newline, so a header row writes the same bytes as a header glued
    to the first chunk."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opened = False
        for pdf in it:
            if not len(pdf):
                continue
            rows = list(chunks(pdf))
            if not opened and header is not None:
                rows.insert(0, header)
            opened = True
            yield pd.DataFrame({"value": rows})
        if opened and footer is not None:
            yield pd.DataFrame({"value": [footer]})

    frame.mapInPandas(batches, "value string").write.mode(
        "overwrite"
    ).text(path)


def write_rdfxml(triples: DataFrame, path: str) -> None:
    """K2-family sink: each partition becomes ONE part file holding
    ONE complete RDF/XML document (XML forbids concatenated roots, so
    unlike Turtle the header/footer must bracket the whole partition —
    the framing pass emits the header before the first non-empty
    batch and the footer after the last). Predicate namespaces are
    declared per property element (streaming-friendly: the root can't
    know the namespace set up front); one rdf:Description per triple
    (repeated subjects are legal RDF/XML and merge on parse — the
    grouped form needed a row loop ~10x slower). Bulk interchange at
    scale stays write_ntriples.

    Blank-node round-trip contract (ADVICE r7): each part file is an
    independent document and the reader scopes ``rdf:nodeID`` labels
    per file, so a bnode whose triples straddle a partition boundary
    splits into two distinct bnodes on read-back. Round-trip identity
    holds for bnode-free data or when bnode-sharing triples are
    co-partitioned — ``triples.repartition("s")`` (skolemized engine
    bnodes ride the subject column) before writing when that matters."""
    _write_framed(triples, path, _rdfxml_description_lines,
                  _RDFXML_HEADER, _RDFXML_FOOTER)


# ---------------------------------------------------------------------------
# TriX (S4) — the simplest XML RDF syntax: <TriX><graph><uri>g</uri>
# <triple>term term term</triple>…</graph></TriX>, terms being
# <uri>/<id>/<plainLiteral xml:lang?>/<typedLiteral datatype>.
# ---------------------------------------------------------------------------


def _parse_trix(content: bytes, scope: str) -> list[tuple]:
    import hashlib
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(content)
    except ET.ParseError as exc:
        raise ValueError(f"malformed XML: {exc}") from exc
    ns = "{%s}" % TRIX_NS
    if root.tag not in (ns + "TriX", ns + "trix"):
        raise ValueError(f"not a TriX document (root {root.tag!r})")
    tag8 = hashlib.md5(scope.encode()).hexdigest()[:8]
    out: list[tuple] = []

    def term(elem) -> tuple[str, str, str | None, str | None]:
        tag = elem.tag.removeprefix(ns)
        text = elem.text or ""
        if tag == "uri":
            return text, "uri", None, None
        if tag == "id":
            return f"_:n{tag8}_{text}", "bnode", None, None
        if tag == "plainLiteral":
            return text, "literal", None, elem.get(_XML_LANG)
        if tag == "typedLiteral":
            dt = elem.get("datatype")
            if dt is None:
                raise ValueError("TriX typedLiteral without datatype")
            return text, "literal", dt, None
        raise ValueError(f"TriX: unsupported term element {tag!r}")

    for graph in root:
        if graph.tag != ns + "graph":
            raise ValueError(f"TriX: expected <graph>, got {graph.tag!r}")
        children = list(graph)
        g: str | None = None
        if children and children[0].tag == ns + "uri":
            g = children[0].text or ""
            children = children[1:]
        for t in children:
            if t.tag != ns + "triple":
                raise ValueError(f"TriX: expected <triple>, got {t.tag!r}")
            terms = list(t)
            if len(terms) != 3:
                raise ValueError("TriX: triple must hold exactly 3 terms")
            s, s_type, _, _ = term(terms[0])
            if s_type == "literal":
                raise ValueError("TriX: literal subject")
            p, p_type, _, _ = term(terms[1])
            if p_type != "uri":
                raise ValueError("TriX: predicate must be a uri")
            o, o_type, o_dt, o_lang = term(terms[2])
            out.append((s, p, o, o_type, o_dt, o_lang, g))
    return out


def read_trix(spark: SparkSession, path: str) -> DataFrame:
    """S4 source: TriX documents → quads DataFrame (TRIPLE_SCHEMA +
    nullable ``g``, same shape as read_nquads). Per-file tasks."""
    return map_files(
        spark, path, lambda p, data: _parse_trix(data, p), QUAD_SCHEMA
    )


_TRIX_HEADER = (
    '<?xml version="1.0" encoding="utf-8"?>\n' f'<TriX xmlns="{TRIX_NS}">'
)
_TRIX_FOOTER = "</TriX>"


def _trix_triple_lines(grp) -> "pd.Series":  # noqa: F821
    """Vectorized <triple> rows (the per-row loop measured ~10x). Text
    and attributes share the attribute escape: its numeric refs are
    exact in both contexts."""
    def esc(col):
        return _xml_attr_escape(col, "TriX value")

    s = grp["s"].astype(str)
    subj = "<uri>" + esc(s) + "</uri>"
    blank = s.str.startswith(("bnode:", "_:"))
    if blank.any():
        subj[blank] = "<id>" + _node_ids(s[blank], "TriX value") + "</id>"
    o = grp["o"].fillna("").astype(str)
    obody = esc(o)
    obj = "<plainLiteral>" + obody + "</plainLiteral>"
    lang_mask = grp["o_lang"].notna()
    obj[lang_mask] = (
        '<plainLiteral xml:lang="'
        + esc(grp["o_lang"][lang_mask].astype(str)) + '">'
        + obody[lang_mask] + "</plainLiteral>"
    )
    dt_mask = grp["o_datatype"].notna() & ~lang_mask
    obj[dt_mask] = (
        '<typedLiteral datatype="'
        + esc(grp["o_datatype"][dt_mask].astype(str)) + '">'
        + obody[dt_mask] + "</typedLiteral>"
    )
    umask = grp["o_type"] == "uri"
    obj[umask] = "<uri>" + obody[umask] + "</uri>"
    bnmask = grp["o_type"] == "bnode"
    if bnmask.any():
        obj[bnmask] = "<id>" + _node_ids(o[bnmask], "TriX value") + "</id>"
    return (
        "  <triple>" + subj
        + "<uri>" + esc(grp["p"].astype(str)) + "</uri>"
        + obj + "</triple>"
    )


def _trix_graph_chunks(pdf) -> list[str]:
    """One pandas batch of widened quads → complete <graph> blocks
    (repeated blocks per label are legal TriX and merge on parse).
    Module-level and pure-pandas for the roundtrip property suite."""
    chunks: list[str] = []
    for g, grp in pdf.groupby(pdf["g"].fillna(""), sort=False):
        lines = ["<graph>"]
        if g:
            label = _xml_attr_escape(grp["g"].iloc[:1].astype(str), "TriX value")
            lines.append(f"  <uri>{label.iloc[0]}</uri>")
        lines.extend(_trix_triple_lines(grp))
        lines.append("</graph>")
        chunks.append("\n".join(lines))
    return chunks


def write_trix(triples: DataFrame, path: str) -> None:
    """TriX sink: one complete document per partition part file; rows
    group by graph label within each Arrow batch (repeated <graph>
    blocks for one label are legal TriX). Accepts the quad shape (g
    nullable/absent → unnamed graph).

    Blank-node round-trip contract (ADVICE r7): same per-file bnode
    scoping as write_rdfxml — a bnode split across partitions becomes
    two bnodes on read-back; co-partition bnode-sharing triples (e.g.
    ``repartition("s")``) when round-trip identity matters. read_trig
    by contrast passes ``_:`` labels through unscoped."""
    if "g" not in triples.columns:
        triples = triples.withColumn("g", F.lit(None).cast("string"))
    _write_framed(triples, path, _trix_graph_chunks, _TRIX_HEADER,
                  _TRIX_FOOTER)


# ---------------------------------------------------------------------------
# TriG (S4) — Turtle + graph blocks. Graph context spans lines, so the
# reader parses per FILE (stateful line walk), not per line; inside a
# block a statement line is one line of the subset read_turtle
# accepts (rdf_io._TTL_RE: one triple per ' .'-terminated line, full
# IRIs or prefixed names, typed/tagged literals, a trailing comment).
# The writer formats those lines with rdf_io.ntriples_line().
# ---------------------------------------------------------------------------


def _py_unescape(lit: str) -> str:
    """Python twin of rdf_io._unescape_literal (5 writer escapes,
    decoded left-to-right)."""
    if "\\" not in lit:
        return lit
    out, i = [], 0
    table = {"\\": "\\", "n": "\n", "r": "\r", "t": "\t", '"': '"'}
    while i < len(lit):
        c = lit[i]
        if c == "\\" and i + 1 < len(lit) and lit[i + 1] in table:
            out.append(table[lit[i + 1]])
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse_trig(text: str) -> list[tuple]:
    import re

    rx = re.compile(_TTL_RE)
    rdf_type = RDF_NS + "type"
    pmap: dict[str, str] = {}
    out: list[tuple] = []
    graph: str | None = None

    def expand(pn: str) -> str:
        k, _, local = pn.partition(":")
        return pmap[k] + local if k in pmap else pn

    open_re = re.compile(
        r'^(?:GRAPH\s+)?(?:<([^>]*)>|([A-Za-z][\w\-]*:[^\s<>"{]*))\s*\{\s*$'
    )
    # split on \n only (CRLF handled by strip below) — NOT
    # str.splitlines(), which also breaks on \x0b/\x0c/\x1c-\x1e/
    # \x85/U+2028/U+2029; those are legal inside a quoted literal
    # (the writer escapes only \n and \r, matching the Hadoop
    # line-reader semantics of the line-framed formats) and must not
    # shatter the line mid-literal.
    for rawline in text.split("\n"):
        line = rawline.strip()
        if not line or line.startswith("#"):
            continue
        if line.startswith("@prefix"):
            m = re.match(r"@prefix\s+([A-Za-z][\w\-]*):\s*<([^>]*)>", line)
            if m:
                pmap[m.group(1)] = m.group(2)
            continue
        if line == "}":
            if graph is None:
                raise ValueError("TriG: '}' without an open graph block")
            graph = None
            continue
        mo = open_re.match(line)
        if mo:
            if graph is not None:
                raise ValueError("TriG: nested graph blocks")
            graph = mo.group(1) if mo.group(1) is not None else expand(
                mo.group(2)
            )
            continue
        m = rx.match(line)
        if not m:
            raise ValueError(f"TriG: unparseable line {line[:80]!r}")
        g = m.group
        s = g(1) or g(2) or expand(g(3))
        p = rdf_type if g(6) else (g(4) or expand(g(5)))
        if g(7) is not None or g(13):
            o, o_type, dt, lang = (g(7) or expand(g(13))), "uri", None, None
        elif g(8):
            o, o_type, dt, lang = g(8), "bnode", None, None
        else:
            o, o_type = _py_unescape(g(9) or ""), "literal"
            lang = g(10)
            dt = g(11) or (expand(g(12)) if g(12) else None)
        out.append((s, p, o, o_type, dt, lang, graph))
    if graph is not None:
        raise ValueError("TriG: unterminated graph block")
    return out


def read_trig(spark: SparkSession, path: str) -> DataFrame:
    """S4 source: TriG (line-oriented subset + graph blocks) → quads
    DataFrame. Per-file tasks: the graph-block state machine walks one
    file per task — files parse independently, so the scan distributes
    across the corpus even though a block can't split."""
    return map_files(
        spark, path, lambda p, data: _parse_trig(data.decode("utf-8")), QUAD_SCHEMA
    )


def _trig_chunks(pdf) -> list[str]:
    """One pandas batch of formatted statement lines and their graph
    labels → complete `<g> { … }` blocks plus bare default-graph lines
    (repeated blocks per label are legal TriG and merge on parse)."""
    chunks: list[str] = []
    for g, grp in pdf.groupby(pdf["g"].fillna(""), sort=False):
        if g:
            chunks.append(f"<{g}> {{\n" + "\n".join(grp["line"]) + "\n}")
        else:
            chunks.extend(grp["line"])
    return chunks


def write_trig(triples: DataFrame, path: str) -> None:
    """TriG sink: each partition emits complete `<g> { … }` blocks
    (plus bare default-graph lines) of N-Triples lines. A graph's rows
    may span partitions — repeated blocks with the same label are
    legal TriG and merge on parse, so the writer keeps its input's
    partitioning instead of collapsing to one partition per graph;
    `cat part-*` is itself valid TriG, the same merge property as
    write_turtle. The JVM formats each line with ntriples_line(), the
    one term formatter of the line sinks; the Python pass only groups
    the ready lines into blocks."""
    if "g" not in triples.columns:
        triples = triples.withColumn("g", F.lit(None).cast("string"))
    lines = triples.select(ntriples_line().alias("line"), "g")
    _write_framed(lines, path, _trig_chunks)
