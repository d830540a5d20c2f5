"""DOCX (OOXML WordprocessingML, ISO/IEC 29500) text extraction —
the 11th file format, and the office-document face of the same
ingestion problem PDF solved: corpora arrive as .docx at scale
(enterprise dumps, government archives — the reference's own domain
classifies office formats via DROID sidecars,
razu/demo/csv_luchtfotos/metadata/droid.csv).

First principles over the public container grammar, stdlib only: a
.docx is an OPC ZIP package; the package-level ``_rels/.rels``
relationship file names the main document part (Type
``…/officeDocument``), conventionally ``word/document.xml``; that
part's ``<w:body>`` holds ``<w:p>`` paragraphs (and ``<w:tbl>``
tables containing more paragraphs), each a sequence of ``<w:r>``
runs whose ``<w:t>`` elements carry the text. Extraction semantics
implemented the way Word does them:

- runs concatenate with NO separator (formatting splits — a bolded
  word mid-sentence — must be invisible in the text layer),
- ``<w:t>`` leading/trailing spaces are STRIPPED unless the element
  declares ``xml:space="preserve"`` (§17.3.3.31),
- ``<w:tab/>`` → \\t, ``<w:br/>``/``<w:cr/>`` → \\n inside the
  paragraph,
- body children walk in document order; a table's cell paragraphs
  flatten in order (the text layer a dedup/quality stage wants),
- paragraphs join with \\n.

Fail-closed per row (``tables.parse_payloads``): a package without a
resolvable main part, or a corrupt one, reports parsed=false + note,
never kills the task.

Scale shape: media synthesis and parsing are each ONE Arrow
``mapInPandas`` stage over binary payloads — same posture as
operators/pdf.py / tiff.py.
"""

from __future__ import annotations

import hashlib
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.sources.archives import _REL_NS, Package, zip_package
from razulibs_spark.tables import PAYLOAD_SCHEMA, parse_payloads, widen_python_stage
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_W_NS = (
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
)
_OFFICE_DOC_TYPE = (
    "http://schemas.openxmlformats.org/officeDocument/2006/"
    "relationships/officeDocument"
)
_XML_SPACE = "{http://www.w3.org/XML/1998/namespace}space"


def _w(tag: str) -> str:
    return "{" + _W_NS + "}" + tag


# ---------------------------------------------------------------------------
# Parse
# ---------------------------------------------------------------------------


def _paragraph_text(p: ET.Element) -> str:
    """One <w:p> → its text: runs concatenate bare; w:t strips
    outer spaces unless xml:space=preserve; tab/br/cr expand."""
    parts: list[str] = []
    for el in p.iter():
        tag = el.tag
        if tag == _w("t"):
            text = el.text or ""
            if el.get(_XML_SPACE) != "preserve":
                text = text.strip(" ")
            parts.append(text)
        elif tag == _w("tab"):
            parts.append("\t")
        elif tag in (_w("br"), _w("cr")):
            parts.append("\n")
    return "".join(parts)


def parse_docx_text(payload: bytes) -> dict:
    """One .docx payload → {"paragraphs": [str, ...]}. Raises
    ValueError naming the defect on an unreadable package. The main
    part is found through the package relationships — the OPC-correct
    route (never assume word/document.xml; renamed main parts are
    legal and exist in the wild)."""
    pkg = Package(payload, "docx")
    rels = pkg.rels("")
    if rels is None:
        raise ValueError("docx: package has no _rels/.rels")
    part = next((p for t, p in rels.values() if t == _OFFICE_DOC_TYPE), None)
    if part is None:
        raise ValueError("docx: no officeDocument relationship")
    if part not in pkg.names:
        raise ValueError(f"docx: main part {part} missing")
    root = pkg.xml(part)
    body = root.find(_w("body"))
    if body is None:
        raise ValueError("docx: document has no w:body")
    paragraphs: list[str] = []
    for child in body:
        if child.tag == _w("p"):
            paragraphs.append(_paragraph_text(child))
        elif child.tag == _w("tbl"):
            # flatten cell paragraphs in document order
            paragraphs.extend(
                _paragraph_text(p) for p in child.iter(_w("p"))
            )
        # sectPr and friends carry no text
    return {"paragraphs": paragraphs}


# ---------------------------------------------------------------------------
# Synthesis (fixture-side twin)
# ---------------------------------------------------------------------------

DOCX_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("n_paragraphs", LongType(), True),
        StructField("text_md5", StringType(), True),
        StructField("note", StringType(), True),
    ]
)

_WORDS_PER_PARA = 8


def _run(text: str, preserve: bool = False, bold: bool = False) -> str:
    space = ' xml:space="preserve"' if preserve else ""
    rpr = "<w:rPr><w:b/></w:rPr>" if bold else ""
    return f"<w:r>{rpr}<w:t{space}>{escape(text)}</w:t></w:r>"


def _document_xml(d: int, words: list[str]) -> str:
    """The planted WordprocessingML body: a torture first paragraph
    (entity escapes, a tab, strip-vs-preserve whitespace), 8-word
    content paragraphs whose middle word sits in its own bolded run
    flanked by xml:space=preserve runs (run-transparency check), and
    a 1×2 table on every 5th doc."""
    paras: list[str] = []
    torture = (
        "<w:p>"
        + _run("  AT&T <tag>  ")          # no preserve -> strips
        + "<w:r><w:tab/></w:r>"
        + _run('"padded" #', preserve=True)
        + _run(str(d))
        + "</w:p>"
    )
    paras.append(torture)
    for i in range(0, len(words), _WORDS_PER_PARA):
        c = words[i:i + _WORDS_PER_PARA]
        if len(c) >= 3:
            mid = len(c) // 2
            runs = (
                _run(" ".join(c[:mid]) + " ", preserve=True)
                + _run(c[mid], bold=True)
                + _run(" " + " ".join(c[mid + 1:]), preserve=True)
            )
        else:
            runs = _run(" ".join(c))
        paras.append("<w:p>" + runs + "</w:p>")
    tbl = ""
    if d % 5 == 0:
        tbl = (
            "<w:tbl><w:tr>"
            f"<w:tc><w:p>{_run(f'cell A{d}')}</w:p></w:tc>"
            f"<w:tc><w:p>{_run(f'cell B{d}')}</w:p></w:tc>"
            "</w:tr></w:tbl>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(paras)
        + tbl
        + "<w:sectPr/></w:body></w:document>"
    )


_RELS_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_REL_NS}">'
    '<Relationship Id="rId1" Type="' + _OFFICE_DOC_TYPE + '" '
    'Target="word/document.xml"/></Relationships>'
)

_CONTENT_TYPES_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/"
    "content-types\">"
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.'
    'main+xml"/></Types>'
)


def encode_docx(d: int, words: list[str], poison: bool = False) -> bytes:
    """One real .docx package. ``poison`` writes a structurally valid
    OPC zip whose relationships point at a main part that is not in
    the package — the fail-closed fixture."""
    members = {"[Content_Types].xml": _CONTENT_TYPES_XML, "_rels/.rels": _RELS_XML}
    if not poison:
        members["word/document.xml"] = _document_xml(d, words)
    return zip_package(members)


def _document_xml_etree(d: int, words: list[str]) -> bytes:
    """The SAME planted body as _document_xml, serialized by a SECOND
    implementation — ElementTree (VERDICT r9 item 6): its own prefix
    declarations, attribute quoting, self-closing form and xml
    declaration, none of which the template writer produces."""
    ET.register_namespace("w", _W_NS)

    def W(t: str) -> str:
        return f"{{{_W_NS}}}{t}"

    doc = ET.Element(W("document"))
    body = ET.SubElement(doc, W("body"))

    def add_run(p, text, preserve=False, bold=False):
        r = ET.SubElement(p, W("r"))
        if bold:
            rpr = ET.SubElement(r, W("rPr"))
            ET.SubElement(rpr, W("b"))
        t = ET.SubElement(r, W("t"))
        if preserve:
            t.set(_XML_SPACE, "preserve")
        t.text = text

    p = ET.SubElement(body, W("p"))
    add_run(p, "  AT&T <tag>  ")
    r = ET.SubElement(p, W("r"))
    ET.SubElement(r, W("tab"))
    add_run(p, '"padded" #', preserve=True)
    add_run(p, str(d))
    for i in range(0, len(words), _WORDS_PER_PARA):
        c = words[i:i + _WORDS_PER_PARA]
        p = ET.SubElement(body, W("p"))
        if len(c) >= 3:
            mid = len(c) // 2
            add_run(p, " ".join(c[:mid]) + " ", preserve=True)
            add_run(p, c[mid], bold=True)
            add_run(p, " " + " ".join(c[mid + 1:]), preserve=True)
        else:
            add_run(p, " ".join(c))
    if d % 5 == 0:
        tbl = ET.SubElement(body, W("tbl"))
        tr = ET.SubElement(tbl, W("tr"))
        for label in ("A", "B"):
            tc = ET.SubElement(tr, W("tc"))
            pc = ET.SubElement(tc, W("p"))
            add_run(pc, f"cell {label}{d}")
    ET.SubElement(body, W("sectPr"))
    return ET.tostring(doc, encoding="UTF-8", xml_declaration=True)


def encode_docx_foreign(d: int, words: list[str]) -> bytes:
    """Second-producer .docx: ElementTree-serialized main part under a
    NON-default part name (word/doc-main.xml) that only the OPC
    relationship walk can find, stored UNCOMPRESSED — a package shaped
    the way another exporter would shape it, with identical logical
    content (the extraction output must not move)."""
    alt = "word/doc-main.xml"
    members = {
        "[Content_Types].xml": _CONTENT_TYPES_XML.replace("/word/document.xml", "/" + alt),
        "_rels/.rels": _RELS_XML.replace("word/document.xml", alt),
        alt: _document_xml_etree(d, words),
    }
    return zip_package(members, stored=members)


def synthesize_docx_media(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) real .docx packages; every doc
    with d % 19 == 7 is the poison slot (main part missing); every
    non-poison doc with d % 23 == 13 comes from the ElementTree-based
    SECOND producer (encode_docx_foreign — alternate part name,
    stored members) with identical logical content."""

    def one(doc_id, text):
        d = int(doc_id)
        ws = str(text).split(" ")
        if d % 19 == 7:
            return [(d, encode_docx(d, ws, poison=True))]
        if d % 23 == 13:
            return [(d, encode_docx_foreign(d, ws))]
        return [(d, encode_docx(d, ws))]

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")),
        one, PAYLOAD_SCHEMA,
    )


def _text_stats(payload: bytes) -> tuple:
    paragraphs = parse_docx_text(payload)["paragraphs"]
    text = "\n".join(paragraphs)
    return len(paragraphs), hashlib.md5(text.encode("utf-8")).hexdigest(), None


def docx_text_stats(media: DataFrame) -> DataFrame:
    """Parse each payload for real; fail-closed per row."""
    return parse_payloads(media, _text_stats, DOCX_TEXT_SCHEMA)
