"""ODT (OpenDocument Text) extraction — the 16th file format: EU and
Dutch government bodies (the reference's own archival domain) mandate
OpenDocument for records, so an archive-scale corpus pipeline meets
.odt right next to .docx. No odfpy in this container and none needed
for the text layer: an ODT is a zip (ODF OCF container — ``mimetype``
member first and STORED, per spec) whose ``content.xml`` holds the
document as ``text:p``/``text:h`` paragraphs.

The text-layer semantics this parser covers (each planted in the
fixture corpus):
- WHITESPACE ELISION — the defining ODF trap: runs of spaces are
  collapsed by conforming producers and multiple spaces are encoded
  as ``<text:s text:c="N"/>`` which must expand to exactly N spaces
  (a parser that ignores it silently joins words),
- ``<text:tab/>`` → TAB, ``<text:line-break/>`` → newline,
- ``text:span`` / ``text:a`` formatting transparency (nested runs
  concatenate; link text kept, target dropped),
- ``text:note`` (footnotes) and ``office:annotation`` (comments)
  dropped WHOLE — their citation bodies are not document prose,
  while their tails still belong to the paragraph,
- ``text:h`` headings are paragraphs like any other.

Structural checks: the OCF ``mimetype`` member must name an
OpenDocument text document, and ``content.xml`` must exist —
violations raise ValueError naming the defect; the Spark stage is
fail-closed per row. Writer is template-string XML, parser is
ElementTree — independent implementations.

Scale: one Arrow ``mapInPandas`` pass over (doc_id, payload) rows,
map-only — the media-family shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.sources.archives import Package, zip_package
from razulibs_spark.tables import PAYLOAD_SCHEMA, parse_payloads, widen_python_stage
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_ODT_MIME = "application/vnd.oasis.opendocument.text"


def _t(tag: str) -> str:
    return f"{{{_TEXT_NS}}}{tag}"


def _o(tag: str) -> str:
    return f"{{{_OFFICE_NS}}}{tag}"


_DROP = {_t("note"), _o("annotation")}


def _para_text(el: ET.Element) -> str:
    """One text:p / text:h → its prose: expand text:s/tab/line-break,
    recurse through spans/links, drop note+annotation subtrees (their
    TAILS still belong to the paragraph)."""
    parts: list[str] = []
    if el.text:
        parts.append(el.text)
    for child in el:
        if child.tag == _t("s"):
            n = int(child.get(_t("c"), "1"))
            parts.append(" " * n)
        elif child.tag == _t("tab"):
            parts.append("\t")
        elif child.tag == _t("line-break"):
            parts.append("\n")
        elif child.tag in _DROP:
            pass  # subtree dropped; tail handled below
        else:  # span / a / anything formatting-transparent
            parts.append(_para_text(child))
        if child.tail:
            parts.append(child.tail)
    return "".join(parts)


def parse_odt(payload: bytes) -> dict:
    """One .odt → {'n_paragraphs', 'text' (paragraphs joined by \\n)}."""
    pkg = Package(payload, "odt")
    pkg.check_mimetype(_ODT_MIME)
    if "content.xml" not in pkg.names:
        raise ValueError("odt: content.xml missing in the package")
    root = pkg.xml("content.xml")
    body = root.find(_o("body"))
    text_el = body.find(_o("text")) if body is not None else None
    if text_el is None:
        raise ValueError("odt: no office:body/office:text")
    paras = [
        _para_text(el)
        for el in text_el
        if el.tag in (_t("p"), _t("h"))
    ]
    return {"n_paragraphs": len(paras), "text": "\n".join(paras)}


# ---------------------------------------------------------------------------
# Writer (template-string XML — independent of the ET parser)
# ---------------------------------------------------------------------------


_CONTENT_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    f'<office:document-content xmlns:office="{_OFFICE_NS}" '
    f'xmlns:text="{_TEXT_NS}" office:version="1.2">'
    "<office:body><office:text>"
)
_CONTENT_TAIL = "</office:text></office:body></office:document-content>"

_MANIFEST = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:'
    'opendocument:xmlns:manifest:1.0">'
    '<manifest:file-entry manifest:full-path="/" '
    f'manifest:media-type="{_ODT_MIME}"/>'
    '<manifest:file-entry manifest:full-path="content.xml" '
    'manifest:media-type="text/xml"/></manifest:manifest>'
)

_WORDS_PER_PARA = 8


def encode_odt(d: int, words: list[str], poison: bool = False) -> bytes:
    """One real .odt from doc d: a heading, a torture paragraph
    (text:s c=3 expansion, tab, line-break, a footnote and an
    annotation that must DROP while their tails survive, a nested
    bold span), then 8-word paragraphs whose middle word sits in its
    own span. ``poison``: valid OCF, correct mimetype, no
    content.xml."""
    paras = [f'<text:h text:outline-level="1">Doc {d}</text:h>']
    w0 = escape(words[0]) if words else "x"
    paras.append(
        "<text:p>a<text:s text:c=\"3\"/>b<text:tab/>c"
        "<text:line-break/>d"
        "<text:note text:note-class=\"footnote\"><text:note-body>"
        "<text:p>dropped footnote</text:p></text:note-body></text:note>"
        " tail-kept"
        "<office:annotation><text:p>dropped comment</text:p>"
        "</office:annotation>"
        f" <text:span text:style-name=\"B\">{w0}"
        "<text:span> nested</text:span></text:span> end</text:p>"
    )
    for i in range(0, len(words), _WORDS_PER_PARA):
        c = words[i:i + _WORDS_PER_PARA]
        if len(c) >= 3:
            mid = len(c) // 2
            body = (
                escape(" ".join(c[:mid]))
                + ' <text:span text:style-name="T1">'
                + escape(c[mid])
                + "</text:span> "
                + escape(" ".join(c[mid + 1:]))
            )
        else:
            body = escape(" ".join(c))
        paras.append(f"<text:p>{body}</text:p>")
    content = _CONTENT_HEAD + "".join(paras) + _CONTENT_TAIL
    members = {"mimetype": _ODT_MIME, "META-INF/manifest.xml": _MANIFEST}
    if not poison:
        members["content.xml"] = content
    return zip_package(members)


def encode_odt_foreign(d: int, words: list[str]) -> bytes:
    """Second-producer .odt: the same logical document SERIALIZED BY
    ElementTree (auto ns0:/ns1: prefixes — namespace-URI parsing is
    what survives, prefix string-matching is what breaks), with the
    structural noise real office suites add: an office:automatic-
    styles element before the body, a text:sequence-decls child
    inside office:text, and styles.xml/meta.xml members listed in a
    richer manifest. Extraction must be producer-invariant — same
    paragraphs, same text — so the oracle needs no new branch."""
    root = ET.Element(_o("document-content"), {_o("version"): "1.2"})
    ET.SubElement(root, _o("automatic-styles"))
    body = ET.SubElement(root, _o("body"))
    txt = ET.SubElement(body, _o("text"))
    ET.SubElement(txt, _t("sequence-decls"))
    head = ET.SubElement(txt, _t("h"), {_t("outline-level"): "1"})
    head.text = f"Doc {d}"
    w0 = words[0] if words else "x"
    p = ET.SubElement(txt, _t("p"))
    p.text = "a"
    sp = ET.SubElement(p, _t("s"), {_t("c"): "3"})
    sp.tail = "b"
    tab = ET.SubElement(p, _t("tab"))
    tab.tail = "c"
    br = ET.SubElement(p, _t("line-break"))
    br.tail = "d"
    note = ET.SubElement(p, _t("note"), {_t("note-class"): "footnote"})
    nb = ET.SubElement(note, _t("note-body"))
    ET.SubElement(nb, _t("p")).text = "dropped footnote"
    note.tail = " tail-kept"
    ann = ET.SubElement(p, _o("annotation"))
    ET.SubElement(ann, _t("p")).text = "dropped comment"
    ann.tail = " "
    span = ET.SubElement(p, _t("span"), {_t("style-name"): "B"})
    span.text = w0
    ET.SubElement(span, _t("span")).text = " nested"
    span.tail = " end"
    for i in range(0, len(words), _WORDS_PER_PARA):
        c = words[i:i + _WORDS_PER_PARA]
        para = ET.SubElement(txt, _t("p"))
        if len(c) >= 3:
            mid = len(c) // 2
            para.text = " ".join(c[:mid]) + " "
            mid_span = ET.SubElement(
                para, _t("span"), {_t("style-name"): "T1"}
            )
            mid_span.text = c[mid]
            mid_span.tail = " " + " ".join(c[mid + 1:])
        else:
            para.text = " ".join(c)
    content = ET.tostring(root, encoding="unicode")
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:'
        'opendocument:xmlns:manifest:1.0">'
        '<manifest:file-entry manifest:full-path="/" '
        f'manifest:media-type="{_ODT_MIME}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" '
        'manifest:media-type="text/xml"/>'
        '<manifest:file-entry manifest:full-path="styles.xml" '
        'manifest:media-type="text/xml"/>'
        '<manifest:file-entry manifest:full-path="meta.xml" '
        'manifest:media-type="text/xml"/></manifest:manifest>'
    )
    styles = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-styles xmlns:office="{_OFFICE_NS}" '
        'office:version="1.2"><office:styles/>'
        "</office:document-styles>"
    )
    meta = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-meta xmlns:office="{_OFFICE_NS}" '
        'office:version="1.2"><office:meta/></office:document-meta>'
    )
    return zip_package({
        "mimetype": _ODT_MIME,
        "META-INF/manifest.xml": manifest,
        "content.xml": content,
        "styles.xml": styles,
        "meta.xml": meta,
    })


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

ODT_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("n_paragraphs", LongType(), True),
        StructField("text_md5", StringType(), True),
        StructField("note", StringType(), True),
    ]
)


def synthesize_odt_media(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) real .odt; d%37 == 13 is the
    poison slot (valid OCF + mimetype, content.xml missing); of the
    rest, d%41 == 7 comes from the FOREIGN producer (ElementTree
    serialization with auto ns0:/ns1: prefixes, automatic-styles and
    sequence-decls noise, styles.xml/meta.xml members) — extraction
    is producer-invariant so the oracle is unchanged."""

    def _one(d: int, text: str) -> bytes:
        if d % 37 == 13:
            return encode_odt(d, text.split(" "), poison=True)
        if d % 41 == 7:
            return encode_odt_foreign(d, text.split(" "))
        return encode_odt(d, text.split(" "))

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")),
        lambda doc_id, text: [(int(doc_id), _one(int(doc_id), str(text)))],
        PAYLOAD_SCHEMA,
    )


def _text_stats(payload: bytes) -> tuple:
    m = parse_odt(payload)
    return m["n_paragraphs"], hashlib.md5(m["text"].encode("utf-8")).hexdigest(), None


def odt_text_stats(media: DataFrame) -> DataFrame:
    """Parse each payload for real; fail-closed per row."""
    return parse_payloads(media, _text_stats, ODT_TEXT_SCHEMA)
