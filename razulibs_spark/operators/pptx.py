"""PPTX (PresentationML) text extraction — the 18th file format:
slide decks are the third leg of the OPC office triad (DOCX/XLSX/
PPTX) and enterprise/government corpora are full of them; a pipeline
that reads documents and spreadsheets but not presentations loses
the entire briefing/training-deck genre. No python-pptx in this
container and none needed for the TEXT layer: a .pptx is an OPC zip
whose presentation part lists slides IN ORDER (p:sldIdLst), each
slide resolving through the presentation's relationships part to a
slide XML whose shape tree carries DrawingML text runs.

The extraction traps this parser covers (each planted in the
fixture corpus):
- SLIDE ORDER comes from p:sldIdLst + rels resolution, never from
  zip member order or slide file names (the fixture numbers its
  slide parts in reverse to force the walk),
- runs concatenate WITHIN a paragraph (``<a:r><a:t>`` fragments —
  PowerPoint splits mid-word on formatting boundaries constantly),
- ``<a:br/>`` is a line break inside the paragraph,
- ``<a:fld>`` field runs (slide numbers, dates) are CHROME and must
  drop — the classic leak is every slide's text ending in its page
  number,
- shapes without a text body (pictures, connectors) contribute
  nothing,
- a slide part present in the package but absent from p:sldIdLst
  (an orphan/deleted slide) must NOT extract.

Opt-in (r12): ``parse_pptx(include_notes=True)`` additionally walks
SmartArt diagram DATA parts (dgm:ptLst → dgm:t, resolved through the
slide's own rels) and appends each slide's speaker-notes paragraphs —
for training data the notes often carry more prose than the slides.
The default stays slide-text-only so the driver oracle is unchanged.

Structural corruption (missing presentation part, a sldIdLst rId
that resolves nowhere, a listed slide part missing from the zip)
raises ValueError naming the defect, as does a corrupt package or
malformed XML (``sources/archives.Package``); the Spark stage is
fail-closed per row.

Scale: one Arrow ``mapInPandas`` pass over (doc_id, payload) rows,
stateless, linear — the media-family shape. Reference analog: none
(razulibs stores no presentations); engine-native surface.
"""

from __future__ import annotations

import hashlib
import posixpath

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
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_P_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_DGM_NS = "http://schemas.openxmlformats.org/drawingml/2006/diagram"
_DOC_REL_NS = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
)


def _p(tag: str) -> str:
    return f"{{{_P_NS}}}{tag}"


def _a(tag: str) -> str:
    return f"{{{_A_NS}}}{tag}"


def _paragraph_text(p_el: ET.Element) -> str:
    """One <a:p> → its text: runs concatenate, <a:br/> is a newline,
    <a:fld> (slide number / date chrome) drops whole."""
    parts: list[str] = []
    for child in p_el:
        if child.tag == _a("r"):
            parts.append(child.findtext(_a("t")) or "")
        elif child.tag == _a("br"):
            parts.append("\n")
        # a:fld, a:pPr, a:endParaRPr: no prose
    return "".join(parts)


def parse_pptx(payload: bytes, include_notes: bool = False) -> dict:
    """One deck → {'n_slides', 'n_shapes', 'text' (slides in sldIdLst
    order joined by \\f; paragraphs joined by \\n)}.

    ``include_notes`` (opt-in, r12 — VERDICT r11 missing #2) also
    walks each slide's SmartArt diagram DATA part (dgm:ptLst → dgm:t
    text bodies, resolved through the slide's own rels r:dm) in
    document order, and appends the slide's notesSlide paragraphs
    after the slide text — for a training pipeline the speaker notes
    often carry more prose than the slide. The DEFAULT stays
    slide-text-only so the driver oracle is unchanged."""
    pkg = Package(payload, "pptx")
    names = pkg.names
    if "ppt/presentation.xml" not in names:
        raise ValueError("pptx: no presentation part")
    pres = pkg.xml("ppt/presentation.xml")
    sld_lst = pres.find(_p("sldIdLst"))
    if sld_lst is None or len(sld_lst) == 0:
        raise ValueError("pptx: presentation lists no slides")
    rels = pkg.rels("ppt/presentation.xml")
    if rels is None:
        raise ValueError("pptx: presentation has no relationships part")
    slide_texts: list[str] = []
    n_shapes = 0
    for sld in sld_lst.findall(_p("sldId")):
        rid = sld.get(f"{{{_DOC_REL_NS}}}id")
        if rid not in rels:
            raise ValueError(f"pptx: slide relationship {rid} not found")
        part = rels[rid][1]
        if part not in names:
            raise ValueError(f"pptx: slide part {part} missing in package")
        slide = pkg.xml(part)
        tree = slide.find(f"{_p('cSld')}/{_p('spTree')}")
        if tree is None:
            raise ValueError(f"pptx: slide {part} has no shape tree")
        slide_rels = (pkg.rels(part) or {}) if include_notes else {}
        paras: list[str] = []

        def walk(container: ET.Element) -> None:
            """Document-order shape walk: plain shapes, GROUP shapes
            (p:grpSp — decks nest constantly; a non-recursive walk
            silently drops every grouped text box) and tables
            (p:graphicFrame → a:tbl — rows → cells → txBody, the
            slide-table layout)."""
            nonlocal n_shapes
            for child in container:
                if child.tag == _p("sp"):
                    n_shapes += 1
                    tx = child.find(_p("txBody"))
                    if tx is None:
                        continue  # pictures/connectors: no prose
                    for p_el in tx.findall(_a("p")):
                        paras.append(_paragraph_text(p_el))
                elif child.tag == _p("grpSp"):
                    walk(child)
                elif child.tag == _p("graphicFrame"):
                    for tc in child.iter(_a("tc")):
                        tx = tc.find(_a("txBody"))
                        if tx is None:
                            continue
                        for p_el in tx.findall(_a("p")):
                            paras.append(_paragraph_text(p_el))
                    if include_notes:
                        # SmartArt: the frame's graphicData carries a
                        # dgm:relIds whose r:dm names the diagram DATA
                        # part; prose lives in dgm:ptLst → dgm:t text
                        # bodies (ECMA-376 pt.1 §21.4)
                        for rel_el in child.iter(
                            f"{{{_DGM_NS}}}relIds"
                        ):
                            rid = rel_el.get(f"{{{_DOC_REL_NS}}}dm")
                            if rid not in slide_rels:
                                continue
                            dpart = slide_rels[rid][1]
                            if dpart not in names:
                                raise ValueError(
                                    f"pptx: diagram data part {dpart} "
                                    "missing in package"
                                )
                            data = pkg.xml(dpart)
                            for t_el in data.iter(f"{{{_DGM_NS}}}t"):
                                for p_el in t_el.findall(_a("p")):
                                    txt = _paragraph_text(p_el)
                                    if txt:
                                        paras.append(txt)

        walk(tree)
        if include_notes:
            for typ, npart in slide_rels.values():
                if not typ.endswith("/notesSlide"):
                    continue
                if npart not in names:
                    raise ValueError(
                        f"pptx: notes part {npart} missing in package"
                    )
                ntree = pkg.xml(npart).find(
                    f"{_p('cSld')}/{_p('spTree')}"
                )
                if ntree is None:
                    continue
                for tx in ntree.iter(_p("txBody")):
                    for p_el in tx.findall(_a("p")):
                        txt = _paragraph_text(p_el)
                        if txt:
                            paras.append(txt)
        slide_texts.append("\n".join(paras))
    return {
        "n_slides": len(slide_texts),
        "n_shapes": n_shapes,
        "text": "\f".join(slide_texts),
    }


# ---------------------------------------------------------------------------
# Writer (template strings — independent of the ET parser)
# ---------------------------------------------------------------------------


_WORDS_PER_PARA = 8
_PARAS_PER_SLIDE = 4


def _run(text: str) -> str:
    return f"<a:r><a:t>{escape(text)}</a:t></a:r>"


def _shape(paras: list[str]) -> str:
    body = "".join(f"<a:p>{p}</a:p>" for p in paras)
    return (
        "<p:sp><p:nvSpPr/><p:spPr/>"
        f"<p:txBody><a:bodyPr/>{body}</p:txBody></p:sp>"
    )


def _slide_xml(shapes: list[str]) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:sld xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
        "<p:cSld><p:spTree>"
        "<p:pic><p:nvPicPr/></p:pic>"  # textless shape: contributes 0
        + "".join(shapes)
        + "</p:spTree></p:cSld></p:sld>"
    )


def encode_pptx(d: int, words: list[str], poison: bool = False) -> bytes:
    """One real deck from doc d. Slide 1 is the torture slide: a
    title of TWO runs ('Doc ' + str(d)), a paragraph whose word is
    split mid-token across runs ('w-' + d), an <a:br/> line break,
    an <a:fld> slide-number field whose text must NOT leak, a GROUP
    shape wrapping a text box ('grouped' — flat walks drop it) and a
    1x2 table in a graphicFrame ('cellA'/'cellB'). Body
    slides hold 8-word paragraphs, 4 per slide. Slide parts are
    numbered in REVERSE (slide9 is first in reading order) and an
    orphan slide (orphan.xml, in the zip, not in sldIdLst) plants
    apparatus text. ``poison``: the rels point at a slide part the
    package does not contain."""
    para_chunks = [
        " ".join(words[i:i + _WORDS_PER_PARA])
        for i in range(0, len(words), _WORDS_PER_PARA)
    ]
    body_slides = [
        para_chunks[j:j + _PARAS_PER_SLIDE]
        for j in range(0, len(para_chunks), _PARAS_PER_SLIDE)
    ]
    n_slides = 1 + len(body_slides)
    # reverse part numbering: reading-order slide k lives in
    # slides/slide{n_slides-k}.xml — only the sldIdLst+rels walk
    # recovers the order
    slide_parts = [
        f"slides/slide{n_slides - k}.xml" for k in range(n_slides)
    ]
    torture = _shape(
        [
            _run("Doc ") + _run(str(d)),
            _run("w-") + _run(str(d)) + "<a:br/>" + _run("after")
            + '<a:fld id="{X}" type="slidenum"><a:t>99</a:t></a:fld>',
        ]
    )
    # a GROUP shape wrapping a text box (nested walk required) and a
    # 1x2 TABLE in a graphicFrame (rows → cells → txBody)
    grouped = (
        "<p:grpSp><p:nvGrpSpPr/><p:grpSpPr/>"
        + _shape([_run("grouped")])
        + "</p:grpSp>"
    )
    table = (
        "<p:graphicFrame><p:nvGraphicFramePr/>"
        '<a:graphic><a:graphicData uri="http://schemas.openxmlformats.'
        'org/drawingml/2006/table"><a:tbl><a:tr>'
        "<a:tc><a:txBody><a:bodyPr/><a:p>" + _run("cellA")
        + "</a:p></a:txBody></a:tc>"
        "<a:tc><a:txBody><a:bodyPr/><a:p>" + _run("cellB")
        + "</a:p></a:txBody></a:tc>"
        "</a:tr></a:tbl></a:graphicData></a:graphic></p:graphicFrame>"
    )
    # SmartArt frame (r12): prose lives in the diagram DATA part —
    # invisible to the default walk (the graphicData uri is not a
    # table), extracted only under include_notes
    smartart = (
        "<p:graphicFrame><p:nvGraphicFramePr/>"
        '<a:graphic><a:graphicData uri="http://schemas.'
        'openxmlformats.org/drawingml/2006/diagram">'
        f'<dgm:relIds xmlns:dgm="{_DGM_NS}" xmlns:r="{_DOC_REL_NS}" '
        'r:dm="rId90" r:lo="rId91" r:qs="rId92" r:cs="rId93"/>'
        "</a:graphicData></a:graphic></p:graphicFrame>"
    )
    slide_xmls = [_slide_xml([torture, grouped, table, smartart])] + [
        _slide_xml([_shape([_run(p) for p in paras])])
        for paras in body_slides
    ]
    sld_ids = "".join(
        f'<p:sldId id="{256 + k}" r:id="rId{k + 2}"/>'
        for k in range(n_slides)
    )
    pres = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_P_NS}" xmlns:r="{_DOC_REL_NS}">'
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    )
    rel_rows = "".join(
        f'<Relationship Id="rId{k + 2}" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/slide"
        f'" Target="{slide_parts[k]}"/>'
        for k in range(n_slides)
    )
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_REL_NS}">{rel_rows}</Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_REL_NS}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/officeDocument" '
        'Target="ppt/presentation.xml"/></Relationships>'
    )
    overrides = "".join(
        f'<Override PartName="/ppt/{part}" ContentType="application/'
        'vnd.openxmlformats-officedocument.presentationml.slide+xml"/>'
        for part in slide_parts
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/'
        '2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/ppt/presentation.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.'
        'presentationml.presentation.main+xml"/>'
        + overrides + "</Types>"
    )
    # diagram data part + per-slide notes: default-path INVISIBLE
    # (no rels it follows), extracted only under include_notes
    dgm_data = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<dgm:dataModel xmlns:dgm="{_DGM_NS}" xmlns:a="{_A_NS}">'
        "<dgm:ptLst>"
        '<dgm:pt modelId="0"><dgm:t><a:bodyPr/><a:p>'
        + _run(f"smartart-{d}") + "</a:p></dgm:t></dgm:pt>"
        '<dgm:pt modelId="1"><dgm:t><a:bodyPr/><a:p>'
        + _run("smartart-two") + "</a:p></dgm:t></dgm:pt>"
        "</dgm:ptLst></dgm:dataModel>"
    )

    def _notes_xml(k: int) -> str:
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:notes xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
            "<p:cSld><p:spTree>"
            + _shape([_run(f"note-{d}-s{k}")])
            + "</p:spTree></p:cSld></p:notes>"
        )

    def _slide_rels(k: int, part: str) -> str:
        rows = (
            f'<Relationship Id="rIdN" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/"
            f'notesSlide" Target="../notesSlides/notes{k}.xml"/>'
        )
        if k == 0:
            rows += (
                '<Relationship Id="rId90" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/"
                'diagramData" Target="../diagrams/data1.xml"/>'
            )
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{_REL_NS}">{rows}</Relationships>'
        )

    members = {
        "[Content_Types].xml": content_types,
        "_rels/.rels": root_rels,
        "ppt/presentation.xml": pres,
        "ppt/_rels/presentation.xml.rels": pres_rels,
        "ppt/diagrams/data1.xml": dgm_data,
    }
    for k, part in enumerate(slide_parts):
        if poison and k == 0:
            continue  # rels name it; the package lacks it
        members[f"ppt/{part}"] = slide_xmls[k]
        rels = f"ppt/{posixpath.dirname(part)}/_rels/{posixpath.basename(part)}.rels"
        members[rels] = _slide_rels(k, part)
        members[f"ppt/notesSlides/notes{k}.xml"] = _notes_xml(k)
    members["ppt/slides/orphan.xml"] = _slide_xml(
        [_shape([_run("ORPHAN APPARATUS not prose")])])
    return zip_package(members)


def encode_pptx_foreign(d: int, words: list[str]) -> bytes:
    """Second-producer deck, the PowerPoint-export shape: slide parts
    named sequentially in reading order, rels Targets written
    PACKAGE-ABSOLUTE (``/ppt/slides/slide1.xml`` — the OPC form naive
    resolvers double-prefix), and a notesSlide part per slide whose
    speaker notes are APPARATUS that must not extract. Same text as
    encode_pptx minus the torture extras — the oracle branches on the
    axis only for the first slide's constant."""
    para_chunks = [
        " ".join(words[i:i + _WORDS_PER_PARA])
        for i in range(0, len(words), _WORDS_PER_PARA)
    ]
    body_slides = [
        para_chunks[j:j + _PARAS_PER_SLIDE]
        for j in range(0, len(para_chunks), _PARAS_PER_SLIDE)
    ]
    n_slides = 1 + len(body_slides)
    slide_xmls = [
        _slide_xml([_shape([_run("Doc ") + _run(str(d))])])
    ] + [
        _slide_xml([_shape([_run(p) for p in paras])])
        for paras in body_slides
    ]
    sld_ids = "".join(
        f'<p:sldId id="{256 + k}" r:id="rId{k + 2}"/>'
        for k in range(n_slides)
    )
    pres = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_P_NS}" xmlns:r="{_DOC_REL_NS}">'
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    )
    rel_rows = "".join(
        f'<Relationship Id="rId{k + 2}" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/slide"
        f'" Target="/ppt/slides/slide{k + 1}.xml"/>'
        for k in range(n_slides)
    )
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_REL_NS}">{rel_rows}</Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_REL_NS}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/officeDocument" '
        'Target="ppt/presentation.xml"/></Relationships>'
    )
    overrides = "".join(
        f'<Override PartName="/ppt/slides/slide{k + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'presentationml.slide+xml"/>'
        for k in range(n_slides)
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/'
        '2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/ppt/presentation.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.'
        'presentationml.presentation.main+xml"/>'
        + overrides + "</Types>"
    )
    notes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:notes xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
        "<p:cSld><p:spTree>"
        + _shape([_run("SPEAKER NOTES apparatus")])
        + "</p:spTree></p:cSld></p:notes>"
    )
    members = {
        "[Content_Types].xml": content_types,
        "_rels/.rels": root_rels,
        "ppt/presentation.xml": pres,
        "ppt/_rels/presentation.xml.rels": pres_rels,
    }
    for k in range(n_slides):
        members[f"ppt/slides/slide{k + 1}.xml"] = slide_xmls[k]
        members[f"ppt/notesSlides/notesSlide{k + 1}.xml"] = notes
        members[f"ppt/slides/_rels/slide{k + 1}.xml.rels"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone='
            f'"yes"?><Relationships xmlns="{_REL_NS}">'
            '<Relationship Id="rId2" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/"
            'notesSlide" Target="/ppt/notesSlides/notesSlide'
            f'{k + 1}.xml"/></Relationships>'
        )
    return zip_package(members)


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

PPTX_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("n_slides", LongType(), True),
        StructField("n_shapes", LongType(), True),
        StructField("text_md5", StringType(), True),
        StructField("note", StringType(), True),
    ]
)


def synthesize_pptx_media(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) real decks; d%31 == 11 is the
    poison slot (rels name a slide part missing from the package);
    of the rest, d%53 == 7 comes from the FOREIGN producer
    (package-absolute rels targets, sequential slide names, speaker
    notesSlide parts that must not extract)."""

    def _one(d: int, text: str) -> bytes:
        if d % 31 == 11:
            return encode_pptx(d, text.split(" "), poison=True)
        if d % 53 == 7:
            return encode_pptx_foreign(d, text.split(" "))
        return encode_pptx(d, text.split(" "))

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")),
        lambda doc_id, text: [(int(doc_id), _one(int(doc_id), str(text)))],
        PAYLOAD_SCHEMA,
    )


def _text_stats(payload: bytes, include_notes: bool) -> tuple:
    m = parse_pptx(payload, include_notes=include_notes)
    return (
        m["n_slides"], m["n_shapes"],
        hashlib.md5(m["text"].encode("utf-8")).hexdigest(), None,
    )


def pptx_text_stats(
    media: DataFrame, include_notes: bool = False
) -> DataFrame:
    """Parse each payload for real; fail-closed per row. The digest
    is over the full slide-ordered text — a leaked field, a dropped
    run, an orphan slide or a shuffled slide order all flip it.
    ``include_notes`` runs the opt-in speaker-notes + SmartArt walk
    (r12) — a separate registry entry gates that surface."""
    return parse_payloads(
        media, lambda payload: _text_stats(payload, include_notes),
        PPTX_TEXT_SCHEMA,
    )
