"""EPUB extraction — the 17th file format: books are the most prized
long-form training text there is (Gutenberg, the books corpora), and
they ship as EPUB — an OCF zip whose READING ORDER lives in the OPF
spine, not in the zip listing and not in the manifest.

The traps this parser covers (each planted in the fixture corpus):
- OCF container rules: ``mimetype`` member = application/epub+zip,
  ``META-INF/container.xml`` names the OPF package by full-path —
  hardcoding OEBPS/content.opf breaks on real books,
- the MANIFEST is an unordered inventory; the SPINE is the reading
  order. The fixture scrambles the manifest and plants a cover
  document that is in the manifest but NOT in the spine — a parser
  that walks the manifest (or the zip) reads covers and apparatus
  into the text and shuffles chapters,
- hrefs resolve relative to the OPF's own directory,
- dc:title / dc:language come from OPF metadata (chapter <title>
  elements are navigation chrome, not the book title),
- chapter XHTML goes through the SAME battle-tested HTML main-text
  extractor as the crawl family (operators/html.extract_page) — one
  text-layer implementation, not a second ad-hoc one.

Structural corruption (wrong mimetype, container pointing at a
missing OPF, a spine idref with no manifest entry, a chapter absent
from the zip) raises ValueError naming the defect; the Spark stage is
fail-closed per row. One Arrow ``mapInPandas`` pass, map-only.
"""

from __future__ import annotations

import hashlib
import posixpath

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
from xml.sax.saxutils import escape

_CONTAINER_NS = "urn:oasis:names:tc:opendocument:xmlns:container"
_OPF_NS = "http://www.idpf.org/2007/opf"
_DC_NS = "http://purl.org/dc/elements/1.1/"
_EPUB_MIME = "application/epub+zip"


def parse_epub(payload: bytes) -> dict:
    """One .epub → {'title', 'language', 'n_chapters', 'text'
    (chapters in SPINE order, joined by \\f; each chapter's blocks
    joined by \\n)}."""
    from razulibs_spark.operators.html import extract_page

    pkg = Package(payload, "epub")
    pkg.check_mimetype(_EPUB_MIME)
    names = pkg.names
    if "META-INF/container.xml" not in names:
        raise ValueError("epub: META-INF/container.xml missing")
    container = pkg.xml("META-INF/container.xml")
    rootfile = container.find(
        f"{{{_CONTAINER_NS}}}rootfiles/{{{_CONTAINER_NS}}}rootfile"
    )
    if rootfile is None:
        raise ValueError("epub: container names no rootfile")
    opf_path = rootfile.get("full-path", "")
    if opf_path not in names:
        raise ValueError(f"epub: OPF package {opf_path} missing")
    opf_dir = posixpath.dirname(opf_path)
    opf = pkg.xml(opf_path)
    title = opf.findtext(f".//{{{_DC_NS}}}title") or ""
    language = opf.findtext(f".//{{{_DC_NS}}}language") or ""
    manifest = {
        item.get("id"): item.get("href")
        for item in opf.findall(
            f"{{{_OPF_NS}}}manifest/{{{_OPF_NS}}}item"
        )
    }
    # linear="no" itemrefs are auxiliary content presented out of
    # band (EPUB3 books commonly spine their nav document this way) —
    # they are not part of the reading order and must not extract
    spine = [
        ref.get("idref")
        for ref in opf.findall(
            f"{{{_OPF_NS}}}spine/{{{_OPF_NS}}}itemref"
        )
        if ref.get("linear") != "no"
    ]
    if not spine:
        raise ValueError("epub: empty spine")
    chapters: list[str] = []
    from urllib.parse import unquote

    for idref in spine:
        href = manifest.get(idref)
        if href is None:
            raise ValueError(f"epub: spine idref {idref!r} not in manifest")
        # manifest hrefs are IRIs: percent-decoding applies before the
        # zip lookup (real books have spaces in chapter names), and a
        # fragment suffix addresses INTO the part, not a different one
        href = unquote(href.split("#", 1)[0])
        part = posixpath.join(opf_dir, href) if opf_dir else href
        if part not in names:
            raise ValueError(f"epub: chapter {part} missing")
        page = extract_page(pkg.read(part).decode("utf-8"))
        chapters.append("\n".join(page["blocks"]))
    return {
        "title": title,
        "language": language,
        "n_chapters": len(chapters),
        "text": "\f".join(chapters),
    }


# ---------------------------------------------------------------------------
# Writer (template strings — independent of the ET/HTMLParser readers)
# ---------------------------------------------------------------------------


_WORDS_PER_PARA = 8


def _chapter_xhtml(k: int, words: list[str]) -> str:
    paras = [f"<p>Chapter {k}</p>"]
    for i in range(0, len(words), _WORDS_PER_PARA):
        c = words[i:i + _WORDS_PER_PARA]
        if len(c) >= 3:
            mid = len(c) // 2
            body = (
                escape(" ".join(c[:mid]))
                + " <em>" + escape(c[mid]) + "</em> "
                + escape(" ".join(c[mid + 1:]))
            )
        else:
            body = escape(" ".join(c))
        paras.append(f"<p>{body}</p>")
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head>'
        f"<title>nav chrome {k}</title></head><body>"
        + "".join(paras)
        + "</body></html>"
    )


def encode_epub(
    d: int, lang: str, words: list[str], poison: bool = False
) -> bytes:
    """One real .epub from doc d: two chapters (words split in half),
    an OPF whose MANIFEST is deliberately scrambled (ch2, cover, ch1)
    while the SPINE orders ch1 → ch2, and a cover document present in
    manifest and zip but NOT in the spine — reading the manifest or
    the zip listing instead of the spine is detected. The package
    lives under a non-default dir (book/pkg.opf). ``poison``:
    container.xml points at an OPF that is not in the package."""
    h = (len(words) + 1) // 2
    c1, c2 = words[:h], words[h:]
    opf = (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<package xmlns="{_OPF_NS}" version="3.0" '
        'unique-identifier="uid">'
        f'<metadata xmlns:dc="{_DC_NS}">'
        f"<dc:title>Doc {d}</dc:title>"
        f"<dc:language>{escape(lang)}</dc:language>"
        f'<dc:identifier id="uid">doc-{d}</dc:identifier></metadata>'
        "<manifest>"
        '<item id="c2" href="ch2.xhtml" '
        'media-type="application/xhtml+xml"/>'
        '<item id="cover" href="cover.xhtml" '
        'media-type="application/xhtml+xml"/>'
        '<item id="c1" href="ch1.xhtml" '
        'media-type="application/xhtml+xml"/>'
        "</manifest>"
        '<spine><itemref idref="c1"/><itemref idref="c2"/></spine>'
        "</package>"
    )
    container = (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<container xmlns="{_CONTAINER_NS}" version="1.0">'
        '<rootfiles><rootfile full-path="book/pkg.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>"
    )
    members = {"mimetype": _EPUB_MIME, "META-INF/container.xml": container}
    if not poison:
        members["book/pkg.opf"] = opf
    members["book/ch1.xhtml"] = _chapter_xhtml(1, c1)
    members["book/ch2.xhtml"] = _chapter_xhtml(2, c2)
    members["book/cover.xhtml"] = (
        '<html xmlns="http://www.w3.org/1999/xhtml"><body>'
        "<p>COVER APPARATUS not prose</p></body></html>"
    )
    return zip_package(members)


def encode_epub_foreign(d: int, lang: str, words: list[str]) -> bytes:
    """Second-producer book, the classic EPUB2 shape most converters
    still emit: OPF at the DEFAULT path (OEBPS/content.opf), package
    version 2.0 with a flat in-order manifest led by an NCX toc item
    (media-type application/x-dtbncx+xml — in the manifest and the
    zip, never a chapter), spine with the toc attribute, chapter
    parts named chapter1/chapter2.xhtml. Extraction must be
    producer-invariant: same title/language/chapters/text as
    encode_epub, so the oracle needs no new branch."""
    h = (len(words) + 1) // 2
    c1, c2 = words[:h], words[h:]
    opf = (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<package xmlns="{_OPF_NS}" version="2.0" '
        'unique-identifier="bookid">'
        f'<metadata xmlns:dc="{_DC_NS}">'
        f"<dc:title>Doc {d}</dc:title>"
        f"<dc:language>{escape(lang)}</dc:language>"
        f'<dc:identifier id="bookid">doc-{d}</dc:identifier></metadata>'
        "<manifest>"
        '<item id="ncx" href="toc.ncx" '
        'media-type="application/x-dtbncx+xml"/>'
        '<item id="chapter1" href="chapter1.xhtml" '
        'media-type="application/xhtml+xml"/>'
        '<item id="chapter2" href="chapter2.xhtml" '
        'media-type="application/xhtml+xml"/>'
        "</manifest>"
        '<spine toc="ncx"><itemref idref="chapter1"/>'
        '<itemref idref="chapter2"/></spine>'
        "</package>"
    )
    ncx = (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<ncx xmlns="http://www.daisy.org/z3986/2005/ncx/" '
        'version="2005-1"><navMap><navPoint id="n1" playOrder="1">'
        "<navLabel><text>Chapter 1</text></navLabel>"
        '<content src="chapter1.xhtml"/></navPoint></navMap></ncx>'
    )
    container = (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<container xmlns="{_CONTAINER_NS}" version="1.0">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>"
    )
    return zip_package({
        "mimetype": _EPUB_MIME,
        "META-INF/container.xml": container,
        "OEBPS/content.opf": opf,
        "OEBPS/toc.ncx": ncx,
        "OEBPS/chapter1.xhtml": _chapter_xhtml(1, c1),
        "OEBPS/chapter2.xhtml": _chapter_xhtml(2, c2),
    })


def encode_epub3_nav(d: int, lang: str, words: list[str]) -> bytes:
    """Third-producer book, the pure-EPUB3 shape (VERDICT r11 next
    #7): NO NCX anywhere — navigation is the EPUB3 nav DOCUMENT
    (manifest item with properties="nav"), which this producer also
    places IN the spine as linear="no" (many exporters do). The nav
    text is chrome and must not extract; chapters and metadata match
    encode_epub exactly, so the oracle needs no new branch."""
    h = (len(words) + 1) // 2
    c1, c2 = words[:h], words[h:]
    opf = (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<package xmlns="{_OPF_NS}" version="3.0" '
        'unique-identifier="uid">'
        f'<metadata xmlns:dc="{_DC_NS}">'
        f"<dc:title>Doc {d}</dc:title>"
        f"<dc:language>{escape(lang)}</dc:language>"
        f'<dc:identifier id="uid">doc-{d}</dc:identifier></metadata>'
        "<manifest>"
        '<item id="nav" href="nav.xhtml" properties="nav" '
        'media-type="application/xhtml+xml"/>'
        '<item id="c1" href="ch1.xhtml" '
        'media-type="application/xhtml+xml"/>'
        '<item id="c2" href="ch2.xhtml" '
        'media-type="application/xhtml+xml"/>'
        "</manifest>"
        '<spine><itemref idref="nav" linear="no"/>'
        '<itemref idref="c1"/><itemref idref="c2"/></spine>'
        "</package>"
    )
    nav = (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<html xmlns="http://www.w3.org/1999/xhtml" '
        'xmlns:epub="http://www.idpf.org/2007/ops"><body>'
        '<nav epub:type="toc"><ol>'
        '<li><a href="ch1.xhtml">NAV APPARATUS chapter one</a></li>'
        '<li><a href="ch2.xhtml">NAV APPARATUS chapter two</a></li>'
        "</ol></nav></body></html>"
    )
    container = (
        '<?xml version="1.0" encoding="utf-8"?>'
        f'<container xmlns="{_CONTAINER_NS}" version="1.0">'
        '<rootfiles><rootfile full-path="EPUB/package.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>"
    )
    return zip_package({
        "mimetype": _EPUB_MIME,
        "META-INF/container.xml": container,
        "EPUB/package.opf": opf,
        "EPUB/nav.xhtml": nav,
        "EPUB/ch1.xhtml": _chapter_xhtml(1, c1),
        "EPUB/ch2.xhtml": _chapter_xhtml(2, c2),
    })


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

EPUB_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("title", StringType(), True),
        StructField("language", StringType(), True),
        StructField("n_chapters", LongType(), True),
        StructField("text_md5", StringType(), True),
        StructField("note", StringType(), True),
    ]
)


def synthesize_epub_media(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) real .epub; d%41 == 19 is the
    poison slot (container points at a missing OPF); of the rest,
    d%47 == 6 comes from the FOREIGN producer (EPUB2 layout: default
    OEBPS/content.opf path, flat manifest with an NCX item, spine
    toc attribute) and d%47 == 21 (r12) from the pure-EPUB3 producer
    (nav document with properties="nav", NO NCX, nav spined
    linear="no") — extraction is producer-invariant so the oracle
    is unchanged."""

    def _one(d: int, lang: str, text: str) -> bytes:
        if d % 41 == 19:
            return encode_epub(d, lang, text.split(" "), poison=True)
        if d % 47 == 6:
            return encode_epub_foreign(d, lang, text.split(" "))
        if d % 47 == 21:
            # pure-EPUB3 axis (r12): nav document, no NCX, nav
            # spined linear="no" — chrome must not extract
            return encode_epub3_nav(d, lang, text.split(" "))
        return encode_epub(d, lang, text.split(" "))

    return map_rows(
        widen_python_stage(documents.select("doc_id", "lang", "text")),
        lambda doc_id, lang, text: [
            (int(doc_id), _one(int(doc_id), str(lang), str(text)))
        ],
        PAYLOAD_SCHEMA,
    )


def _text_stats(payload: bytes) -> tuple:
    m = parse_epub(payload)
    return (
        m["title"], m["language"], m["n_chapters"],
        hashlib.md5(m["text"].encode("utf-8")).hexdigest(), None,
    )


def epub_text_stats(media: DataFrame) -> DataFrame:
    """Parse each payload for real; fail-closed per row."""
    return parse_payloads(media, _text_stats, EPUB_TEXT_SCHEMA)
