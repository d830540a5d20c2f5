"""XLSX (SpreadsheetML) tabular extraction — the 14th file format:
open-data portals, government statistics and enterprise exports ship
tables as .xlsx far more often than CSV, and a training-data pipeline
that cannot read them loses exactly the structured half of its corpus.
No openpyxl in this container and none needed for the VALUE layer: an
.xlsx is an OPC zip (same container discipline as operators/docx.py)
whose workbook part names its sheets, whose sheet parts hold sparse
``<row>``/``<c>`` grids, and whose strings live in a SHARED table the
cells index into.

The value-extraction traps this parser covers (each planted in the
fixture corpus):
- shared strings (``t="s"``) resolve through xl/sharedStrings.xml,
  including RICH-TEXT entries (``<si><r><t>…`` runs concatenate — the
  classic naive-parser bug that drops every formatted cell),
- inline strings (``t="inlineStr"``),
- booleans (``t="b"``: 0/1 → FALSE/TRUE),
- cached formula results (``t="str"`` with ``<f>``: the cached
  ``<v>`` is the value, the formula text is NOT),
- sparse grids (missing cells/columns are absent, not empty — cell
  REFERENCES, not positions, carry the geometry),
- numbers kept as their lexical ``<v>`` text (no float round-trip —
  the value layer is exact).

Sheet resolution follows the OPC relationship walk (workbook rels →
sheet part), not hardcoded part names — same posture as the DOCX
main-part resolution. Structural corruption (missing sheet part,
unresolvable shared-string index) raises ValueError naming the
defect; the Spark stage is fail-closed per row.

Scale: one Arrow ``mapInPandas`` pass over (doc_id, payload) rows,
stateless, linear — the media-family shape.
"""

from __future__ import annotations

import hashlib

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

_SS_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_DOC_REL_NS = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
)


def _s(tag: str) -> str:
    return f"{{{_SS_NS}}}{tag}"


def _si_text(si: ET.Element) -> str:
    """One <si> shared-string entry → text: either a bare <t> or a
    sequence of rich <r><t> runs (concatenated — formatting is
    transparent to the value layer)."""
    t = si.find(_s("t"))
    if t is not None:
        return t.text or ""
    return "".join(
        (r.findtext(_s("t")) or "") for r in si.findall(_s("r"))
    )


# Builtin number-format ids that render as dates/times (ECMA-376
# pt.1 §18.8.30): 14-17 dates, 18-21 times, 22 datetime, 45-47
# elapsed times. Everything else builtin is numeric/text.
_BUILTIN_DATE_FMTS = frozenset(range(14, 23)) | frozenset(range(45, 48))


def _is_date_fmt(fmt_id: int, custom: dict[int, str]) -> bool:
    """Is this numFmtId a date/time format? Builtins by table; custom
    codes by token scan — y/m/d/h/s outside quoted literals,
    backslash escapes and non-elapsed bracket sections means a date
    (the same heuristic every real reader applies, since the format
    string is the ONLY thing distinguishing a date cell from a plain
    number in SpreadsheetML)."""
    if fmt_id in _BUILTIN_DATE_FMTS:
        return True
    code = custom.get(fmt_id)
    if not code:
        return False
    out, i, n = [], 0, len(code)
    while i < n:
        ch = code[i]
        if ch == '"':  # quoted literal: skip to closing quote
            j = code.find('"', i + 1)
            i = n if j < 0 else j + 1
        elif ch == "\\":  # escaped literal char
            i += 2
        elif ch == "[":  # [Red]/[>=100]/[h]/[mm]… sections
            j = code.find("]", i + 1)
            inner = code[i + 1 : j if j > 0 else n]
            # elapsed-time tokens ([h] [mm] [ss]) ARE date tokens
            if inner and inner[0] in "hmsHMS" and set(
                inner.lower()
            ) <= set("hms"):
                out.append(inner)
            i = n if j < 0 else j + 1
        else:
            out.append(ch)
            i += 1
    body = "".join(out)
    if "AM/PM" in body.upper():
        return True
    return any(t in body.lower() for t in "ymdhs")


def _serial_to_iso(v_text: str, date1904: bool) -> str:
    """Excel date serial → ISO-8601 text. 1900 system honors the
    Lotus 1-2-3 leap-year bug: serial 60 is the nonexistent
    1900-02-29 (rendered literally, exactly as Excel displays it),
    serials 1-59 are one day behind the naive 1899-12-30 epoch, and
    serials >= 61 align with the real calendar. 1904 workbooks
    (date1904 workbookPr flag) use the bug-free 1904-01-01 epoch.
    Pure dates render YYYY-MM-DD, intraday fractions append
    THH:MM:SS, sub-1 serials are time-of-day HH:MM:SS. Negative
    serials are not dates in either system — fail closed."""
    import datetime as _dt

    x = float(v_text)
    if x < 0:
        raise ValueError(f"xlsx: negative date serial {v_text}")
    days = int(x)
    secs = round((x - days) * 86400)
    if secs >= 86400:
        days, secs = days + 1, 0
    if not date1904 and days == 60:
        clock = _dt.time(secs // 3600, secs % 3600 // 60, secs % 60)
        return (
            "1900-02-29" if secs == 0
            else "1900-02-29T" + clock.strftime("%H:%M:%S")
        )
    if date1904:
        base = _dt.datetime(1904, 1, 1)
    elif days < 60:
        base = _dt.datetime(1899, 12, 31)
    else:
        base = _dt.datetime(1899, 12, 30)
    dt = base + _dt.timedelta(days=days, seconds=secs)
    if secs == 0:
        return dt.strftime("%Y-%m-%d")
    if x < 1:  # pure fraction: time-of-day, no date part
        return dt.strftime("%H:%M:%S")
    return dt.strftime("%Y-%m-%dT%H:%M:%S")


def parse_xlsx(payload: bytes) -> dict:
    """First sheet of one workbook → {'sheet_name', 'n_rows',
    'n_cells', 'cells': list of (ref, value_str) in document order}.

    Numeric cells whose style resolves (via xl/styles.xml cellXfs →
    numFmtId, builtin table or custom formatCode scan) to a date/time
    format convert their serial to ISO text — the value a user READS;
    the raw 1900-epoch serial ("45321" for 2024-01-30) is a wrong
    answer for nearly every real spreadsheet. All other numbers stay
    lexical (exact, no float round-trip). Reference analog: pandas
    ingestion + date_type classification (razu/util.py:9-30)."""
    pkg = Package(payload, "xlsx")
    names = pkg.names
    if "xl/workbook.xml" not in names:
        raise ValueError("xlsx: no workbook part")
    wb = pkg.xml("xl/workbook.xml")
    wb_pr = wb.find(_s("workbookPr"))
    date1904 = wb_pr is not None and wb_pr.get("date1904") in (
        "1", "true",
    )
    sheets = wb.find(_s("sheets"))
    if sheets is None or len(sheets) == 0:
        raise ValueError("xlsx: workbook names no sheets")
    first = sheets[0]
    sheet_name = first.get("name", "")
    rid = first.get(f"{{{_DOC_REL_NS}}}id")
    if rid is None:
        raise ValueError("xlsx: sheet without relationship id")
    # OPC walk: workbook rels resolve rId → part (never hardcode
    # worksheets/sheet1.xml — foreign producers number parts freely)
    rels = pkg.rels("xl/workbook.xml")
    if rels is None:
        raise ValueError("xlsx: workbook has no relationships part")
    if rid not in rels:
        raise ValueError(f"xlsx: relationship {rid} not found")
    part = rels[rid][1]
    if part not in names:
        raise ValueError(f"xlsx: sheet part {part} missing in package")
    by_type = {rtype.rsplit("/", 1)[-1]: p for rtype, p in rels.values()}

    def _aux_part(rel_kind: str, default: str) -> str | None:
        """sharedStrings/styles part names resolve through the
        workbook rels when declared (foreign producers rename them),
        falling back to the canonical defaults."""
        p = by_type.get(rel_kind)
        if p in names:
            return p
        return default if default in names else None

    shared: list[str] = []
    sst_part = _aux_part("sharedStrings", "xl/sharedStrings.xml")
    if sst_part:
        sst = pkg.xml(sst_part)
        shared = [_si_text(si) for si in sst.findall(_s("si"))]

    # style layer: cellXfs index → numFmtId, plus custom formatCodes
    xf_fmt: list[int] = []
    custom_fmts: dict[int, str] = {}
    styles_part = _aux_part("styles", "xl/styles.xml")
    if styles_part:
        st = pkg.xml(styles_part)
        nf = st.find(_s("numFmts"))
        if nf is not None:
            for f_el in nf.findall(_s("numFmt")):
                custom_fmts[int(f_el.get("numFmtId", "-1"))] = (
                    f_el.get("formatCode") or ""
                )
        cx = st.find(_s("cellXfs"))
        if cx is not None:
            xf_fmt = [
                int(xf.get("numFmtId", "0"))
                for xf in cx.findall(_s("xf"))
            ]

    sheet = pkg.xml(part)
    data = sheet.find(_s("sheetData"))
    cells: list[tuple[str, str]] = []
    n_rows = 0
    for row in (data if data is not None else []):
        n_rows += 1
        for c in row.findall(_s("c")):
            ref = c.get("r", "")
            typ = c.get("t", "n")
            if typ == "inlineStr":
                is_el = c.find(_s("is"))
                val = _si_text(is_el) if is_el is not None else ""
            else:
                v = c.findtext(_s("v"))
                if v is None:
                    continue  # formula without cached value, or blank
                if typ == "s":
                    idx = int(v)
                    if idx >= len(shared):
                        raise ValueError(
                            f"xlsx: shared string {idx} out of range "
                            f"({len(shared)} entries)"
                        )
                    val = shared[idx]
                elif typ == "b":
                    val = "TRUE" if v.strip() == "1" else "FALSE"
                else:  # n (number) / str (cached formula): lexical
                    val = v
                    if typ == "n" and xf_fmt:
                        s_attr = c.get("s")
                        if s_attr is not None:
                            s_idx = int(s_attr)
                            if s_idx >= len(xf_fmt):
                                raise ValueError(
                                    f"xlsx: style index {s_idx} out "
                                    f"of range ({len(xf_fmt)} cellXfs)"
                                )
                            if _is_date_fmt(xf_fmt[s_idx], custom_fmts):
                                val = _serial_to_iso(v, date1904)
            cells.append((ref, val))
    return {
        "sheet_name": sheet_name,
        "n_rows": n_rows,
        "n_cells": len(cells),
        "cells": cells,
    }


# ---------------------------------------------------------------------------
# Writer (fixture producer — independent implementation: template
# strings, while the parser walks ElementTree)
# ---------------------------------------------------------------------------


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheetA.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'sharedStrings+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'styles+xml"/></Types>'
)

# cellXfs: s=0 General, s=1 builtin date (14), s=2 builtin datetime
# (22), s=3 CUSTOM date (164 — detected by token scan, not table),
# s=4 numeric 0.00 (the false-positive guard: formatted but NOT a
# date), s=5 builtin time (18).
_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<styleSheet xmlns="{_SS_NS}">'
    '<numFmts count="1">'
    '<numFmt numFmtId="164" formatCode="yyyy&quot;/&quot;mm&quot;/'
    '&quot;dd;@"/></numFmts>'
    '<cellXfs count="6">'
    '<xf numFmtId="0"/>'
    '<xf numFmtId="14" applyNumberFormat="1"/>'
    '<xf numFmtId="22" applyNumberFormat="1"/>'
    '<xf numFmtId="164" applyNumberFormat="1"/>'
    '<xf numFmtId="2" applyNumberFormat="1"/>'
    '<xf numFmtId="18" applyNumberFormat="1"/>'
    "</cellXfs></styleSheet>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_REL_NS}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="xl/workbook.xml"/></Relationships>'
)

_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_REL_NS}">'
    '<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheetA.xml"/>'
    '<Relationship Id="rId8" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/sharedStrings" '
    'Target="sharedStrings.xml"/></Relationships>'
)

_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_SS_NS}" xmlns:r="{_DOC_REL_NS}">'
    '<sheets><sheet name="Data" sheetId="1" r:id="rId7"/></sheets>'
    "</workbook>"
)


def encode_xlsx(d: int, words: list[str], poison: bool = False) -> bytes:
    """One real workbook from doc d: a header row of SHARED strings
    (one rich-text entry with two runs), three data rows mixing raw
    numbers, INLINE strings, booleans and a cached-formula string —
    with column D populated only in the header and C/E only in data
    rows (the sparse grid). ``poison``: the workbook rels point at a
    sheet part that is not in the package. Sheet part is named
    sheetA.xml on purpose — readers that hardcode sheet1.xml never
    find it."""
    shared = [
        "<si><t>id</t></si>",
        "<si><t>word</t></si>",
        # rich-text entry: two runs, concatenates to "w-<d>"
        f"<si><r><t>w-</t></r><r><t>{d}</t></r></si>",
    ]
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_SS_NS}" count="3" uniqueCount="3">'
        + "".join(shared) + "</sst>"
    )
    rows = [
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="D1" t="s"><v>2</v></c>'
        "</row>"
    ]
    for i in range(3):
        rn = i + 2
        w = escape(words[i % len(words)]) if words else ""
        rows.append(
            f'<row r="{rn}">'
            f'<c r="A{rn}"><v>{d * 10 + i}</v></c>'
            f'<c r="B{rn}" t="inlineStr"><is><t>{w}</t></is></c>'
            f'<c r="C{rn}" t="b"><v>{(d + i) % 2}</v></c>'
            f'<c r="E{rn}" t="str"><f>CONCAT("f",{d + i})</f>'
            f"<v>f{d + i}</v></c>"
            "</row>"
        )
    # row 5: the DATE layer. Serials ride cell styles; the parser must
    # emit what a user reads, not the raw epoch number.
    serial = 45000 + d % 1000
    pre60 = 1 + d % 59  # Lotus zone: 1..59 are one day off naive epoch
    rows.append(
        '<row r="5">'
        f'<c r="F5" s="1"><v>{serial}</v></c>'        # builtin date
        f'<c r="G5" s="2"><v>{serial}.25</v></c>'     # datetime T06:00
        f'<c r="H5" s="3"><v>{pre60}</v></c>'         # custom fmt, pre-60
        f'<c r="I5" s="4"><v>3.14</v></c>'            # 0.00: NOT a date
        '<c r="J5" s="5"><v>0.75</v></c>'             # time-only 18:00
        '<c r="K5" s="1"><v>60</v></c>'               # the ghost day
        "</row>"
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_SS_NS}"><sheetData>'
        + "".join(rows) + "</sheetData></worksheet>"
    )
    members = {
        "[Content_Types].xml": _CONTENT_TYPES,
        "_rels/.rels": _ROOT_RELS,
        "xl/workbook.xml": _WORKBOOK,
        "xl/_rels/workbook.xml.rels": _WB_RELS,
        "xl/sharedStrings.xml": sst,
        "xl/styles.xml": _STYLES,
    }
    if not poison:
        members["xl/worksheets/sheetA.xml"] = sheet
    return zip_package(members)


# Foreign-producer axis: a minimal second writer shaped like the
# workbooks direct XML emitters produce — sheet part at the default
# worksheets/sheet1.xml but addressed by a package-ABSOLUTE rels
# Target (the OPC form the r10 resolver mishandled), 1904 date
# system, inline strings only (no sharedStrings part at all), and no
# rich-text anywhere. Extraction must be producer-invariant.
_FOREIGN_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'worksheet+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'styles+xml"/></Types>'
)

_FOREIGN_WB = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_SS_NS}" xmlns:r="{_DOC_REL_NS}">'
    '<workbookPr date1904="1"/>'
    '<sheets><sheet name="Foreign" sheetId="1" r:id="rId1"/></sheets>'
    "</workbook>"
)

_FOREIGN_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_REL_NS}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" '
    'Target="/xl/worksheets/sheet1.xml"/></Relationships>'
)

_FOREIGN_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<styleSheet xmlns="{_SS_NS}">'
    '<cellXfs count="2"><xf numFmtId="0"/>'
    '<xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>'
)


def encode_xlsx_foreign(d: int) -> bytes:
    """Second-producer workbook (see _FOREIGN_* above): absolute rels
    Target, 1904 epoch, inline strings, no sharedStrings part."""
    serial = 100 + d % 20000
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_SS_NS}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>id</t></is></c>'
        f'<c r="B1" s="1"><v>{serial}</v></c>'
        "</row>"
        f'<row r="2"><c r="A2"><v>{d}</v></c></row>'
        "</sheetData></worksheet>"
    )
    return zip_package({
        "[Content_Types].xml": _FOREIGN_CT,
        "_rels/.rels": _ROOT_RELS,
        "xl/workbook.xml": _FOREIGN_WB,
        "xl/_rels/workbook.xml.rels": _FOREIGN_WB_RELS,
        "xl/styles.xml": _FOREIGN_STYLES,
        "xl/worksheets/sheet1.xml": sheet,
    })


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

XLSX_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("sheet_name", StringType(), True),
        StructField("n_rows", LongType(), True),
        StructField("n_cells", LongType(), True),
        StructField("cell_digest", StringType(), True),
        StructField("note", StringType(), True),
    ]
)


def synthesize_xlsx_media(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) real workbooks; d%29 == 21 is
    the poison slot (sheet part missing from the package); of the
    rest, d%17 == 3 comes from the FOREIGN producer (absolute rels
    target, 1904 epoch, inline-only — see encode_xlsx_foreign)."""

    def _one(d: int, text: str) -> bytes:
        if d % 29 == 21:
            return encode_xlsx(d, str(text).split(" "), poison=True)
        if d % 17 == 3:
            return encode_xlsx_foreign(d)
        return encode_xlsx(d, str(text).split(" "))

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")),
        lambda doc_id, text: [(int(doc_id), _one(int(doc_id), text))],
        PAYLOAD_SCHEMA,
    )


def _stats(payload: bytes) -> tuple:
    m = parse_xlsx(payload)
    digest = hashlib.md5(
        "\x01".join(f"{ref}={val}" for ref, val in m["cells"]).encode("utf-8")
    ).hexdigest()
    return m["sheet_name"], m["n_rows"], m["n_cells"], digest, None


def xlsx_stats(media: DataFrame) -> DataFrame:
    """Parse each payload for real; fail-closed per row. The digest is
    order-exact over ``ref=value`` pairs in document order — a wrong
    shared-string resolution, a dropped rich run, a bool emitted as
    0/1 or a formula string leaking its formula all flip it."""
    return parse_payloads(media, _stats, XLSX_STATS_SCHEMA)
