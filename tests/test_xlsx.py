"""XLSX value extraction (operators/xlsx.py)."""

from __future__ import annotations

import re
import zipfile

import pytest

from razulibs_spark.operators.xlsx import encode_xlsx, parse_xlsx


def test_value_layer_traps():
    m = parse_xlsx(encode_xlsx(7, ["alpha", "beta", "gamma"]))
    cells = dict(m["cells"])
    assert m["sheet_name"] == "Data"
    assert (m["n_rows"], m["n_cells"]) == (5, 21)
    # rich-text shared string concatenates its runs
    assert cells["D1"] == "w-7"
    # shared / inline / bool / number / cached-formula
    assert cells["A1"] == "id" and cells["B2"] == "alpha"
    assert cells["C2"] == "TRUE" and cells["C3"] == "FALSE"
    assert cells["A4"] == "72"
    assert cells["E2"] == "f7"  # cached value, not CONCAT("f",7)
    # sparse grid: no D2..D4, no C1/E1
    assert "D2" not in cells and "C1" not in cells
    # date layer: styled serials render as what a user READS
    assert cells["F5"] == "2023-03-22"       # builtin 14, serial 45007
    assert cells["G5"] == "2023-03-22T06:00:00"   # builtin 22, .25 day
    assert cells["H5"] == "1900-01-08"       # custom 164, Lotus zone
    assert cells["I5"] == "3.14"             # 0.00 is NOT a date
    assert cells["J5"] == "18:00:00"         # builtin 18, time-only
    assert cells["K5"] == "1900-02-29"       # the Lotus ghost day


def test_sheet_resolved_via_opc_walk_not_name():
    """The fixture's sheet part is sheetA.xml; only the relationship
    walk finds it. Breaking the rels must fail by name."""
    blob = encode_xlsx(3, ["w"])
    with zipfile.ZipFile(__import__("io").BytesIO(blob)) as zf:
        assert "xl/worksheets/sheetA.xml" in zf.namelist()
        assert "xl/worksheets/sheet1.xml" not in zf.namelist()
    # members are deflated — rebuild the package with broken rels
    import io as _io

    src = zipfile.ZipFile(_io.BytesIO(blob))
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "xl/_rels/workbook.xml.rels":
                data = data.replace(b'Id="rId7"', b'Id="rIdX"')
            out.writestr(name, data)
    with pytest.raises(ValueError, match="relationship rId7 not found"):
        parse_xlsx(buf.getvalue())


def test_fail_closed_paths():
    with pytest.raises(ValueError, match="not a zip package"):
        parse_xlsx(b"PK\x03\x04 garbage")
    with pytest.raises(ValueError, match="missing in package"):
        parse_xlsx(encode_xlsx(21, ["x"], poison=True))
    # shared-string index out of range is NAMED, not IndexError
    blob = encode_xlsx(3, ["w"])
    bad = blob  # rebuild with a bumped index
    import io as _io

    src = zipfile.ZipFile(_io.BytesIO(blob))
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name.endswith("sheetA.xml"):
                data = data.replace(
                    b'<c r="D1" t="s"><v>2</v></c>',
                    b'<c r="D1" t="s"><v>99</v></c>',
                )
            out.writestr(name, data)
    with pytest.raises(ValueError, match="shared string 99 out of range"):
        parse_xlsx(buf.getvalue())


def test_xlsx_stage_fail_closed(spark):
    from razulibs_spark.operators.xlsx import (
        synthesize_xlsx_media,
        xlsx_stats,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (21, "poisoned")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r
            for r in xlsx_stats(synthesize_xlsx_media(docs)).collect()}
    assert rows[0]["parsed"] is True and rows[0]["n_cells"] == 21
    assert rows[21]["parsed"] is False
    assert "missing in package" in rows[21]["note"]


def test_opc_absolute_and_updir_targets_resolve():
    """ECMA-376 pt.2 §9.2: Target="/xl/worksheets/sheetA.xml" is
    package-absolute; Target="../xl/worksheets/sheetA.xml"-style
    updir segments normalize against the source part's directory
    (ADVICE r10: absolute targets used to double the xl/ prefix)."""
    import io as _io

    for new_target in (b'"/xl/worksheets/sheetA.xml"',
                       b'"../xl/worksheets/sheetA.xml"'):
        blob = encode_xlsx(3, ["w"])
        src = zipfile.ZipFile(_io.BytesIO(blob))
        buf = _io.BytesIO()
        with zipfile.ZipFile(buf, "w") as out:
            for name in src.namelist():
                data = src.read(name)
                if name == "xl/_rels/workbook.xml.rels":
                    assert b'"worksheets/sheetA.xml"' in data
                    data = data.replace(
                        b'"worksheets/sheetA.xml"', new_target
                    )
                out.writestr(name, data)
        m = parse_xlsx(buf.getvalue())
        assert m["n_cells"] > 0, new_target


def test_malformed_xml_is_fail_closed_not_task_fatal(spark):
    """A well-formed zip holding malformed XML must become a
    parsed=false row, not kill the Arrow task (ADVICE r10:
    ET.ParseError is a SyntaxError, not a ValueError)."""
    import io as _io

    from pyspark.sql import functions as F

    from razulibs_spark.operators.xlsx import xlsx_stats

    blob = encode_xlsx(3, ["w"])
    src = zipfile.ZipFile(_io.BytesIO(blob))
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "xl/workbook.xml":
                data = b"<workbook><unclosed"
            out.writestr(name, data)
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    rows = xlsx_stats(media).collect()
    assert len(rows) == 1 and rows[0]["parsed"] is False
    assert rows[0]["note"]


def test_foreign_producer_1904_absolute_target():
    """Second-producer axis: package-absolute rels Target, 1904
    epoch, inline strings, no sharedStrings part — extraction is
    producer-invariant and the epoch flag changes the calendar."""
    from razulibs_spark.operators.xlsx import encode_xlsx_foreign

    m = parse_xlsx(encode_xlsx_foreign(3))
    cells = dict(m["cells"])
    assert m["sheet_name"] == "Foreign"
    assert (m["n_rows"], m["n_cells"]) == (2, 3)
    assert cells["A1"] == "id"
    assert cells["B1"] == "1904-04-13"  # serial 103, 1904 system
    assert cells["A2"] == "3"


def test_date_serial_edges():
    """Serial 60 is the nonexistent 1900-02-29 (Lotus bug, rendered
    as Excel displays it); 59/61 straddle it correctly; negative
    serials fail closed."""
    import pytest as _pt

    from razulibs_spark.operators.xlsx import _serial_to_iso

    assert _serial_to_iso("59", False) == "1900-02-28"
    assert _serial_to_iso("60", False) == "1900-02-29"
    assert _serial_to_iso("60.5", False) == "1900-02-29T12:00:00"
    assert _serial_to_iso("61", False) == "1900-03-01"
    assert _serial_to_iso("1", False) == "1900-01-01"
    assert _serial_to_iso("0.5", False) == "12:00:00"
    assert _serial_to_iso("0", True) == "1904-01-01"
    with _pt.raises(ValueError, match="negative date serial"):
        _serial_to_iso("-1", False)


def test_custom_format_token_scan():
    """Custom formatCode classification: quoted literals, escapes and
    color sections must not trigger; elapsed [h]/[mm] must."""
    from razulibs_spark.operators.xlsx import _is_date_fmt

    c = {164: 'yyyy"/"mm"/"dd;@', 165: '"yes"0"no";@',
         166: "[Red]0.00", 167: "[h]:mm:ss", 168: "0.00E+00",
         169: '\\d0.0', 170: "#,##0_);[Red](#,##0)"}
    assert _is_date_fmt(164, c)
    assert not _is_date_fmt(165, c)   # y/m only inside quotes
    assert not _is_date_fmt(166, c)   # [Red] is a color, not a token
    assert _is_date_fmt(167, c)       # elapsed-time brackets
    assert not _is_date_fmt(168, c)   # scientific E is not a token
    assert not _is_date_fmt(169, c)   # \d is an escaped literal
    assert not _is_date_fmt(170, c)
    assert _is_date_fmt(14, {}) and not _is_date_fmt(2, {})


def test_aux_parts_resolve_via_rels_types():
    """sharedStrings/styles at NON-default part names, declared via
    the workbook rels Types — foreign producers rename freely; the
    resolver must follow the rels, not the canonical names."""
    import io as _io

    blob = encode_xlsx(3, ["w"])
    src = zipfile.ZipFile(_io.BytesIO(blob))
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "xl/_rels/workbook.xml.rels":
                data = data.replace(
                    b'Target="sharedStrings.xml"',
                    b'Target="strings9.xml"',
                )
            if name == "xl/sharedStrings.xml":
                name = "xl/strings9.xml"
            out.writestr(name, data)
    m = parse_xlsx(buf.getvalue())
    cells = dict(m["cells"])
    assert cells["A1"] == "id" and cells["D1"] == "w-3"
