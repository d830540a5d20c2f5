"""ODT text extraction (operators/odt.py)."""

from __future__ import annotations

import zipfile

import pytest

from razulibs_spark.operators.odt import encode_odt, parse_odt


def test_whitespace_semantics_and_destination_drop():
    m = parse_odt(encode_odt(7, "u v w x y z".split()))
    lines = m["text"].split("\n")
    assert lines[0] == "Doc 7"
    # text:s c=3 -> exactly three spaces; tab; line-break splits
    assert lines[1] == "a   b\tc"
    assert lines[2] == "d tail-kept u nested end"
    assert lines[3] == "u v w x y z"
    assert "dropped footnote" not in m["text"]
    assert "dropped comment" not in m["text"]
    assert m["n_paragraphs"] == 3


def test_ocf_container_rules():
    blob = encode_odt(3, ["w"])
    with zipfile.ZipFile(__import__("io").BytesIO(blob)) as zf:
        infos = zf.infolist()
        # OCF: mimetype first and stored
        assert infos[0].filename == "mimetype"
        assert infos[0].compress_type == zipfile.ZIP_STORED
    with pytest.raises(ValueError, match="not a zip package"):
        parse_odt(b"PK\x03\x04junk")
    with pytest.raises(ValueError, match="content.xml missing"):
        parse_odt(encode_odt(13, ["x"], poison=True))
    # a spreadsheet mimetype under the .odt claim is NAMED
    import io as _io

    src = zipfile.ZipFile(_io.BytesIO(blob))
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "mimetype":
                data = b"application/vnd.oasis.opendocument.spreadsheet"
            out.writestr(name, data)
    with pytest.raises(ValueError, match="not application/vnd.oasis.opendocument.text"):
        parse_odt(buf.getvalue())


def test_odt_stage_fail_closed(spark):
    from razulibs_spark.operators.odt import (
        odt_text_stats,
        synthesize_odt_media,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (13, "poisoned")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r
            for r in odt_text_stats(synthesize_odt_media(docs)).collect()}
    assert rows[0]["parsed"] is True and rows[0]["n_paragraphs"] == 3
    assert rows[13]["parsed"] is False
    assert "content.xml missing" in rows[13]["note"]


def test_foreign_producer_invariance():
    from razulibs_spark.operators.odt import (
        encode_odt,
        encode_odt_foreign,
        parse_odt,
    )

    words = "alpha beta gamma delta eps zeta eta theta iota".split(" ")
    assert parse_odt(encode_odt_foreign(5, words)) == parse_odt(
        encode_odt(5, words)
    )
    # the foreign producer really is foreign: ET prefixes, extra parts
    import io
    import zipfile

    blob = encode_odt_foreign(5, words)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert "styles.xml" in zf.namelist()
    assert b"ns0:" in zf.read("content.xml")
