"""EPUB extraction (operators/epub.py)."""

from __future__ import annotations

import io
import zipfile

import pytest

from razulibs_spark.operators.epub import encode_epub, parse_epub


def test_spine_order_not_manifest_order():
    m = parse_epub(encode_epub(7, "nl", "a b c d e f".split()))
    chapters = m["text"].split("\f")
    assert chapters[0].startswith("Chapter 1")
    assert chapters[1].startswith("Chapter 2")
    assert m["n_chapters"] == 2
    # the cover is in the manifest + zip but NOT in the spine
    assert "COVER APPARATUS" not in m["text"]
    # book metadata from OPF, not chapter <title> chrome
    assert m["title"] == "Doc 7" and m["language"] == "nl"
    assert "nav chrome" not in m["text"]


def test_container_resolution_and_fail_closed():
    with pytest.raises(ValueError, match="not a zip package"):
        parse_epub(b"PK\x03\x04junk")
    with pytest.raises(ValueError, match="OPF package .* missing"):
        parse_epub(encode_epub(19, "en", ["x"], poison=True))
    # wrong mimetype is NAMED
    blob = encode_epub(3, "en", ["w"])
    src = zipfile.ZipFile(io.BytesIO(blob))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "mimetype":
                data = b"application/zip"
            out.writestr(name, data)
    with pytest.raises(ValueError, match="mimetype is"):
        parse_epub(buf.getvalue())
    # a spine idref with no manifest entry is NAMED
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "book/pkg.opf":
                data = data.replace(b'idref="c2"', b'idref="ghost"')
            out.writestr(name, data)
    with pytest.raises(ValueError, match="'ghost' not in manifest"):
        parse_epub(buf2.getvalue())


def test_epub_stage_fail_closed(spark):
    from razulibs_spark.operators.epub import (
        epub_text_stats,
        synthesize_epub_media,
    )

    docs = spark.createDataFrame(
        [(0, "nl", "a b c d"), (19, "en", "poisoned")],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r
            for r in epub_text_stats(synthesize_epub_media(docs)).collect()}
    assert rows[0]["parsed"] is True and rows[0]["n_chapters"] == 2
    assert rows[19]["parsed"] is False
    assert "missing" in rows[19]["note"]


def test_foreign_producer_invariance():
    from razulibs_spark.operators.epub import (
        encode_epub,
        encode_epub_foreign,
        parse_epub,
    )

    words = "alpha beta gamma delta eps zeta eta theta iota".split(" ")
    assert parse_epub(encode_epub_foreign(5, "nl", words)) == parse_epub(
        encode_epub(5, "nl", words)
    )
    # really foreign: EPUB2, default path, NCX in manifest
    import io
    import zipfile

    blob = encode_epub_foreign(5, "nl", words)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert "OEBPS/content.opf" in zf.namelist()
    assert b'version="2.0"' in zf.read("OEBPS/content.opf")


def test_percent_encoded_hrefs_resolve(spark=None):
    """Manifest hrefs are IRIs: percent-decoding applies before the
    zip lookup and fragments address INTO a part."""
    import io
    import zipfile

    from razulibs_spark.operators.epub import encode_epub, parse_epub

    words = "alpha beta gamma delta".split(" ")
    blob = encode_epub(5, "nl", words)
    src = zipfile.ZipFile(io.BytesIO(blob))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "book/pkg.opf":
                data = data.replace(
                    b'href="ch1.xhtml"', b'href="ch%201.xhtml#top"'
                )
            if name == "book/ch1.xhtml":
                name = "book/ch 1.xhtml"
            out.writestr(name, data)
    assert parse_epub(buf.getvalue())["text"] == parse_epub(blob)["text"]


def test_epub3_nav_only_producer_invariant():
    """Pure-EPUB3 books (VERDICT r11 next #7): navigation is the nav
    DOCUMENT (properties="nav"), no NCX anywhere, and the producer
    spines the nav as linear="no" — the chrome must not extract and
    the result is byte-identical to the default producer."""
    from razulibs_spark.operators.epub import (
        encode_epub,
        encode_epub3_nav,
        parse_epub,
    )

    words = [f"w{i}" for i in range(30)]
    base = parse_epub(encode_epub(9, "nl", words))
    nav = parse_epub(encode_epub3_nav(9, "nl", words))
    assert nav == base
    assert "NAV APPARATUS" not in nav["text"]
    import io
    import zipfile

    zf = zipfile.ZipFile(io.BytesIO(encode_epub3_nav(9, "nl", words)))
    assert not any("ncx" in n for n in zf.namelist())  # NCX-free
    opf = zf.read("EPUB/package.opf").decode()
    # the nav doc really is in the spine (the trap exists)
    assert '<itemref idref="nav" linear="no"/>' in opf
