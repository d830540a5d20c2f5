"""The one ZIP package reader and the one fail-closed parse pass.

- `sources/archives.Package` turns every way a ZIP payload can be bad
  (not a ZIP, a CRC or inflate failure, a cut stream, an unsupported
  method, an encrypted member, malformed XML) into a ValueError that
  names the format, and resolves OPC relationship targets.
- `read_zip` reports a corrupt member as a ValueError naming the
  archive, not as the codec's own error.
- The eight payload stats passes that share `tables.parse_payloads`
  run a seeded corpus of corrupted payloads in one job: every payload
  gives one row, parsed or with a note that names its format.
"""

from __future__ import annotations

import collections
import functools
import io
import random
import struct
import zipfile

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from razulibs_spark.operators.docx import docx_text_stats, encode_docx, encode_docx_foreign
from razulibs_spark.operators.epub import encode_epub, encode_epub_foreign, epub_text_stats
from razulibs_spark.operators.odt import encode_odt, encode_odt_foreign, odt_text_stats
from razulibs_spark.operators.pdf import encode_pdf, pdf_text_stats
from razulibs_spark.operators.pptx import encode_pptx, encode_pptx_foreign, pptx_text_stats
from razulibs_spark.operators.rtf import encode_rtf, encode_rtf_foreign, rtf_text_stats
from razulibs_spark.operators.tiff import decode_tiff, encode_tiff, tiff_stats
from razulibs_spark.operators.xlsx import encode_xlsx, encode_xlsx_foreign, xlsx_stats
from razulibs_spark.sources.archives import _REL_NS, Package, _zip_members, read_zip

WORDS = "the quick brown fox jumps over the lazy dog and back again".split()


def _one_member_zip(data: bytes, method=zipfile.ZIP_DEFLATED, name="a.xml") -> bytearray:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", method) as zf:
        zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data,
                    compress_type=method)
    return bytearray(buf.getvalue())


def _central(blob: bytearray) -> int:
    return blob.index(b"PK\x01\x02")


def _data_start(blob: bytearray) -> int:
    name_len, extra_len = struct.unpack_from("<HH", blob, 26)
    return 30 + name_len + extra_len


def _not_a_zip():
    return b"PK\x03\x04 but no central directory"


def _bad_crc():
    blob = _one_member_zip(b"<a>text</a>", zipfile.ZIP_STORED)
    blob[_data_start(blob) + 3] ^= 0x01
    return bytes(blob)


def _bad_inflate():
    blob = _one_member_zip(b"<a>" + b"text " * 50 + b"</a>")
    blob[_data_start(blob)] |= 0b110  # deflate block type 3 is reserved
    return bytes(blob)


def _cut_stream():
    # a deflate stream of one unfinished stored block, whose declared
    # sizes run past the end of the payload
    blob = _one_member_zip(b"\x00\xff\xff\x00\x00<a>", zipfile.ZIP_STORED)
    struct.pack_into("<H", blob, _central(blob) + 10, zipfile.ZIP_DEFLATED)
    struct.pack_into("<II", blob, _central(blob) + 20, 1 << 20, 1 << 20)
    return bytes(blob)


def _unknown_method():
    blob = _one_member_zip(b"<a/>")
    struct.pack_into("<H", blob, _central(blob) + 10, 99)
    return bytes(blob)


def _encrypted():
    blob = _one_member_zip(b"<a/>")
    blob[_central(blob) + 8] |= 0x01
    return bytes(blob)


def _malformed_xml():
    return bytes(_one_member_zip(b"<a><unclosed"))


@pytest.mark.parametrize("make, raised_before", [
    (_not_a_zip, "BadZipFile"),
    (_bad_crc, "BadZipFile"),
    (_bad_inflate, "zlib.error"),
    (_cut_stream, "EOFError"),
    (_unknown_method, "NotImplementedError"),
    (_encrypted, "RuntimeError"),
    (_malformed_xml, "ParseError"),
])
def test_package_reports_every_corruption_as_one_value_error(make, raised_before):
    """Each payload makes zipfile or ElementTree raise ``raised_before``;
    the package reader turns it into a ValueError that names the
    format."""
    with pytest.raises(ValueError, match=r"^docx: ") as info:
        Package(make(), "docx").xml("a.xml")
    assert type(info.value) is ValueError
    cause = info.value.__cause__
    assert raised_before in f"{type(cause).__module__}.{type(cause).__name__}"


def test_package_resolves_opc_targets():
    """ECMA-376 Part 2 §9.2: a package-absolute target, a target
    relative to the source part's directory, and ``../`` segments."""
    def rels(*targets):
        rows = "".join(f'<Relationship Id="r{i}" Type="t{i}" Target="{t}"/>'
                       for i, t in enumerate(targets))
        return f'<Relationships xmlns="{_REL_NS}">{rows}</Relationships>'

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("_rels/.rels", rels("word/document.xml", "/docProps/core.xml"))
        zf.writestr("ppt/slides/_rels/slide1.xml.rels",
                    rels("../media/image1.png", "/ppt/notes/n1.xml", "./chart.xml"))
    pkg = Package(buf.getvalue(), "pptx")
    assert pkg.rels("") == {"r0": ("t0", "word/document.xml"),
                            "r1": ("t1", "docProps/core.xml")}
    assert pkg.rels("ppt/slides/slide1.xml") == {
        "r0": ("t0", "ppt/media/image1.png"),
        "r1": ("t1", "ppt/notes/n1.xml"),
        "r2": ("t2", "ppt/slides/chart.xml"),
    }
    assert pkg.rels("ppt/presentation.xml") is None
    with pytest.raises(ValueError, match="^pptx: member ppt/presentation.xml missing$"):
        pkg.read("ppt/presentation.xml")


def test_read_zip_reports_a_corrupt_member_as_value_error(spark, tmp_path):
    """A member whose deflate stream is bad raised zlib.error out of the
    reader; it is a ValueError that names the archive and the member."""
    blob = _bad_inflate()
    with pytest.raises(ValueError, match=r"^zip: bad\.zip: member a\.xml: ") as info:
        _zip_members("/data/bad.zip", blob)
    assert type(info.value) is ValueError
    (tmp_path / "bad.zip").write_bytes(blob)
    with pytest.raises(Exception, match=r"ValueError: zip: bad\.zip: member a\.xml: "):
        read_zip(spark, str(tmp_path)).collect()


def _tiff(d: int, **kw) -> bytes:
    w, h = 5 + d, 4
    return encode_tiff(w, h, [(3 * x + 7 * y + d) % 256 for y in range(h) for x in range(w)], **kw)


def test_empty_tiff_is_a_value_error():
    """A TIFF whose width and strip byte count are 0 decoded to no
    pixels, and `tiff_stats` then divided by zero and failed the job."""
    blob = bytearray(_tiff(0))
    (ifd,) = struct.unpack_from("<I", blob, 4)
    (n,) = struct.unpack_from("<H", blob, ifd)
    for pos in range(ifd + 2, ifd + 2 + 12 * n, 12):
        tag, typ = struct.unpack_from("<HH", blob, pos)
        if tag in (256, 279):  # ImageWidth, StripByteCounts
            struct.pack_into("<H" if typ == 3 else "<I", blob, pos + 8, 0)
    with pytest.raises(ValueError, match="^tiff: empty image 0x4$"):
        decode_tiff(bytes(blob))


# Three payloads of each format, two producers where the format has two.
CORPUS = {
    "docx": (docx_text_stats, lambda: [encode_docx(1, WORDS), encode_docx(5, WORDS),
                                       encode_docx_foreign(2, WORDS)]),
    "odt": (odt_text_stats, lambda: [encode_odt(1, WORDS), encode_odt(2, WORDS),
                                     encode_odt_foreign(3, WORDS)]),
    "rtf": (rtf_text_stats, lambda: [encode_rtf(1, WORDS), encode_rtf(2, WORDS, cp932=True),
                                     encode_rtf_foreign(3, WORDS)]),
    "epub": (epub_text_stats, lambda: [encode_epub(1, "en", WORDS), encode_epub(2, "nl", WORDS),
                                       encode_epub_foreign(3, "en", WORDS)]),
    "pptx": (pptx_text_stats, lambda: [encode_pptx(1, WORDS), encode_pptx(2, WORDS),
                                       encode_pptx_foreign(3, WORDS)]),
    "xlsx": (xlsx_stats, lambda: [encode_xlsx(1, WORDS), encode_xlsx(2, WORDS),
                                  encode_xlsx_foreign(3)]),
    "pdf": (pdf_text_stats, lambda: [encode_pdf([WORDS[:6], WORDS[6:]]),
                                     encode_pdf([WORDS], compress=False),
                                     encode_pdf([WORDS[:4], WORDS[4:]], object_streams=True)]),
    "tiff": (tiff_stats, lambda: [_tiff(1), _tiff(2, packbits=True), _tiff(3, lzw=True)]),
}
CORRUPTIONS = 12


def _corrupt(rng: random.Random, data: bytes) -> bytes:
    """A bit flip, a truncation, or 1-15 random bytes written over."""
    kind = rng.randrange(3)
    if kind == 0:
        bit = rng.randrange(len(data) * 8)
        out = bytearray(data)
        out[bit // 8] ^= 1 << (bit % 8)
        return bytes(out)
    if kind == 1:
        return data[:rng.randrange(len(data))]
    at, n = rng.randrange(len(data)), rng.randint(1, 15)
    out = bytearray(data)
    out[at:at + n] = bytes(rng.randrange(256) for _ in range(n))
    return bytes(out[:len(data)])


def test_corrupt_payloads_fail_closed_in_one_job(spark):
    """Each payload and its seeded corruptions go through its format's
    stats pass; the eight passes run as one job. The job completes, and
    each payload gives one row: parsed, or not parsed with a note that
    names the format. Every clean payload parses."""
    rng = random.Random(7)
    frames, clean = [], set()
    for fmt, (stats, make) in CORPUS.items():
        rows = []
        for payload in make():
            clean.add((fmt, len(rows)))
            rows.append((len(rows), bytearray(payload)))
            rows += [(len(rows) + k, bytearray(_corrupt(rng, payload)))
                     for k in range(CORRUPTIONS)]
        out = stats(spark.createDataFrame(rows, "doc_id long, payload binary"))
        frames.append(out.select("doc_id", F.col(out.columns[1]).alias("parsed"), "note",
                                 F.lit(fmt).alias("fmt")))
    got = functools.reduce(DataFrame.unionByName, frames).collect()

    per_payload = collections.Counter((r["fmt"], r["doc_id"]) for r in got)
    assert len(per_payload) == len(CORPUS) * 3 * (1 + CORRUPTIONS)
    assert set(per_payload.values()) == {1}
    for r in got:
        assert r["parsed"] or r["note"].startswith(f"{r['fmt']}: "), r
        assert r["parsed"] or (r["fmt"], r["doc_id"]) not in clean, r
    failed = {r["fmt"] for r in got if not r["parsed"]}
    assert failed == set(CORPUS)
