"""`session.map_files`, the one per-file scan, and its empty-file rule.

- A zero-byte file never reaches the row function: it is what an empty
  writer partition leaves. Any other file does, blank or not.
- Every reader built on the scan gives the same rows for a directory
  with an extra zero-byte file as without it.
- A blank file is a document like any other: a reader whose format
  needs a root element or a record magic rejects it.
"""

from __future__ import annotations

import gzip
import io
import os
import tarfile
import zipfile

import pytest

from razulibs_spark import queries
from razulibs_spark.operators.wikitext import read_wiki_dump
from razulibs_spark.session import map_files
from razulibs_spark.sources.archives import read_tar, read_zip
from razulibs_spark.sources.rdfxml import read_rdfxml, read_trig, read_trix
from razulibs_spark.sources.sitemap import read_sitemaps
from razulibs_spark.sources.turtle_full import read_turtle_full
from razulibs_spark.sources.warc import read_warc


def test_map_files_lists_recursively_and_drops_only_zero_byte_files(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    for name, data in [("a.txt", b"abc"), ("sub/b.txt", b"\n"), ("c.txt", b""),
                       ("d.bin", b"xyz"), ("_hidden.txt", b"h")]:
        (tmp_path / name).write_bytes(data)
    got = map_files(spark, str(tmp_path), lambda p, data: [(os.path.basename(p), data)],
                    "name string, data binary", glob="*.txt").collect()
    assert sorted((r["name"], bytes(r["data"])) for r in got) == [
        ("a.txt", b"abc"), ("b.txt", b"\n")]


def _zip() -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("m.txt", b"member")
    return buf.getvalue()


def _tar_gz() -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        info = tarfile.TarInfo("m.txt")
        info.size = 6
        tf.addfile(info, io.BytesIO(b"member"))
    return buf.getvalue()


def _parquet() -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "lang": ["en", "nl", "de"]}),
                   buf, row_group_size=2)
    return buf.getvalue()


_WARC = (b"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: https://e/a\r\n"
         b"Content-Length: 5\r\n\r\nhello\r\n\r\n")

# (reader, the file it reads, a zero-byte file's name the reader lists)
READERS = {
    "rdfxml": (read_rdfxml, "a.rdf",
               b'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
               b'xmlns:ex="https://e/"><rdf:Description rdf:about="https://e/s">'
               b"<ex:p>o</ex:p></rdf:Description></rdf:RDF>", "empty.rdf"),
    "trix": (read_trix, "a.trix",
             b'<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/"><graph><triple>'
             b"<uri>https://e/s</uri><uri>https://e/p</uri>"
             b"<plainLiteral>o</plainLiteral></triple></graph></TriX>", "empty.trix"),
    "trig": (read_trig, "a.trig",
             b"@prefix ex: <https://e/> .\nex:g {\nex:s ex:p ex:o .\n}\n", "empty.trig"),
    "zip": (read_zip, "a.zip", _zip(), "empty.zip"),
    "tar": (read_tar, "a.tar.gz", _tar_gz(), "empty.tar.gz"),
    "sitemap": (read_sitemaps, "a.xml",
                b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                b"<url><loc>https://e/a</loc></url></urlset>", "empty.xml"),
    "turtle": (read_turtle_full, "a.ttl.gz",
               gzip.compress(b'@prefix ex: <https://e/> .\nex:s ex:p [ ex:q "o" ] .\n'),
               "empty.ttl"),
    "warc": (read_warc, "a.warc", _WARC, "empty.warc"),
    "wiki": (read_wiki_dump, "a.xml",
             b'<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/"><page>'
             b"<title>T</title><id>7</id><revision><text>Hello '''world'''</text>"
             b"</revision></page></mediawiki>", "empty.xml"),
    "parquet_footers": (queries._parquet_footers, "shard-0.parquet", _parquet(),
                        "shard-9.parquet"),
    "csv_dialects": (queries._sniffed_dialects, "shard-0.csv",
                     b'doc_id;lang;note\n1;en;"a,b"\n2;nl;"c|d"\n', "shard-9.csv"),
}


@pytest.mark.parametrize("name", sorted(READERS))
def test_zero_byte_file_adds_no_rows(spark, tmp_path, name):
    read, fname, data, empty = READERS[name]
    (tmp_path / fname).write_bytes(data)
    before = sorted(map(tuple, read(spark, str(tmp_path)).collect()))
    assert before
    (tmp_path / empty).write_bytes(b"")
    assert sorted(map(tuple, read(spark, str(tmp_path)).collect())) == before


@pytest.mark.parametrize("name", ["rdfxml", "trix", "sitemap", "warc"])
def test_blank_file_is_a_malformed_document(spark, tmp_path, name):
    read, fname, _, _ = READERS[name]
    (tmp_path / fname).write_bytes(b"\n")
    with pytest.raises(Exception, match="ValueError"):
        read(spark, str(tmp_path)).collect()
