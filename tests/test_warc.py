"""WARC container source/sink (sources/warc.py)."""

from __future__ import annotations

import pytest

from razulibs_spark.sources.warc import (
    _gunzip_members,
    encode_http_response,
    encode_warc_record,
    gzip_member,
    parse_warc,
    read_warc,
    write_warc_records,
    write_warc_responses,
)


def _resp_record(uri: str, html: str, rid: str = "r1") -> bytes:
    return encode_warc_record(
        "response", encode_http_response(html), rid, target_uri=uri
    )


def test_parse_plain_and_multimember_gzip():
    recs = (
        _resp_record("https://a", "<p>one</p>", "r1")
        + _resp_record("https://b", "<p>two</p>", "r2")
    )
    plain = parse_warc(recs)
    gz = parse_warc(
        gzip_member(_resp_record("https://a", "<p>one</p>", "r1"))
        + gzip_member(_resp_record("https://b", "<p>two</p>", "r2"))
    )
    assert plain == gz
    assert [r[2] for r in plain] == ["https://a", "https://b"]
    assert all(r[4] == 200 for r in plain)
    assert plain[0][6].endswith(b"<p>one</p>")


def test_parse_non_http_record_and_headers():
    rec = encode_warc_record(
        "warcinfo", b"software: engine\r\n", "w1",
        content_type="application/warc-fields",
    )
    (row,) = parse_warc(rec)
    warc_type, rid, uri, date, status, ct, body, refers_to = row
    assert warc_type == "warcinfo" and status is None and ct is None
    assert uri is None and rid == "<urn:uuid:w1>"
    assert date == "2024-01-01T00:00:00Z"
    assert body == b"software: engine\r\n"
    assert refers_to is None


def test_parse_strictness():
    good = _resp_record("https://a", "<p>x</p>")
    with pytest.raises(ValueError, match="record magic"):
        parse_warc(b"HTTP/1.1 200\r\n\r\n")
    with pytest.raises(ValueError, match="payload overruns"):
        parse_warc(good[: len(good) - 20])
    with pytest.raises(ValueError, match="malformed header line"):
        parse_warc(b"WARC/1.0\r\nnocolonhere\r\n\r\n")
    with pytest.raises(ValueError, match="truncated gzip member"):
        _gunzip_members(gzip_member(good)[:-4])
    # a payload that CLAIMS to be a response (starts with HTTP/) but
    # has a garbage status code is structural corruption and raises;
    # payloads not starting with HTTP/ take the liberal raw branch.
    bad_http = encode_warc_record(
        "response", b"HTTP/1.1 BORKED\r\n\r\nbody", "r"
    )
    with pytest.raises(ValueError, match="status line"):
        parse_warc(bad_http)


def test_parse_real_crawl_record_mix():
    """CommonCrawl-shaped files interleave warcinfo, request, response,
    revisit and metadata records per fetch — the reader must take the
    whole mix (the r8 reader died on the first `GET / HTTP/1.1`)."""
    from razulibs_spark.sources.warc import encode_http_request

    recs = (
        encode_warc_record(
            "warcinfo", b"software: engine\r\n", "w",
            content_type="application/warc-fields",
        )
        + encode_warc_record(
            "request", encode_http_request("/a", "ex.org"), "q1",
            target_uri="https://ex.org/a",
            content_type="application/http; msgtype=request",
        )
        + encode_warc_record(
            "response", encode_http_response("<p>A</p>"), "r1",
            target_uri="https://ex.org/a",
        )
        + encode_warc_record(
            "revisit", b"HTTP/1.1 304 Not Modified\r\nETag: x\r\n", "v1",
            target_uri="https://ex.org/a",
        )
        + encode_warc_record(
            "metadata", b"fetchTimeMs: 12\r\n", "m1",
            target_uri="https://ex.org/a",
            content_type="application/warc-fields",
        )
    )
    for blob in (recs, gzip_member(recs)):
        rows = parse_warc(blob)
        by_type = {r[0]: r for r in rows}
        assert list(by_type) == [
            "warcinfo", "request", "response", "revisit", "metadata"
        ]
        # request: no status, raw HTTP request message kept as body
        assert by_type["request"][4] is None
        assert by_type["request"][6].startswith(b"GET /a HTTP/1.1")
        # response: parsed normally
        assert by_type["response"][4] == 200
        assert by_type["response"][6].endswith(b"<p>A</p>")
        # revisit: bare header block, status parsed, empty body
        assert by_type["revisit"][4] == 304
        assert by_type["revisit"][6] == b""
        # metadata/warcinfo: raw warc-fields payloads
        assert by_type["metadata"][6] == b"fetchTimeMs: 12\r\n"


def test_warc_roundtrip_through_spark(spark, tmp_path):
    """Sink → scan: executor-written per-partition .warc.gz files
    come back record-exact, and the gzip framing is one member per
    record (resumable at member boundaries — the CommonCrawl
    layout)."""
    import glob

    pages = spark.createDataFrame(
        [(f"https://ex.org/doc/{i}", f"<p>body {i} &amp; more</p>")
         for i in range(10)],
        "uri string, html string",
    ).repartition(3)
    out = str(tmp_path / "crawl")
    write_warc_responses(pages, out, compress=True)
    files = glob.glob(out + "/part-*.warc.gz")
    assert 1 <= len(files) <= 3
    with open(files[0], "rb") as fh:
        first = fh.read()
    # member count == record count in that file
    n_members = first.count(b"\x1f\x8b\x08")
    assert n_members == len(parse_warc(first)) >= 1
    back = read_warc(spark, out)
    got = {r["target_uri"]: r for r in back.collect()}
    assert len(got) == 10
    assert bytes(got["https://ex.org/doc/3"]["body"]).endswith(
        b"<p>body 3 &amp; more</p>"
    )
    assert got["https://ex.org/doc/3"]["http_status"] == 200
    assert all(r["warc_type"] == "response" for r in got.values())


@pytest.mark.parametrize("compress", [True, False])
def test_warc_responses_write_the_bytes_of_warc_records(spark, tmp_path, compress):
    """write_warc_responses builds its HTTP envelope with built-in
    expressions; its files hold the same bytes as write_warc_records
    given encode_http_response of each page (multi-byte UTF-8 text
    included, so Content-Length counts bytes, not characters), with a
    file rollover inside the partition."""
    import hashlib
    import os

    from razulibs_spark.session import local_frame

    pages = [(f"https://ex.org/doc/{i}", f"<p>café {i} — ünïcode &amp; €</p>")
             for i in range(7)]
    records = [("response", uri, "application/http; msgtype=response",
                encode_http_response(html), hashlib.md5(uri.encode()).hexdigest())
               for uri, html in pages]
    a, b = str(tmp_path / "responses"), str(tmp_path / "records")
    write_warc_responses(
        local_frame(spark, pages, "uri string, html string").coalesce(1),
        a, compress=compress, max_records_per_file=3,
    )
    write_warc_records(
        local_frame(spark, records, "warc_type string, target_uri string, "
                    "content_type string, payload binary, record_id string").coalesce(1),
        b, compress=compress, max_records_per_file=3,
    )

    def files(d):
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as fh:
                out[name] = fh.read()
        return out

    got, want = files(a), files(b)
    assert len(want) == 3 and got == want


def test_cdx_from_records(spark):
    """Only response captures index; urlkey is SURT (reversed host),
    timestamp 14-digit, digest/length over the PAYLOAD body."""
    from razulibs_spark.sources.warc import cdx_from_records

    rows = spark.createDataFrame(
        [
            ("response", "<r1>", "https://sub.example.org/p?x=1",
             "2024-03-04T05:06:07Z", 200, "text/html", b"<p>hi</p>"),
            ("response", "<r2>", "https://example.org",  # bare host
             "2024-03-04T05:06:08Z", 404, None, b""),
            ("request", "<q1>", "https://sub.example.org/p?x=1",
             "2024-03-04T05:06:07Z", None, None, b"GET /p HTTP/1.1"),
            ("warcinfo", "<w1>", None,
             "2024-03-04T05:06:07Z", None, None, b"software: x"),
        ],
        "warc_type string, record_id string, target_uri string, "
        "warc_date string, http_status long, http_content_type string, "
        "body binary",
    )
    got = sorted(map(tuple, cdx_from_records(rows).collect()))
    import hashlib

    assert got == [
        ("org,example)/", "20240304050608", "https://example.org",
         404, None, hashlib.md5(b"").hexdigest(), 0),
        ("org,example,sub)/p?x=1", "20240304050607",
         "https://sub.example.org/p?x=1", 200, "text/html",
         hashlib.md5(b"<p>hi</p>").hexdigest(), 9),
    ]


def test_decode_chunked():
    """RFC 9112 chunked framing: sizes in hex, extensions ignored,
    trailers tolerated, malformed framing raises."""
    from razulibs_spark.sources.warc import decode_chunked

    framed = b"4;ext=v\r\nabcd\r\na\r\n0123456789\r\n0\r\n\r\n"
    assert decode_chunked(framed) == b"abcd0123456789"
    # trailer fields after the 0-chunk are legal
    assert decode_chunked(b"2\r\nhi\r\n0\r\nX-T: 1\r\n\r\n") == b"hi"
    # empty body: just the terminal chunk
    assert decode_chunked(b"0\r\n\r\n") == b""
    for bad in (
        b"zz\r\nabcd\r\n0\r\n\r\n",      # non-hex size
        b"4\r\nab",                       # data overruns payload
        b"4\r\nabcdXX0\r\n\r\n",          # chunk not CRLF-terminated
        b"4 no terminator",               # missing size-line CRLF
    ):
        with pytest.raises(ValueError):
            decode_chunked(bad)


def test_http_body_wire_decoding():
    """Response bodies wearing chunked / gzip / both decode back to
    the original bytes through parse_warc; mis-declared encodings
    keep the raw body instead of killing the scan (liberal at the
    content level, strict at the WARC level)."""
    import zlib

    from razulibs_spark.sources.warc import encode_warc_record, parse_warc

    body = b"<p>" + bytes(range(32, 127)) * 20 + b"</p>"
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    gz = co.compress(body) + co.flush()
    chunked = b"".join(
        b"%x\r\n%s\r\n" % (len(c), c)
        for c in (gz[i:i + 64] for i in range(0, len(gz), 64))
    ) + b"0\r\n\r\n"
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n"
        + chunked
    )
    rec = encode_warc_record("response", payload, "r1", "https://e/x")
    rows = parse_warc(rec)
    assert rows[0][4] == 200 and rows[0][6] == body

    # deflate (zlib-wrapped) also decodes
    dz = zlib.compress(body)
    p2 = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n"
        b"Content-Length: %d\r\n\r\n" % len(dz) + dz
    )
    assert parse_warc(encode_warc_record("response", p2, "r2"))[0][6] == body

    # declared gzip but NOT gzip bytes: raw body kept, no raise
    p3 = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot-gzip"
    )
    assert parse_warc(encode_warc_record("response", p3, "r3"))[0][6] == (
        b"not-gzip"
    )
    # declared chunked but malformed framing: raw body kept
    p4 = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nx"
    assert parse_warc(encode_warc_record("response", p4, "r4"))[0][6] == (
        b"zz\r\nx"
    )
