"""WARC (Web ARChive, ISO 28500) source/sink — the container format
web crawls actually arrive in (CommonCrawl ships ~100 TB/crawl as
.warc.gz), composing with the HTML main-content extractor
(operators/html.py) into the full crawl→text ingestion path a
training-data pipeline runs first.

First principles over the public record grammar: a WARC file is a
concatenation of records, each ``WARC/1.0\\r\\n`` + named headers +
CRLF CRLF + exactly Content-Length payload bytes + CRLF CRLF. The
compressed form is per-RECORD gzip members concatenated into one file
— the spec's own design so readers can resume at member boundaries;
this reader handles both plain and multi-member-gzip files via
repeated ``zlib.decompressobj`` with unused-tail chaining, keeping the
strict "every byte belongs to a member" contract (truncated or
zero-length members raise).

Scale shape: per-FILE parallelism via ``session.map_files`` (crawl
corpora are sharded into ~1 GB warc files by construction, so
file-level tasks ARE the distribution unit — same argument as the
document-framed RDF scan); a single file parses executor-side, its
records framed ``maxRecordsPerBatch`` rows at a time. The sink
writes its warc files from the executors, one series per
``session.each_partition`` task (shared-FS contract, as
write_jsonld_per_entity).

Structural corruption (bad magic, header without colon, short payload,
trailing garbage) raises ValueError naming the defect — an ingest
gate, never a silently dropped record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from razulibs_spark.session import each_partition, map_files, map_rows

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("warc_type", StringType(), False),
        StructField("record_id", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("http_status", LongType(), True),
        StructField("http_content_type", StringType(), True),
        StructField("body", BinaryType(), True),
        # WARC-Refers-To: how a revisit names the capture it
        # deduplicated against — the join key of revisit resolution
        StructField("refers_to", StringType(), True),
    ]
)

_CRLF = b"\r\n"


def encode_warc_record(
    warc_type: str,
    payload: bytes,
    record_id: str,
    target_uri: str | None = None,
    warc_date: str = "2024-01-01T00:00:00Z",
    content_type: str = "application/http; msgtype=response",
    refers_to: str | None = None,
) -> bytes:
    headers = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", f"<urn:uuid:{record_id}>"),
        ("WARC-Date", warc_date),
        ("Content-Type", content_type),
        ("Content-Length", str(len(payload))),
    ]
    if refers_to is not None:
        headers.insert(2, ("WARC-Refers-To", refers_to))
    if target_uri is not None:
        headers.insert(3, ("WARC-Target-URI", target_uri))
    head = b"WARC/1.0" + _CRLF + b"".join(
        f"{k}: {v}".encode("utf-8") + _CRLF for k, v in headers
    ) + _CRLF
    return head + payload + _CRLF + _CRLF


def encode_http_response(
    html: str, status: int = 200, content_type: str = "text/html"
) -> bytes:
    body = html.encode("utf-8")
    return (
        f"HTTP/1.1 {status} OK".encode() + _CRLF
        + f"Content-Type: {content_type}".encode() + _CRLF
        + f"Content-Length: {len(body)}".encode() + _CRLF + _CRLF
        + body
    )


def encode_http_request(path: str, host: str, method: str = "GET") -> bytes:
    """An HTTP/1.1 request payload — what a real crawl's ``request``
    records carry (CommonCrawl interleaves request/response/metadata
    per fetch). Fixture-side twin of encode_http_response."""
    return (
        f"{method} {path} HTTP/1.1".encode() + _CRLF
        + f"Host: {host}".encode() + _CRLF
        + b"User-Agent: razulibs-spark" + _CRLF + _CRLF
    )


def gzip_member(raw: bytes, level: int = 6) -> bytes:
    """One gzip member (the per-record compression unit of .warc.gz).
    Level 6 (zlib default) — measurably cheaper than GzipFile's
    level-9 default at near-identical size on page-sized records."""
    import gzip as _gzip
    import io

    buf = io.BytesIO()
    # mtime pinned: the sink must be byte-deterministic for a given
    # input (oracle + test reproducibility; wall clock is no input).
    with _gzip.GzipFile(
        fileobj=buf, mode="wb", mtime=0, compresslevel=level
    ) as f:
        f.write(raw)
    return buf.getvalue()


def _gunzip_members(content: bytes) -> bytes:
    """Decompress concatenated gzip members; raises on trailing
    garbage that is not a member boundary."""
    import zlib

    out, pos = [], 0
    # memoryview: mv[pos:] is zero-copy, so a file of tens of
    # thousands of members (the ~1 GB CommonCrawl shard layout) stays
    # O(total bytes), not O(members × file size) in memcpy.
    mv = memoryview(content)
    while pos < len(content):
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        out.append(d.decompress(mv[pos:]))
        consumed = len(content) - pos - len(d.unused_data)
        if not d.eof:
            raise ValueError("warc.gz: truncated gzip member")
        if consumed <= 0:
            raise ValueError("warc.gz: zero-length gzip member")
        pos += consumed
    return b"".join(out)


def decode_chunked(data: bytes) -> bytes:
    """Strict HTTP/1.1 ``Transfer-Encoding: chunked`` de-framing
    (RFC 9112 §7.1): hex size line (chunk extensions after ``;``
    ignored) + CRLF + data + CRLF, repeated, terminated by a 0-size
    chunk and optional trailer fields. Real crawls record payloads AS
    RECEIVED on the wire, so response bodies in .warc.gz files carry
    this framing verbatim — a consumer that hands the raw framing to
    an HTML parser sees hex noise spliced mid-markup. Raises
    ValueError on malformed framing (caller decides liberality)."""
    out: list[bytes] = []
    pos = 0
    n = len(data)
    while True:
        eol = data.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("chunked: missing size line terminator")
        size_tok = data[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError(
                f"chunked: bad size line {data[pos:eol]!r}"
            ) from exc
        pos = eol + 2
        if size == 0:
            # trailer section: zero or more header lines, then CRLF.
            # Liberal here — trailers are legal but rarely meaningful.
            return b"".join(out)
        if pos + size + 2 > n:
            raise ValueError("chunked: chunk data overruns payload")
        out.append(data[pos:pos + size])
        if data[pos + size:pos + size + 2] != _CRLF:
            raise ValueError("chunked: chunk data not CRLF-terminated")
        pos += size + 2


def _decode_http_body(body: bytes, http_headers: dict[str, str]) -> bytes:
    """Undo the wire encodings an as-captured HTTP response body may
    wear — ``Transfer-Encoding: chunked`` first (outermost on the
    wire), then ``Content-Encoding: gzip/x-gzip/deflate``. Content-
    level decode failures return the body UNCHANGED (liberal: a
    mis-declared header in a real crawl must not kill the file scan —
    structural WARC corruption still raises, this does not)."""
    import zlib

    te = http_headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        try:
            body = decode_chunked(body)
        except ValueError:
            return body
    ce = http_headers.get("content-encoding", "").strip().lower()
    if ce in ("gzip", "x-gzip"):
        try:
            body = zlib.decompress(body, wbits=31)
        except zlib.error:
            return body
    elif ce == "deflate":
        try:
            # zlib-wrapped per RFC 9110; real servers sometimes send
            # raw deflate — try both before giving up.
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, wbits=-15)
            except zlib.error:
                return body
    return body


def parse_warc(content: bytes) -> list[tuple]:
    """One (possibly multi-member-gzip) WARC file → record tuples
    shaped as WARC_RECORD_SCHEMA."""
    if content[:2] == b"\x1f\x8b":
        content = _gunzip_members(content)
    rows: list[tuple] = []
    pos = 0
    n = len(content)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and content[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        if not content.startswith(b"WARC/", pos):
            raise ValueError(
                f"warc: expected record magic at offset {pos}, got "
                f"{content[pos:pos + 12]!r}"
            )
        head_end = content.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("warc: unterminated record header block")
        headers: dict[str, str] = {}
        for line in content[pos:head_end].split(_CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if not sep:
                raise ValueError(f"warc: malformed header line {line!r}")
            headers[k.decode().strip().lower()] = v.decode().strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("warc: missing/invalid Content-Length") from exc
        body_start = head_end + 4
        if body_start + clen > n:
            raise ValueError("warc: payload overruns file")
        payload = content[body_start:body_start + clen]
        pos = body_start + clen

        status: int | None = None
        http_ct: str | None = None
        body: bytes | None = None
        is_http = headers.get("content-type", "").startswith(
            "application/http"
        )
        if is_http and payload.startswith(b"HTTP/"):
            # An HTTP RESPONSE message (status line first). Real crawl
            # files (CommonCrawl) interleave request/response/metadata/
            # warcinfo records per fetch — only this shape carries a
            # status to parse; anything else falls through to the raw
            # branch below instead of dying on `GET / HTTP/1.1`.
            sep_at = payload.find(_CRLF + _CRLF)
            if sep_at < 0:
                # revisit records often truncate to the bare header
                # block — take the whole payload as headers, no body.
                sep_at, body = len(payload), b""
            else:
                body = payload[sep_at + 4:]
            status_line, *hlines = payload[:sep_at].split(_CRLF)
            parts = status_line.split(b" ", 2)
            if len(parts) < 2 or not parts[1].isdigit():
                raise ValueError(
                    f"warc: malformed http status line {status_line!r}"
                )
            status = int(parts[1])
            hmap: dict[str, str] = {}
            for hl in hlines:
                hk, _, hv = hl.partition(b":")
                hmap[hk.decode().strip().lower()] = hv.decode().strip()
            http_ct = hmap.get("content-type")
            # Undo wire encodings (chunked framing, gzip/deflate
            # bodies) — crawls record payloads as received, so real
            # response bodies arrive still wearing them.
            if body:
                body = _decode_http_body(body, hmap)
        else:
            # body stays BYTES: warc payloads are arbitrary (images,
            # gzip, mis-declared encodings, full HTTP request messages
            # in `request` records) — found by the framing property
            # fuzz; decoding is the consumer's call.
            body = payload
        rows.append(
            (
                headers.get("warc-type", ""),
                headers.get("warc-record-id"),
                headers.get("warc-target-uri"),
                headers.get("warc-date"),
                status,
                http_ct,
                body,
                headers.get("warc-refers-to"),
            )
        )
    return rows


def _file_records(path: str, content: bytes) -> list[tuple]:
    """The shared row function of the batch and streaming WARC scans:
    one input row per FILE, one output row per record (none for a
    zero-byte file)."""
    return parse_warc(content)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC scan → records DataFrame. Per-file tasks (module
    docstring); plain and .gz files both parse."""
    return map_files(spark, path, _file_records, WARC_RECORD_SCHEMA)


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """STREAMING WARC scan — continuous crawl ingestion: the file
    stream source discovers new .warc[.gz] shards as the fetcher
    fleet lands them (exactly CommonCrawl's arrival shape: whole
    ~1 GB files appearing atomically), and the SAME Arrow parse stage
    as the batch scan turns each file into records, stateless, so
    append mode needs no watermark. binaryFile's schema is fixed but
    the streaming source requires it stated explicitly."""
    from pyspark.sql.types import TimestampType

    binary_file_schema = StructType(
        [
            StructField("path", StringType(), False),
            StructField("modificationTime", TimestampType(), False),
            StructField("length", LongType(), False),
            StructField("content", BinaryType(), True),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )
    return map_rows(files, _file_records, WARC_RECORD_SCHEMA)


def cdx_from_records(records: DataFrame) -> DataFrame:
    """Parsed WARC records → CDX(J)-shaped index rows — the lookup
    sidecar real crawl corpora ship next to their .warc.gz shards
    (CommonCrawl's cdx-*.gz): one row per RESPONSE capture keyed by
    SURT urlkey + 14-digit timestamp, carrying status/mime/digest/
    length. Pure codegen over the records frame (the WARC parse
    already paid the Arrow pass): host reversal via split+reverse,
    timestamp via digit-strip of WARC-Date, payload digest + length
    JVM-side. Deviation from the CDX spec: digest is md5-hex, not
    sha1-b32 (stdlib/duckdb-parity beats wire-format fidelity here —
    the digest's JOB is dedup keying, which any stable hash does)."""
    from pyspark.sql import functions as F

    host = F.lower(
        F.regexp_extract("target_uri", r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", 1)
    )
    path = F.regexp_replace(
        "target_uri", r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""
    )
    return records.filter(
        (F.col("warc_type") == "response") & F.col("target_uri").isNotNull()
    ).select(
        F.concat(
            F.array_join(F.reverse(F.split(host, r"\.")), ","),
            F.lit(")"),
            F.when(path == "", F.lit("/")).otherwise(path),
        ).alias("urlkey"),
        F.regexp_replace("warc_date", r"[^0-9]", "").alias("timestamp"),
        F.col("target_uri").alias("url"),
        F.col("http_status").alias("status"),
        F.col("http_content_type").alias("mime"),
        F.md5("body").alias("digest"),
        F.octet_length("body").cast("long").alias("length"),
    )


def _clear_own_shards(directory: str) -> None:
    """Remove ONLY this sink family's own output (part-*.warc[.gz])
    from ``directory`` — the overwrite semantics of the WARC sinks
    without the blast radius of an rmtree on a caller-supplied path
    (ADVICE r12: pointed at the wrong directory, rmtree deletes
    unrelated data with no guard)."""
    import glob as _glob
    import os

    for pat in ("part-*.warc", "part-*.warc.gz"):
        for f in _glob.glob(os.path.join(directory, pat)):
            try:
                os.remove(f)
            except OSError:
                pass


def write_warc_records(
    records: DataFrame,
    directory: str,
    compress: bool = True,
    max_records_per_file: int = 2048,
) -> None:
    """Generic WARC sink: one record per row of ``(warc_type,
    target_uri, content_type, payload)`` — the shape a REAL crawl
    writes, interleaving warcinfo/request/response/revisit/metadata
    records in one file (write_warc_responses is the response-only
    convenience). The rows run through ``session.each_partition``,
    which merges partitions to one task per core; each task writes
    ``part-<task>-<seq>.warc[.gz]`` files, one gzip member per record;
    record id = the frame's ``record_id`` column when present,
    else md5 over (type, uri, payload) — deterministic,
    collision-irrelevant at fixture scale. An optional ``refers_to``
    column writes WARC-Refers-To (how revisit records name the
    capture they deduplicated against).

    ``max_records_per_file`` (r12): each task ROLLS OVER to a new
    ``part-<pid>-<seq>`` shard every N records, bounding shard size
    independently of upstream partitioning — a parquet split packs
    ~25k documents into 128 MB, but those same rows inflate ~10× as
    HTML-in-WARC, so inheriting the scan partitioning makes read_warc
    parse one multi-GB file per task (a 76× wall-time cliff at the
    10× rehearsal, SCALE.md). Rollover keeps the per-file task model
    honest at every scale with zero shuffle, and it bounds the buffer a
    task holds, so merging partitions into one task grows no buffer."""
    import hashlib
    import os

    # an overwrite sink: stale shards from a previous run must not
    # survive into the read — but only remove files matching this
    # sink's own part-*.warc[.gz] naming, never the whole directory
    # (pointed at the wrong path, an rmtree deletes unrelated data
    # with no guard — ADVICE r12)
    _clear_own_shards(directory)
    os.makedirs(directory, exist_ok=True)
    ext = ".warc.gz" if compress else ".warc"
    has_rid = "record_id" in records.columns
    has_refers = "refers_to" in records.columns
    cols = ["warc_type", "target_uri", "content_type", "payload"]
    cols += ["record_id"] if has_rid else []
    cols += ["refers_to"] if has_refers else []

    def write_partition(rows) -> None:
        chunks: list[bytes] = []
        pid = None
        seq = 0

        def flush() -> None:
            nonlocal chunks, seq
            if chunks:
                with open(
                    os.path.join(
                        directory, f"part-{pid:05d}-{seq:04d}{ext}"
                    ),
                    "wb",
                ) as fh:
                    fh.write(b"".join(chunks))
                chunks = []
                seq += 1

        for row in rows:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if pid is None else pid
            payload = bytes(row["payload"])
            uri = row["target_uri"]
            rid = row["record_id"] if has_rid else None
            if rid is None:
                rid = hashlib.md5(
                    row["warc_type"].encode()
                    + b"|" + (uri or "").encode()
                    + b"|" + payload
                ).hexdigest()
            rec = encode_warc_record(
                row["warc_type"],
                payload,
                record_id=rid,
                target_uri=uri,
                content_type=row["content_type"],
                refers_to=row["refers_to"] if has_refers else None,
            )
            chunks.append(gzip_member(rec) if compress else rec)
            if len(chunks) >= max_records_per_file:
                flush()
        flush()

    each_partition(records.select(*cols), write_partition)


def write_warc_responses(
    pages: DataFrame,
    directory: str,
    uri_col: str = "uri",
    html_col: str = "html",
    compress: bool = True,
    max_records_per_file: int = 2048,
) -> None:
    """Sink: ``part-<partition>-<seq>.warc[.gz]`` files, each row one
    response record whose payload is :func:`encode_http_response` of
    the page (record id = md5 of the target URI — deterministic,
    collision-irrelevant at fixture scale). A projection onto
    write_warc_records: the HTTP envelope is built by built-in
    expressions, so the pages never cross into Python before the
    writer."""
    from pyspark.sql import functions as F

    uri, html = F.col(uri_col), F.col(html_col)
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
        F.octet_length(html).cast("string"),
        F.lit("\r\n\r\n"),
        html,
    )
    write_warc_records(
        pages.select(
            F.lit("response").alias("warc_type"),
            uri.alias("target_uri"),
            F.lit("application/http; msgtype=response").alias("content_type"),
            F.encode(http, "UTF-8").alias("payload"),
            F.md5(uri).alias("record_id"),
        ),
        directory,
        compress=compress,
        max_records_per_file=max_records_per_file,
    )
