"""MP4 / ISO BMFF container METADATA (not decode) — the modern-video
counterpart to the AVI/MJPEG walker (operators/video.py). The
reference shells out to desktop tooling for previews
(razu/preservation_events.py tool provenance is the nearest analogue);
the engine instead walks the box structure itself, distributed.

Scope is the honest one stated for real codecs in SCALE.md: the BOX
STRUCTURE is first-principles parseable from the public ISO/IEC
14496-12 layout (size/type headers, container recursion, mvhd/tkhd/
mdhd/hdlr field offsets), while H.264/HEVC/AAC SAMPLE decode genuinely
needs a codec library and is NOT attempted — there is no silent fake
pixel path. What the walker yields is what a 100 TB curation pipeline
actually needs from video blobs it will not transcode: duration,
timescale, track inventory (handler types, geometry, language), brand.

Scale shape: one Arrow ``mapInPandas`` stage over (doc_id, payload)
binary rows — per-row fail-closed (a corrupt container yields a
``parsed=false`` row with the error note, never a task failure), no
driver loop, bounded output (a few rows per file).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.tables import TYPED_PAYLOAD_SCHEMA, widen_python_stage
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Containers the walker recurses into (enough to reach the movie and
# per-track headers; stbl-level sample tables are codec territory).
_CONTAINERS = {b"moov", b"trak", b"mdia"}


def _u32(v: int) -> bytes:
    return struct.pack(">I", v)


def _u16(v: int) -> bytes:
    return struct.pack(">H", v)


def _box(fourcc: bytes, body: bytes) -> bytes:
    return _u32(8 + len(body)) + fourcc + body


def _pack_lang(lang: str) -> int:
    """ISO-639-2/T 3-letter code → mdhd 15-bit packed form (each
    letter - 0x60 in 5 bits)."""
    if len(lang) != 3:
        raise ValueError(f"mdhd language must be 3 letters, got {lang!r}")
    a, b, c = (ord(ch) - 0x60 for ch in lang)
    return (a << 10) | (b << 5) | c


def _unpack_lang(v: int) -> str:
    return "".join(
        chr(((v >> s) & 0x1F) + 0x60) for s in (10, 5, 0)
    )


# ---------------------------------------------------------------------------
# Encode (deterministic skeletons for fixtures/tests)
# ---------------------------------------------------------------------------


def encode_mp4_skeleton(
    brand: str,
    movie_timescale: int,
    duration_s: int,
    tracks: list[dict],
) -> bytes:
    """Minimal VALID ISO BMFF file: ftyp + moov(mvhd + trak(tkhd +
    mdia(mdhd + hdlr))*) + a stub mdat. Each track dict:
    {'id', 'handler' ('vide'|'soun'), 'timescale', 'lang',
    'width', 'height'} (geometry 0 for sound tracks). Durations are
    ``duration_s`` seconds expressed in each header's own timescale —
    the spec's layering, which is exactly what the parser must undo."""
    def _times(timescale: int, duration: int) -> bytes:
        """creation/modification/timescale/duration block, version-0
        (32-bit) when the duration fits, version-1 (64-bit) otherwise
        — the spec's own escape hatch; the version byte prefixes it."""
        if duration <= 0xFFFFFFFF:
            return (
                b"\x00", _u32(0) + _u32(0) + _u32(timescale) + _u32(duration)
            )
        return (
            b"\x01",
            struct.pack(">Q", 0) + struct.pack(">Q", 0)
            + _u32(timescale) + struct.pack(">Q", duration),
        )

    ftyp = _box(b"ftyp", brand.encode("ascii") + _u32(0) + b"isom")
    mv_ver, mv_times = _times(movie_timescale, movie_timescale * duration_s)
    mvhd = _box(
        b"mvhd",
        mv_ver + b"\x00\x00\x00"  # version, flags
        + mv_times
        + _u32(0x00010000) + _u16(0x0100) + _u16(0)  # rate, volume, rsv
        + b"\x00" * 8
        + _matrix()
        + b"\x00" * 24
        + _u32(len(tracks) + 1),  # next_track_id
    )
    traks = b""
    for t in tracks:
        mdur = movie_timescale * duration_s  # tkhd duration: MOVIE scale
        if mdur <= 0xFFFFFFFF:
            tk_ver = b"\x00"
            tk_times = (
                _u32(0) + _u32(0) + _u32(t["id"]) + _u32(0) + _u32(mdur)
            )
        else:
            tk_ver = b"\x01"
            tk_times = (
                struct.pack(">Q", 0) + struct.pack(">Q", 0)
                + _u32(t["id"]) + _u32(0) + struct.pack(">Q", mdur)
            )
        tkhd = _box(
            b"tkhd",
            tk_ver + b"\x00\x00\x07"  # flags: enabled|in_movie|preview
            + tk_times
            + b"\x00" * 8
            + _u16(0) + _u16(0)  # layer, alternate_group
            + _u16(0x0100 if t["handler"] == "soun" else 0) + _u16(0)
            + _matrix()
            + _u32(t["width"] << 16) + _u32(t["height"] << 16),  # 16.16
        )
        md_ver, md_times = _times(
            t["timescale"], t["timescale"] * duration_s
        )
        mdhd = _box(
            b"mdhd",
            md_ver + b"\x00\x00\x00"
            + md_times  # mdhd duration: MEDIA scale
            + _u16(_pack_lang(t["lang"])) + _u16(0),
        )
        hdlr = _box(
            b"hdlr",
            b"\x00\x00\x00\x00" + _u32(0)
            + t["handler"].encode("ascii")
            + b"\x00" * 12
            + b"engine\x00",
        )
        traks += _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr))
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", b"\x00" * 16)  # stub payload (no samples)
    return ftyp + moov + mdat


def _matrix() -> bytes:
    """Identity transform matrix (9 × 32-bit fixed point)."""
    return (
        _u32(0x00010000) + _u32(0) + _u32(0)
        + _u32(0) + _u32(0x00010000) + _u32(0)
        + _u32(0) + _u32(0) + _u32(0x40000000)
    )


# ---------------------------------------------------------------------------
# Parse
# ---------------------------------------------------------------------------


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in
    [start, end). Strict on structure: short headers, size-0-not-last
    and overruns raise — a truncated moov must fail loudly, not yield
    half the tracks."""
    pos = start
    while pos < end:
        if end - pos < 8:
            raise ValueError("mp4: truncated box header")
        size = struct.unpack(">I", buf[pos:pos + 4])[0]
        fourcc = buf[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if end - pos < 16:
                raise ValueError("mp4: truncated largesize header")
            size = struct.unpack(">Q", buf[pos + 8:pos + 16])[0]
            body = pos + 16
        elif size == 0:  # "to end of enclosing container" — last box
            size = end - pos
        if size < body - pos:
            raise ValueError(f"mp4: box {fourcc!r} size {size} too small")
        if pos + size > end:
            raise ValueError(
                f"mp4: box {fourcc!r} overruns its container"
            )
        yield fourcc, body, pos + size
        pos += size


def _fullbox(buf: bytes, start: int) -> tuple[int, int]:
    version = buf[start]
    return version, start + 4


def parse_mp4_metadata(payload: bytes) -> dict:
    """Walk one ISO BMFF file → container metadata dict:
    {'brand', 'movie_timescale', 'movie_duration', 'n_tracks',
    'tracks': [{'track_id', 'handler', 'lang', 'width', 'height',
    'timescale', 'duration'}]}. Unknown boxes are SKIPPED by size
    (the format's own extension mechanism); structural corruption
    raises ValueError. mvhd/tkhd/mdhd version 1 (64-bit times) is
    handled; sample DECODE is out of scope by design."""
    buf = bytes(payload)
    brand = None
    movie: dict | None = None
    tracks: list[dict] = []

    def walk(start: int, end: int) -> None:
        nonlocal brand, movie
        for fourcc, body, box_end in _iter_boxes(buf, start, end):
            if fourcc == b"ftyp":
                brand = buf[body:body + 4].decode("ascii", "replace")
            elif fourcc in _CONTAINERS:
                if fourcc == b"trak":
                    tracks.append({})
                walk(body, box_end)
            elif fourcc == b"mvhd":
                v, p = _fullbox(buf, body)
                if v == 1:
                    ts = struct.unpack(">I", buf[p + 16:p + 20])[0]
                    dur = struct.unpack(">Q", buf[p + 20:p + 28])[0]
                else:
                    ts = struct.unpack(">I", buf[p + 8:p + 12])[0]
                    dur = struct.unpack(">I", buf[p + 12:p + 16])[0]
                movie = {"timescale": ts, "duration": dur}
            elif fourcc == b"tkhd":
                v, p = _fullbox(buf, body)
                off = p + (16 if v == 1 else 8)  # skip creation/mod
                tracks[-1]["track_id"] = struct.unpack(
                    ">I", buf[off:off + 4]
                )[0]
                # geometry: last 8 bytes of the box, 16.16 fixed
                w, h = struct.unpack(">II", buf[box_end - 8:box_end])
                tracks[-1]["width"] = w >> 16
                tracks[-1]["height"] = h >> 16
            elif fourcc == b"mdhd":
                v, p = _fullbox(buf, body)
                if v == 1:
                    ts = struct.unpack(">I", buf[p + 16:p + 20])[0]
                    dur = struct.unpack(">Q", buf[p + 20:p + 28])[0]
                    lang_off = p + 28
                else:
                    ts = struct.unpack(">I", buf[p + 8:p + 12])[0]
                    dur = struct.unpack(">I", buf[p + 12:p + 16])[0]
                    lang_off = p + 16
                tracks[-1]["timescale"] = ts
                tracks[-1]["duration"] = dur
                tracks[-1]["lang"] = _unpack_lang(
                    struct.unpack(">H", buf[lang_off:lang_off + 2])[0]
                )
            elif fourcc == b"hdlr":
                _, p = _fullbox(buf, body)
                tracks[-1]["handler"] = buf[p + 4:p + 8].decode(
                    "ascii", "replace"
                )
            # anything else: skipped by size (mdat, free, udta, …)

    walk(0, len(buf))
    if movie is None:
        raise ValueError("mp4: no moov/mvhd box found")
    return {
        "brand": brand,
        "movie_timescale": movie["timescale"],
        "movie_duration": movie["duration"],
        "n_tracks": len(tracks),
        "tracks": tracks,
    }


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

MP4_METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("parsed", BooleanType(), False),
        StructField("brand", StringType(), True),
        StructField("n_tracks", LongType(), True),
        StructField("track_id", LongType(), True),
        StructField("handler", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("timescale", LongType(), True),
        StructField("duration_units", LongType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("note", StringType(), True),
    ]
)


def synthesize_mp4_media(documents: DataFrame) -> DataFrame:
    """Deterministic MP4 skeletons from the documents table. Per
    doc_id d: brand isom/mp42 (d%2), movie timescale 600, duration
    1 + d%9 seconds, a video track (geometry 16·(1+d%4) ×
    16·(1+(d//2)%3), media timescale 1000·(1+d%3)) and, for odd d, an
    audio track (media timescale 8000·(1+d%3), no geometry); language
    cycles und/eng/nld. Docs with d % 13 == 7 get a POISON payload:
    the moov box declares 64 bytes more than the file holds — the
    strict walker must fail that row closed, not emit half-parsed
    tracks. Payloads are a few hundred bytes (headers + stub mdat)."""

    langs = ["und", "eng", "nld"]

    def one(doc_id):
        d = int(doc_id)
        sec = 1 + d % 9
        tracks = [
            {
                "id": 1, "handler": "vide",
                "timescale": 1000 * (1 + d % 3),
                "lang": langs[d % 3],
                "width": 16 * (1 + d % 4),
                "height": 16 * (1 + (d // 2) % 3),
            }
        ]
        if d % 2 == 1:
            tracks.append(
                {
                    "id": 2, "handler": "soun",
                    "timescale": 8000 * (1 + d % 3),
                    "lang": langs[d % 3],
                    "width": 0, "height": 0,
                }
            )
        payload = encode_mp4_skeleton(
            "isom" if d % 2 == 0 else "mp42", 600, sec, tracks
        )
        if d % 13 == 7:
            # corrupt the moov size field: moov starts right after
            # ftyp (ftyp is the first box, read its size)
            ftyp_size = struct.unpack(">I", payload[0:4])[0]
            moov_size = struct.unpack(
                ">I", payload[ftyp_size:ftyp_size + 4]
            )[0]
            payload = (
                payload[:ftyp_size]
                + _u32(moov_size + 64)
                + payload[ftyp_size + 4:]
            )
        return [(d, payload, "video/mp4")]

    return map_rows(
        widen_python_stage(documents.select("doc_id")), one,
        TYPED_PAYLOAD_SCHEMA,
    )


def extract_mp4_metadata(media: DataFrame) -> DataFrame:
    """One row per TRACK per parsed container (plus one ``parsed=
    false`` row with the error note per corrupt container). duration_s
    = duration_units / timescale rounded to 6 — each track reports in
    its OWN media timescale, the movie row (track_id null) in the
    movie timescale."""

    def one(doc_id, payload):
        d = int(doc_id)
        try:
            meta = parse_mp4_metadata(bytes(payload))
        except (ValueError, struct.error, IndexError) as exc:
            return [(d, False, None, None, None, None, None, None,
                     None, None, None, None, f"mp4 parse failed: {exc}")]
        return [
            (
                d, True, meta["brand"], meta["n_tracks"],
                t["track_id"], t["handler"], t["lang"],
                t["width"] or None, t["height"] or None,
                t["timescale"], t["duration"],
                round(t["duration"] / t["timescale"], 6),
                None,
            )
            for t in meta["tracks"]
        ]

    return map_rows(
        media.select("doc_id", "payload"), one, MP4_METADATA_SCHEMA
    )
