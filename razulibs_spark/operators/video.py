"""Real video path of the multimodal pipeline: AVI/MJPEG container
codec (stdlib-only RIFF walk) + per-frame JPEG decode.

The reference treats media payloads as opaque blobs and shells out to
external tooling for previews (razu/preservation tools surface —
BASELINE.md demo set); a Spark-first training-data pipeline needs
frame sampling as a DISTRIBUTED stage instead: payloads stay in a
`binary` column, one Arrow pass fans each video out to its sampled
frames, and every frame is decoded by our own baseline-JPEG decoder
(operators/jpeg.py) — no native video library, no driver loop.

Container format: minimal but spec-shaped AVI —
  RIFF('AVI ')
    LIST('hdrl') { 'avih' MainAVIHeader(56),
                   LIST('strl') { 'strh' vids/MJPG(56),
                                  'strf' BITMAPINFOHEADER(40) } }
    LIST('movi') { '00dc' <jpeg bytes> ... }   (chunks word-padded)
    'idx1' 16-byte entries
The decoder is a strict chunk walk: it validates the RIFF/AVI
signatures, reads geometry + fps from `avih`/`strh`, and collects
'00dc'/'00db' frame chunks in movi order, honouring word padding.
A malformed container raises ValueError — callers turn that into a
decoded=false report row (a poison payload must never kill a 100 TB
job), same posture as decode_media.

Determinism contract (multimodal_video_frames oracle): synthesized
frames are flat 8×8-tile grayscale JPEGs, which survive the DCT
roundtrip BIT-exactly (DC-only blocks, all-ones quant tables —
operators/jpeg.py:encode_jpeg_flat_tiles), so the SQL oracle
recomputes each sampled frame's mean luma from the same integer tile
formula. All means are exact integer sums (< 2^53) divided once —
bit-identical doubles across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from razulibs_spark.operators.multimodal import SYNTH_MEDIA_SCHEMA
from razulibs_spark.session import map_rows
from razulibs_spark.tables import widen_python_stage
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "encode_avi_mjpeg",
    "decode_avi",
    "synthesize_video_media",
    "sample_video_frames",
    "VIDEO_FRAME_SCHEMA",
]


def _u32(v: int) -> bytes:
    return int(v).to_bytes(4, "little")


def _u16(v: int) -> bytes:
    return int(v).to_bytes(2, "little")


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + _u32(len(body)) + body + pad


def _list(fourcc: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + body)


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Build a minimal AVI container holding MJPEG frames.

    Each element of ``frames`` is one complete JPEG byte string; it is
    stored verbatim in a '00dc' chunk (word-padded per RIFF). The
    header carries real geometry/rate so any strict reader can walk
    the file; an 'idx1' index makes it seekable."""
    if fps <= 0:
        raise ValueError("fps must be positive")
    n = len(frames)
    us_per_frame = 1_000_000 // fps
    max_bytes = max((len(f) for f in frames), default=0)
    avih = (
        _u32(us_per_frame)
        + _u32(max_bytes * fps)  # max bytes/sec
        + _u32(0)                # padding granularity
        + _u32(0x10)             # flags: AVIF_HASINDEX
        + _u32(n)                # total frames
        + _u32(0)                # initial frames
        + _u32(1)                # streams
        + _u32(max_bytes)        # suggested buffer
        + _u32(width)
        + _u32(height)
        + _u32(0) * 4            # reserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + _u32(0)            # flags
        + _u16(0) + _u16(0)  # priority, language
        + _u32(0)            # initial frames
        + _u32(1)            # scale
        + _u32(fps)          # rate (rate/scale = fps)
        + _u32(0)            # start
        + _u32(n)            # length (frames)
        + _u32(max_bytes)    # suggested buffer
        + _u32(0xFFFFFFFF)   # quality
        + _u32(0)            # sample size
        + _u16(0) * 4        # rcFrame
    )
    strf = (
        _u32(40)
        + _u32(width)
        + _u32(height)
        + _u16(1)            # planes
        + _u16(24)           # bit count
        + b"MJPG"
        + _u32(width * height * 3)
        + _u32(0) * 4
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    idx_entries = b""
    for fr in frames:
        # idx1 offsets are relative to the start of 'movi' fourcc
        idx_entries += b"00dc" + _u32(0x10) + _u32(len(movi_body)) + _u32(len(fr))
        movi_body += _chunk(b"00dc", fr)
    movi = _chunk(b"LIST", movi_body)
    idx1 = _chunk(b"idx1", idx_entries)
    payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + _u32(len(payload)) + payload


def decode_avi(payload: bytes) -> dict:
    """Strict RIFF walk over an AVI payload. Returns
    ``{"width", "height", "fps", "n_frames_declared", "frames"}``
    where ``frames`` is the list of raw '00dc'/'00db' chunk bodies in
    movi order (JPEG bytes for MJPEG). Raises ValueError on any
    malformed structure — truncated chunk, bad signature, missing
    headers — so callers can emit a decoded=false row instead of
    dying."""
    data = bytes(payload)
    if len(data) < 12 or data[0:4] != b"RIFF":
        raise ValueError("not a RIFF container")
    riff_size = int.from_bytes(data[4:8], "little")
    if 8 + riff_size > len(data):
        raise ValueError("truncated RIFF payload")
    if data[8:12] != b"AVI ":
        raise ValueError("RIFF form is not AVI")

    width = height = None
    fps = None
    n_declared = None
    frames: list[bytes] = []

    def walk(start: int, end: int, in_movi: bool) -> None:
        nonlocal width, height, fps, n_declared
        i = start
        while i + 8 <= end:
            fourcc = data[i : i + 4]
            size = int.from_bytes(data[i + 4 : i + 8], "little")
            body_start = i + 8
            body_end = body_start + size
            if body_end > end:
                raise ValueError(f"truncated {fourcc!r} chunk")
            if fourcc == b"LIST":
                if size < 4:
                    raise ValueError("LIST chunk too short")
                kind = data[body_start : body_start + 4]
                walk(body_start + 4, body_end, in_movi or kind == b"movi")
            elif fourcc == b"avih":
                if size < 40:
                    raise ValueError("avih header too short")
                n_declared = int.from_bytes(
                    data[body_start + 16 : body_start + 20], "little"
                )
                width = int.from_bytes(
                    data[body_start + 32 : body_start + 36], "little"
                )
                height = int.from_bytes(
                    data[body_start + 36 : body_start + 40], "little"
                )
            elif fourcc == b"strh":
                if size >= 28 and data[body_start : body_start + 4] == b"vids":
                    scale = int.from_bytes(
                        data[body_start + 20 : body_start + 24], "little"
                    )
                    rate = int.from_bytes(
                        data[body_start + 24 : body_start + 28], "little"
                    )
                    if scale:
                        fps = rate // scale
            elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                frames.append(data[body_start:body_end])
            i = body_end + (size % 2)  # word padding

    walk(12, 8 + riff_size, False)
    if width is None or height is None:
        raise ValueError("AVI missing avih geometry")
    return {
        "width": width,
        "height": height,
        "fps": fps,
        "n_frames_declared": n_declared,
        "frames": frames,
    }


# ---------------------------------------------------------------------------
# Deterministic synthesis + distributed frame sampling
# ---------------------------------------------------------------------------

def synthesize_video_media(documents: DataFrame) -> DataFrame:
    """Deterministic REAL AVI/MJPEG payloads from the documents table.

    Per doc_id d: n_frames = 2 + d%5, geometry 8·(1+d%3) × 8·(1+(d//3)%2),
    fps = 8 + d%5; frame f is a flat-tile grayscale JPEG with tile
    value (5d + 11·tx + 23·ty + 37·f) % 256 — bit-exact through the
    DCT roundtrip, so frame stats are pure integer functions of
    (doc_id, frame_idx). Docs with d % 9 == 4 carry a POISON frame 0
    (SOI+EOI, no frame header) inside a VALID container — the
    per-frame resilience path stays hash-verified while the container
    walk still succeeds. Payloads are bounded (≤ 6 frames of ≤ 24×16
    px) so the stage is narrow at any corpus size."""
    from razulibs_spark.operators.jpeg import encode_jpeg_flat_tiles

    def one(doc_id):
        d = int(doc_id)
        n_frames = 2 + d % 5
        w = 8 * (1 + d % 3)
        h = 8 * (1 + (d // 3) % 2)
        frames = []
        for f in range(n_frames):
            if f == 0 and d % 9 == 4:
                frames.append(b"\xff\xd8\xff\xd9")
                continue
            # Odd frames of every 4th doc are PROGRESSIVE
            # (SOF2) JPEGs — identical decoded stats (flat
            # tiles code the same coefficients), exercising
            # the Annex G scan path through the container
            # walk; the oracle is unchanged.
            frames.append(
                encode_jpeg_flat_tiles(
                    w, h,
                    lambda tx, ty, d=d, f=f: (
                        5 * d + 11 * tx + 23 * ty + 37 * f
                    ) % 256,
                    progressive=(d % 4 == 1 and f % 2 == 1),
                )
            )
        return [(d, encode_avi_mjpeg(frames, w, h, fps=8 + d % 5), "video/avi")]

    return map_rows(
        widen_python_stage(documents.select("doc_id")), one, SYNTH_MEDIA_SCHEMA
    )


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("n_frames", LongType(), True),
        StructField("decoded", BooleanType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("mean_luma", DoubleType(), True),
        StructField("note", StringType(), True),
    ]
)


def sample_video_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Distributed frame sampling + decode: one Arrow pass walks each
    AVI container, keeps every ``every``-th frame, and decodes it with
    the first-principles JPEG decoder. One input row fans out to its
    sampled frames (UDTF-shaped map_rows). Failures are data, not
    errors: a bad container yields one frame_idx=-1 row, a bad frame
    yields a decoded=false row with the reason — nothing kills the
    job. Non-video rows are filtered before the Python boundary so
    the Arrow transfer only carries payloads the stage will touch."""
    if every < 1:
        raise ValueError("every must be >= 1")
    from razulibs_spark.operators.jpeg import decode_jpeg

    def one(doc_id, payload):
        d = int(doc_id)
        try:
            avi = decode_avi(payload)
        except (ValueError, TypeError) as exc:
            return [(d, -1, None, False, None, None, None,
                     f"container walk failed: {exc}")]
        frames = avi["frames"]
        if not frames:
            # A structurally valid but frame-less container
            # still gets an audit row — silent drops undercount
            # doc coverage downstream.
            return [(d, -1, 0, False, None, None, None,
                     "container has no frames")]
        rows = []
        for idx in range(0, len(frames), every):
            try:
                st = decode_jpeg(frames[idx])
                if st["mean_r"] == st["mean_g"] == st["mean_b"]:
                    luma = st["mean_r"]  # grayscale: exact
                else:
                    # Color MJPEG: BT.601 luma from the channel
                    # means (mean commutes with the weighted
                    # sum; post-clip channel means make this an
                    # approximation, but an honest one — never
                    # the bare red channel).
                    luma = (
                        0.299 * st["mean_r"]
                        + 0.587 * st["mean_g"]
                        + 0.114 * st["mean_b"]
                    )
                rows.append(
                    (d, idx, len(frames), True,
                     st["width"], st["height"], luma, None)
                )
            except ValueError as exc:
                rows.append(
                    (d, idx, len(frames), False, None, None, None,
                     f"decode failed: {exc}")
                )
        return rows

    # Conditional widen (r13): the synthesize stage upstream is already
    # split-aware, so unconditionally re-hashing every payload byte by
    # doc_id was a second full-corpus shuffle with no effect at cluster
    # scale. No-op when the input is already as wide as the core count.
    videos = media.filter(F.col("media_format").startswith("video/"))
    return map_rows(
        widen_python_stage(videos).select("doc_id", "payload"), one,
        VIDEO_FRAME_SCHEMA,
    )


# ---------------------------------------------------------------------------
# SubRip (SRT) subtitles — the TEXT half of video training pairs:
# caption corpora (OpenSubtitles-class) ship as .srt next to the media
# ---------------------------------------------------------------------------

def _srt_ts(ms: int) -> str:
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, milli = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d},{milli:03d}"


def _parse_srt_ts(ts: str) -> int:
    import re

    m = re.fullmatch(r"(\d{2,}):(\d{2}):(\d{2}),(\d{3})", ts.strip())
    if not m:
        raise ValueError(f"srt: bad timestamp {ts!r}")
    h, mi, s, milli = map(int, m.groups())
    return ((h * 60 + mi) * 60 + s) * 1000 + milli


def encode_srt(d: int, chunks: list[str]) -> str:
    """One .srt: cue i runs [i*3000 + d%977, +1500 + (d+i)%700) ms —
    the formula the DuckDB oracle mirrors."""
    blocks = []
    for i, chunk in enumerate(chunks):
        start = i * 3000 + d % 977
        end = start + 1500 + (d + i) % 700
        blocks.append(
            f"{i + 1}\n{_srt_ts(start)} --> {_srt_ts(end)}\n{chunk}\n"
        )
    return "\n".join(blocks)


def parse_srt(src: str) -> dict:
    """.srt → {'n_cues', 'dur_ms' (sum of cue spans), 'text'
    (cue texts joined by newline)}. Strict on the timestamp grammar
    (a drifted separator or missing millis names the defect), liberal
    on cue indices (real files renumber badly — they are ignored)."""
    cues = []
    for block in src.split("\n\n"):
        lines = [line for line in block.split("\n") if line.strip()]
        if not lines:
            continue
        # index line optional/ignored; timestamp line is the anchor
        ts_idx = 1 if "-->" not in lines[0] else 0
        if ts_idx >= len(lines) or "-->" not in lines[ts_idx]:
            raise ValueError(f"srt: block without timestamp {block!r}")
        start_s, _, end_s = lines[ts_idx].partition("-->")
        start, end = _parse_srt_ts(start_s), _parse_srt_ts(end_s)
        if end < start:
            raise ValueError("srt: cue ends before it starts")
        text = " ".join(lines[ts_idx + 1:])
        cues.append((end - start, text))
    return {
        "n_cues": len(cues),
        "dur_ms": sum(c[0] for c in cues),
        "text": "\n".join(c[1] for c in cues),
    }


def srt_stats(documents: DataFrame) -> DataFrame:
    """documents → synthesize one .srt per doc (6-word cues) →
    parse back → (doc_id, n_cues, dur_ms, text_md5). One Arrow pass;
    synthesis and parsing exercise the HH:MM:SS,mmm grammar in both
    directions."""
    import hashlib

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_cues", LongType(), False),
            StructField("dur_ms", LongType(), False),
            StructField("text_md5", StringType(), False),
        ]
    )

    def one(doc_id, text):
        d = int(doc_id)
        words = str(text).split(" ")
        chunks = [" ".join(words[i:i + 6]) for i in range(0, len(words), 6)]
        m = parse_srt(encode_srt(d, chunks))
        return [(d, m["n_cues"], m["dur_ms"],
                 hashlib.md5(m["text"].encode()).hexdigest())]

    return map_rows(documents.select("doc_id", "text"), one, out_schema)
