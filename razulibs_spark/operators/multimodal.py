"""Multimodal-column plumbing (BASELINE.json north star).

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct; decode / feature-extract run as Arrow-batched
`mapInPandas` stages.

Decode status: every image/audio format the engine synthesizes is
REALLY decoded with numpy + stdlib only — 24-bit uncompressed BMP,
binary P6 PPM at 8- and 16-bit depths (header parse + per-channel
pixel means via numpy), 16-bit PCM WAV (RIFF chunk walk + sample
stats, plus FFT spectral features), 8-bit PNG progressive-scan-free
AND Adam7 interlaced (chunk walk + CRC check, zlib inflate, all five
scanline unfilters per pass), and Huffman JPEG — baseline sequential
AND progressive SOF2 (`operators/jpeg.py`: marker walk, entropy
decode, spectral/successive-approximation scan accumulation, dequant
+ IDCT, sampling-factor upsample, YCbCr→RGB). Unsupported modes
(arithmetic JPEG, lossless JPEG) and corrupt payloads come back as
decoded=false report rows with the reason, which is the right
production posture at 100 TB (a poison byte string must never kill
the job).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.tables import widen_python_stage
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("media_format", StringType(), True),
        StructField("declared_width", LongType(), True),
        StructField("declared_height", LongType(), True),
    ]
)
# The (doc_id, payload, media_format) rows the media synthesizers emit.
SYNTH_MEDIA_SCHEMA = StructType(MEDIA_SCHEMA.fields[:3])

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("payload_md5", StringType(), True),
        StructField("media_format", StringType(), True),
        StructField("thumb_width", LongType(), True),
        StructField("thumb_height", LongType(), True),
    ]
)


def decode_image(payload: bytes) -> dict:
    """Baseline JPEG decode — implemented from first principles in
    `operators/jpeg.py` (Huffman entropy decode + IDCT need only
    numpy; PNG's DEFLATE needs only zlib). Kept as the generic
    image entry point; raises ValueError on non-JPEG payloads."""
    from razulibs_spark.operators.jpeg import decode_jpeg

    return decode_jpeg(payload)


def decode_bmp(payload: bytes) -> dict:
    """Decode a 24-bit uncompressed BMP (BITMAPINFOHEADER): returns
    width/height and exact per-channel pixel means. Pure stdlib header
    parse; the pixel pass is one numpy reshape over the raw rows."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height_raw = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    height = abs(height_raw)
    if width <= 0 or height == 0:
        raise ValueError("degenerate BMP dimensions")
    stride = (width * 3 + 3) // 4 * 4
    need = off + stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=off
    ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    # BMP stores BGR; bottom-up iff height_raw > 0 (means only, so
    # orientation does not matter).
    means = rows.astype(np.float64).mean(axis=(0, 1))
    return {
        "width": width,
        "height": height,
        "mean_r": float(means[2]),
        "mean_g": float(means[1]),
        "mean_b": float(means[0]),
    }


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary P6 PPM header: returns (width, height, maxval,
    raster_offset). Shared by decode_ppm and _pixels_rgb so both PPM
    paths accept/reject exactly the same inputs. Tokens are whitespace
    separated, '#' comments run to end of line; maxval ≤ 255 means
    1-byte samples, 256..65535 means 2-byte BIG-endian samples (PPM
    spec), anything else is rejected; the single post-maxval
    whitespace byte is validated (CRLF there would shift the
    raster)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    tokens, pos = [], 2
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos:pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end:end + 1].isspace():
                end += 1
            tokens.append(payload[pos:end])
            pos = end
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    width, height, maxval = (int(t) for t in tokens)
    if not 1 <= maxval <= 65535 or width <= 0 or height <= 0:
        raise ValueError("unsupported PPM (maxval out of spec or degenerate)")
    # The raster starts after EXACTLY ONE whitespace byte (P6 spec).
    # Validate it: a non-whitespace byte, a comment, or a CRLF pair
    # here would silently shift the raster and rotate the channels —
    # better an honest decode-failed row than wrong means.
    sep = payload[pos:pos + 1]
    if not sep.isspace():
        raise ValueError("PPM: missing whitespace after maxval")
    if sep == b"\r" and payload[pos + 1:pos + 2] == b"\n":
        raise ValueError("PPM: ambiguous CRLF separator after maxval")
    return width, height, maxval, pos + 1


def decode_ppm(payload: bytes) -> dict:
    """Decode a binary P6 PPM: header tokens (with comment support)
    then one numpy pass over the raw RGB triples — 1-byte samples for
    maxval ≤ 255, 2-byte big-endian for 256..65535 (per spec). Means
    are over raw sample values at the file's own depth."""
    import numpy as np

    width, height, maxval, pos = _ppm_header(payload)
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype(np.uint8)
    need = width * height * 3
    if len(payload) - pos < need * dtype.itemsize:
        raise ValueError("truncated PPM pixel array")
    px = np.frombuffer(payload, dtype=dtype, count=need, offset=pos)
    means = px.reshape(height, width, 3).astype(np.float64).mean(axis=(0, 1))
    return {
        "width": width,
        "height": height,
        "mean_r": float(means[0]),
        "mean_g": float(means[1]),
        "mean_b": float(means[2]),
    }


def _wav_pcm(payload: bytes):
    """RIFF chunk walk → (sample_rate, n_channels, int16 sample
    array). Shared by decode_wav (stats) and audio_spectral (FFT) so
    both WAV paths accept/reject the same inputs."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_fmt != 1 or bits != 16 or n_channels < 1:
        raise ValueError(
            f"unsupported WAV (fmt={audio_fmt}, bits={bits}): only "
            "16-bit integer PCM decodes without an audio library"
        )
    samples = np.frombuffer(data, dtype="<i2")
    if len(samples) // n_channels == 0:
        raise ValueError("empty WAV data chunk")
    return sample_rate, n_channels, samples


def decode_wav(payload: bytes) -> dict:
    """Decode a 16-bit PCM WAV: RIFF chunk walk (fmt + data), then
    sample count / peak / RMS over the PCM frames via numpy."""
    import numpy as np

    sample_rate, n_channels, samples = _wav_pcm(payload)
    x = samples.astype(np.float64)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "n_samples": len(samples) // n_channels,
        "peak": float(np.abs(x).max()),
        "rms": float(np.sqrt((x * x).mean())),
    }


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/
    up-left to the linear estimate a+b-c, ties broken left→up."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid: (x0, y0, dx, dy) per pass — each pass is its own
# independently-filtered sub-image in the inflated IDAT stream.
ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, offset: int, width: int, height: int,
                  channels: int):
    """Unfilter one (sub-)image region of the inflated stream: height
    scanlines of (filter byte + width·channels samples) starting at
    ``offset``. Returns the (height, stride) recon array. All five
    filter types; Sub is a mod-256 cumsum, Up is vectorized, Average/
    Paeth take the sequential scan."""
    import numpy as np

    stride = width * channels
    img = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        base = offset + y * (1 + stride)
        ft = raw[base]
        cur = np.frombuffer(raw, np.uint8, stride, base + 1).astype(np.int64)
        if ft == 0:
            recon = cur
        elif ft == 2:  # Up — fully vectorized
            recon = (cur + prev) & 0xFF
        elif ft == 1:  # Sub: per-channel byte lane is a mod-256 cumsum
            recon = cur.reshape(width, channels).cumsum(axis=0).reshape(
                stride
            ) & 0xFF
        elif ft in (3, 4):  # Average/Paeth need the sequential scan
            recon = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = recon[i - channels] if i >= channels else 0
                b = prev[i]
                if ft == 3:
                    recon[i] = (cur[i] + (a + b) // 2) & 0xFF
                else:
                    c = prev[i - channels] if i >= channels else 0
                    recon[i] = (cur[i] + _paeth(int(a), int(b), int(c))) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        img[y] = recon
        prev = recon
    return img


def decode_png(payload: bytes) -> dict:
    """Decode an 8-bit PNG (gray / RGB / RGBA, progressive-scan-free
    OR Adam7 interlaced) with the stdlib only: chunk walk with CRC
    verification, zlib inflate of the IDAT stream, per-scanline
    unfilter (all five filter types — None/Sub/Up/Average/Paeth; each
    Adam7 pass unfilters as its own sub-image and scatters onto the
    final raster), then per-channel pixel means via numpy. Entropy
    coding in PNG is DEFLATE, which `zlib` provides — unlike JPEG's
    DCT+Huffman, so PNG decodes without an imaging library (VERDICT
    r5 item 4). Sub-byte depths raise ValueError → a decoded=false
    row, never a dead task."""
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos:pos + 4], "big")
        ctype = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + size]
        if len(body) != size or pos + 12 + size > len(payload):
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(payload[pos + 8 + size:pos + 12 + size], "big")
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("PNG missing IHDR")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if depth != 8 or channels is None or comp != 0 or filt != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}): only "
            "8-bit gray/RGB/RGBA, deflate, filter method 0"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if width <= 0 or height <= 0:
        raise ValueError("degenerate PNG dimensions")
    if not idat:
        raise ValueError("PNG missing IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if interlace == 0:
        if len(raw) != height * (1 + stride):
            raise ValueError("PNG pixel data length mismatch")
        img = _png_unfilter(raw, 0, width, height, channels)
    else:  # Adam7: 7 independently-filtered sub-images, scattered
        img = np.zeros((height, stride), dtype=np.uint8)
        full = img.reshape(height, width, channels)
        offset = 0
        for x0, y0, dx, dy in ADAM7:
            pw = max(0, -(-(width - x0) // dx))
            ph = max(0, -(-(height - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            need = ph * (1 + pw * channels)
            if offset + need > len(raw):
                raise ValueError("PNG pixel data length mismatch")
            sub = _png_unfilter(raw, offset, pw, ph, channels)
            offset += need
            full[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
        if offset != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    px = img.reshape(height, width, channels).astype(np.float64)
    if channels == 1:
        mr = mg = mb = float(px.mean())
    else:
        means = px[:, :, :3].mean(axis=(0, 1))
        mr, mg, mb = (float(v) for v in means)
    return {
        "width": width,
        "height": height,
        "mean_r": mr,
        "mean_g": mg,
        "mean_b": mb,
    }


def _png_filter_rows(rows: list[bytes], stride: int) -> bytearray:
    """Filter one (sub-)image's scanlines, cycling the filter type
    y % 5 through None/Sub/Up/Average/Paeth so a synthesized corpus
    exercises every unfilter branch."""
    raw = bytearray()
    for y, row in enumerate(rows):
        ft = y % 5
        prev = rows[y - 1] if y else bytes(stride)
        out = bytearray(stride)
        for i in range(stride):
            a = row[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ft == 0:
                out[i] = row[i]
            elif ft == 1:
                out[i] = (row[i] - a) & 0xFF
            elif ft == 2:
                out[i] = (row[i] - b) & 0xFF
            elif ft == 3:
                out[i] = (row[i] - (a + b) // 2) & 0xFF
            else:
                out[i] = (row[i] - _paeth(a, b, c)) & 0xFF
        raw += bytes((ft,)) + bytes(out)
    return raw


def encode_png(width: int, height: int, rgb_fn, *,
               interlace: bool = False) -> bytes:
    """Build an 8-bit RGB PNG from ``rgb_fn(x, y) -> (r, g, b)``,
    progressive-scan-free or Adam7 interlaced (each pass filtered as
    its own sub-image, filter types cycling per pass row). The golden
    roundtrip against decode_png is the proof for every branch."""
    import zlib

    stride = width * 3
    rows = []
    for y in range(height):
        row = bytearray(stride)
        for x in range(width):
            r, g, b = rgb_fn(x, y)
            row[x * 3], row[x * 3 + 1], row[x * 3 + 2] = (
                r & 0xFF, g & 0xFF, b & 0xFF,
            )
        rows.append(bytes(row))
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7:
            sub_rows = [
                b"".join(
                    rows[y][x * 3 : x * 3 + 3] for x in range(x0, width, dx)
                )
                for y in range(y0, height, dy)
            ]
            if not sub_rows or not sub_rows[0]:
                continue
            raw += _png_filter_rows(sub_rows, len(sub_rows[0]))
    else:
        raw = _png_filter_rows(rows, stride)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        # 8-bit, RGB, deflate, filter 0, interlace method
        + bytes((8, 2, 0, 0, 1 if interlace else 0))
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + chunk(b"IEND", b"")
    )


def attach_media_columns(documents: DataFrame) -> DataFrame:
    """Synthesize an opaque binary payload + typed metadata from the
    documents table (stands in for `binaryFile` content at scale)."""
    fmt = F.when((F.col("doc_id") % 3) == 0, F.lit("image/jpeg")).when(
        (F.col("doc_id") % 3) == 1, F.lit("image/png")
    ).otherwise(F.lit("audio/wav"))
    return documents.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        fmt.alias("media_format"),
        (F.col("n_chars") % 1024 + 16).cast("long").alias("declared_width"),
        (F.col("n_chars") % 768 + 16).cast("long").alias("declared_height"),
    )


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas streams record batches through Python once — the shape
    a real decode/resize/frame-sample stage takes. The per-payload
    work here is a deterministic fake (length + md5 + 16:9 thumb box)
    standing in for a full pixel decode — the real decode path over
    synthesized payloads lives in decode_media.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                    "media_format": pdf["media_format"],
                    "thumb_width": (pdf["declared_width"].clip(upper=256)),
                    "thumb_height": (pdf["declared_width"].clip(upper=256) * 9 // 16),
                }
            )

    # Conditional widen (r13): re-hashing every payload byte by doc_id
    # was a full-corpus shuffle that is pure overhead once the input is
    # already as wide as the core count (always true at cluster scale).
    return widen_python_stage(media).mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_format", StringType(), True),
        StructField("out_width", LongType(), True),
        StructField("out_height", LongType(), True),
        StructField("resized_md5", StringType(), True),
    ]
)


def resize_images(media: DataFrame, box: int = 256) -> DataFrame:
    """Image-resize stage: aspect-fit each image into a box×box square
    (integer floor arithmetic — deterministic and oracle-expressible).
    The attach_media_columns payloads carry no real pixels to
    resample; the fake keeps md5(payload) as the stand-in for the
    resized bytes.
    Non-image rows are filtered before the Python boundary so the
    Arrow transfer only carries the rows the stage will touch."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            w = pdf["declared_width"].astype("int64")
            h = pdf["declared_height"].astype("int64")
            landscape = w >= h
            out_w = landscape * box + (~landscape) * (w * box // h)
            out_h = landscape * (h * box // w) + (~landscape) * box
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": pdf["media_format"],
                    "out_width": out_w,
                    "out_height": out_h,
                    "resized_md5": pdf["payload"].map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                }
            )

    images = media.filter(F.col("media_format").startswith("image/"))
    return widen_python_stage(images).mapInPandas(batches, schema=RESIZE_SCHEMA)


CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("chunk_idx", LongType(), False),
        StructField("chunk_md5", StringType(), True),
    ]
)


def chunk_audio(media: DataFrame, chunk_bytes: int = 128) -> DataFrame:
    """Audio-chunking stage (audio path of the multimodal north star):
    fixed-size payload windows, one output row per chunk — the same
    UDTF-shaped map_rows fan-out as sample_frames, restricted to
    audio rows before the Python boundary. Real sample-accurate
    chunking needs the stubbed decode; the deterministic fake hashes
    byte windows."""
    import hashlib

    def one(doc_id, payload):
        if payload is None:
            return []
        n_chunks = (len(payload) + chunk_bytes - 1) // chunk_bytes
        return [
            (doc_id, i,
             hashlib.md5(payload[i * chunk_bytes:(i + 1) * chunk_bytes]).hexdigest())
            for i in range(n_chunks)
        ]

    audio = media.filter(F.col("media_format").startswith("audio/"))
    return map_rows(
        widen_python_stage(audio).select("doc_id", "payload"), one, CHUNK_SCHEMA
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_md5", StringType(), True),
    ]
)


def sample_frames(media: DataFrame, every: int = 10) -> DataFrame:
    """Frame-sampling stage (video path of the multimodal north star):
    one input payload fans out to every `every`-th frame. Real frame
    extraction needs a video library (the one genuinely stubbed
    media path — still images decode for real, see decode_media); the
    deterministic fake treats each 1 KiB payload slice as one frame and
    hashes the sampled slices. The Spark shape is the real one: a
    map_rows row function that returns more rows than it is given
    (UDTF-shaped fan-out), partitioned by doc_id upstream."""
    import hashlib

    def one(doc_id, payload):
        if payload is None:
            return []
        n_frames = max(1, len(payload) // 1024)
        return [
            (doc_id, i, hashlib.md5(payload[i * 1024:(i + 1) * 1024]).hexdigest())
            for i in range(0, n_frames, every)
        ]

    return map_rows(
        widen_python_stage(media).select("doc_id", "payload"), one, FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# Real decode pipeline (BMP / PPM / WAV natively; JPEG/PNG reported
# as undecodable rather than stubbed-fake).
# ---------------------------------------------------------------------------

def encode_bmp(width: int, height: int, rgb_fn) -> bytes:
    """Build a 24-bit bottom-up BMP from ``rgb_fn(x, y) -> (r, g, b)``.
    Used by the deterministic media synthesizer and the golden tests —
    also the proof the decoder round-trips."""
    stride = (width * 3 + 3) // 4 * 4
    pixels = bytearray(stride * height)
    for row in range(height):  # row 0 in the file is the BOTTOM row
        y = height - 1 - row
        base = row * stride
        for x in range(width):
            r, g, b = rgb_fn(x, y)
            o = base + x * 3
            pixels[o] = b & 0xFF
            pixels[o + 1] = g & 0xFF
            pixels[o + 2] = r & 0xFF
    header = (
        b"BM"
        + (54 + len(pixels)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixels).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return bytes(header) + bytes(pixels)


def encode_ppm(width: int, height: int, rgb_fn) -> bytes:
    body = bytearray()
    for y in range(height):
        for x in range(width):
            r, g, b = rgb_fn(x, y)
            body += bytes((r & 0xFF, g & 0xFF, b & 0xFF))
    return f"P6\n{width} {height}\n255\n".encode() + bytes(body)


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV from integer samples (clamped to int16).
    Accepts any integer sequence/array; the PCM pack is one vectorized
    numpy pass (a per-sample to_bytes loop measured ~5x the whole
    synthesis cost at fixture scale)."""
    import numpy as np

    data = (
        np.clip(np.asarray(samples, dtype=np.int64), -32768, 32767)
        .astype("<i2")
        .tobytes()
    )
    fmt = (
        (1).to_bytes(2, "little")          # PCM
        + (1).to_bytes(2, "little")        # mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")        # block align
        + (16).to_bytes(2, "little")       # bits
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + bytes(data)
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def synthesize_decodable_media(documents: DataFrame) -> DataFrame:
    """Deterministic REAL media payloads from the documents table:
    doc_id % 4 → BMP / PPM / WAV / image, where the image slot
    alternates by (doc_id // 4) % 2 between a real filtered PNG and a
    real baseline JPEG (flat-tile grayscale — bit-exact through the
    DCT roundtrip); every 4th JPEG slot is instead a deterministic
    POISON payload (SOI+EOI, no frame) so the decoded=false
    resilience path stays hash-verified. Pixel and sample values are
    integer functions of (doc_id, x, y) — bit-for-bit reproducible
    across runs and partitionings. Runs as one Arrow pass; payload
    sizes are bounded (≤ 24×16 px, ≤ 256 samples) so the stage is
    narrow and cheap at any corpus size."""
    from razulibs_spark.operators.jpeg import encode_jpeg_flat_tiles

    def one(doc_id):
        d = int(doc_id)
        kind = d % 4
        if kind == 0:
            w, h = 8 + d % 17, 6 + d % 11
            payload = encode_bmp(
                w, h,
                lambda x, y, d=d: (
                    (d + 7 * x) % 256,
                    (3 * y + d // 5) % 256,
                    (d ^ (x * y + 1)) % 256,
                ),
            )
            fmt = "image/bmp"
        elif kind == 1:
            w, h = 5 + d % 13, 4 + d % 7
            payload = encode_ppm(
                w, h,
                lambda x, y, d=d: (
                    (d * 3 + x) % 256,
                    (d + x * y) % 256,
                    (5 * y + d // 3) % 256,
                ),
            )
            fmt = "image/x-portable-pixmap"
        elif kind == 2:
            n = 64 + d % 193
            period = 8 + d % 23
            samples = [
                ((i % period) * 2000 - period * 1000)
                for i in range(n)
            ]
            payload = encode_wav(samples, 8000 + (d % 3) * 4000)
            fmt = "audio/wav"
        elif (d // 4) % 2 == 0:
            # Every 3rd PNG is Adam7 interlaced — per-pass
            # unfilter + scatter ride the same means oracle
            # (pixel set identical, order invariant).
            w, h = 4 + d % 9, 3 + d % 5
            payload = encode_png(
                w, h,
                lambda x, y, d=d: (
                    (d * 7 + x) % 256,
                    (d + 5 * y) % 256,
                    (x * y + d // 7) % 256,
                ),
                interlace=(d % 3 == 1),
            )
            fmt = "image/png"
        elif (d // 8) % 4 == 3:
            # Deterministic POISON row: a JPEG with no frame
            # header — keeps the decoded=false resilience path
            # hash-verified end-to-end (the oracle pins the
            # exact failure note).
            payload = b"\xff\xd8\xff\xd9"
            fmt = "image/jpeg"
        else:
            # Real JPEG: flat 8x8 grayscale tiles survive the
            # DCT roundtrip BIT-exactly (DC-only blocks,
            # all-ones quant tables), so the SQL oracle
            # recomputes the stats from the same integer tile
            # formula. Every 5th one is encoded PROGRESSIVE
            # (SOF2 — spectral selection + successive
            # approximation — every 7th of those instead
            # PROGRESSIVE-ARITHMETIC SOF10, r12), the d%5==4
            # slot sequential ARITHMETIC (SOF9, T.81
            # QM-coder, r12) and the d%5==3 slot LOSSLESS
            # (SOF3 Annex H predictors, r12); same pixels,
            # same stats, so the oracle needs no new branch.
            w = 8 * (1 + d % 3)
            h = 8 * (1 + (d // 3) % 2)
            pa = d % 5 == 2 and d % 7 == 2
            payload = encode_jpeg_flat_tiles(
                w, h,
                lambda tx, ty, d=d: (5 * d + 11 * tx + 23 * ty) % 256,
                progressive=(d % 5 == 2 and not pa),
                arith=(d % 5 == 4),
                lossless=(d % 5 == 3),
                progressive_arith=pa,
            )
            fmt = "image/jpeg"
        return [(d, payload, fmt)]

    return map_rows(
        widen_python_stage(documents.select("doc_id")), one, SYNTH_MEDIA_SCHEMA
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_format", StringType(), True),
        StructField("decoded", BooleanType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("peak", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("note", StringType(), True),
    ]
)

def _decode_jpeg(payload: bytes) -> dict:
    from razulibs_spark.operators.jpeg import decode_jpeg

    return decode_jpeg(payload)


def _decode_gif(payload: bytes) -> dict:
    from razulibs_spark.operators.gif import decode_gif

    return decode_gif(payload)


_DECODERS = {
    "image/bmp": decode_bmp,
    "image/x-portable-pixmap": decode_ppm,
    "audio/wav": decode_wav,
    "image/png": decode_png,
    "image/jpeg": _decode_jpeg,
    "image/gif": _decode_gif,
}


def decode_media(media: DataFrame) -> DataFrame:
    """REAL media decode as an Arrow stage: one mapInPandas pass
    dispatches each payload to its numpy/stdlib decoder
    (BMP/PPM/WAV/PNG/JPEG) and emits typed stats; unknown formats and
    corrupt payloads come back decoded=false with the reason — a
    poison payload must never kill a 100 TB job. Decode is inherently
    per-payload Python work (the one legitimate UDF hot path); the
    Arrow boundary is crossed once and the fan-out is split-aware
    like every other media stage."""

    def one(doc_id, payload, fmt):
        row = {
            "doc_id": int(doc_id),
            "media_format": fmt,
            "decoded": False,
            "width": None, "height": None,
            "mean_r": None, "mean_g": None, "mean_b": None,
            "sample_rate": None, "n_channels": None,
            "n_samples": None, "peak": None, "rms": None,
            "note": None,
        }
        decoder = _DECODERS.get(fmt)
        if payload is None:
            row["note"] = "null payload"
        elif decoder is None:
            row["note"] = f"no decoder registered for {fmt}"
        else:
            try:
                row.update(decoder(bytes(payload)))
                row["decoded"] = True
            except ValueError as exc:
                row["note"] = f"decode failed: {exc}"
        return [tuple(row[name] for name in DECODE_SCHEMA.names)]

    # Conditional widen (r13): the synthesize stages upstream are now
    # split-aware, so the old unconditional doc_id re-hash of every
    # payload byte (capped at 4x the input split count — which widened a
    # single-split fixture to only 4 tasks) is gone. No-op at cluster
    # scale; round-robin to the core count locally.
    return map_rows(
        widen_python_stage(media).select("doc_id", "payload", "media_format"),
        one, DECODE_SCHEMA,
    )


def synthesize_gif_media(documents: DataFrame) -> DataFrame:
    """Deterministic REAL GIF89a payloads from the documents table
    (operators/gif.py: real LZW both directions). Palette size,
    geometry, palette entries and pixel indices are all integer
    functions of doc_id — GIF is lossless, so the decoded channel
    means are exact and the multimodal_gif_decode oracle recomputes
    them from the same formulas. Docs with doc_id % 11 == 6 carry a
    POISON payload (valid header + color table, trailer before any
    image frame) pinning the decoded=false path. Payloads are bounded
    (≤ 16×12 px, ≤ 16 colors) — a narrow Arrow pass at any corpus
    size."""
    from razulibs_spark.operators.gif import encode_gif

    def one(doc_id):
        d = int(doc_id)
        if d % 11 == 6:
            # header + 4-color GCT + immediate trailer
            payload = (
                b"GIF89a" + (4).to_bytes(2, "little")
                + (3).to_bytes(2, "little") + b"\x81\x00\x00"
                + bytes(12) + b"\x3b"
            )
        else:
            p = 4 + d % 13
            w, h = 5 + d % 12, 4 + d % 9
            palette = [
                (
                    (d * 5 + j * 7) % 256,
                    (d + j * 11) % 256,
                    (3 * j + d // 3) % 256,
                )
                for j in range(p)
            ]
            pix = [
                (d + 3 * x + 5 * y) % p
                for y in range(h)
                for x in range(w)
            ]
            # Every 7th image is written 4-pass interlaced —
            # the decoder's de-interlace path rides the same
            # oracle (channel means are row-order invariant).
            payload = encode_gif(
                w, h, palette, pix, interlace=(d % 7 == 3)
            )
        return [(d, payload, "image/gif")]

    return map_rows(
        widen_python_stage(documents.select("doc_id")), one, SYNTH_MEDIA_SCHEMA
    )


def _pixels_rgb(payload: bytes, fmt: str):
    """Top-down (h, w, 3) RGB integer array (uint8, or uint16 for
    deep PPMs) from an uncompressed raster payload — the pixel-level
    companion to the stats decoders above. Raises ValueError on
    anything else (caller reports, never dies)."""
    import numpy as np

    if fmt == "image/bmp":
        if len(payload) < 54 or payload[:2] != b"BM":
            raise ValueError("not a BMP payload")
        off = int.from_bytes(payload[10:14], "little")
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height_raw = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        if bpp != 24 or width <= 0 or height_raw == 0:
            raise ValueError("unsupported BMP for pixel decode")
        height = abs(height_raw)
        stride = (width * 3 + 3) // 4 * 4
        if len(payload) < off + stride * height:
            raise ValueError("truncated BMP pixel array")
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * height, offset=off
        ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
        rgb = rows[:, :, ::-1]                      # BGR → RGB
        if height_raw > 0:                          # bottom-up → top-down
            rgb = rgb[::-1]
        return rgb
    if fmt == "image/x-portable-pixmap":
        width, height, maxval, pos = _ppm_header(payload)
        dtype = np.dtype(">u2") if maxval > 255 else np.dtype(np.uint8)
        need = width * height * 3
        if len(payload) - pos < need * dtype.itemsize:
            raise ValueError("truncated PPM pixel array")
        # 16-bit rasters come back as NATIVE uint16 (big-endian views
        # are slow in numpy) — image_ahash's bit grid is all-integer
        # (gray·w·h > Σgray), exact at any depth.
        arr = np.frombuffer(
            payload, dtype=dtype, count=need, offset=pos
        ).reshape(height, width, 3)
        return arr.astype(np.uint16) if maxval > 255 else arr
    raise ValueError(f"no pixel decoder for {fmt}")


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_format", StringType()),
        StructField("decoded", BooleanType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bits_set", LongType()),
        StructField("ahash", StringType()),
        StructField("note", StringType()),
    ]
)


def image_ahash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels — the image
    near-dup primitive (re-encoded or metadata-touched copies of the
    same picture hash identically; content edits flip bits). Per
    image: gray = r+g+b (integer), bit(x, y) = [gray·w·h > Σgray]
    (strict, all-integer — no float threshold, so the bit grid is
    bit-exact across engines), bitstring in row-major TOP-DOWN order,
    hash = md5(bitstring). bits_set rides along so near-threshold
    regressions show up as an integer drift, not just a hash flip.

    Non-raster formats and corrupt payloads come back decoded=false
    with the reason — same resilience contract as decode_media. One
    Arrow pass, bounded payloads, split-aware width."""
    import hashlib

    import numpy as np

    def one(doc_id, payload, fmt):
        row = {
            "doc_id": int(doc_id), "media_format": fmt,
            "decoded": False, "width": None, "height": None,
            "bits_set": None, "ahash": None, "note": None,
        }
        try:
            if payload is None:
                raise ValueError("null payload")
            rgb = _pixels_rgb(bytes(payload), fmt)
        except ValueError as exc:
            row["note"] = str(exc)
        else:
            h, w = rgb.shape[:2]
            gray = rgb.astype(np.int64).sum(axis=2)
            bits = (gray * (w * h) > int(gray.sum())).ravel()
            bitstring = "".join("1" if b else "0" for b in bits)
            row.update(
                decoded=True, width=int(w), height=int(h),
                bits_set=int(bits.sum()),
                ahash=hashlib.md5(bitstring.encode()).hexdigest(),
            )
        return [tuple(row[name] for name in AHASH_SCHEMA.names)]

    return map_rows(
        widen_python_stage(media).select("doc_id", "payload", "media_format"),
        one, AHASH_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Audio spectral analysis — FFT feature extraction over real PCM
# ---------------------------------------------------------------------------

TONAL_N = 2048          # samples per fixture clip (power of two)
TONAL_RATE = 8000       # Hz


def synthesize_tonal_wav_media(documents: DataFrame) -> DataFrame:
    """Deterministic REAL mono 16-bit PCM WAVs from the documents
    table: each clip is a pure sine planted EXACTLY on FFT bin
    k = 3 + doc_id % 37 of a TONAL_N-sample window (freq = k·rate/N),
    amplitude 9000 + (doc_id % 5)·1000 — so the spectral analyzer's
    peak bin is an integer function of doc_id and the oracle
    recomputes it from the same formula (quantization noise is ~60 dB
    below the planted tone; argmax cannot move). Docs with
    doc_id % 13 == 7 carry a POISON payload (RIFF/WAVE header, no
    chunks) pinning the decoded=false path."""
    import math

    import numpy as np

    t = np.arange(TONAL_N, dtype=np.float64)

    def one(doc_id):
        d = int(doc_id)
        if d % 13 == 7:
            payload = b"RIFF" + (4).to_bytes(4, "little") + b"WAVE"
        else:
            k = 3 + d % 37
            a = 9000 + (d % 5) * 1000
            w = 2.0 * math.pi * k / TONAL_N
            # np.round matches Python round() here (both
            # half-even on float64), and the oracle depends
            # only on the planted bin, not the sample bytes.
            samples = np.round(a * np.sin(w * t)).astype(np.int64)
            payload = encode_wav(samples, TONAL_RATE)
        return [(d, payload, "audio/wav")]

    return map_rows(
        widen_python_stage(documents.select("doc_id")), one, SYNTH_MEDIA_SCHEMA
    )


SPECTRAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("decoded", BooleanType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("peak_bin", LongType()),
        StructField("dominant_hz", DoubleType()),
        StructField("tonal", BooleanType()),
        StructField("note", StringType()),
    ]
)


def audio_spectral(media: DataFrame) -> DataFrame:
    """Spectral feature extraction over real PCM audio: per clip, an
    rFFT of the (mono-mixed) samples, the dominant non-DC bin, its
    frequency in Hz, and a tonality flag (peak bin holds > half the
    non-DC energy). This is the audio member of the feature-extract
    family (image decode / ahash / video frames) — one Arrow pass,
    bounded payloads, corrupt rows come back decoded=false with the
    reason.

    ``dominant_hz = peak_bin · rate / n`` is an exact power-of-two
    division for the fixture geometry, so the value hashes bit-equal
    against an oracle computing the same rational."""
    import numpy as np

    def one(doc_id, payload):
        row = {
            "doc_id": int(doc_id), "decoded": False,
            "sample_rate": None, "n_samples": None,
            "peak_bin": None, "dominant_hz": None,
            "tonal": None, "note": None,
        }
        try:
            if payload is None:
                raise ValueError("null payload")
            rate, nch, samples = _wav_pcm(bytes(payload))
            n = len(samples) // nch
            x = (
                samples[: n * nch]
                .astype(np.float64)
                .reshape(n, nch)
                .mean(axis=1)
            )
            spec = np.abs(np.fft.rfft(x)) ** 2
            if len(spec) < 2:
                raise ValueError("clip too short for spectrum")
            body = spec[1:]  # drop DC
            peak = int(np.argmax(body)) + 1
            row.update(
                decoded=True,
                sample_rate=int(rate),
                n_samples=int(n),
                peak_bin=peak,
                dominant_hz=float(peak * rate) / n,
                tonal=bool(spec[peak] > 0.5 * float(body.sum())),
            )
        except ValueError as exc:
            row["note"] = str(exc)
        return [tuple(row[name] for name in SPECTRAL_SCHEMA.names)]

    return map_rows(
        widen_python_stage(media).select("doc_id", "payload"), one, SPECTRAL_SCHEMA
    )


# ---------------------------------------------------------------------------
# G.711 μ-law — the telephony/speech-corpus codec (every call-center
# and voicemail corpus ships 8-bit μ-law, not PCM16)
# ---------------------------------------------------------------------------

_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def mulaw_encode_sample(x: int) -> int:
    """One PCM16 sample → one μ-law byte (ITU-T G.711, table-free
    reference form). Fixture-side ONLY — the Spark decoder and the
    DuckDB oracle each re-derive the transform independently, so all
    three implementations must agree for the driver hash to match."""
    sign = 0x80 if x < 0 else 0
    if x < 0:
        x = -x
    if x > _MULAW_CLIP:
        x = _MULAW_CLIP
    x += _MULAW_BIAS
    exponent = max((x >> 7).bit_length() - 1, 0)
    mantissa = (x >> (exponent + 3)) & 0x0F
    return ~(sign | (exponent << 4) | mantissa) & 0xFF


def mulaw_decode_hex_col(hex_col, n_samples: int):
    """Hex-encoded μ-law byte stream → array<int> of PCM16 samples as
    a PURE CODEGEN expression: transform over sample positions, each
    byte via conv(substring, 16, 10), then the G.711 expansion
    ((8m+132) << e) - 132 with the sign bit restored — zero Python,
    zero shuffle; the decode rides the scan projection. (Compare the
    WAV/JPEG decoders, which need numpy: μ-law's fixed 1-byte cells
    make it the one audio codec Catalyst can expand itself.)"""
    pow2 = F.array(*[F.lit(1 << e) for e in range(8)])

    def decode_byte(i):
        b = F.conv(F.substring(hex_col, i * 2 + 1, 2), 16, 10).cast("int")
        u = F.lit(255) - b  # ~code & 0xFF
        sign = (u >= 128).cast("int")
        e = F.floor(u / 16).cast("int") % 8
        m = u % 16
        mag = (m * 8 + _MULAW_BIAS) * F.element_at(pow2, e + 1) - _MULAW_BIAS
        return (F.lit(1) - sign * 2) * mag

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_samples - 1)), decode_byte
    )
