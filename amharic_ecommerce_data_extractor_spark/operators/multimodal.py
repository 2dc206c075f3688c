"""Multimodal column plumbing (graft-added).

The reference skips media downloads entirely (``telegram_scraper.py:84-99``
records only ``media_type`` strings); a 100TB training pipeline instead
carries media as opaque ``binary`` columns with typed metadata. This module
provides the Spark-side machinery — schemas, Arrow-batched UDF signatures,
partition-aware batch shapes — plus a REAL pure-stdlib/numpy codec for the
formats that need no external libraries:

* uncompressed 24-bit BMP (``BM`` magic, BITMAPINFOHEADER) — header parse +
  pixel rows (bottom-up, 4-byte row padding);
* binary netpbm PGM (``P5``) / PPM (``P6``) — header parse + raw samples;
* RIFF WAVE uncompressed PCM (8/16-bit) — chunk walk + sample statistics
  (rate/channels/duration/RMS/peak/zero-crossings);
* RIFF AVI with uncompressed BI_RGB frames — LIST-tree walk + per-sampled-
  frame grid features (the video twin of the BMP/WAV paths).

Decoded images get real features (4×4 grayscale grid means) and a real
nearest-neighbor resize. Payloads in any OTHER format fall back to a
deterministic sha256-derived fake (so the pipeline shape is testable on
arbitrary bytes and the driver oracle can recompute it); swap the fallback
for PIL/libvips in production — signatures are unchanged. A ``b'REAL'``
magic prefix still hard-raises, marking payloads that must never silently
take the fallback.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), True),      # image|audio|video
    T.StructField("mime", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),          # opaque bytes
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

IMAGE_FEATURE_FIELDS = [
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("payload_sha256", T.StringType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
]


def _parse_bmp(payload: bytes):
    """(width, height, HxWx3 uint8 ndarray) for uncompressed 24-bit BMP, or
    None if the payload is not one."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_offset, = struct.unpack_from("<I", payload, 10)
    dib_size, width, height = struct.unpack_from("<Iii", payload, 14)
    if dib_size < 40 or not (0 < width <= 16384) or not (0 < abs(height) <= 16384):
        return None
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression, = struct.unpack_from("<I", payload, 30)
    if planes != 1 or bpp != 24 or compression != 0:
        return None
    h = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    if data_offset + row_bytes * h > len(payload):
        return None
    rows = np.frombuffer(payload, dtype=np.uint8,
                         count=row_bytes * h, offset=data_offset)
    rows = rows.reshape(h, row_bytes)[:, :width * 3].reshape(h, width, 3)
    if height > 0:  # bottom-up storage
        rows = rows[::-1]
    return width, h, rows[:, :, ::-1]  # BGR → RGB


def _parse_netpbm(payload: bytes):
    """(width, height, HxWx3 uint8) for binary PGM (P5) / PPM (P6), else
    None. Tolerates whitespace runs and '#' comments in the header."""
    import numpy as np

    if payload[:2] not in (b"P5", b"P6"):
        return None
    channels = 3 if payload[:2] == b"P6" else 1
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(payload):
        c = payload[pos:pos + 1]
        if c == b"#":
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(payload) and payload[pos:pos + 1].isdigit():
                pos += 1
            fields.append(int(payload[start:pos]))
        else:
            return None
    if len(fields) < 3 or not payload[pos:pos + 1].isspace():
        return None
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if not (0 < width <= 16384 and 0 < height <= 16384 and 0 < maxval < 256):
        return None
    n = width * height * channels
    if pos + n > len(payload):
        return None
    px = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    px = px.reshape(height, width, channels)
    if channels == 1:
        px = np.repeat(px, 3, axis=2)
    return width, height, px


def _decode_pixels(payload: bytes):
    """Real decode for the stdlib-decodable formats; None otherwise."""
    return _parse_bmp(payload) or _parse_netpbm(payload)


def _grid_features(px, grid: int = 4) -> list[float]:
    """Real image feature: grid×grid cell means of normalized grayscale."""
    import numpy as np

    gray = (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]) / 255.0
    h, w = gray.shape
    ys = np.linspace(0, h, grid + 1).astype(int)
    xs = np.linspace(0, w, grid + 1).astype(int)
    out = []
    for i in range(grid):
        for j in range(grid):
            cell = gray[ys[i]:max(ys[i + 1], ys[i] + 1),
                        xs[j]:max(xs[j + 1], xs[j] + 1)]
            out.append(float(cell.mean()))
    return out


def _decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """Image decode: REAL for 24-bit BMP and binary PGM/PPM (header parse +
    pixel statistics); deterministic sha256-derived fake for any other
    payload (so arbitrary bytes exercise the pipeline shape and the driver
    oracle can recompute the output). b'REAL'-prefixed payloads hard-raise:
    they mark inputs that must never take the fallback."""
    if payload[:4] == b"REAL":
        raise NotImplementedError("this payload requires PIL/libvips on executors")
    decoded = _decode_pixels(payload)
    if decoded is not None:
        width, height, px = decoded
        return width, height, _grid_features(px)
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    feature = [b / 255.0 for b in h[:16]]
    return width, height, feature


def _map_payloads(media: DataFrame, media_type: str, fields: list,
                  rows_of) -> DataFrame:
    """The shell of every media pass: the ``media_type`` rows' (media_id,
    payload) cross the Arrow boundary through one mapInArrow (narrow plan,
    batch-amortized decode); ``rows_of(payload bytes)`` yields the output
    rows of one payload as tuples in ``fields`` order, each prefixed with
    its media_id. A null payload decodes as ``b""``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType([T.StructField("media_id", T.LongType(), False)] + fields)
    row_type = pa.struct(to_arrow_schema(schema))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield pa.RecordBatch.from_struct_array(pa.array(
                [(mid, *row) for mid, payload in zip(b.column(0).to_pylist(),
                                                     b.column(1).to_pylist())
                 for row in rows_of(payload or b"")], row_type))

    return (media.where(F.col("media_type") == media_type)
            .select("media_id", "payload").mapInArrow(run, schema))


def extract_image_features(media: DataFrame) -> DataFrame:
    """media table → per-image features (one row per image)."""
    def rows_of(data: bytes):
        w, h, feat = _decode_image_stub(data)
        yield w, h, len(data), hashlib.sha256(data).hexdigest(), feat

    return _map_payloads(media, "image", IMAGE_FEATURE_FIELDS, rows_of)


AUDIO_FEATURE_FIELDS = [
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("duration_s", T.FloatType(), True),
    T.StructField("rms", T.FloatType(), True),
    T.StructField("peak", T.FloatType(), True),
    T.StructField("zero_cross_rate", T.FloatType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("payload_sha256", T.StringType(), True),
]


def _parse_wav(payload: bytes):
    """(sample_rate, n_channels, float32 mono samples in [-1, 1]) for RIFF
    WAVE with uncompressed PCM (format tag 1, 8/16-bit), else None. Chunk
    walk tolerates extra chunks (LIST, fact, ...) and odd-size padding."""
    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size, = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_fmt, n_ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if audio_fmt != 1 or not (1 <= n_ch <= 8) or rate <= 0 or bits not in (8, 16):
        return None
    if bits == 16:
        n = len(data) // 2 // n_ch * n_ch
        x = np.frombuffer(data, dtype="<i2", count=n).astype(np.float32) / 32768.0
    else:  # 8-bit WAV PCM is unsigned, midpoint 128
        n = len(data) // n_ch * n_ch
        x = (np.frombuffer(data, dtype=np.uint8, count=n).astype(np.float32)
             - 128.0) / 128.0
    if n == 0:
        return None
    return int(rate), int(n_ch), x.reshape(-1, n_ch).mean(axis=1)


def _audio_features_stub(payload: bytes) -> dict:
    """Audio decode: REAL for RIFF/WAVE PCM (header chunk walk + sample
    statistics — the audio twin of the BMP/PGM/PPM image path);
    deterministic sha256-derived fake for any other payload (mp3/ogg/flac
    need codec libs absent here — swap for soundfile/ffmpeg in production,
    signatures unchanged). b'REAL'-prefixed payloads hard-raise."""
    import numpy as np

    if payload[:4] == b"REAL":
        raise NotImplementedError("this payload requires an audio codec lib "
                                  "(soundfile/ffmpeg) on executors")
    decoded = _parse_wav(payload)
    if decoded is not None:
        rate, n_ch, mono = decoded
        return {
            "sample_rate": rate, "n_channels": n_ch,
            "duration_s": float(len(mono) / rate),
            "rms": float(np.sqrt(np.mean(mono * mono))),
            "peak": float(np.max(np.abs(mono))),
            # single-frame clip: no sample pairs to cross, rate is 0 (a bare
            # np.mean over the empty comparison would yield NaN + a warning)
            "zero_cross_rate": (float(np.mean(np.signbit(mono[1:])
                                              != np.signbit(mono[:-1])))
                                if len(mono) > 1 else 0.0),
        }
    h = hashlib.sha256(payload).digest()
    return {
        "sample_rate": 8000 * (1 + h[0] % 6),
        "n_channels": 1 + h[1] % 2,
        "duration_s": round(0.5 + (h[2] / 255.0) * 29.5, 6),
        "rms": round(h[3] / 255.0, 6),
        "peak": round(max(h[3], h[4]) / 255.0, 6),
        "zero_cross_rate": round(h[5] / 255.0, 6),
    }


def extract_audio_features(media: DataFrame) -> DataFrame:
    """media table → per-clip audio features (one row per clip)."""
    def rows_of(data: bytes):
        feats = {**_audio_features_stub(data), "n_bytes": len(data),
                 "payload_sha256": hashlib.sha256(data).hexdigest()}
        yield tuple(feats[f.name] for f in AUDIO_FEATURE_FIELDS)

    return _map_payloads(media, "audio", AUDIO_FEATURE_FIELDS, rows_of)


def sample_video_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling PLANNER: emits (media_id, frame_idx) rows for frames
    0, n, 2n … from the frame count in metadata — pure column expressions,
    no payload read; use it to size/shard decode work before shipping
    payloads anywhere. The actual decode is ``extract_video_frames``."""
    frames = F.coalesce(F.element_at("meta", F.lit("n_frames")).cast("int"), F.lit(0))
    idx = F.sequence(F.lit(0), F.greatest(frames - 1, F.lit(0)), F.lit(every_n))
    return (media.where(F.col("media_type") == "video")
            .select("media_id", F.explode(idx).alias("frame_idx")))


def _parse_avi_rgb(payload: bytes):
    """(width, height, n_frames, frames) for RIFF AVI with uncompressed
    BI_RGB 24-bit video ('00db'/'00dc' DIB frames — bottom-up BGR rows with
    4-byte padding, the same pixel layout as BMP), else None. frames is a
    list of HxWx3 uint8 RGB arrays in stream order. Same chunk-walk
    machinery as the WAV path: LIST trees are descended, unknown chunks
    skipped, odd sizes word-aligned."""
    import numpy as np

    if len(payload) < 24 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    width = height = None
    frame_bodies: list[bytes] = []

    def walk(pos: int, end: int, depth: int) -> None:
        nonlocal width, height
        if depth > 8:
            # real AVIs nest LISTs <= 4 deep (RIFF > hdrl > strl / movi >
            # rec); an adversarial payload of thousands of nested LIST
            # headers must not blow the recursion limit and kill the
            # executor task — treat it as undecodable instead
            return
        while pos + 8 <= end:
            cid = payload[pos:pos + 4]
            size, = struct.unpack_from("<I", payload, pos + 4)
            body_at = pos + 8
            if body_at + size > end:
                break
            if cid == b"LIST" and size >= 4:
                walk(body_at + 4, body_at + size, depth + 1)  # skip list type
            elif cid == b"avih" and size >= 40:
                # dwWidth/dwHeight at offsets 32/36 of the main AVI header
                width, height = struct.unpack_from("<II", payload, body_at + 32)
            elif cid[2:4] in (b"db", b"dc") and size > 0:
                frame_bodies.append(payload[body_at:body_at + size])
            pos = body_at + size + (size & 1)        # chunks are word-aligned

    walk(12, len(payload), 0)
    if not width or not height or width > 16384 or height > 16384 \
            or not frame_bodies:
        return None
    row_bytes = (width * 3 + 3) & ~3
    frames = []
    for body in frame_bodies:
        if len(body) < row_bytes * height:
            return None  # compressed ('dc' with a real codec) or truncated
        rows = np.frombuffer(body, dtype=np.uint8, count=row_bytes * height)
        rows = rows.reshape(height, row_bytes)[:, :width * 3] \
                   .reshape(height, width, 3)
        frames.append(rows[::-1, :, ::-1])           # bottom-up BGR → RGB
    return int(width), int(height), len(frames), frames


def make_avi(frames, width: int, height: int) -> bytes:
    """Synthesize a minimal uncompressed-RGB RIFF AVI (the format
    _parse_avi_rgb decodes): LIST hdrl (avih with dims) + LIST strl +
    LIST movi of 00db DIB frames — bottom-up BGR rows, 4-byte padded, the
    BMP pixel layout. Deterministic; used by tests and the q51 registry
    query to exercise the REAL decode path without codec libraries.
    frames: iterable of HxWx3 uint8 RGB arrays."""
    import numpy as np

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    frames = list(frames)
    avih = struct.pack("<IIIIIIIIII", 33333, 0, 0, 0, len(frames), 0, 1, 0,
                       width, height) + b"\x00" * 16
    strh = b"vids" + b"DIB " + b"\x00" * 48
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    row_bytes = (width * 3 + 3) & ~3
    bodies = b""
    for fr in frames:
        bgr = np.asarray(fr, dtype=np.uint8)[::-1, :, ::-1]   # bottom-up, BGR
        padded = np.zeros((height, row_bytes), dtype=np.uint8)
        padded[:, :width * 3] = bgr.reshape(height, width * 3)
        bodies += chunk(b"00db", padded.tobytes())
    movi = lst(b"movi", bodies)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


VIDEO_FRAME_FIELDS = [
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
]


def _video_frames_stub(payload: bytes, every_n: int):
    """Video decode: REAL for uncompressed-RGB AVI (RIFF walk + per-frame
    4×4 grid features, the video twin of the BMP/WAV paths); deterministic
    sha256-derived fake frames for any other payload (mp4/mjpeg need codec
    libs absent here — swap for pyav/ffmpeg in production, signatures
    unchanged). b'REAL'-prefixed payloads hard-raise. Returns
    [(frame_idx, width, height, n_frames, feature), ...] for frames
    0, every_n, 2·every_n, …"""
    if payload[:4] == b"REAL":
        raise NotImplementedError("this payload requires a video codec lib "
                                  "(pyav/ffmpeg) on executors")
    decoded = _parse_avi_rgb(payload)
    if decoded is not None:
        w, h, n, frames = decoded
        return [(i, w, h, n, _grid_features(frames[i]))
                for i in range(0, n, every_n)]
    dig = hashlib.sha256(payload).digest()
    w, h = 64 + dig[0] % 192, 64 + dig[1] % 192
    n = 1 + dig[2] % 120
    out = []
    for i in range(0, n, every_n):
        fd = hashlib.sha256(payload + i.to_bytes(4, "little")).digest()
        out.append((i, w, h, n, [b / 255.0 for b in fd[:16]]))
    return out


def extract_video_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """media table → sampled decoded frames (media_id, frame_idx, width,
    height, n_frames, feature): the per-frame grid features, not pixels,
    come back."""
    return _map_payloads(media, "video", VIDEO_FRAME_FIELDS,
                         lambda data: _video_frames_stub(data, every_n))


def media_profile(media: DataFrame) -> DataFrame:
    """Typed metadata rollup — size distribution per media_type."""
    return media.groupBy("media_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.length("payload")), 2).alias("avg_bytes"),
        F.max(F.length("payload")).alias("max_bytes"))


def _resize_nearest(px, width: int, height: int):
    """Real nearest-neighbor resample (numpy fancy indexing)."""
    import numpy as np

    h, w = px.shape[:2]
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return px[yi][:, xi]


def _encode_ppm(px) -> bytes:
    """Re-encode pixels as binary PPM (P6) — the zero-dependency sink
    format for resized output."""
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype("uint8").tobytes()


def resize_images(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Arrow-batched resize. REAL (decode → nearest-neighbor resample →
    re-encode as binary PPM) for BMP/PGM/PPM payloads; deterministic
    sha-fake payload for undecodable bytes (pipeline-shape testing). Swap
    the fallback for PIL in production; schema/batching stay identical."""
    fields = [T.StructField("width", T.IntegerType(), False),
              T.StructField("height", T.IntegerType(), False),
              T.StructField("payload", T.BinaryType(), True)]

    def rows_of(data: bytes):
        if data[:4] == b"REAL":
            raise NotImplementedError("this payload requires PIL/libvips on executors")
        decoded = _decode_pixels(data)
        if decoded is not None:
            out = _encode_ppm(_resize_nearest(decoded[2], width, height))
        else:
            out = hashlib.sha256(data + f"{width}x{height}".encode()).digest()
        yield width, height, out

    return _map_payloads(media, "image", fields, rows_of)
