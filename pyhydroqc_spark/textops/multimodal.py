"""Multimodal column plumbing — images/audio/video as opaque binary.

The Spark-side machinery is real and tested: typed schema, Arrow-batched
``mapInPandas`` decode/feature/resize/frame-sample kernels with bounded
batch memory. Codecs are REAL for the lib-free formats — P6 PPM, uncompressed 24-bit BMP, and
8-bit PNG images (PNG via stdlib ``zlib`` + numpy: chunk walk, inflate,
all five scanline filters, gray/RGB/palette/alpha color types — no PIL)
with nearest-neighbor resize and 8×8 grayscale features, BASELINE and
PROGRESSIVE JPEG (textops/jpeg.py: Huffman entropy decode, SOF2
multi-scan spectral selection + successive approximation, IDCT, chroma
upsampling, restart markers — pure numpy, no libjpeg), PCM WAV audio
(stdlib ``wave``, 64-bin log-energy spectrum), RIFF/AVI video — both
uncompressed (raw-DIB '00db' frames) and motion-JPEG ('00dc' chunks, one
real JPEG per frame) → frame-sampled mean image features — and GIF
(textops/gif.py: full variable-width LZW + interlacing, pure Python).
The remaining formats (MP3, H.264 video) require ffmpeg, absent from
this container: those branches raise NotImplementedError for a deployment
to swap in.

Schema convention::

    media_id: string
    media:    binary          -- opaque payload
    kind:     string          -- image | audio | video
    meta:     struct<width:int, height:int, sample_rate:int, duration_ms:int>
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 64


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary P6 PPM bytes (write side of decode_ppm)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → uncompressed 24-bit BI_RGB BMP bytes
    (bottom-up rows, BGR on disk, 4-byte row padding)."""
    import struct

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    raster = rows.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(raster), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return header + dib + raster


def decode_ppm(payload: bytes) -> np.ndarray:
    """P6 (binary) PPM → (h, w, 3) uint8. Pure bytes + numpy."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comments stripped), then ONE whitespace byte before the raster
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    pos += 1  # the single whitespace after maxval
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP → (h, w, 3) uint8 (RGB order).
    Rows are stored bottom-up and padded to 4-byte boundaries."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[..., ::-1]  # BGR -> RGB


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → PNG bytes (8-bit truecolor, filter 0 rows,
    stdlib zlib) — the write side of decode_png; no imaging libs."""
    import struct
    import zlib

    h, w = img.shape[:2]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    rows = np.ascontiguousarray(img, dtype=np.uint8).reshape(h, w * 3)
    raster = b"".join(b"\x00" + r.tobytes() for r in rows)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster, 6))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: np.ndarray, h: int, w: int, ch: int) -> np.ndarray:
    """Reverse the PNG scanline filters (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth). Sub is a per-channel cumulative sum (vectorized); Up is a
    vector add of the previous OUTPUT row; Average/Paeth depend on the
    left neighbor being already reconstructed, so those rows fall back to
    a per-pixel loop — correctness over speed for foreign files (our own
    encoder writes filter 0)."""
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    rows = raw.reshape(h, stride + 1)
    for y in range(h):
        f = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int64)
        prev = out[y - 1].astype(np.int64) if y else np.zeros(stride, dtype=np.int64)
        if f == 0:
            out[y] = cur
        elif f == 1:
            acc = cur.reshape(w, ch)
            out[y] = (np.cumsum(acc, axis=0) % 256).reshape(stride)
        elif f == 2:
            out[y] = (cur + prev) % 256
        elif f == 3:
            line = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (cur[i] + (a + prev[i]) // 2) % 256
            out[y] = line
        elif f == 4:
            line = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (cur[i] + pr) % 256
            out[y] = line
        else:
            raise ValueError(f"unknown PNG filter {f}")
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG → (h, w, 3) uint8 RGB. Pure stdlib zlib + numpy — no PIL.

    Supports 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), non-interlaced. Alpha is dropped (training
    features come from color content); 16-bit and Adam7 raise."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, ihdr, plte = 8, [], None, None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("malformed PNG (missing IHDR/IDAT)")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace}); "
            "8-bit non-interlaced only"
        )
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if ch is None:
        raise ValueError(f"unsupported PNG color type {ctype}")
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if len(raw) != h * (w * ch + 1):
        raise ValueError("PNG raster size mismatch")
    img = _png_unfilter(raw, h, w, ch).reshape(h, w, ch)
    if ctype == 2:
        return img
    if ctype == 6:
        return img[..., :3]
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    if ctype == 4:
        return np.repeat(img[..., :1], 3, axis=2)
    if plte is None:
        raise ValueError("palette PNG without PLTE")
    return plte[img[..., 0]]


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (float64 mono waveform in [-1, 1], sample_rate).
    stdlib ``wave`` + numpy — no external audio libs."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate = wf.getframerate()
        n = wf.getnframes()
        width = wf.getsampwidth()
        ch = wf.getnchannels()
        raw = wf.readframes(n)
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"sample width {width} not supported")
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x, rate


def encode_avi(frames: np.ndarray, fps: int = 10, codec: str = "DIB") -> bytes:
    """(n, h, w, 3) uint8 RGB frames → AVI (RIFF). ``codec="DIB"`` writes
    uncompressed BGR bottom-up rasters in '00db' chunks; ``codec="MJPG"``
    writes one real baseline JPEG per frame in '00dc' chunks (motion
    JPEG — textops/jpeg.py is the frame codec). The write side of
    decode_avi; no video libs."""
    import struct

    if codec not in ("DIB", "MJPG"):
        raise ValueError("codec must be 'DIB' or 'MJPG'")
    n, h, w = frames.shape[:3]
    stride = (w * 3 + 3) & ~3

    def dib(frame: np.ndarray) -> bytes:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)
        return rows.tobytes()

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    mjpg = codec == "MJPG"
    if mjpg:
        from pyhydroqc_spark.textops.jpeg import encode_jpeg

        payloads = [encode_jpeg(f) for f in frames]
    else:
        payloads = [dib(f) for f in frames]

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    handler = b"MJPG" if mjpg else b"DIB "
    strh = b"vids" + handler + struct.pack(
        "<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0, 0
    ) + struct.pack("<hhhh", 0, 0, w, h)
    compression = struct.unpack("<I", b"MJPG")[0] if mjpg else 0
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, stride * h, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    tag = b"00dc" if mjpg else b"00db"
    movi = lst(b"movi", b"".join(chunk(tag, p) for p in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(payload: bytes) -> tuple[np.ndarray, float]:
    """AVI → ((n, h, w, 3) uint8 RGB, fps). Uncompressed 'DIB ' ('00db'
    raw rasters) and motion-JPEG ('00dc' chunks whose payload is a real
    JPEG — decoded by textops/jpeg.py) streams are REAL; other compressed
    codecs (H.264 etc.) raise for the ffmpeg deployment seam. Pure
    struct + numpy."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    w = h = None
    us_per_frame = 0
    frames = []

    def walk(pos: int, end: int):
        nonlocal w, h, us_per_frame
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            data_start = pos + 8
            if fourcc == b"LIST":
                walk(data_start + 4, data_start + size)
            elif fourcc == b"avih":
                vals = struct.unpack_from("<IIIIIIIIII", payload, data_start)
                us_per_frame = vals[0]
                w, h = vals[8], vals[9]
            elif fourcc in (b"00db", b"00dc"):
                frames.append((fourcc, data_start, size))
            pos = data_start + size + (size % 2)

    walk(12, len(payload))
    if w is None or not frames:
        raise ValueError("malformed AVI (missing avih/frames)")
    stride = (w * 3 + 3) & ~3
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, (fourcc, off, size) in enumerate(frames):
        if fourcc == b"00dc":
            if payload[off : off + 2] != b"\xff\xd8":
                raise ValueError(
                    "non-MJPG compressed AVI stream — deploy ffmpeg for H.264"
                )
            from pyhydroqc_spark.textops.jpeg import decode_jpeg

            img = decode_jpeg(payload[off : off + size])
            if img.shape[:2] != (h, w):
                raise ValueError("MJPG frame dims disagree with avih header")
            out[i] = img
            continue
        if size < stride * h:
            raise ValueError("frame raster too small for declared dims")
        rows = np.frombuffer(payload, np.uint8, stride * h, off).reshape(h, stride)
        out[i] = rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]  # bottom-up BGR
    fps = 1_000_000 / us_per_frame if us_per_frame else 0.0
    return out, fps


def video_features(frames: np.ndarray, max_frames: int = 8) -> np.ndarray:
    """FEATURE_DIM features for a clip: mean of per-frame image features
    over ≤max_frames evenly-sampled frames — deterministic, numpy-only."""
    n = len(frames)
    if n == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    ix = np.unique((np.arange(min(max_frames, n)) * n) // min(max_frames, n))
    feats = np.stack([image_features(frames[i]) for i in ix])
    return feats.mean(axis=0).astype(np.float32)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize by integer index maps — pure numpy."""
    h, w = img.shape[:2]
    ri = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    ci = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return img[ri][:, ci]


def image_features(img: np.ndarray) -> np.ndarray:
    """8×8 grayscale thumbnail, [0,1] floats — a deterministic 64-dim
    embedding (the classic perceptual-hash front end)."""
    gray = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    side = int(FEATURE_DIM**0.5)
    return (resize_nearest(gray, side, side) / 255.0).astype(np.float32).ravel()


def audio_features(x: np.ndarray, rate: int) -> np.ndarray:
    """64-bin log-energy spectrum (rfft magnitudes pooled into FEATURE_DIM
    equal bands) — deterministic, numpy-only."""
    if len(x) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    mag = np.abs(np.fft.rfft(x))
    bins = np.array_split(mag, FEATURE_DIM)
    e = np.array([float(np.sqrt(np.mean(b**2))) if len(b) else 0.0 for b in bins])
    return np.log1p(e).astype(np.float32)


def real_decode(payload: bytes, kind: str) -> np.ndarray:
    """Container-sniffing decode → FEATURE_DIM features. REAL for the
    lib-free formats: P6 PPM / 24-bit BMP / 8-bit PNG (stdlib zlib) /
    baseline + progressive JPEG (pure-numpy Huffman+IDCT) / GIF images,
    PCM WAV audio, and uncompressed AVI video. The formats that genuinely
    need ffmpeg (MP3, MP4/H.264) raise — a deployment swaps those in."""
    if payload[:2] == b"P6":
        return image_features(decode_ppm(payload))
    if payload[:2] == b"BM":
        return image_features(decode_bmp(payload))
    if payload[:8] == PNG_SIG:
        return image_features(decode_png(payload))
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return image_features(decode_jpeg(payload))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return image_features(decode_gif(payload))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return audio_features(*decode_wav(payload))
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return video_features(decode_avi(payload)[0])
    raise NotImplementedError(
        f"no lib-free codec for this {kind} payload (magic={payload[:4]!r}); "
        "deploy with PIL/ffmpeg"
    )


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    media_col: str = "media",
    kind_col: str = "kind",
    batch_rows: int = 256,
) -> DataFrame:
    """binary → array<float> features via mapInPandas (one Arrow batch per
    call; memory bounded by batch_rows × payload size); ``real_decode``
    per payload."""
    schema = StructType(
        [
            StructField("media_id", StringType(), False),
            StructField("features", ArrayType(FloatType(), False), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                feats = [
                    real_decode(bytes(m), k).tolist()
                    for m, k in zip(chunk[media_col], chunk[kind_col])
                ]
                yield pd.DataFrame(
                    {"media_id": chunk[id_col].values, "features": feats}
                )

    return df.mapInPandas(run, schema=schema)

