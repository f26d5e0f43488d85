"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Pillow is optional, so the decode ladder carries its own pure-stdlib
codecs: PIL when importable, else real decoders for PNG (RFC 2083
subset, below) and WAV/PCM audio (the audio rows ride the same status
ladder via a coarse 8x8 spectrogram grid). Every other payload, sniffed
formats such as JPEG, GIF, BMP, FLAC and WebP included, degrades to a
deterministic fake or a NULL feature with decode_status as data
(AMP_FAKE_DECODE). The
Spark-side plumbing is real and tested: schemas, Arrow batch shapes,
mapInPandas signatures, partition-size control. On a real cluster only
the ladder's top rung changes (PIL/libav present); the plan shape is
already the scalable one: a single mapInPandas pass, no shuffle, binary
payloads never leave the executor that read them.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("payload_sha", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        # decode outcome AS DATA (never a per-row raise at corpus scale):
        #   real        — an actual decoder produced the grid
        #   fake        — deterministic content-derived stand-in used
        #   corrupt     — payload claimed a known format but failed to
        #                 decode (feature NULL unless fakes allowed)
        #   unsupported — format outside the available decode ladder
        #                 (feature NULL unless fakes allowed)
        T.StructField("decode_status", T.StringType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)

# magic-byte format sniffing (public file signatures)
_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"fLaC", "flac"),
    (b"BM", "bmp"),
)


def sniff_format(payload: bytes) -> str:
    for magic, name in _MAGIC:
        if payload.startswith(magic):
            return name
    if len(payload) >= 12 and payload[:4] == b"RIFF":
        if payload[8:12] == b"WEBP":
            return "webp"
        if payload[8:12] == b"WAVE":
            return "wav"
    return "unknown"


def _fake_decode_allowed() -> bool:
    return os.environ.get("AMP_FAKE_DECODE", "1") == "1"


try:  # optional dependency: real image decode when Pillow is installed
    from PIL import Image as _PILImage  # type: ignore

    HAVE_PIL = True
except ImportError:
    _PILImage = None
    HAVE_PIL = False


# ---------------------------------------------------------------------------
# Pure-stdlib PNG codec (public format: RFC 2083 / W3C PNG spec).
# Exists so the REAL decode branch executes even where Pillow is not
# installed: zlib inflate + per-scanline unfilter is the whole decode
# for non-interlaced 8-bit images. Supports color types 0 (gray),
# 2 (RGB), 4 (gray+alpha), 6 (RGBA) at bit depth 8, interlace 0.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(payload: bytes) -> np.ndarray:
    """PNG bytes -> float32 (H, W) grayscale in [0, 1] (ITU-R 601 luma
    for color images). Raises ValueError on anything outside the
    supported subset — callers decide whether to fall back."""
    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_SIG)
    width = height = color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = np.frombuffer(payload[pos : pos + 4], dtype=">u4")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + int(length)]
        pos += 12 + int(length)  # length + type + data + crc
        if ctype == b"IHDR":
            w, h = np.frombuffer(data[:8], dtype=">u4")
            width, height = int(w), int(h)
            depth, color_type, _comp, _filt, interlace = data[8:13]
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    raw = zlib.decompress(bytes(idat))
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG data length mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw[row_start + 1 : row_start + 1 + stride], dtype=np.uint8
        ).astype(np.int32)
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub
            recon = line.copy()
            for x in range(ch, stride):
                recon[x] = (recon[x] + recon[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            recon = (line + prior) & 0xFF
        elif ftype == 3:  # Average
            recon = line.copy()
            for x in range(stride):
                left = recon[x - ch] if x >= ch else 0
                recon[x] = (recon[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            recon = line.copy()
            for x in range(stride):
                left = recon[x - ch] if x >= ch else 0
                ul = prior[x - ch] if x >= ch else 0
                recon[x] = (recon[x] + _paeth(int(left), int(prior[x]), int(ul))) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    px = out.reshape(height, width, ch).astype(np.float32)
    if color_type == 0:
        gray = px[:, :, 0]
    elif color_type == 4:
        gray = px[:, :, 0]  # alpha ignored (match PIL convert("L"))
    else:  # RGB / RGBA -> ITU-R 601 luma, alpha ignored
        gray = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return gray / 255.0


def png_encode(gray: np.ndarray, filter_type: int = 0) -> bytes:
    """8-bit grayscale (H, W) uint8 -> PNG bytes. ``filter_type``
    selects the per-scanline filter (0-4) so tests can exercise every
    unfilter branch of png_decode; real encoders pick per-row."""
    arr = np.asarray(gray, dtype=np.uint8)
    h, w = arr.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    scan = bytearray()
    prior = np.zeros(w, dtype=np.int32)
    for y in range(h):
        row = arr[y].astype(np.int32)
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = (row - np.concatenate(([0], row[:-1]))) & 0xFF
        elif filter_type == 2:
            filt = (row - prior) & 0xFF
        elif filter_type == 3:
            left = np.concatenate(([0], row[:-1]))
            filt = (row - ((left + prior) >> 1)) & 0xFF
        elif filter_type == 4:
            filt = row.copy()
            for x in range(w):
                left = int(row[x - 1]) if x else 0
                ul = int(prior[x - 1]) if x else 0
                filt[x] = (int(row[x]) - _paeth(left, int(prior[x]), ul)) & 0xFF
        else:
            raise ValueError(f"filter_type {filter_type} out of range 0-4")
        scan.append(filter_type)
        scan += filt.astype(np.uint8).tobytes()
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM -> (mono float32 samples in [-1, 1], sample_rate).
    Public format: 'fmt ' + 'data' chunks; supports integer PCM
    (format 1: unsigned 8-bit, signed 16/24/32-bit little-endian) and
    IEEE float (format 3: 32/64-bit). Multi-channel audio is downmixed
    by mean. Compressed formats (ADPCM, mu-law, MP3-in-WAV) raise
    ValueError("unsupported ..."), torn files "corrupt ..." — the
    same status contract as the image decoder."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("corrupt wav: bad RIFF/WAVE header")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            if len(body) != size:
                raise ValueError("corrupt wav: truncated data chunk")
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("corrupt wav: missing fmt/data chunk")
    audio_format, n_ch, rate, _, _, bits = fmt
    if audio_format == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
        raise ValueError("unsupported wav: extensible format")
    if audio_format not in (1, 3):
        raise ValueError(f"unsupported wav: format {audio_format}")
    if n_ch < 1 or rate < 1:
        raise ValueError("corrupt wav: bad channel count / rate")
    if audio_format == 1:
        if bits == 8:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.float32)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(
                data[: len(data) & ~1], dtype="<i2").astype(np.float32)
            x /= 32768.0
        elif bits == 24:
            n = len(data) // 3
            b = np.frombuffer(data, dtype=np.uint8, count=n * 3
                              ).reshape(n, 3).astype(np.int32)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            x = v.astype(np.float32) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(
                data[: len(data) & ~3], dtype="<i4").astype(np.float32)
            x /= float(1 << 31)
        else:
            raise ValueError(f"unsupported wav: {bits}-bit PCM")
    else:  # IEEE float
        if bits == 32:
            x = np.frombuffer(data[: len(data) & ~3], dtype="<f4"
                              ).astype(np.float32)
        elif bits == 64:
            x = np.frombuffer(data[: len(data) & ~7], dtype="<f8"
                              ).astype(np.float32)
        else:
            raise ValueError(f"unsupported wav: {bits}-bit float")
    if n_ch > 1:
        n = len(x) // n_ch
        x = x[: n * n_ch].reshape(n, n_ch).mean(axis=1)
    if len(x) == 0:
        raise ValueError("corrupt wav: empty audio")
    return np.clip(x, -1.0, 1.0).astype(np.float32), int(rate)


def wav_encode(samples: np.ndarray, rate: int = 8000, bits: int = 16,
               channels: int = 1, ieee_float: bool = False) -> bytes:
    """Mono-or-interleaved float samples in [-1, 1] -> RIFF/WAVE bytes
    (the wav_decode test fixture; also used by synth_media so the
    audio rows exercise the REAL decode branch in CI)."""
    x = np.asarray(samples, dtype=np.float64)
    if ieee_float:
        body = x.astype("<f4" if bits == 32 else "<f8").tobytes()
        audio_format = 3
    elif bits == 8:
        body = np.rint(np.clip(x, -1, 1) * 127 + 128).astype(np.uint8).tobytes()
        audio_format = 1
    elif bits == 16:
        body = np.rint(np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
        audio_format = 1
    elif bits == 24:
        v = np.rint(np.clip(x, -1, 1) * ((1 << 23) - 1)).astype(np.int32)
        b = np.empty((len(v), 3), dtype=np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        body = b.tobytes()
        audio_format = 1
    elif bits == 32:
        v = np.clip(x, -1, 1) * ((1 << 31) - 1)
        body = v.astype("<i4").tobytes()
        audio_format = 1
    else:
        raise ValueError(f"unsupported bits: {bits}")
    block = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", audio_format, channels, rate,
                      rate * block, block, bits)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(body)) + body
              + (b"\x00" if len(body) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _audio_grid(samples: np.ndarray) -> np.ndarray:
    """Mono samples -> 8x8 float32 grid in [0, 1]: 8 equal time
    windows x 8 rFFT magnitude bands (a coarse deterministic
    spectrogram) — the audio analog of the image path's 8x8 luma grid,
    so the same downstream feature plumbing applies to both
    modalities."""
    n = len(samples)
    grid = np.zeros((8, 8), dtype=np.float64)
    edges = np.linspace(0, n, 9).astype(int)
    for t in range(8):
        win = samples[edges[t]:max(edges[t + 1], edges[t] + 1)]
        mag = np.abs(np.fft.rfft(win.astype(np.float64)))
        bands = np.linspace(0, len(mag), 9).astype(int)
        for f in range(8):
            seg = mag[bands[f]:max(bands[f + 1], bands[f] + 1)]
            grid[t, f] = float(seg.mean())
    peak = grid.max()
    if peak > 0:
        grid /= peak
    return grid.astype(np.float32)


def wav_feature_grid(payload: bytes) -> np.ndarray:
    return _audio_grid(wav_decode(payload)[0])


def _resize8(gray: np.ndarray) -> np.ndarray:
    """Area-mean resize of an (H, W) grid to 8x8 (the stdlib analog of
    the PIL resize; exact resampling kernels differ between the two
    branches — both are valid 8x8 summaries, documented divergence)."""
    h, w = gray.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    out = np.empty((8, 8), dtype=np.float32)
    for i in range(8):
        for j in range(8):
            block = gray[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            out[i, j] = float(block.mean())
    return out


def _fake_grid(payload: bytes) -> np.ndarray:
    h = hashlib.sha256(payload or b"").digest()
    grid = np.frombuffer((h * 2)[:64], dtype=np.uint8).reshape(8, 8)
    return grid.astype(np.float32) / 255.0


def _decode_image_status(
    payload: bytes, allow_fake: bool = True
) -> tuple[np.ndarray | None, str, str]:
    """Decode a payload to a normalized 8x8 float grayscale grid,
    returning (grid_or_None, decode_status, fmt) — the outcome is DATA,
    never an exception (a corrupt or exotic payload must not kill a
    100-TB pass; see FEATURE_SCHEMA for the status enum).

    Decode ladder:
      1. WAV audio via the spectrogram grid (before PIL, which has no
         audio path);
      2. Pillow (any format it knows) when importable;
      3. the pure-stdlib PNG decoder in this module (real decode, no
         dependency);
      4. any other payload (JPEG, GIF, BMP, FLAC and WebP included,
         which are sniffed but have no stdlib decoder) gets the
         deterministic content-derived fake when allowed, else a NULL
         feature with status unsupported. A failing real decoder yields the fake,
         or corrupt/unsupported."""
    raw = payload or b""
    fmt = sniff_format(raw)
    if fmt == "wav":
        # audio rides the same status ladder: a coarse 8x8 spectrogram
        # grid (_audio_grid) is the modality's analog of the luma
        # grid. Checked before PIL — Pillow has no audio path.
        try:
            return wav_feature_grid(raw), "real", fmt
        except Exception as e:
            if allow_fake:
                return _fake_grid(raw), "fake", fmt
            status = "unsupported" if "unsupported" in str(e) else "corrupt"
            return None, status, fmt
    if HAVE_PIL:
        import io as _io

        try:
            img = _PILImage.open(_io.BytesIO(raw)).convert("L").resize((8, 8))
            return np.asarray(img, dtype=np.float32) / 255.0, "real", fmt
        except Exception:
            status = "corrupt" if fmt != "unknown" else "unsupported"
            if allow_fake:
                return _fake_grid(raw), "fake", fmt
            return None, status, fmt
    if fmt == "png":
        try:
            return _resize8(png_decode(raw)), "real", fmt
        except Exception:  # zlib.error / ValueError / truncation
            if allow_fake:
                return _fake_grid(raw), "fake", fmt
            return None, "corrupt", fmt
    # no real decoder for this format in the current ladder
    if allow_fake:
        return _fake_grid(raw), "fake", fmt
    return None, "unsupported", fmt


def _decode_image(payload: bytes, allow_fake: bool = True) -> np.ndarray:
    """Back-compat wrapper: grid only; raises where the status path
    would have emitted a NULL feature (kept for direct-call sites and
    tests that exercise the raise behavior explicitly)."""
    grid, status, fmt = _decode_image_status(payload, allow_fake)
    if grid is not None:
        return grid
    if status == "unsupported":
        # "unsupported" covers both ladder outcomes: PIL absent for a
        # known format, and PIL present but unable to identify the
        # payload — don't claim "not installed" when it is
        detail = (
            "no decoder in the ladder identified this payload"
            if HAVE_PIL
            else "requires PIL — not installed"
        )
        raise NotImplementedError(
            f"real decode for {fmt!r}: {detail}; "
            "set AMP_FAKE_DECODE=1 for the deterministic fake"
        )
    raise ValueError(f"corrupt {fmt} payload")


def extract_features(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """Binary payload -> fixed-dim feature vector, one Arrow-batched
    mapInPandas pass. Column pruning matters here: only media_id+payload
    are read, so parquet never materializes other columns.

    The fake-decode flag is captured DRIVER-SIDE at plan-build time and
    shipped in the closure — executor python workers are reused across
    jobs, so reading os.environ inside the UDF would see stale state."""
    allow_fake = _fake_decode_allowed()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes, statuses, fmts = [], [], [], [], []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                shas.append(hashlib.sha256(raw).hexdigest())
                sizes.append(len(raw))
                grid, status, fmt = _decode_image_status(raw, allow_fake)
                statuses.append(status)
                fmts.append(fmt)
                if grid is None:
                    feats.append(None)
                else:
                    # fake "feature extraction": row/col means -> feat_dim
                    v = np.concatenate([grid.mean(axis=0), grid.mean(axis=1)])
                    feats.append(np.resize(v, feat_dim).astype(np.float32))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload_sha": shas,
                    "n_bytes": np.array(sizes, dtype=np.int64),
                    "feature": feats,
                    "decode_status": statuses,
                    "fmt": fmts,
                }
            )

    return media.select("media_id", "payload").mapInPandas(fn, FEATURE_SCHEMA)


def decode_metrics(features: DataFrame) -> DataFrame:
    """Counted decode-outcome table (status, fmt, n) — the never-silent
    surface for a mixed-format corpus: how many rows decoded for real,
    how many fell back, how many are opaque to the current ladder."""
    return features.groupBy("decode_status", "fmt").agg(F.count("*").alias("n"))


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            # REAL deterministic PNG payloads: the image rows exercise
            # the actual decode branch (stdlib or PIL), not the fake
            rng = np.random.RandomState(seed * 100_000 + i)
            payload = png_encode(
                rng.randint(0, 256, size=(8, 8), dtype=np.uint8),
                filter_type=i % 5,
            )
        elif kind == "audio":
            # REAL deterministic PCM16 WAV payloads (sine + noise mix)
            # so the audio rows exercise wav_decode in CI
            rng = np.random.RandomState(seed * 100_000 + i)
            t = np.arange(512) / 8000.0
            payload = wav_encode(
                0.5 * np.sin(2 * np.pi * (220 + 55 * (i % 8)) * t)
                + 0.1 * rng.standard_normal(512)
            )
        else:
            payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (i % 7 + 1)
        rows.append(
            {
                "media_id": f"m{i:05d}",
                "kind": kind,
                "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                "payload": payload,
                "width": 8 if kind == "image" else None,
                "height": 8 if kind == "image" else None,
                "duration_ms": 5000 + i * 100 if kind != "image" else None,
            }
        )
    pdf = pd.DataFrame(rows).astype(
        {"width": "Int32", "height": "Int32", "duration_ms": "Int32"}
    )
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
