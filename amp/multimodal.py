"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Pillow is optional, so the decode ladder carries its own pure-stdlib
codecs: PIL when importable, else real decoders for PNG (RFC 2083
subset, below), BMP incl. RLE4/RLE8, first-frame + animated GIF and
WAV/PCM audio (the audio rows ride the same status ladder via a coarse
8x8 spectrogram grid). Every other payload, sniffed formats such as
JPEG, FLAC and WebP included, degrades to a deterministic fake or a
NULL feature with decode_status as data (AMP_FAKE_DECODE). The
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


def _bmp_rle_decode(data: bytes, w: int, h: int, rle4: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 -> (h, w) uint8 palette indices, rows in
    BOTTOM-UP file order (the caller flips). Escapes: 0,0 = end of
    line, 0,1 = end of bitmap, 0,2 = delta move, 0,n>=3 = absolute run
    of n pixels padded to a 16-bit boundary. Pixels skipped by
    deltas/early EOL stay 0 (the spec leaves them undefined)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    while i + 1 < len(data):
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:  # encoded run
            if rle4:
                pair = ((val >> 4) & 0xF, val & 0xF)
                for j in range(cnt):
                    if x >= w or y >= h:
                        raise ValueError("corrupt bmp: RLE overflow")
                    out[y, x] = pair[j & 1]
                    x += 1
            else:
                if x + cnt > w or y >= h:
                    raise ValueError("corrupt bmp: RLE overflow")
                out[y, x:x + cnt] = val
                x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if i + 1 >= len(data):
                raise ValueError("corrupt bmp: truncated RLE delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("corrupt bmp: RLE delta out of range")
        else:  # absolute mode: val literal pixels
            n_bytes = (val + 1) // 2 if rle4 else val
            n_bytes += n_bytes & 1  # pad to 16-bit boundary
            if i + n_bytes > len(data):
                raise ValueError("corrupt bmp: truncated RLE literals")
            if y >= h or x + val > w:
                raise ValueError("corrupt bmp: RLE overflow")
            for j in range(val):
                b = data[i + (j // 2 if rle4 else j)]
                out[y, x] = ((b >> 4) & 0xF) if (rle4 and j % 2 == 0) \
                    else (b & 0xF) if rle4 else b
                x += 1
            i += n_bytes
    raise ValueError("corrupt bmp: RLE stream missing end-of-bitmap")


def bmp_decode_gray(payload: bytes) -> np.ndarray:
    """BMP (BITMAPINFOHEADER) -> float32 (H, W) grayscale in [0, 1]
    (ITU-R 601 luma for color, palette lookup for indexed). Public
    format: the Windows DIB layout — 'BM' header, pixel offset at byte
    10, int32 width/height (negative height = top-down), rows padded
    to 4 bytes, bottom-up by default. Supports BI_RGB at 4/8/24/32 bpp
    plus BI_RLE8 and BI_RLE4 run-length compression; raises ValueError
    outside that subset (bitfields, embedded PNG/JPEG) — callers
    decide whether to fall back (same contract as png_decode)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    (px_off,) = struct.unpack_from("<I", payload, 10)
    (dib_size,) = struct.unpack_from("<I", payload, 14)
    if dib_size < 40:
        raise ValueError("unsupported bmp: pre-BITMAPINFOHEADER DIB")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    bpp, comp = struct.unpack_from("<HI", payload, 28)
    if comp not in (0, 1, 2):
        raise ValueError("unsupported bmp: bitfields/embedded codec")
    if (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4):
        raise ValueError("corrupt bmp: RLE type mismatches bit depth")
    if bpp not in ((4, 8, 24, 32) if comp == 0 else (4, 8)):
        raise ValueError(f"unsupported bmp: {bpp} bpp")
    if w <= 0 or h_raw == 0:
        raise ValueError("corrupt bmp: bad dimensions")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw

    def palette() -> np.ndarray:
        # BGRX quads between the DIB header and the pixels
        pal_off = 14 + dib_size
        n_pal = (px_off - pal_off) // 4
        if n_pal <= 0:
            raise ValueError("corrupt bmp: missing palette")
        return np.frombuffer(
            payload, dtype=np.uint8, count=n_pal * 4, offset=pal_off
        ).reshape(n_pal, 4).astype(np.float64)

    def pal_luma(idx: np.ndarray, pal: np.ndarray) -> np.ndarray:
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("corrupt bmp: palette index out of range")
        return (0.114 * pal[idx, 0] + 0.587 * pal[idx, 1]
                + 0.299 * pal[idx, 2])

    if comp in (1, 2):  # BI_RLE8 / BI_RLE4
        if top_down:
            raise ValueError("corrupt bmp: top-down RLE is not allowed")
        idx = _bmp_rle_decode(payload[px_off:], w, h, rle4=comp == 2)
        luma = pal_luma(idx[::-1].astype(np.int64), palette())
        return np.clip(luma / 255.0, 0.0, 1.0).astype(np.float32)

    stride = ((w * bpp + 7) // 8 + 3) & ~3
    if px_off + stride * h > len(payload):
        raise ValueError("corrupt bmp: truncated pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=px_off
    ).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 4:
        nibbles = np.empty((h, stride * 2), dtype=np.uint8)
        nibbles[:, 0::2] = (rows >> 4) & 0xF
        nibbles[:, 1::2] = rows & 0xF
        luma = pal_luma(nibbles[:, :w].astype(np.int64), palette())
    elif bpp == 8:
        luma = pal_luma(rows[:, :w].astype(np.int64), palette())
    else:
        nb = bpp // 8
        px = rows[:, : w * nb].reshape(h, w, nb).astype(np.float64)
        # pixel order is B, G, R (alpha ignored at 32 bpp)
        luma = 0.114 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.299 * px[:, :, 2]
    return np.clip(luma / 255.0, 0.0, 1.0).astype(np.float32)


def _gif_lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytes:
    """GIF-variant LZW (GIF89a spec appendix F): LSB-first variable
    width codes, clear/end codes, table capped at 12 bits."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + width <= total_bits and len(out) < expected:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt gif: bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt gif: LZW code out of range")
        out += entry
        prev = entry
        # the decoder's table lags the encoder's by one entry (the
        # entry for the code just read is created by the NEXT code), so
        # the width bump comes one slot early
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError("corrupt gif: truncated LZW stream")
    return bytes(out[:expected])


def gif_decode_gray(payload: bytes) -> np.ndarray:
    """GIF87a/89a -> float32 (H, W) grayscale in [0, 1] of the FIRST
    image frame (palette-mapped ITU-R 601 luma), at the frame's own
    dimensions — the right summary input for an 8x8 feature grid.
    Handles global/local color tables, interlacing and extension
    blocks; raises ValueError outside that subset (same contract as
    png_decode / bmp_decode_gray)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x7)
        if pos + 3 * n > len(payload):
            raise ValueError("corrupt gif: truncated color table")
        gct = np.frombuffer(
            payload, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + data sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"corrupt gif: unknown block 0x{b0:02x}")
        # image descriptor
        if pos + 11 > len(payload):
            raise ValueError("corrupt gif: truncated image descriptor")
        w, h = struct.unpack_from("<HH", payload, pos + 5)
        ipacked = payload[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x7)
            if pos + 3 * n > len(payload):
                raise ValueError("corrupt gif: truncated color table")
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("corrupt gif: no color table")
        if w == 0 or h == 0:
            raise ValueError("corrupt gif: empty frame")
        min_code = payload[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            lzw += payload[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        idx = np.frombuffer(
            _gif_lzw_decode(min_code, bytes(lzw), w * h), dtype=np.uint8
        ).astype(np.int64)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("corrupt gif: palette index out of range")
        rows = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: 4-pass row order
            out_rows = np.empty_like(rows)
            order = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            for src_i, dst_i in enumerate(order):
                out_rows[dst_i] = rows[src_i]
            rows = out_rows
        p = pal.astype(np.float64)
        luma = (0.299 * p[rows, 0] + 0.587 * p[rows, 1]
                + 0.114 * p[rows, 2])
        return np.clip(luma / 255.0, 0.0, 1.0).astype(np.float32)
    raise ValueError("corrupt gif: no image frame")


def gif_decode_frames(payload: bytes,
                      max_frames: int = 0) -> tuple[list, list]:
    """Animated GIF87a/89a -> (frames, delays_ms): every animation
    frame composited onto the LOGICAL SCREEN canvas per the spec's
    graphic-control semantics — frame offsets (left/top), per-frame
    local palettes, transparency (transparent pixels leave the canvas
    unchanged), and disposal methods 0/1 (keep), 2 (restore the frame
    region to the background color) and 3 (restore the previous
    canvas). Frames are float32 (H, W) luma grids in [0, 1]; delays
    are milliseconds with the 0-delay convention mapped to 100 ms
    (the browser-compatible default, documented not inferred).
    ``max_frames`` > 0 stops early — timestamp sampling rarely needs
    the whole animation. Raises ValueError outside the subset (same
    contract as gif_decode_gray, which returns the FIRST frame at the
    frame's own dims for the still-image ladder)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    sw, sh = struct.unpack_from("<HH", payload, 6)
    if sw == 0 or sh == 0:
        raise ValueError("corrupt gif: empty logical screen")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x7)
        if pos + 3 * n > len(payload):
            raise ValueError("corrupt gif: truncated color table")
        gct = np.frombuffer(
            payload, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    bg_rgb = (gct[bg_index] if gct is not None and bg_index < len(gct)
              else np.zeros(3, np.uint8))
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list[np.ndarray] = []
    delays: list[int] = []
    disposal, transparent, delay_cs = 0, None, 0
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            if pos + 2 >= len(payload):
                raise ValueError("corrupt gif: truncated extension")
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and payload[pos] >= 4:
                gce = payload[pos + 1:pos + 5]
                if len(gce) < 4:
                    raise ValueError("corrupt gif: truncated GCE")
                disposal = (gce[0] >> 2) & 0x7
                delay_cs = gce[1] | (gce[2] << 8)
                transparent = gce[3] if gce[0] & 1 else None
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"corrupt gif: unknown block 0x{b0:02x}")
        if pos + 11 > len(payload):
            raise ValueError("corrupt gif: truncated image descriptor")
        left, top, fw, fh = struct.unpack_from("<HHHH", payload, pos + 1)
        ipacked = payload[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x7)
            if pos + 3 * n > len(payload):
                raise ValueError("corrupt gif: truncated color table")
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("corrupt gif: no color table")
        if fw == 0 or fh == 0 or left + fw > sw or top + fh > sh:
            raise ValueError("corrupt gif: frame outside logical screen")
        min_code = payload[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            lzw += payload[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1  # block terminator
        idx = np.frombuffer(
            _gif_lzw_decode(min_code, bytes(lzw), fw * fh), dtype=np.uint8
        ).astype(np.int64).reshape(fh, fw)
        if ipacked & 0x40:  # interlaced
            order = (
                list(range(0, fh, 8)) + list(range(4, fh, 8))
                + list(range(2, fh, 4)) + list(range(1, fh, 2))
            )
            deint = np.empty_like(idx)
            for src_i, dst_i in enumerate(order):
                deint[dst_i] = idx[src_i]
            idx = deint
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("corrupt gif: palette index out of range")
        prev = canvas.copy() if disposal == 3 else None
        region = canvas[top:top + fh, left:left + fw]
        mask = (idx != transparent) if transparent is not None \
            else np.ones((fh, fw), dtype=bool)
        region[mask] = pal[idx[mask]]
        luma = (0.299 * canvas[:, :, 0].astype(np.float64)
                + 0.587 * canvas[:, :, 1] + 0.114 * canvas[:, :, 2])
        frames.append(
            np.clip(luma / 255.0, 0.0, 1.0).astype(np.float32))
        delays.append(delay_cs * 10 if delay_cs > 0 else 100)
        if disposal == 2:
            canvas[top:top + fh, left:left + fw] = bg_rgb
        elif disposal == 3:
            canvas = prev
        disposal, transparent, delay_cs = 0, None, 0
        if max_frames and len(frames) >= max_frames:
            return frames, delays
    if not frames:
        raise ValueError("corrupt gif: no image frame")
    return frames, delays


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM -> (mono float32 samples in [-1, 1], sample_rate).
    Public format: 'fmt ' + 'data' chunks; supports integer PCM
    (format 1: unsigned 8-bit, signed 16/24/32-bit little-endian) and
    IEEE float (format 3: 32/64-bit). Multi-channel audio is downmixed
    by mean. Compressed formats (ADPCM, mu-law, MP3-in-WAV) raise
    ValueError("unsupported ..."), torn files "corrupt ..." — the
    same status contract as the image decoders."""
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
      3. the pure-stdlib PNG, BMP and GIF decoders in this module
         (real decode, no dependency);
      4. any other payload (JPEG, FLAC and WebP included, which are
         sniffed but have no stdlib decoder) gets the deterministic
         content-derived fake when allowed, else a NULL feature with
         status unsupported. A failing real decoder yields the fake,
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
    if fmt in ("bmp", "gif"):
        # DIB incl. RLE / first-frame GIF; anything the decoder calls
        # "unsupported" (BMP bitfields) falls through as that status
        dec = bmp_decode_gray if fmt == "bmp" else gif_decode_gray
        try:
            return _resize8(dec(raw)), "real", fmt
        except Exception as e:
            if allow_fake:
                return _fake_grid(raw), "fake", fmt
            status = "unsupported" if "unsupported" in str(e) else "corrupt"
            return None, status, fmt
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


FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_status", T.StringType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)


def frame_sample(media: DataFrame, every_ms: int = 1000,
                 decode: bool = False) -> DataFrame:
    """Video/animation frame sampling: one row per sampled timestamp
    (explode over duration metadata — output rows = duration/interval,
    the real cost model). With decode=False (default) the payload rides
    along undecoded. With decode=True a second mapInPandas stage
    REALLY decodes animated GIFs (gif_decode_frames: compositing,
    disposal, transparency) and maps each timestamp to its frame via
    the cumulative delays; other containers (mp4 etc.) have no
    pure-stdlib decoder and stay fake/unsupported-as-data. The decode
    is memoized per media_id within each Arrow batch — explode keeps a
    payload's rows adjacent (no shuffle between the two stages), so
    each animation decodes once, not once per sampled frame."""
    sampled = (
        media.where(F.col("kind") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "frame_ts_ms", "payload")
    )
    if not decode:
        return sampled
    allow_fake = _fake_decode_allowed()  # driver-side, shipped in closure

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            memo: dict = {}
            ids, tss, fidx, feats, statuses, fmts = [], [], [], [], [], []
            for mid, ts, payload in zip(
                pdf["media_id"], pdf["frame_ts_ms"], pdf["payload"]
            ):
                if mid not in memo:
                    raw = bytes(payload) if payload is not None else b""
                    fmt = sniff_format(raw)
                    if fmt == "gif":
                        try:
                            frames, delays = gif_decode_frames(raw)
                            ends = np.cumsum(delays)
                            memo[mid] = ("real", fmt,
                                         [_resize8(f) for f in frames], ends)
                        except Exception:
                            memo[mid] = ("corrupt", fmt, None, None)
                    else:
                        memo[mid] = ("unsupported", fmt, None, None)
                status, fmt, grids, ends = memo[mid]
                ids.append(mid)
                tss.append(int(ts))
                fmts.append(fmt)
                if status == "real":
                    i = min(int(np.searchsorted(ends, int(ts), side="right")),
                            len(grids) - 1)
                    fidx.append(i)
                    feats.append(grids[i].reshape(-1))
                    statuses.append("real")
                elif allow_fake:
                    # deterministic per-(payload, ts) fake frame
                    raw = bytes(payload) if payload is not None else b""
                    fidx.append(None)
                    feats.append(_fake_grid(
                        raw + str(int(ts)).encode()).reshape(-1))
                    statuses.append("fake")
                else:
                    fidx.append(None)
                    feats.append(None)
                    statuses.append(status)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_ts_ms": np.array(tss, dtype=np.int64),
                    "frame_index": pd.array(fidx, dtype="Int32"),
                    "feature": feats,
                    "decode_status": statuses,
                    "fmt": fmts,
                }
            )

    return sampled.mapInPandas(fn, FRAME_FEATURE_SCHEMA)


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
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
