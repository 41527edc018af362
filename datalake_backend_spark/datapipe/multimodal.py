"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side contract — schemas, Arrow batch shapes — is real and
tested, and so are the codecs, all dependency-free byte-level parsers:
images (:func:`decode_image`: PPM P6, 24-bit BMP, PNG, GIF — real LZW
— and baseline JPEG via :mod:`datapipe.jpeg` — real Huffman + DCT),
audio (:func:`decode_wav`: RIFF/WAVE PCM s16le), and video
(:func:`decode_video_frame`: the RAWV concatenated-frame container,
with true per-frame seeking). RAWV stands in for mp4/h264 — whose
decoders aren't in this environment — with identical Spark-side
plumbing. Payloads in none of these formats fall back to content-hash
features — decode never silently fakes pixel data.

Each job of the media tier has one implementation here: :data:`CODECS`
knows every container format (mime, extensions, magic bytes, encoder,
decoder, header probe), :func:`synthetic_media` generates every
synthetic media table, :func:`map_payloads` runs Python over
``(id, payload)`` rows in Arrow batches, and :func:`_rewrite_payloads`
rewrites payloads in place (resize, resample).

Scale notes: media bytes stay in a ``binary`` column co-located with
metadata (one table, no URI-chasing joins); feature extraction is an
Arrow-batched map stage — no shuffle; frame sampling explodes only the
sampled offsets, not the media.
"""
from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_backend_spark.config import _ship_package
from datalake_backend_spark.datapipe.jpeg import decode_jpeg, encode_jpeg

#: media metadata struct carried next to every binary payload
MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

IMAGE_FEATURE_DIM = 16


def _hash_feature(payload: bytes, dim: int) -> list[float]:
    """Content-fingerprint feature vector for payloads that are NOT a
    decodable image (video containers, opaque dedup stand-ins): bytes
    of sha256(payload) scaled to [0,1). Stable across runs/executors;
    the q49 oracle reproduces element 0 from the hex digest."""
    h = hashlib.sha256(payload or b"").digest()
    return [h[i % 32] / 256.0 for i in range(dim)]


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) encoder: ``(h, w, 3)`` uint8 array →
    header + raw interleaved RGB bytes. Inverse of :func:`decode_image`."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_ppm expects an (h, w, 3) array")
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """Windows BMP encoder (BITMAPINFOHEADER, 24-bit BI_RGB): ``(h, w,
    3)`` RGB uint8 array → 54-byte header + bottom-up BGR raster with
    rows padded to 4-byte boundaries. Inverse of :func:`decode_image`'s
    BMP branch; pure byte construction, no image library."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_bmp expects an (h, w, 3) array")
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    raster = rows.tobytes()

    def le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little")

    header = (
        b"BM" + le(54 + len(raster), 4) + le(0, 4) + le(54, 4)  # file header
        + le(40, 4) + le(w, 4) + le(h, 4) + le(1, 2) + le(24, 2)  # DIB
        + le(0, 4) + le(len(raster), 4) + le(2835, 4) + le(2835, 4)
        + le(0, 4) + le(0, 4)
    )
    return header + raster


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    """PNG encoder (8-bit truecolor, color type 2, no interlace): each
    scanline uses filter type 0 (None) and the raster is DEFLATE-
    compressed with stdlib zlib. Chunk CRCs are real (zlib.crc32), so
    output opens in any viewer. Inverse of :func:`decode_image`'s PNG
    branch; no image library involved."""
    import zlib

    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_png expects an (h, w, 3) array")
    h, w, _ = img.shape
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), img.astype(np.uint8).reshape(h, w * 3)],
        axis=1,
    ).tobytes()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + tag
            + body
            + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # depth 8, truecolor, deflate, none, none
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG → ``(h, w, 3)`` RGB uint8, dependency-free: chunk walker
    (IHDR / concatenated IDAT / IEND, CRC-verified), stdlib zlib
    inflate, and full scanline unfiltering (None / Sub / Up / Average /
    Paeth — the per-row filter byte of the spec). Supports bit depth 8,
    color types 0 (gray), 2 (RGB), 4 (gray+alpha) and 6 (RGBA) without
    interlace; gray broadcasts to 3 channels, alpha is dropped. Any
    other layout raises ``ValueError``."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(payload[pos + 8 + ln : pos + 12 + ln], "big")
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, _comp, _filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or channels is None or interlace != 0:
        raise ValueError("only 8-bit non-interlaced gray/RGB/RGBA PNG")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), np.uint16)
    prev = np.zeros(stride, np.uint16)
    bpp = channels
    for y in range(h):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.uint16)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — fully vectorized
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.zeros(stride, np.uint16)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0  # left
                b = prev[x]  # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (int(a) + int(b)) // 2
                else:  # Paeth
                    c = prev[x - bpp] if x >= bpp else 0
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y], prev = cur, cur
    img = out.astype(np.uint8).reshape(h, w, channels)
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    if ctype == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3]  # RGB / RGBA→RGB


def _decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed (BI_RGB) BMP → ``(h, w, 3)`` RGB uint8.
    Handles bottom-up (positive height) and top-down (negative height)
    rasters and 4-byte row padding; any other bit depth / compression
    raises ``ValueError``."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    offset = int.from_bytes(payload[10:14], "little")
    dib = int.from_bytes(payload[14:18], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if dib < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("only 24-bit BI_RGB BMP supported")
    topdown, h = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    data = payload[offset : offset + stride * h]
    if len(data) != stride * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(data, np.uint8).reshape(h, stride)[:, : w * 3]
    img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return img if topdown else img[::-1]


def _lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-variant LZW compression of palette indices at minimum code
    size ``mcs``: variable-width codes (mcs+1 … 12 bits, LSB-first bit
    packing), a leading Clear code, table reset via Clear when the
    4096-entry dictionary fills, and a trailing End-of-Information.
    Width grows exactly when the next free code would need one more bit
    (the rule GIF decoders mirror one emission later)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    acc = bitpos = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, bitpos
        acc |= code << bitpos
        bitpos += width
        while bitpos >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bitpos -= 8

    width = mcs + 1
    table: dict[tuple, int] = {}
    next_code = eoi + 1
    emit(clear, width)
    seq: tuple = ()
    for k in map(int, indices):
        cand = seq + (k,)
        if len(cand) == 1 or cand in table:
            seq = cand
            continue
        emit(table[seq] if len(seq) > 1 else seq[0], width)
        if next_code < 4096:
            if next_code == (1 << width) and width < 12:
                width += 1
            table[cand] = next_code
            next_code += 1
        else:  # dictionary full: reset, decoder follows via Clear
            emit(clear, width)
            width, table, next_code = mcs + 1, {}, eoi + 1
        seq = (k,)
    if seq:
        emit(table[seq] if len(seq) > 1 else seq[0], width)
        # Decoders append one delayed table entry after reading the final
        # sequence code; when that entry fills the table to 2^width they
        # bump the width BEFORE reading EOI, so EOI must be emitted at the
        # post-bump width even though no assignment happens here.
        if next_code < 4096 and next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if bitpos:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """Inverse of :func:`_lzw_encode`: variable-width LSB-first codes →
    palette-index byte string, with Clear/EOI handling, the KwKwK
    (code == next free entry) case, and a 12-bit width cap with
    deferred-clear tolerance (a full table simply stops growing)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    roots = [bytes([i]) for i in range(1 << mcs)]
    width = mcs + 1
    table: list[bytes] = []
    prev: bytes | None = None
    out = bytearray()
    acc = bitpos = pos = 0
    while True:
        while bitpos < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream (no EOI)")
            acc |= data[pos] << bitpos
            pos += 1
            bitpos += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        bitpos -= width
        if code == clear:
            width, table, prev = mcs + 1, [], None
            continue
        if code == eoi:
            return bytes(out)
        next_code = eoi + 1 + len(table)
        if code < clear:
            entry = roots[code]
        elif eoi < code < next_code:
            entry = table[code - eoi - 1]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"corrupt LZW code {code}")
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            if next_code + 1 == (1 << width) and width < 12:
                width += 1
        out += entry
        prev = entry


def encode_gif(img: np.ndarray) -> bytes:
    """GIF89a encoder (single frame, global color table, real LZW):
    ``(h, w, 3)`` RGB uint8 array → header + logical screen descriptor
    + palette (unique colors, sorted for determinism; >256 raises) +
    image descriptor + LZW-compressed indices in 255-byte sub-blocks.
    Inverse of :func:`decode_image`'s GIF branch; output opens in any
    viewer. Pure byte construction, no image library."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_gif expects an (h, w, 3) array")
    h, w, _ = img.shape
    flat = img.astype(np.uint8).reshape(-1, 3)
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("GIF supports at most 256 colors")
    # color table size is a power of two in [2, 256]; n = size bits - 1
    n = 0
    while (2 << n) < len(palette):
        n += 1
    entries = 2 << n
    pal = np.zeros((entries, 3), np.uint8)
    pal[: len(palette)] = palette
    mcs = max(2, n + 1)

    def le(v: int) -> bytes:
        return int(v).to_bytes(2, "little")

    lzw = _lzw_encode(indices.ravel(), mcs)
    blocks = b"".join(
        bytes([min(255, len(lzw) - i)]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF89a"
        + le(w) + le(h)
        + bytes([0x80 | (7 << 4) | n, 0, 0])  # GCT flag, color res 8, bg, aspect
        + pal.tobytes()
        + b"\x2c" + le(0) + le(0) + le(w) + le(h) + b"\x00"  # image descriptor
        + bytes([mcs])
        + blocks
        + b"\x00\x3b"  # block terminator + trailer
    )


def _decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a → ``(h, w, 3)`` RGB uint8, dependency-free: logical
    screen descriptor + global color table, extension blocks skipped
    (graphic control / comment / application), first image descriptor
    with optional local color table, and a real LZW decompressor
    (variable-width codes, Clear/EOI, KwKwK). Interlaced images and
    missing color tables raise ``ValueError``; later frames of an
    animation are ignored (first frame wins, like a thumbnailer)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + size * 3], np.uint8)
        if len(gct) != size * 3:
            raise ValueError("truncated GIF global color table")
        gct = gct.reshape(size, 3)
        pos += size * 3
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks until 0x00
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            pal = gct
            if ipacked & 0x80:
                size = 2 << (ipacked & 0x07)
                pal = np.frombuffer(payload[pos : pos + size * 3], np.uint8)
                if len(pal) != size * 3:
                    raise ValueError("truncated GIF local color table")
                pal = pal.reshape(size, 3)
                pos += size * 3
            if pal is None:
                raise ValueError("GIF image without a color table")
            mcs = payload[pos]
            pos += 1
            if not 2 <= mcs <= 11:
                raise ValueError(f"bad GIF LZW minimum code size {mcs}")
            chunks = []
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                chunk = payload[pos + 1 : pos + 1 + ln]
                if len(chunk) != ln:
                    raise ValueError("truncated GIF data sub-block")
                chunks.append(chunk)
                pos += 1 + ln
            indices = np.frombuffer(
                _lzw_decode(b"".join(chunks), mcs)[: w * h], np.uint8
            )
            if len(indices) != w * h:
                raise ValueError("GIF raster size mismatch")
            if int(indices.max(initial=0)) >= len(pal):
                raise ValueError("GIF index outside color table")
            return pal[indices].reshape(h, w, 3)
        elif block == 0x3B:  # trailer before any image
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """RIFF/WAVE encoder (PCM 16-bit little-endian): ``(frames,)`` or
    ``(frames, channels)`` int16 array → canonical 44-byte header +
    interleaved data chunk. Inverse of :func:`decode_wav`; pure byte
    construction, no audio library."""
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)
    frames, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    block = ch * 2

    def le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little")

    fmt = (
        b"fmt " + le(16, 4) + le(1, 2) + le(ch, 2) + le(sample_rate, 4)
        + le(sample_rate * block, 4) + le(block, 2) + le(16, 2)
    )
    body = b"WAVE" + fmt + b"data" + le(len(data), 4) + data
    return b"RIFF" + le(len(body), 4) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE decoder → ``((frames, channels) int16, sample_rate)``.

    Walks the chunk list (skipping unknown chunks like LIST/INFO, with
    odd-size pad bytes per the RIFF spec), requires PCM (format tag 1)
    at 16 bits; anything else raises ``ValueError`` so mixed-media
    callers can fall back, mirroring :func:`decode_image`."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag = int.from_bytes(fmt[0:2], "little")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if tag != 1 or bits != 16 or ch < 1:
        raise ValueError("only PCM 16-bit WAV supported")
    frames = len(data) // (ch * 2)
    arr = np.frombuffer(data[: frames * ch * 2], "<i2").reshape(frames, ch)
    return arr, rate


def encode_rawvideo(frames: np.ndarray, fps: int) -> bytes:
    """Minimal raw-video container ("RAWV"): 20-byte header (magic,
    n_frames, height, width, fps as little-endian u32) + concatenated
    uncompressed RGB frames. A REAL byte-level format this engine can
    parse end-to-end — the video twin of :func:`encode_ppm` /
    :func:`encode_wav` — standing in for containers whose decoders
    (mp4/h264) aren't available in this environment; the Spark-side
    plumbing (schema, Arrow batches, frame seeking) is identical."""
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError("encode_rawvideo expects (n, h, w, 3)")
    n, h, w, _ = frames.shape

    def le(v: int) -> bytes:
        return int(v).to_bytes(4, "little")

    return (
        b"RAWV" + le(n) + le(h) + le(w) + le(fps)
        + frames.astype(np.uint8).tobytes()
    )


def decode_video_frame(payload: bytes, frame_idx: int) -> np.ndarray:
    """Seek-decode ONE frame from a RAWV payload without touching the
    others — what a real decoder does with keyframe seeking; the
    operator layer samples offsets, never materializes whole videos.
    Raises ``ValueError`` for non-RAWV payloads or out-of-range
    frames."""
    if len(payload) < 20 or payload[:4] != b"RAWV":
        raise ValueError("not a RAWV payload")
    n = int.from_bytes(payload[4:8], "little")
    h = int.from_bytes(payload[8:12], "little")
    w = int.from_bytes(payload[12:16], "little")
    if not 0 <= frame_idx < n:
        raise ValueError(f"frame {frame_idx} out of range 0..{n - 1}")
    fsize = h * w * 3
    start = 20 + frame_idx * fsize
    data = payload[start : start + fsize]
    if len(data) != fsize:
        raise ValueError("truncated RAWV raster")
    return np.frombuffer(data, np.uint8).reshape(h, w, 3)


def video_meta(payload: bytes) -> tuple[int, int, int, int]:
    """(n_frames, height, width, fps) from a RAWV header."""
    if len(payload) < 20 or payload[:4] != b"RAWV":
        raise ValueError("not a RAWV payload")
    return tuple(
        int.from_bytes(payload[4 + 4 * i : 8 + 4 * i], "little")
        for i in range(4)
    )


# ---------------------------------------------------------------------------
# The codec table
# ---------------------------------------------------------------------------


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Binary PPM (P6) header → ``(width, height, maxval,
    raster_offset)``: '#' comments and arbitrary whitespace between
    the tokens, exactly one whitespace byte after maxval. The one PPM
    header parser, shared by the decoder and the probe."""
    if payload[:2] != b"P6":
        raise ValueError("bad PPM signature")
    pos, vals = 2, []
    while len(vals) < 3:
        ch = payload[pos : pos + 1]
        if ch.isspace():
            pos += 1
        elif ch == b"#":
            pos = payload.index(b"\n", pos) + 1
        else:
            end = pos
            while payload[end : end + 1].isdigit():
                end += 1
            if end == pos:
                raise ValueError("malformed PPM header")
            vals.append(int(payload[pos:end]))
            pos = end
    return vals[0], vals[1], vals[2], pos + 1


def _decode_ppm(payload: bytes) -> np.ndarray:
    """8-bit binary PPM → ``(h, w, 3)`` uint8 (raw ``w*h*3`` samples
    after the header)."""
    w, h, maxval, pos = _ppm_header(payload)
    if maxval != 255:
        raise ValueError("only 8-bit PPM (maxval 255) supported")
    data = payload[pos : pos + w * h * 3]
    if len(data) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(data, np.uint8).reshape(h, w, 3)


def _probe_jpeg(payload: bytes) -> tuple:
    """Walk the JPEG markers to the first SOF segment."""
    pos = 2
    while pos + 4 <= len(payload) and payload[pos] == 0xFF:
        marker = payload[pos + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return (
                int.from_bytes(payload[pos + 7 : pos + 9], "big"),
                int.from_bytes(payload[pos + 5 : pos + 7], "big"),
                None,
            )
        pos += 2 + int.from_bytes(payload[pos + 2 : pos + 4], "big")
    return None, None, None


def _probe_wav(payload: bytes) -> tuple:
    arr, rate = decode_wav(payload)
    return None, None, arr.shape[0] * 1000 // rate


def _probe_rawv(payload: bytes) -> tuple:
    n_frames, h, w, fps = video_meta(payload)
    return w, h, n_frames * 1000 // max(fps, 1)


class Codec(NamedTuple):
    """Everything the media tier knows about one container format."""

    mime: str
    #: file extensions the ``mediafile`` source lists as this codec
    exts: tuple[str, ...]
    #: ``(offset, bytes)`` pairs that every payload of the codec carries
    magic: tuple[tuple[int, bytes], ...]
    #: writer: images take an ``(h, w, 3)`` uint8 array, WAV
    #: ``(samples, rate)``, RAWV ``(frames, fps)``
    encode: Callable | None
    #: image decoder: bytes → ``(h, w, 3)`` uint8
    decode: Callable | None
    #: header-only probe: bytes → ``(width, height, duration_ms)``
    probe: Callable | None

    def matches(self, payload: bytes) -> bool:
        """True when ``payload`` carries this codec's magic bytes."""
        return all(payload[o : o + len(m)] == m for o, m in self.magic)


#: codec name → :class:`Codec`. The generators label ``meta`` from it,
#: :func:`decode_image` and :func:`resize_images` dispatch through it,
#: and the ``mediafile`` source lists and probes files with it.
#: MJPEG-AVI and MP4 keep their writers and parsers in ``avi``/``mp4``
#: (which import this module), and the source lists neither.
CODECS: dict[str, Codec] = {
    "ppm": Codec(
        "image/x-portable-pixmap", (".ppm",), ((0, b"P6"),),
        encode_ppm, _decode_ppm, lambda p: (*_ppm_header(p)[:2], None),
    ),
    "bmp": Codec(
        "image/bmp", (".bmp",), ((0, b"BM"),), encode_bmp, _decode_bmp,
        lambda p: (
            int.from_bytes(p[18:22], "little", signed=True),
            abs(int.from_bytes(p[22:26], "little", signed=True)),
            None,
        ),
    ),
    "png": Codec(
        "image/png", (".png",), ((0, _PNG_SIG),), encode_png, _decode_png,
        lambda p: (
            int.from_bytes(p[16:20], "big"), int.from_bytes(p[20:24], "big"), None
        ),
    ),
    "gif": Codec(
        "image/gif", (".gif",), ((0, b"GIF8"),), encode_gif, _decode_gif,
        lambda p: (
            int.from_bytes(p[6:8], "little"), int.from_bytes(p[8:10], "little"), None
        ),
    ),
    "jpeg": Codec(
        "image/jpeg", (".jpg", ".jpeg"), ((0, b"\xff\xd8"),),
        encode_jpeg, decode_jpeg, _probe_jpeg,
    ),
    "pcm_s16le": Codec(
        "audio/wav", (".wav",), ((0, b"RIFF"), (8, b"WAVE")),
        encode_wav, None, _probe_wav,
    ),
    "rawv": Codec(
        "video/x-raw", (".rawv",), ((0, b"RAWV"),),
        encode_rawvideo, None, _probe_rawv,
    ),
    "mjpeg": Codec(
        "video/x-msvideo", (), ((0, b"RIFF"), (8, b"AVI ")), None, None, None
    ),
    "mp4": Codec("video/mp4", (), ((4, b"ftyp"),), None, None, None),
}


def sniff_codec(payload: bytes) -> str | None:
    """Name of the codec whose magic bytes ``payload`` carries."""
    return next((n for n, c in CODECS.items() if c.matches(payload)), None)


def decode_image(payload: bytes) -> np.ndarray:
    """Dependency-free byte-level image decode → ``(h, w, 3)`` uint8.

    The payload's magic bytes pick the decoder from :data:`CODECS`:
    binary PPM (P6, see :func:`_ppm_header`), 24-bit uncompressed BMP
    (see :func:`_decode_bmp`), 8-bit non-interlaced PNG (see
    :func:`_decode_png` — real zlib inflate + scanline unfiltering),
    GIF (real LZW) and baseline JPEG (:mod:`datapipe.jpeg`).
    Raises ``ValueError`` for any other format — callers that can
    tolerate undecodable payloads (feature extraction over mixed media)
    catch it and fall back to hash features."""
    codec = sniff_codec(payload)
    decode = CODECS[codec].decode if codec else None
    if decode is None:
        raise ValueError(
            "unsupported image format (supported: PPM P6, BMP24, PNG, "
            "GIF, baseline JPEG)"
        )
    return decode(payload)


def _pooled_feature(img: np.ndarray, dim: int) -> list[float]:
    """Decoded-image feature vector in [0,1): 2×2 grid × 3 channel
    means, 3 global channel means, and a size bucket — all integer
    sums divided by exact counts, so bit-stable everywhere."""
    h, w, _ = img.shape
    feats: list[float] = []
    for gr in range(2):
        r0, r1 = (gr * h) // 2, max((gr * h) // 2 + 1, ((gr + 1) * h) // 2)
        for gc in range(2):
            c0, c1 = (gc * w) // 2, max((gc * w) // 2 + 1, ((gc + 1) * w) // 2)
            cell = img[r0:r1, c0:c1].reshape(-1, 3)
            sums = cell.sum(axis=0, dtype=np.int64)
            feats.extend(float(s) / (len(cell) * 256.0) for s in sums)
    glob = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
    feats.extend(float(s) / (h * w * 256.0) for s in glob)
    feats.append((h * w % 4096) / 4096.0)
    return feats[:dim] + [0.0] * max(0, dim - len(feats))


def media_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mime: str = "image/png",
) -> DataFrame:
    """Deterministic media table from a documents frame: payload is the
    UTF-8 bytes of the text (an opaque stand-in for real image bytes),
    metadata derived from its length — the MEDIA_SCHEMA contract used by
    every multimodal operator, reproducible in any engine."""
    n = F.octet_length(F.col(text_col).cast("binary"))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.pmod(n, F.lit(1920)).cast("int").alias("width"),
            F.pmod(n, F.lit(1080)).cast("int").alias("height"),
            (n * 10).cast("long").alias("duration_ms"),
            F.lit("raw").alias("codec"),
        ).alias("meta"),
    )


def media_fingerprint(
    df: DataFrame, payload_col: str = "payload", out_col: str = "content_sha"
) -> DataFrame:
    """Exact media dedup key: sha256 of the payload bytes + byte count
    (the multimodal twin of text exact_dedup — one map stage)."""
    return df.withColumns(
        {
            out_col: F.sha2(F.col(payload_col), 256),
            "n_bytes": F.octet_length(F.col(payload_col)).cast("long"),
        }
    )


# ---------------------------------------------------------------------------
# The payload maps and the synthetic-media generator
# ---------------------------------------------------------------------------

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _to_pandas(rows: list[tuple], schema: T.StructType) -> pd.DataFrame:
    """Rows in ``schema`` order → one pandas batch. Integer columns use
    the nullable ``Int64`` dtype, so a column that is NULL in some or
    all rows still converts to its declared integer type."""
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    return pd.DataFrame(
        {
            f.name: pd.Series(
                c, dtype="Int64" if isinstance(f.dataType, _INT_TYPES) else None
            )
            for f, c in zip(schema.fields, cols)
        }
    )


def map_payloads(
    df: DataFrame,
    fn: Callable[[int, bytes], Iterable[tuple]],
    schema: T.StructType,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The media tier's one per-row Arrow map: ``fn(id, payload)``
    yields zero or more output tuples in ``schema`` order for every
    ``(id_col, payload_col)`` row; a NULL payload arrives as ``b""``.
    ``mapInPandas`` so each task processes whole record batches —
    map-only, no shuffle. The package ships to the session's Python
    workers first, whatever session or source ``df`` came from."""
    _ship_package(df.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                out
                for i, p in zip(pdf[id_col], pdf[payload_col])
                for out in fn(int(i), b"" if p is None else bytes(p))
            ]
            yield _to_pandas(rows, schema)

    return df.select(id_col, payload_col).mapInPandas(batches, schema)


def _rewrite_payloads(
    df: DataFrame,
    fn: Callable[[bytes], tuple[bytes, dict | None]],
    payload_col: str,
    meta_fields: tuple[str, ...],
) -> DataFrame:
    """The one payload-rewrite map (resize, resample): keeps every input
    column and replaces each payload with ``fn(payload)[0]``.
    ``fn(payload)[1]`` holds the new values of ``meta_fields`` (integer
    fields of :data:`MEDIA_META`), or
    None when the payload did not decode — then the bytes pass through
    unchanged and ``meta`` is left as it was, so meta never claims
    what the bytes don't have. The map emits a per-row decoded flag and
    the ``meta`` rewrite is conditional on it. Ships the package to the
    Python workers like :func:`map_payloads`."""
    _ship_package(df.sparkSession)
    flags = [T.StructField("_decoded", T.BooleanType())] + [
        T.StructField(f"_{f}", MEDIA_META[f].dataType) for f in meta_fields
    ]
    cols = df.columns + [f.name for f in flags]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = [fn(b"" if p is None else bytes(p)) for p in pdf[payload_col]]
            pdf[payload_col] = [b for b, _ in outs]
            pdf["_decoded"] = [m is not None for _, m in outs]
            for f in meta_fields:
                pdf[f"_{f}"] = pd.array(
                    [m and m[f] for _, m in outs], dtype="Int64"
                )
            yield pdf[cols]

    out = df.mapInPandas(batches, T.StructType(df.schema.fields + flags))
    if "meta" in df.columns:
        out = out.withColumn(
            "meta",
            F.when(
                F.col("_decoded"),
                F.struct(
                    *[
                        F.col(f"_{f}" if f in meta_fields else f"meta.{f}").alias(f)
                        for f in MEDIA_META.fieldNames()
                    ]
                ),
            ).otherwise(F.col("meta")),
        )
    return out.drop(*[f.name for f in flags])


def synthetic_media(
    docs: DataFrame,
    id_col: str,
    make: Callable[[int], tuple],
) -> DataFrame:
    """The one synthetic-media generator: row ``id`` of ``docs`` becomes
    a MEDIA_SCHEMA row from ``make(id) = (payload, codec, width,
    height, duration_ms)``; the mime comes from :data:`CODECS`.
    Encoding runs in the Arrow batch (:func:`map_payloads`), the same
    path a real ingest would use."""

    def row(i: int, _payload: bytes) -> Iterator[tuple]:
        payload, codec, w, h, dur = make(i)
        mime = CODECS[codec].mime
        yield i, payload, dict(
            mime=mime, width=w, height=h, duration_ms=dur, codec=codec
        )

    ids = docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(None).cast("binary").alias("payload"),
    )
    return map_payloads(ids, row, MEDIA_SCHEMA)


def extract_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = IMAGE_FEATURE_DIM,
) -> DataFrame:
    """Arrow-batched feature extraction: binary → array<float>.
    Decodable images get real pooled-pixel features; anything else
    gets content-hash features — mixed media tables work without a
    per-format pipeline split."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def one(i: int, b: bytes) -> Iterator[tuple]:
        try:
            yield i, _pooled_feature(decode_image(b), dim)
        except ValueError:
            yield i, _hash_feature(b, dim)

    return map_payloads(df, one, out_schema, id_col, payload_col)


def synthetic_image(i: int, codec: str) -> tuple:
    """``make`` row of the deterministic REAL image family: a genuine
    ``codec`` image whose dims and pixels are closed-form functions of
    the id — ``w = 4 + id%5``, ``h = 3 + id%4``, ``pixel(r,c,ch) =
    (id*31 + r*7 + c*3 + ch*11) % 256`` — so a SQL oracle can recompute
    any decoded statistic without an image library. The pixel formula
    is codec-independent, so decoded statistics don't depend on the
    container."""
    w, h = 4 + i % 5, 3 + i % 4
    r = np.arange(h).reshape(h, 1, 1)
    c = np.arange(w).reshape(1, w, 1)
    ch = np.arange(3).reshape(1, 1, 3)
    img = ((i * 31 + r * 7 + c * 3 + ch * 11) % 256).astype(np.uint8)
    return CODECS[codec].encode(img), codec, w, h, None


def synthetic_image_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mixed-codec variant of :func:`synthetic_image`: id mod 3 picks
    PPM P6 / 24-bit BMP / PNG. Exercises all three byte-level decoders
    in one scan; the q75 oracle is unchanged because decoded
    statistics are codec-independent."""
    return synthetic_media(
        docs, id_col, lambda i: synthetic_image(i, ("ppm", "bmp", "png")[i % 3])
    )


def synthetic_gif_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """All-GIF variant of :func:`synthetic_image`: every payload is a
    genuine GIF89a bitstream (palette + real LZW sub-blocks), so a
    decoded-statistics oracle exercises the full LZW decompressor. The
    pixel formula (≤ 48 pixels per image) always fits a 256-color
    palette."""
    return synthetic_media(docs, id_col, lambda i: synthetic_image(i, "gif"))


def synthetic_jpeg_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL JPEG table for the lossy-codec oracle: each
    row becomes a genuine baseline JFIF bitstream (quality 75, 4:4:4)
    of a BLOCK-CONSTANT grayscale image — ``w = 8*(1 + id%3)``,
    ``h = 8*(1 + id%2)``, every 8x8 block filled with ``v = (id*37 +
    br*17 + bc*29) % 256``. On this family the round-trip is EXACT
    (constant blocks are pure DC; the quality-75 luma DC quant step is
    8, so quantization is the identity on the 8v DC; equal channels
    make both chroma planes exactly 128 -> all-zero coefficients), yet
    the bytes still travel through real Huffman/DPCM/zigzag/stuffing/
    marker machinery — a decoder bug anywhere breaks the value hash,
    while the SQL twin only needs the closed-form block sums. General
    lossy content is pinned by tests/test_jpeg.py tolerances instead
    (a lossy reconstruction is decoder-defined, not SQL-checkable)."""

    def make(i: int) -> tuple:
        w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
        br = np.arange(h // 8).reshape(-1, 1)
        bc = np.arange(w // 8).reshape(1, -1)
        vals = ((i * 37 + br * 17 + bc * 29) % 256).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        return encode_jpeg(img, quality=75), "jpeg", w, h, None

    return synthetic_media(docs, id_col, make)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def image_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """REAL decode path: parse every payload with :func:`decode_image`
    and emit per-image dimensions + exact per-channel sums/means.
    Integer sums divided by exact pixel counts → bit-identical doubles
    in any engine. Map-only (one Arrow stage, no shuffle)."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        img = decode_image(b)
        h, w, ch = img.shape
        s = [int(v) for v in img.reshape(-1, ch).sum(axis=0, dtype=np.int64)]
        n = h * w
        yield i, w, h, ch, n, *s, *(v / n for v in s)

    return map_payloads(df, one, IMAGE_STATS_SCHEMA, id_col, payload_col)


def resize_images(
    df: DataFrame, width: int, height: int, payload_col: str = "payload"
) -> DataFrame:
    """Real image resize over the Arrow batch: decodable payloads (any
    image codec of :data:`CODECS`) are decoded, nearest-neighbor
    resampled to ``(height, width)``, and re-encoded in their ORIGINAL
    container through the sniffed codec's encoder; non-decodable
    payloads pass through byte-unchanged, and their metadata dims are
    left untouched too (:func:`_rewrite_payloads`). Map-only — one
    Arrow stage, no shuffle."""

    def one(b: bytes) -> tuple[bytes, dict | None]:
        try:
            img = decode_image(b)
        except ValueError:
            return b, None
        h, w, _ = img.shape
        rows = (np.arange(height) * h) // height
        cols = (np.arange(width) * w) // width
        encode = CODECS[sniff_codec(b)].encode
        return encode(img[rows][:, cols]), {"width": width, "height": height}

    return _rewrite_payloads(df, one, payload_col, ("width", "height"))


def synthetic_wav_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL audio table: each row becomes a genuine WAV
    whose frame count, channel count, rate, and every sample are
    closed-form in the id — ``frames = 100 + id%50``, ``ch = 1 +
    id%2``, ``rate = 8000 + (id%3)*4000``, ``sample(t,c) = ((id*37 +
    t*13 + c*5) % 4096) - 2048`` — so a SQL oracle recomputes any
    decoded statistic without an audio library. Same design as
    :func:`synthetic_image`."""

    def make(i: int) -> tuple:
        frames, ch = 100 + i % 50, 1 + i % 2
        rate = 8000 + (i % 3) * 4000
        t = np.arange(frames).reshape(frames, 1)
        c = np.arange(ch).reshape(1, ch)
        samples = ((i * 37 + t * 13 + c * 5) % 4096 - 2048).astype(np.int16)
        return encode_wav(samples, rate), "pcm_s16le", None, None, frames * 1000 // rate

    return synthetic_media(docs, id_col, make)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("mean_abs", T.DoubleType()),
    ]
)


def audio_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """REAL audio decode path: parse every payload with
    :func:`decode_wav` and emit rate/channels/frames plus exact
    absolute-amplitude sums and peak. Integer sums over int16 samples
    divided by exact counts → bit-identical doubles in any engine.
    Map-only (one Arrow stage, no shuffle) — the audio twin of
    :func:`image_stats`."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        arr, rate = decode_wav(b)
        frames, ch = arr.shape
        a = np.abs(arr.astype(np.int64))
        sum_abs, n = int(a.sum()), frames * ch
        peak, mean_abs = (int(a.max()), sum_abs / n) if n else (0, 0.0)
        yield i, rate, ch, frames, frames * 1000 // rate, sum_abs, peak, mean_abs

    return map_payloads(df, one, AUDIO_STATS_SCHEMA, id_col, payload_col)


def synthetic_video_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL video table: ``n = 2 + id%4`` frames of
    ``w = 4 + id%3`` × ``h = 3 + id%2`` at ``fps = 5 + id%3``, pixel
    ``(id*31 + f*17 + r*7 + c*3 + ch*11) % 256`` — closed-form, so a
    SQL oracle recomputes any sampled-frame statistic. Same design as
    the image/audio synthetic tables."""

    def make(i: int) -> tuple:
        n, w, h = 2 + i % 4, 4 + i % 3, 3 + i % 2
        fps = 5 + i % 3
        f = np.arange(n).reshape(n, 1, 1, 1)
        r = np.arange(h).reshape(1, h, 1, 1)
        c = np.arange(w).reshape(1, 1, w, 1)
        ch = np.arange(3).reshape(1, 1, 1, 3)
        frames = ((i * 31 + f * 17 + r * 7 + c * 3 + ch * 11) % 256).astype(np.uint8)
        return encode_rawvideo(frames, fps), "rawv", w, h, n * 1000 // fps

    return synthetic_media(docs, id_col, make)


FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("mean_rgb", T.DoubleType()),
    ]
)


def sampled_frame_stats(
    df: DataFrame,
    every_n: int = 2,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL video decode path: for every ``every_n``-th frame of each
    RAWV payload, seek-decode ONLY that frame and emit exact pixel
    sums. One Arrow map stage; the explode happens over sampled frame
    indices, never over pixels, and unsampled frames are never
    materialized — the shape a 100 TB video corpus needs."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        n, h, w, fps = video_meta(b)
        for fi in range(0, n, every_n):
            s = int(decode_video_frame(b, fi).sum(dtype=np.int64))
            yield i, fi, n, fps, s, s / (h * w * 3)

    return map_payloads(df, one, FRAME_STATS_SCHEMA, id_col, payload_col)


def resample_linear(x: np.ndarray, src_rate: int, dst_rate: int) -> np.ndarray:
    """Linear-interpolation PCM resample in EXACT integer arithmetic —
    bit-reproducible in any engine (no float positions): output frame
    ``j`` sits at rational position ``j·src/dst``; the interpolated
    value is ``(a·(dst−rem) + b·rem) / dst`` rounded half-up, computed
    in int64 with a +32768 shift so the division is over non-negative
    integers (floor == truncate in every SQL dialect). Output length
    ``(n−1)·dst//src + 1`` never extrapolates past the last frame."""
    n = x.shape[0]
    if n == 0 or src_rate == dst_rate:
        return x.astype(np.int16)
    out_n = (n - 1) * dst_rate // src_rate + 1
    j = np.arange(out_n, dtype=np.int64)
    num = j * src_rate
    i0 = num // dst_rate
    rem = num % dst_rate
    i1 = np.minimum(i0 + 1, n - 1)
    a = x[i0].astype(np.int64)
    b = x[i1].astype(np.int64)
    if x.ndim == 2:
        rem = rem[:, None]
    nn = a * (dst_rate - rem) + b * rem + 32768 * dst_rate
    y = (nn + dst_rate // 2) // dst_rate - 32768
    return np.clip(y, -32768, 32767).astype(np.int16)


def resample_audio(
    df: DataFrame, target_rate: int, payload_col: str = "payload"
) -> DataFrame:
    """Resample every decodable WAV payload to ``target_rate`` (linear
    interpolation, exact integer math) and re-encode; non-decodable
    payloads pass through byte-unchanged and keep their metadata, the
    same honest contract as :func:`resize_images`. Map-only — one
    Arrow stage, no shuffle."""

    def one(b: bytes) -> tuple[bytes, dict | None]:
        try:
            samples, rate = decode_wav(b)
        except ValueError:
            return b, None
        out = resample_linear(samples, rate, target_rate)
        dur = out.shape[0] * 1000 // target_rate
        return encode_wav(out, target_rate), {"duration_ms": dur}

    return _rewrite_payloads(df, one, payload_col, ("duration_ms",))


FRAME_DIFF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("sum_abs_diff", T.LongType()),
        T.StructField("mean_abs_diff", T.DoubleType()),
        T.StructField("is_scene_change", T.BooleanType()),
    ]
)


def frame_diffs(
    df: DataFrame,
    threshold: float = 100.0,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Scene-change detection over RAWV payloads: exact per-pixel
    absolute difference between each frame and its predecessor, with
    ``is_scene_change = mean_abs_diff > threshold`` (the classic
    cut-detector). One Arrow map stage; frames decode pairwise through
    the seeking codec (each frame is read once and reused as the next
    pair's predecessor), and only the per-transition SUMS leave the
    stage — pixels never shuffle. Non-video payloads are skipped."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        try:
            n, h, w, _fps = video_meta(b)
        except ValueError:
            return
        prev = decode_video_frame(b, 0).astype(np.int64) if n else None
        for fi in range(1, n):
            cur = decode_video_frame(b, fi).astype(np.int64)
            s = int(np.abs(cur - prev).sum())
            m = s / (h * w * 3)
            yield i, fi, s, m, bool(m > threshold)
            prev = cur

    return map_payloads(df, one, FRAME_DIFF_SCHEMA, id_col, payload_col)
