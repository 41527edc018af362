"""MP4 / ISO-BMFF container demuxing — METADATA ONLY, no codec decode.

The reference's video-analytics domains all consume ``.mp4`` uploads
(``Create_Json_Data/*`` produce their detection JSON from mp4 inputs),
so the engine needs to answer "what is IN this container" — duration,
track layout, codec tags, sample counts — without decoding a single
frame. This module is a dependency-free ISO base-media (ISO/IEC
14496-12, public spec) box parser plus a matching writer used by the
oracle fixtures:

- :func:`parse_mp4_meta` — walk the box tree (``ftyp``/``moov``/
  ``mvhd``/``trak``/``tkhd``/``mdia``/``mdhd``/``hdlr``/``stbl``/
  ``stsd``/``stts``), returning movie timescale/duration and one
  record per track (id, handler, codec fourcc, pixel dims, sample
  count, total sample duration). Handles 32-bit and 64-bit
  (``largesize``) boxes, size-0 to-end-of-file boxes, version-0 AND
  version-1 ``mvhd``/``mdhd``/``tkhd``, unknown boxes (skipped by
  size), and ``mdat`` before OR after ``moov``.
- :func:`encode_mp4_meta` — write a structurally valid metadata-only
  mp4 for the closed-form fixtures (real nested box sizes, real
  fixed-point fields, real stts run-length entries).
- :func:`mp4_track_stats` — the Spark operator: the Arrow payload
  map (``multimodal.map_payloads``) over ``(media_id, payload)``, one
  output row per track.

Scale shape: parsing touches only header bytes — ``mdat`` is skipped
via its size field, never read. On object storage this is the
"ranged GET of the moov box" access pattern; per-file work is O(box
count), embarrassingly parallel, and the operator is a single
narrow Arrow map with no shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from datalake_backend_spark.datapipe.multimodal import map_payloads, synthetic_media

_U32 = struct.Struct(">I")
_U64 = struct.Struct(">Q")


# ---------------------------------------------------------------------------
# Writer (fixture side)
# ---------------------------------------------------------------------------


def _box(tag: bytes, payload: bytes) -> bytes:
    return _U32.pack(8 + len(payload)) + tag + payload


def _full(tag: bytes, version: int, payload: bytes) -> bytes:
    return _box(tag, bytes([version]) + b"\x00\x00\x00" + payload)


_UNITY_MATRIX = (
    _U32.pack(0x00010000) + _U32.pack(0) * 3
    + _U32.pack(0x00010000) + _U32.pack(0) * 3
    + _U32.pack(0x40000000)
)


def _mvhd(timescale: int, duration: int, v1: bool) -> bytes:
    if v1:
        head = _U64.pack(0) * 2 + _U32.pack(timescale) + _U64.pack(duration)
        return _full(b"mvhd", 1, head + _tail_mvhd())
    head = _U32.pack(0) * 2 + _U32.pack(timescale) + _U32.pack(duration)
    return _full(b"mvhd", 0, head + _tail_mvhd())


def _tail_mvhd() -> bytes:
    return (
        _U32.pack(0x00010000)          # rate 1.0
        + struct.pack(">H", 0x0100)    # volume 1.0
        + b"\x00" * 10                 # reserved
        + _UNITY_MATRIX
        + b"\x00" * 24                 # pre_defined
        + _U32.pack(0xFFFFFFFF)        # next_track_ID
    )


def _tkhd(track_id: int, duration: int, width: int, height: int) -> bytes:
    body = (
        _U32.pack(0) * 2
        + _U32.pack(track_id)
        + _U32.pack(0)
        + _U32.pack(duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100 if width == 0 else 0, 0)
        + _UNITY_MATRIX
        + _U32.pack(width << 16)       # 16.16 fixed
        + _U32.pack(height << 16)
    )
    return _full(b"tkhd", 0, body)     # flags 0: fixtures don't need them


def _mdhd(timescale: int, duration: int, v1: bool) -> bytes:
    lang = struct.pack(">H", 0x55C4) + b"\x00\x00"  # 'und'
    if v1:
        return _full(
            b"mdhd", 1,
            _U64.pack(0) * 2 + _U32.pack(timescale) + _U64.pack(duration)
            + lang,
        )
    return _full(
        b"mdhd", 0,
        _U32.pack(0) * 2 + _U32.pack(timescale) + _U32.pack(duration) + lang,
    )


def _hdlr(handler: bytes) -> bytes:
    return _full(b"hdlr", 0, _U32.pack(0) + handler + b"\x00" * 12 + b"h\x00")


def _sample_entry(codec: bytes, width: int, height: int, video: bool) -> bytes:
    common = b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_ref_index
    if video:
        body = (
            common
            + b"\x00" * 16                       # pre_defined/reserved
            + struct.pack(">HH", width, height)
            + _U32.pack(0x00480000) * 2          # 72 dpi
            + _U32.pack(0)
            + struct.pack(">H", 1)               # frame_count
            + b"\x00" * 32                       # compressorname
            + struct.pack(">Hh", 24, -1)         # depth, pre_defined
        )
    else:
        body = (
            common
            + b"\x00" * 8
            + struct.pack(">HH", 2, 16)          # channels, sample size
            + b"\x00" * 4
            + _U32.pack(48000 << 16)             # samplerate 16.16
        )
    return _box(codec, body)


def _stts(entries: list[tuple[int, int]]) -> bytes:
    payload = _U32.pack(len(entries)) + b"".join(
        _U32.pack(c) + _U32.pack(d) for c, d in entries
    )
    return _full(b"stts", 0, payload)


def _stbl(codec: bytes, width: int, height: int, video: bool,
          stts_entries: list[tuple[int, int]], n_samples: int) -> bytes:
    stsd = _full(
        b"stsd", 0,
        _U32.pack(1) + _sample_entry(codec, width, height, video),
    )
    stsc = _full(b"stsc", 0, _U32.pack(0))
    stsz = _full(b"stsz", 0, _U32.pack(256) + _U32.pack(n_samples))
    stco = _full(b"stco", 0, _U32.pack(0))
    return _box(b"stbl", stsd + _stts(stts_entries) + stsc + stsz + stco)


def _minf(video: bool, stbl: bytes) -> bytes:
    if video:
        header = _full(b"vmhd", 0, b"\x00" * 8)
    else:
        header = _full(b"smhd", 0, b"\x00" * 4)
    # 'url ' full box, flag 1 = sample data is in this very file
    url = _U32.pack(12) + b"url " + b"\x00\x00\x00\x01"
    dref = _full(b"dref", 0, _U32.pack(1) + url)
    return _box(b"minf", header + _box(b"dinf", dref) + stbl)


def encode_mp4_meta(
    brand: bytes,
    movie_timescale: int,
    movie_duration: int,
    tracks: list[dict],
    mdat_payload: bytes = b"",
    mdat_first: bool = False,
    mdat_largesize: bool = False,
    v1_headers: bool = False,
) -> bytes:
    """Write a structurally valid metadata-only mp4.

    ``tracks`` entries: dicts with ``track_id``, ``handler`` ('vide'
    or 'soun'), ``codec`` (fourcc str), ``width``/``height`` (0 for
    audio), ``media_timescale``, ``stts`` (list of (count, delta)).
    Variant knobs exercise real container shapes: ``mdat`` before
    ``moov`` (progressive-unfriendly but legal and common in
    recorders), 64-bit ``largesize`` mdat, and version-1 movie/media
    headers (64-bit times).
    """
    ftyp = _box(
        b"ftyp", brand + _U32.pack(0x200) + brand + b"iso2" + b"mp41"
    )
    traks = []
    for t in tracks:
        video = t["handler"] == "vide"
        n = sum(c for c, _ in t["stts"])
        dur = sum(c * d for c, d in t["stts"])
        stbl = _stbl(
            t["codec"].encode(), t["width"], t["height"], video,
            t["stts"], n,
        )
        mdia = _box(
            b"mdia",
            _mdhd(t["media_timescale"], dur, v1_headers)
            + _hdlr(b"vide" if video else b"soun")
            + _minf(video, stbl),
        )
        traks.append(
            _box(
                b"trak",
                _tkhd(t["track_id"], movie_duration, t["width"], t["height"])
                + mdia,
            )
        )
    moov = _box(
        b"moov", _mvhd(movie_timescale, movie_duration, v1_headers)
        + b"".join(traks)
    )
    if mdat_largesize:
        mdat = (
            _U32.pack(1) + b"mdat" + _U64.pack(16 + len(mdat_payload))
            + mdat_payload
        )
    else:
        mdat = _box(b"mdat", mdat_payload)
    free = _box(b"free", b"\x00" * 4)  # parser must skip unknown boxes
    if mdat_first:
        return ftyp + free + mdat + moov
    return ftyp + free + moov + mdat


# ---------------------------------------------------------------------------
# Parser (the demuxer)
# ---------------------------------------------------------------------------


def _walk(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, box_end) over a box sequence; validates
    every size field so truncated/corrupt payloads raise instead of
    looping or over-reading."""
    off = start
    while off + 8 <= end:
        size = _U32.unpack_from(buf, off)[0]
        tag = buf[off + 4:off + 8]
        if size == 1:
            if off + 16 > end:
                raise ValueError("truncated largesize box")
            size = _U64.unpack_from(buf, off + 8)[0]
            body = off + 16
        elif size == 0:
            size = end - off
            body = off + 8
        else:
            body = off + 8
        nxt = off + size
        if size < 8 or nxt > end:
            raise ValueError(f"corrupt box {tag!r} at {off}: size {size}")
        yield tag, body, nxt
        off = nxt
    if off != end:
        raise ValueError("trailing bytes after last box")


def _find(buf: bytes, start: int, end: int, tag: bytes):
    for t, b, e in _walk(buf, start, end):
        if t == tag:
            return b, e
    return None


def _parse_mvhd(buf: bytes, body: int) -> tuple[int, int]:
    version = buf[body]
    p = body + 4
    if version == 1:
        return (
            _U32.unpack_from(buf, p + 16)[0],
            _U64.unpack_from(buf, p + 20)[0],
        )
    return (
        _U32.unpack_from(buf, p + 8)[0],
        _U32.unpack_from(buf, p + 12)[0],
    )


def _parse_mdhd(buf: bytes, body: int) -> tuple[int, int]:
    return _parse_mvhd(buf, body)  # same layout up to duration


def _parse_trak(buf: bytes, start: int, end: int) -> dict:
    out: dict = {}
    tkhd = _find(buf, start, end, b"tkhd")
    if tkhd is None:
        raise ValueError("trak without tkhd")
    b, e = tkhd
    version = buf[b]
    p = b + 4
    out["track_id"] = _U32.unpack_from(buf, p + (16 if version else 8))[0]
    out["width"] = _U32.unpack_from(buf, e - 8)[0] >> 16
    out["height"] = _U32.unpack_from(buf, e - 4)[0] >> 16
    mdia = _find(buf, start, end, b"mdia")
    if mdia is None:
        raise ValueError("trak without mdia")
    ms, me = mdia
    mdhd = _find(buf, ms, me, b"mdhd")
    if mdhd is None:
        raise ValueError("mdia without mdhd")
    out["media_timescale"], out["media_duration"] = _parse_mdhd(
        buf, mdhd[0]
    )
    hdlr = _find(buf, ms, me, b"hdlr")
    out["handler"] = (
        buf[hdlr[0] + 8:hdlr[0] + 12].decode("latin1") if hdlr else "none"
    )
    out["codec"] = "none"
    out["n_samples"] = 0
    out["sample_dur_sum"] = 0
    minf = _find(buf, ms, me, b"minf")
    if minf is not None:
        stbl = _find(buf, minf[0], minf[1], b"stbl")
        if stbl is not None:
            ss, se = stbl
            stsd = _find(buf, ss, se, b"stsd")
            if stsd is not None and _U32.unpack_from(buf, stsd[0] + 4)[0] > 0:
                out["codec"] = buf[stsd[0] + 12:stsd[0] + 16].decode("latin1")
            stts = _find(buf, ss, se, b"stts")
            if stts is not None:
                n_ent = _U32.unpack_from(buf, stts[0] + 4)[0]
                p = stts[0] + 8
                total_n = total_d = 0
                for _ in range(n_ent):
                    c = _U32.unpack_from(buf, p)[0]
                    d = _U32.unpack_from(buf, p + 4)[0]
                    total_n += c
                    total_d += c * d
                    p += 8
                out["n_samples"] = total_n
                out["sample_dur_sum"] = total_d
    return out


def parse_mp4_meta(payload: bytes) -> dict:
    """Demux container metadata from an ISO-BMFF payload.

    Returns ``{"brand", "timescale", "duration", "tracks": [...]}``;
    raises ``ValueError`` for payloads that are not ISO-BMFF or whose
    box structure is corrupt/truncated. NEVER reads sample data —
    ``mdat`` is skipped by its size field wherever it sits.
    """
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")
    out: dict = {"brand": "", "timescale": 0, "duration": 0, "tracks": []}
    end = len(payload)
    moov = None
    for tag, b, e in _walk(payload, 0, end):
        if tag == b"ftyp":
            out["brand"] = payload[b:b + 4].decode("latin1")
        elif tag == b"moov":
            moov = (b, e)
    if moov is None:
        raise ValueError("no moov box")
    mvhd = _find(payload, moov[0], moov[1], b"mvhd")
    if mvhd is None:
        raise ValueError("moov without mvhd")
    out["timescale"], out["duration"] = _parse_mvhd(payload, mvhd[0])
    for tag, b, e in _walk(payload, moov[0], moov[1]):
        if tag == b"trak":
            out["tracks"].append(_parse_trak(payload, b, e))
    return out


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

_TRACK_SCHEMA = (
    "media_id bigint, brand string, movie_dur_ms bigint, track_id int, "
    "handler string, codec string, width int, height int, "
    "n_samples bigint, sample_dur_sum bigint, media_timescale bigint"
)


def mp4_track_stats(media: DataFrame) -> DataFrame:
    """One row per (file, track) of demuxed container metadata.

    ``movie_dur_ms`` is exact integer division (duration * 1000 div
    timescale) so the value is engine-independent. One Arrow payload
    map over (media_id, payload); no shuffle, no codec work — the
    100 TB shape is "read moov bytes, emit a few rows".
    """

    def demux(i: int, b: bytes) -> Iterator[tuple]:
        meta = parse_mp4_meta(b)
        ms = meta["duration"] * 1000 // meta["timescale"] if meta["timescale"] else 0
        for t in meta["tracks"]:
            yield (
                i, meta["brand"], ms, t["track_id"], t["handler"], t["codec"],
                t["width"], t["height"], t["n_samples"], t["sample_dur_sum"],
                t["media_timescale"],
            )

    return map_payloads(media, demux, T.StructType.fromDDL(_TRACK_SCHEMA))


def synthetic_mp4_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic mp4 table for the demux oracle: every document
    becomes a REAL ISO-BMFF container whose metadata is a closed-form
    function of the id (so the SQL twin recomputes it arithmetically)
    while the bytes still travel through real box framing —
    variant structure by id exercises mdat-before-moov (id%3==0),
    64-bit largesize mdat (id%5==0), and version-1 movie/media
    headers (id%11==0), so a parser that assumes one fixed layout
    breaks the hash. mdat filler is splitmix64 bit noise (never
    parsed — its only job is to be skipped correctly). ``meta`` carries
    the video track's dims and the movie duration in ms."""
    mask = (1 << 64) - 1

    def _mix(x: int) -> int:
        x &= mask
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & mask
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & mask
        return x ^ (x >> 31)

    def make(i: int) -> tuple:
        nv = 2 + i % 5
        stts_v = [(nv - 1, 1001), (1, 2002)] if nv >= 4 else [(nv, 1001)]
        w, h = 16 * (1 + i % 4), 16 * (1 + i % 3)
        tracks = [
            {
                "track_id": 1, "handler": "vide", "codec": "avc1",
                "width": w, "height": h, "media_timescale": 30000, "stts": stts_v,
            }
        ]
        if i % 2 == 0:
            na = 3 + i % 4
            stts_a = [(na - 1, 1024), (1, 2048)] if na >= 4 else [(na, 1024)]
            tracks.append(
                {
                    "track_id": 2, "handler": "soun", "codec": "mp4a",
                    "width": 0, "height": 0, "media_timescale": 48000,
                    "stts": stts_a,
                }
            )
        filler = bytes(_mix(i * 131 + k + 1) & 0xFF for k in range(16 + i % 17))
        timescale, duration = 600 * (1 + i % 3), 123 + i % 1000
        payload = encode_mp4_meta(
            b"mp42" if i % 2 == 0 else b"isom",
            movie_timescale=timescale,
            movie_duration=duration,
            tracks=tracks,
            mdat_payload=filler,
            mdat_first=i % 3 == 0,
            mdat_largesize=i % 5 == 0,
            v1_headers=i % 11 == 0,
        )
        return payload, "mp4", w, h, duration * 1000 // timescale

    return synthetic_media(docs, id_col, make)
