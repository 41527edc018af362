"""Perceptual image hashing + near-duplicate image detection.

Web-scraped training corpora carry the SAME image re-encoded many ways
(PNG vs JPEG thumbnails, stripped metadata, resized copies); byte-level
dedup (``media_fingerprint`` sha256, q49) misses every one of them.
The standard answer is a perceptual hash: project the image onto a
small grid and hash the STRUCTURE, so pixel-identical content in a
different container — or an integer-factor rescale — maps to the same
64-bit key, and near-identical content lands within a small Hamming
distance.

This module implements **dHash** (difference hash — gradient
orientation over an 8×9 luma grid), chosen over DCT-pHash because it
is integer-exact end to end: block sums are integers and the
bit = "left block darker than right block" comparison is done by
cross-multiplication (``sum_l·cnt_r < sum_r·cnt_l``), so the hash is
bit-reproducible in any engine — a SQL oracle can recompute it from a
closed-form pixel formula (r132). No floats anywhere.

Scale shape (100 TB): hashing is one Arrow map stage over the media
table (no shuffle); candidate generation is an equality self-join on
the 64-bit key, or — for Hamming distance ≤ k — a banded pigeonhole
join (k+1 bands of 64/(k+1) bits: any pair within k differing bits
agrees on at least one full band), then an exact popcount verify on
the hashes the candidates already carry. Identical to the MinHash-LSH
candidate/verify pattern in ``datapipe.dedup`` — never all-pairs.

Reference scope note: the reference system has no image dedup at all
(its CV producers emit JSON only); this is a beyond-reference operator
for the LLM-training-data tier.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_backend_spark.datapipe.multimodal import (
    CODECS,
    decode_image,
    decode_video_frame,
    decode_wav,
    encode_rawvideo,
    encode_wav,
    map_payloads,
    synthetic_media,
    video_meta,
)

#: dHash grid: 8 block rows × 9 block columns → 8 comparisons per row
GRID_ROWS, GRID_COLS = 8, 9


def dhash64(img: np.ndarray) -> tuple[int, int]:
    """64-bit difference hash of an ``(h, w, 3)`` uint8 image, returned
    as two non-negative 32-bit halves ``(hi, lo)`` so the value fits
    signed 64-bit columns in every engine without sign games.

    Luma is the plain channel sum (0..765) — integer, monotone in
    brightness, engine-reproducible. The image is partitioned into an
    8×9 grid with floor boundaries ``r0 = (br*h)//8``; bit ``(br, bc)``
    (index ``br*8 + bc``) is 1 iff block ``(br, bc)`` is strictly
    darker on average than its right neighbor, compared exactly via
    cross-multiplication. Images smaller than the grid (h < 8 or
    w < 9) raise ``ValueError`` — a 7-pixel-tall image has no stable
    gradient structure to hash.

    Invariances (pinned by tests): container/codec (hash is computed on
    decoded pixels), and exact integer-factor rescaling when the dims
    are grid multiples (block sums scale uniformly, comparisons are
    ratios)."""
    h, w, _ = img.shape
    if h < GRID_ROWS or w < GRID_COLS:
        raise ValueError(f"image {h}x{w} smaller than the dHash grid")
    luma = img.astype(np.int64).sum(axis=2)
    if h % GRID_ROWS == 0 and w % GRID_COLS == 0:
        # grid-multiple fast path: one reshape-sum, no Python block
        # loop (same floor boundaries — they're exact multiples here)
        sums = luma.reshape(
            GRID_ROWS, h // GRID_ROWS, GRID_COLS, w // GRID_COLS
        ).sum(axis=(1, 3))
        cnts = np.full(
            (GRID_ROWS, GRID_COLS), (h // GRID_ROWS) * (w // GRID_COLS), np.int64
        )
    else:
        rb = [(br * h) // GRID_ROWS for br in range(GRID_ROWS + 1)]
        cb = [(bc * w) // GRID_COLS for bc in range(GRID_COLS + 1)]
        sums = np.empty((GRID_ROWS, GRID_COLS), np.int64)
        cnts = np.empty((GRID_ROWS, GRID_COLS), np.int64)
        for br in range(GRID_ROWS):
            for bc in range(GRID_COLS):
                block = luma[rb[br] : rb[br + 1], cb[bc] : cb[bc + 1]]
                sums[br, bc] = block.sum()
                cnts[br, bc] = block.size
    # mean_l < mean_r without division: sums fit well under 2^31
    # (765 * pixels), so the cross products stay in int64
    bits = (sums[:, :-1] * cnts[:, 1:]) < (sums[:, 1:] * cnts[:, :-1])
    packed = int(
        np.sum(bits.reshape(-1).astype(np.uint64) << np.arange(64, dtype=np.uint64))
    )
    return packed >> 32, packed & 0xFFFFFFFF


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
    ]
)


def perceptual_hashes(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Arrow-batched dHash over a media table → ``(media_id, dhash_hi,
    dhash_lo)``. Map-only, no shuffle. Payloads that don't decode or
    are smaller than the grid get NULL hashes (kept, so callers can
    count them) — hashing never silently fakes structure."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        try:
            yield i, *dhash64(decode_image(b))
        except ValueError:
            yield i, None, None

    return map_payloads(df, one, _PHASH_SCHEMA, id_col, payload_col)


def hash_near_dups(
    hashes: DataFrame,
    max_hamming: int = 0,
    max_group: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b, dhash_hi, dhash_lo,
    hamming)`` with ``id_a < id_b`` from a ``(media_id, dhash_hi,
    dhash_lo)`` frame — the shared candidate/verify join behind image
    AND audio perceptual dedup. ``max_group`` caps hot hash groups
    (see ``dedup.cap_hot_buckets``); uncapped runs still observe and
    warn.

    ``max_hamming=0`` (exact perceptual match — re-encoded /
    container-swapped copies) is a plain equality self-join on the
    64-bit key. ``max_hamming`` in 1..3 uses the pigeonhole banded
    join: the hash splits into 4 disjoint 16-bit bands, and any pair
    within 3 differing bits agrees on at least one band — candidates
    come from 4 equality joins (union), then the exact Hamming
    distance (popcount of xor, JVM ``bit_count``) filters. Never
    all-pairs; hot bands behave like hot LSH buckets (cap upstream if
    the corpus is degenerate)."""
    from datalake_backend_spark.datapipe.dedup import (
        HOT_BUCKET_WARN,
        cap_hot_buckets,
    )

    if not 0 <= max_hamming <= 3:
        raise ValueError("max_hamming must be in 0..3 (4 bands of 16 bits)")
    if max_hamming == 0:
        hashes = cap_hot_buckets(
            hashes,
            max_group,
            HOT_BUCKET_WARN,
            ("dhash_hi", "dhash_lo"),
            "hash_near_dups",
        )
        a, b = hashes.alias("a"), hashes.alias("b")
        return (
            a.join(
                b,
                (F.col("a.dhash_hi") == F.col("b.dhash_hi"))
                & (F.col("a.dhash_lo") == F.col("b.dhash_lo"))
                & (F.col("a.media_id") < F.col("b.media_id")),
            )
            .select(
                F.col("a.media_id").alias("id_a"),
                F.col("b.media_id").alias("id_b"),
                F.col("a.dhash_hi").alias("dhash_hi"),
                F.col("a.dhash_lo").alias("dhash_lo"),
                F.lit(0).alias("hamming"),
            )
        )
    # 4 × 16-bit bands: 0/1 from lo, 2/3 from hi
    banded = hashes.select(
        "media_id",
        "dhash_hi",
        "dhash_lo",
        *[
            (
                F.shiftrightunsigned(
                    F.col("dhash_lo" if band < 2 else "dhash_hi"),
                    16 * (band % 2),
                )
                % 65536
            ).alias(f"band{band}")
            for band in range(4)
        ],
    )
    candidates = None
    for band in range(4):
        # cap/observe hot 16-bit bands per join leg; a member dropped
        # from one hot band can still pair through its other 3 bands
        # (observe only leg 0 when uncapped — one watcher, same signal)
        leg = cap_hot_buckets(
            banded,
            max_group,
            HOT_BUCKET_WARN if band == 0 else None,
            (f"band{band}",),
            "hash_near_dups_banded",
        )
        a, b = leg.alias("a"), leg.alias("b")
        cand = a.join(
            b,
            (F.col(f"a.band{band}") == F.col(f"b.band{band}"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        ).select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.dhash_hi").alias("hi_a"),
            F.col("a.dhash_lo").alias("lo_a"),
            F.col("b.dhash_hi").alias("hi_b"),
            F.col("b.dhash_lo").alias("lo_b"),
        )
        candidates = cand if candidates is None else candidates.unionByName(cand)
    return (
        candidates.dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select(
            "id_a",
            "id_b",
            F.col("hi_a").alias("dhash_hi"),
            F.col("lo_a").alias("dhash_lo"),
            "hamming",
        )
    )


def image_near_dups(
    media: DataFrame,
    max_hamming: int = 0,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs: dHash every decodable
    payload (:func:`perceptual_hashes`), then :func:`hash_near_dups`."""
    hashes = perceptual_hashes(media, payload_col, id_col).where(
        F.col("dhash_hi").isNotNull()
    )
    return hash_near_dups(hashes, max_hamming)


#: audio fingerprint: 65 energy windows → 64 gradient bits
AUDIO_FP_WINDOWS = 65


def audio_fingerprint64(samples: np.ndarray) -> tuple[int, int]:
    """64-bit perceptual audio fingerprint of ``(frames, channels)``
    int16 PCM, as two non-negative 32-bit halves ``(hi, lo)``.

    The energy profile — sum of ``|per-frame channel sum|`` over 65
    equal time windows (floor boundaries) — is compared pairwise:
    bit ``w`` is 1 iff window ``w`` is strictly quieter on average
    than window ``w+1`` (cross-multiplied by window sizes, exact
    integers throughout). Channel-layout invariant BY CONSTRUCTION for
    layouts that scale the channel sum uniformly (mono vs duplicated
    stereo: every energy doubles, every comparison is unchanged) —
    the audio twin of container invariance for dHash. Clips shorter
    than 65 frames raise ``ValueError``."""
    frames = samples.shape[0]
    if frames < AUDIO_FP_WINDOWS:
        raise ValueError(
            f"clip of {frames} frames shorter than the {AUDIO_FP_WINDOWS}-"
            "window fingerprint grid"
        )
    mixed = np.abs(samples.astype(np.int64).sum(axis=1))
    bounds = np.array(
        [(w * frames) // AUDIO_FP_WINDOWS for w in range(AUDIO_FP_WINDOWS + 1)],
        np.int64,
    )
    e = np.add.reduceat(mixed, bounds[:-1])
    n = np.diff(bounds)
    bits = (e[:-1] * n[1:]) < (e[1:] * n[:-1])
    packed = int(
        np.sum(bits.astype(np.uint64) << np.arange(64, dtype=np.uint64))
    )
    return packed >> 32, packed & 0xFFFFFFFF


def audio_fingerprints(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Arrow-batched audio fingerprints over a media table →
    ``(media_id, dhash_hi, dhash_lo)`` (same column contract as
    :func:`perceptual_hashes` so :func:`hash_near_dups` composes).
    Payloads that don't decode as WAV or are too short get NULLs."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        try:
            yield i, *audio_fingerprint64(decode_wav(b)[0])
        except ValueError:
            yield i, None, None

    return map_payloads(df, one, _PHASH_SCHEMA, id_col, payload_col)


def audio_near_dups(
    media: DataFrame,
    max_hamming: int = 0,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual near-duplicate AUDIO pairs: fingerprint every
    decodable payload, then :func:`hash_near_dups` — catches the same
    recording re-encoded with a different channel layout, which sha256
    dedup misses."""
    hashes = audio_fingerprints(media, payload_col, id_col).where(
        F.col("dhash_hi").isNotNull()
    )
    return hash_near_dups(hashes, max_hamming)


def synthetic_variant_audio_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio near-dup fixture: consecutive ids ``(2k, 2k+1)`` carry the
    SAME waveform — ``base = id//2`` drives the closed-form sample
    formula — but even ids encode MONO and odd ids duplicated STEREO,
    so payload bytes (and sha256) differ while the channel-invariant
    fingerprint agrees. ``frames = 65·(2+base%3)`` is a grid multiple,
    so the SQL twin's plain energy comparison equals the general
    cross-multiplied one; the waveform carries base-dependent linear
    and quadratic terms so distinct bases rarely collide (measured:
    ≤2 bases share a fingerprint over 2500)."""

    def make(i: int) -> tuple:
        base = i // 2
        frames = AUDIO_FP_WINDOWS * (2 + base % 3)
        rate = 8000 + (base % 3) * 4000
        t = np.arange(frames)
        mono = (
            (base * 37 + t * (13 + base % 29) + (t * t * (1 + base % 11)) % 997)
            % 4096
            - 2048
        ).astype(np.int16)
        samples = np.repeat(mono.reshape(frames, 1), 1 + i % 2, axis=1)
        return (
            encode_wav(samples, rate), "pcm_s16le", None, None, frames * 1000 // rate
        )

    return synthetic_media(docs, id_col, make)


def synthetic_variant_image_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup fixture: consecutive ids ``(2k, 2k+1)`` carry the SAME
    pixels — ``base = id//2`` drives the closed-form formula — but in
    DIFFERENT containers (even → PPM, odd → PNG through real deflate),
    so byte hashes differ while dHash agrees: exactly the re-encoded
    duplicate a crawler produces. Dims are grid multiples
    (``w = 9·(1+base%4)``, ``h = 8·(1+base%3)``) so every dHash block
    has identical size and the SQL twin's plain sum comparison equals
    the general cross-multiplied one. The pixel formula carries a
    base-dependent column gradient and an ``r·c`` saddle term so
    distinct bases rarely collide (measured: max 3 bases share a hash
    over 2500 — a handful of honest accidental collisions survive as
    extra pairs, which the oracle recomputes identically)."""

    def make(i: int) -> tuple:
        base = i // 2
        w, h = 9 * (1 + base % 4), 8 * (1 + base % 3)
        r = np.arange(h).reshape(h, 1, 1)
        c = np.arange(w).reshape(1, w, 1)
        ch = np.arange(3).reshape(1, 1, 3)
        img = (
            (base * 31 + r * 7 + c * (3 + base % 11) * 5 + r * c + ch * 11) % 256
        ).astype(np.uint8)
        codec = "ppm" if i % 2 == 0 else "png"
        return CODECS[codec].encode(img), codec, w, h, None

    return synthetic_media(docs, id_col, make)


def video_phash_signature(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every: int = 1,
) -> DataFrame:
    """Perceptual VIDEO signature: dHash of every ``every``-th frame
    (decoded through the seeking RAWV codec — sampled frames only, the
    rest are never materialized), serialized ``"hi:lo,hi:lo,..."`` in
    frame order. Two videos with the same pictures get the same
    signature regardless of container metadata (fps header, encoder
    padding) — the content identity a byte hash can't see. Map-only
    Arrow stage; NULL signature for undecodable payloads or frames
    below the dHash grid."""

    def one(i: int, b: bytes) -> Iterator[tuple]:
        try:
            sig = ",".join(
                "%d:%d" % dhash64(decode_video_frame(b, f))
                for f in range(0, video_meta(b)[0], every)
            )
            yield i, sig or None
        except ValueError:
            yield i, None

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("signature", T.StringType()),
        ]
    )
    return map_payloads(df, one, schema, id_col, payload_col)


def video_near_dups(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every: int = 1,
    max_group: int | None = None,
) -> DataFrame:
    """Perceptual near-duplicate VIDEO pairs ``(id_a, id_b,
    signature)``: equality self-join on the frame-hash signature —
    catches the same footage in a container with different metadata,
    which sha256 dedup misses. The signature string is the join key
    (an equality join, same scale shape as the image/audio paths;
    ``max_group`` caps hot signatures, uncapped runs observe+warn)."""
    from datalake_backend_spark.datapipe.dedup import (
        HOT_BUCKET_WARN,
        cap_hot_buckets,
    )

    sigs = video_phash_signature(media, payload_col, id_col, every).where(
        F.col("signature").isNotNull()
    )
    sigs = cap_hot_buckets(
        sigs, max_group, HOT_BUCKET_WARN, ("signature",), "video_near_dups"
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return a.join(
        b,
        (F.col("a.signature") == F.col("b.signature"))
        & (F.col("a.media_id") < F.col("b.media_id")),
    ).select(
        F.col("a.media_id").alias("id_a"),
        F.col("b.media_id").alias("id_b"),
        F.col("a.signature").alias("signature"),
    )


def synthetic_variant_video_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Video near-dup fixture: consecutive ids ``(2k, 2k+1)`` carry the
    SAME frames — ``base = id//2`` drives the closed-form pixel
    formula — but the RAWV header declares fps 5 (even) vs 10 (odd),
    so payload bytes and sha256 differ while every decoded frame (and
    so the signature) agrees. Dims are dHash-grid multiples; the
    formula's base-dependent gradient and saddle terms keep accidental
    collisions rare (measured: ≤3 bases share a signature over 2500)."""

    def make(i: int) -> tuple:
        base = i // 2
        n = 2 + base % 3
        w, h = 9 * (1 + base % 2), 8 * (1 + base % 2)
        f = np.arange(n).reshape(n, 1, 1, 1)
        r = np.arange(h).reshape(1, h, 1, 1)
        c = np.arange(w).reshape(1, 1, w, 1)
        ch = np.arange(3).reshape(1, 1, 1, 3)
        frames = (
            (base * 31 + f * 53 + r * 7 + c * (3 + base % 11) * 5
             + r * c + ch * 11) % 256
        ).astype(np.uint8)
        fps = 5 if i % 2 == 0 else 10
        return encode_rawvideo(frames, fps), "rawv", w, h, n * 1000 // fps

    return synthetic_media(docs, id_col, make)
