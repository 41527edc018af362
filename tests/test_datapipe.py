"""LLM-data-pipeline operator tests: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_backend_spark.datapipe.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_signature,
    near_dup_minhash,
    near_dup_simhash,
    simhash64,
)
from datalake_backend_spark.datapipe.similarity import (
    brute_force_topk,
    cosine_to,
    lsh_assign,
    near_dup_pairs,
)
from datalake_backend_spark.datapipe.text import token_count


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup (1 token)
        (4, "completely different content about spark engines"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = {r.canonical_id: r.dup_count for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1,2 identical
    assert out[3] == 1 and out[4] == 1


def test_minhash_estimates_jaccard(spark):
    sig = {
        r.doc_id: r.minhash
        for r in minhash_signature(_docs(spark), n=1).collect()
    }
    agree_near = sum(a == b for a, b in zip(sig[1], sig[3])) / 128
    agree_far = sum(a == b for a, b in zip(sig[1], sig[4])) / 128
    assert sig[1] == sig[2]  # identical docs → identical signatures
    # true unigram jaccard(1,3) = 7/9 ≈ 0.778; estimator within ±0.15
    assert abs(agree_near - 7 / 9) < 0.15
    assert agree_far < 0.2


def test_near_dup_minhash_end_to_end(spark):
    out = near_dup_minhash(_docs(spark), threshold=0.75).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs[(1, 2)] == 1.0
    assert abs(pairs[(1, 3)] - 7 / 9) < 1e-9  # 7 shared of 9 distinct
    assert (1, 4) not in pairs


def test_jaccard_pairs_exact(spark):
    pairs = spark.createDataFrame([(1, 3)], ["id_a", "id_b"])
    r = jaccard_pairs(_docs(spark), pairs).collect()[0]
    # 7 shared of 9 distinct tokens
    assert abs(r.jaccard - 7 / 9) < 1e-9


def test_jaccard_pairs_max_pairs_guard(spark):
    # 4 docs → 6 unordered pairs; a cap of 3 must fail fast, a cap
    # that fits must pass through to the verify stage unchanged
    docs = _docs(spark)
    ids = docs.select(F.col("doc_id").alias("id_a"))
    blowup = ids.crossJoin(
        docs.select(F.col("doc_id").alias("id_b"))
    ).where(F.col("id_a") < F.col("id_b"))
    with pytest.raises(ValueError, match="max_pairs"):
        jaccard_pairs(docs, blowup, max_pairs=3)
    ok = jaccard_pairs(docs, blowup, max_pairs=6).collect()
    assert len(ok) == 6  # under the cap → verify runs normally


def test_jaccard_pairs_uncapped_warns(spark, caplog):
    import logging

    from datalake_backend_spark.datapipe import dedup as _d

    docs = _docs(spark)
    pairs = spark.createDataFrame([(1, 3), (1, 4)], ["id_a", "id_b"])
    old = _d.PAIR_WARN
    _d.PAIR_WARN = 1  # 2 pairs > 1 → watcher fires
    try:
        with caplog.at_level(logging.WARNING, logger=_d.__name__):
            jaccard_pairs(docs, pairs).collect()
            for t in _d._WATCHERS:
                t.join(timeout=10)
        assert any("oversized candidate frame" in r.message for r in caplog.records)
    finally:
        _d.PAIR_WARN = old


def test_simhash_near_identical_close(spark):
    sigs = {
        r.doc_id: r.sh
        for r in _docs(spark).select("doc_id", simhash64(F.col("text")).alias("sh")).collect()
    }
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert sigs[1] == sigs[2]
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])


def test_near_dup_simhash(spark):
    out = near_dup_simhash(_docs(spark), max_hamming=10).collect()
    ids = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in ids


def test_cosine_and_topk(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    scored = {r.vec_id: r.cosine for r in cosine_to(df, [1.0, 0.0]).collect()}
    assert abs(scored[1] - 1.0) < 1e-9
    assert abs(scored[2]) < 1e-9
    assert abs(scored[3] - 2**-0.5) < 1e-9
    top = [r.vec_id for r in brute_force_topk(df, [1.0, 0.0], k=2).collect()]
    assert top == [1, 3]


def test_lsh_bucket_consistency(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.01, 0.0]), (3, [-1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b = {r.vec_id: r.bucket for r in lsh_assign(df, n_planes=6, dim=3).collect()}
    assert b[1] == b[2]  # near-identical vectors share a bucket
    assert b[1] != b[3]  # opposite vector does not


def test_ivf_topk_recall(spark):
    """IVF with enough probes recovers the exact top-k on testdata."""
    from datalake_backend_spark.datapipe.similarity import ivf_index, ivf_topk
    from datalake_backend_spark.sources.readers import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    q_row = emb.where(F.col("vec_id") == 0).first()
    q = [float(x) for x in q_row["embedding"]]
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=5).collect()]
    assigned, centroids = ivf_index(emb, n_lists=8)
    assert len(centroids) == 8
    # full probe == exact search
    full = [r.vec_id for r in ivf_topk(assigned, centroids, q, k=5, nprobe=8).collect()]
    assert full == exact
    # small probe finds the query vector itself and mostly-overlapping top-k
    approx = [r.vec_id for r in ivf_topk(assigned, centroids, q, k=5, nprobe=3).collect()]
    assert approx[0] == 0
    assert len(set(approx) & set(exact)) >= 3


def test_embedding_near_dup_pairs(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.999, 0.001]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = near_dup_pairs(df, threshold=0.99, n_planes=4, dim=2).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world, it's 42 degrees",)], ["text"])
    r = df.select(token_count("text").alias("ws")).collect()[0]
    assert r.ws == 5


def test_chunk_overlap_pairs_containment(spark):
    """A short doc embedded verbatim in a long one is caught by chunk
    overlap even though global Jaccard is low; the max_df cap drops
    boilerplate chunks shared by every doc."""
    from datalake_backend_spark.datapipe.dedup import chunk_overlap_pairs

    core = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    filler = " ".join(f"w{i}" for i in range(60))
    boiler = "this license header appears in every single document verbatim"
    rows = [
        (1, core),                          # the contained doc
        (2, filler + " " + core),           # contains doc 1 verbatim
        (3, "unrelated " + " ".join(f"x{i}" for i in range(40))),
        (4, boiler + " completely different tail content follows here one"),
        (5, boiler + " another unrelated continuation of words goes here two"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.shared_chunks
        for r in chunk_overlap_pairs(df, window=4, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # boilerplate pair found without cap...
    assert (4, 5) in pairs
    # ...and suppressed when the cap excludes chunks present in >1 doc
    capped = {
        (r.id_a, r.id_b)
        for r in chunk_overlap_pairs(df, window=4, min_shared=2, max_df=1).collect()
    }
    assert capped == set()


def test_normalize_text(spark):
    from datalake_backend_spark.datapipe.text import normalize_text

    rows = [
        (1, "  Visit https://example.com/x?y=1  NOW!\n\nMail me@test.org  "),
        (2, "plain\ttext\x07with\x07bells"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.text for r in normalize_text(df).collect()}
    assert out[1] == "visit now! mail"
    assert out[2] == "plain textwithbells"  # bells stripped, words join
    # canonicalization makes trivially-different dups hash together
    dup = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world\n")], ["doc_id", "text"]
    )
    hashes = (
        normalize_text(dup)
        .select(F.md5("text").alias("h"))
        .distinct()
        .count()
    )
    assert hashes == 1


def test_multimodal_plumbing(spark):
    from datalake_backend_spark.datapipe.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        extract_image_features,
    )

    rows = [
        (1, b"\x89PNGfake", ("image/png", 4, 4, None, None)),
        (2, b"\x00\x00vid", ("video/mp4", 640, 480, 3500, "h264")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.features for r in extract_image_features(df).collect()}
    assert len(feats[1]) == 16 and all(0 <= v < 1 for v in feats[1])
    # deterministic: same payload → same features
    feats2 = {r.media_id: r.features for r in extract_image_features(df).collect()}
    assert feats == feats2
    with pytest.raises(ValueError):
        decode_image(b"abc")


def test_ppm_codec_roundtrip():
    """Real byte-level codec: encode → decode is the identity, header
    comments/whitespace are tolerated, malformed input raises."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        decode_image,
        encode_ppm,
    )

    img = (np.arange(5 * 4 * 3) * 7 % 256).astype(np.uint8).reshape(5, 4, 3)
    assert (decode_image(encode_ppm(img)) == img).all()
    # comments + extra whitespace in header
    raw = b"P6\n# a comment\n 4  5\n# more\n255\n" + img.tobytes()
    assert (decode_image(raw) == img).all()
    with pytest.raises(ValueError):
        decode_image(encode_ppm(img)[:-1])  # truncated raster
    with pytest.raises(ValueError):
        decode_image(b"P6\n4 5\n65535\n" + b"\x00" * 120)  # 16-bit


def test_bmp_codec_roundtrip():
    """BMP byte-level codec: encode → decode is the identity across
    widths that do and don't need 4-byte row padding; top-down rasters
    (negative height) decode; non-24-bit input raises."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        decode_image,
        encode_bmp,
    )

    for w, h in [(4, 3), (5, 4), (2, 2), (7, 1)]:  # strides 12,16,8,24
        img = (np.arange(h * w * 3) * 13 % 256).astype(np.uint8).reshape(h, w, 3)
        raw = encode_bmp(img)
        assert raw[:2] == b"BM"
        assert (decode_image(raw) == img).all()
    # top-down variant: raster rows already in display order, height<0
    img = (np.arange(3 * 5 * 3) % 256).astype(np.uint8).reshape(3, 5, 3)
    raw = bytearray(encode_bmp(img[::-1]))
    raw[22:26] = (-3).to_bytes(4, "little", signed=True)
    assert (decode_image(bytes(raw)) == img).all()
    with pytest.raises(ValueError):
        decode_image(encode_bmp(img)[:-1])  # truncated raster
    bad = bytearray(encode_bmp(img))
    bad[28:30] = (32).to_bytes(2, "little")
    with pytest.raises(ValueError):
        decode_image(bytes(bad))  # 32-bit not supported


def test_png_codec_roundtrip():
    """PNG byte-level codec: encode → decode is the identity (real
    zlib deflate + CRC-verified chunks); the decoder unfilters every
    scanline filter type in the spec (hand-built filtered rasters for
    Sub/Up/Average/Paeth), handles gray and RGBA color types, and
    rejects corrupt CRCs and 16-bit depth."""
    import zlib

    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        _PNG_SIG,
        decode_image,
        encode_png,
    )

    for w, h in [(4, 3), (5, 4), (1, 1), (7, 2)]:
        img = (np.arange(h * w * 3) * 29 % 256).astype(np.uint8).reshape(h, w, 3)
        raw = encode_png(img)
        assert raw[:8] == _PNG_SIG
        assert (decode_image(raw) == img).all()

    def build_png(w, h, ctype, channels, filtered_rows):
        def chunk(tag, body):
            return (
                len(body).to_bytes(4, "big") + tag + body
                + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big")
            )

        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(
            [8, ctype, 0, 0, 0]
        )
        raw = b"".join(bytes([f]) + bytes(r) for f, r in filtered_rows)
        return (
            _PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    # forward-filter a known image with each filter type per row, then
    # the decoder must reconstruct the original exactly
    w, h, bpp = 4, 5, 3
    img = ((np.arange(h * w * 3) * 17 + 3) % 256).astype(np.uint8).reshape(h, w, 3)
    flat = img.reshape(h, w * bpp).astype(int)
    rows = []
    for y, ftype in enumerate([0, 1, 2, 3, 4]):  # None,Sub,Up,Avg,Paeth
        cur, prev = flat[y], (flat[y - 1] if y else np.zeros(w * bpp, int))
        out = np.zeros(w * bpp, int)
        for x in range(w * bpp):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[x] = (cur[x] - pred) % 256
        rows.append((ftype, out.astype(np.uint8)))
    assert (decode_image(build_png(w, h, 2, 3, rows)) == img).all()

    # grayscale broadcasts to 3 channels; RGBA drops alpha
    g = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    png_gray = build_png(2, 2, 0, 1, [(0, g[0]), (0, g[1])])
    assert (decode_image(png_gray) == np.repeat(g[:, :, None], 3, axis=2)).all()
    rgba = np.array([[[1, 2, 3, 9], [4, 5, 6, 9]]], dtype=np.uint8)
    png_rgba = build_png(2, 1, 6, 4, [(0, rgba.reshape(-1))])
    assert (decode_image(png_rgba) == rgba[:, :, :3]).all()

    # corrupt CRC, 16-bit depth, and signature-only payloads raise
    bad = bytearray(encode_png(img))
    bad[20] ^= 0xFF  # inside IHDR body → CRC mismatch
    with pytest.raises(ValueError):
        decode_image(bytes(bad))

    def chunk16(tag, body):
        return (
            len(body).to_bytes(4, "big") + tag + body
            + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr16 = (2).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes(
        [16, 2, 0, 0, 0]
    )
    deep = (
        _PNG_SIG + chunk16(b"IHDR", ihdr16)
        + chunk16(b"IDAT", zlib.compress(b"\x00" * 13))
        + chunk16(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_image(deep)
    with pytest.raises(ValueError):
        decode_image(_PNG_SIG)


def test_wav_codec_roundtrip():
    """RIFF/WAVE byte-level codec: encode → decode is the identity for
    mono and stereo; unknown chunks (odd-sized, word-padded) are
    skipped; non-PCM and truncated payloads raise."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import decode_wav, encode_wav

    mono = (np.arange(200) * 91 % 4096 - 2048).astype(np.int16)
    arr, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and arr.shape == (200, 1)
    assert (arr[:, 0] == mono).all()

    stereo = (np.arange(300).reshape(150, 2) * 37 % 4096 - 2048).astype(np.int16)
    arr, rate = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100 and (arr == stereo).all()

    # splice an odd-sized LIST chunk between fmt and data; decoder must
    # skip it (with the RIFF pad byte) and still find the data chunk
    raw = encode_wav(stereo, 16000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = raw[:fmt_end] + extra + raw[fmt_end:]
    arr, rate = decode_wav(spliced)
    assert rate == 16000 and (arr == stereo).all()

    with pytest.raises(ValueError):
        decode_wav(raw[:10])  # truncated header
    bad = bytearray(raw)
    bad[20 + 0] = 3  # format tag = IEEE float
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_audio_stats_real_decode(spark):
    """audio_stats decodes genuine WAV bytes; spot-check two ids
    against a NumPy recomputation of the closed-form samples."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        audio_stats,
        synthetic_wav_table,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    got = {
        r.media_id: r
        for r in audio_stats(synthetic_wav_table(docs)).collect()
    }
    assert len(got) == 8
    for i in (3, 6):
        frames, ch = 100 + i % 50, 1 + i % 2
        rate = 8000 + (i % 3) * 4000
        t = np.arange(frames).reshape(frames, 1)
        c = np.arange(ch).reshape(1, ch)
        a = np.abs((i * 37 + t * 13 + c * 5) % 4096 - 2048)
        r = got[i]
        assert (r.sample_rate, r.channels, r.n_frames) == (rate, ch, frames)
        assert r.duration_ms == frames * 1000 // rate
        assert r.sum_abs == int(a.sum())
        assert r.peak == int(a.max())
        assert r.mean_abs == a.sum() / (frames * ch)


def test_image_stats_mixed_codecs(spark):
    """synthetic_image_table alternates PPM/BMP per id; decoded stats
    are codec-independent, so they must equal the all-PPM table's."""
    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        synthetic_image,
        synthetic_image_table,
        synthetic_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    all_ppm = synthetic_media(docs, "doc_id", lambda i: synthetic_image(i, "ppm"))
    as_map = lambda rows: {r.media_id: tuple(r) for r in rows}  # noqa: E731
    assert as_map(image_stats(synthetic_image_table(docs)).collect()) == as_map(
        image_stats(all_ppm).collect()
    )
    codecs = {r.media_id: r.meta.codec for r in synthetic_image_table(docs).collect()}
    assert codecs[0] == "ppm" and codecs[1] == "bmp"


def test_image_stats_decodes_real_ppm(spark):
    """image_stats parses real PPM payloads; sums/means match a direct
    numpy computation on the same pixels."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        synthetic_image,
        synthetic_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    all_ppm = synthetic_media(docs, "doc_id", lambda i: synthetic_image(i, "ppm"))
    got = {r.media_id: r for r in image_stats(all_ppm).collect()}
    for i in range(7):
        w, h = 4 + i % 5, 3 + i % 4
        r = np.arange(h).reshape(h, 1, 1)
        c = np.arange(w).reshape(1, w, 1)
        ch = np.arange(3).reshape(1, 1, 3)
        img = (i * 31 + r * 7 + c * 3 + ch * 11) % 256
        row = got[i]
        assert (row.width, row.height, row.channels) == (w, h, 3)
        sums = img.reshape(-1, 3).sum(axis=0)
        assert (row.sum_r, row.sum_g, row.sum_b) == tuple(int(s) for s in sums)
        assert row.mean_r == int(sums[0]) / (w * h)


def test_extract_features_real_decode_path(spark):
    """Decodable payloads get pooled-pixel features (global channel
    means at positions 12-14), non-images fall back to hash features."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        extract_image_features,
    )

    img = np.full((4, 4, 3), 128, dtype=np.uint8)
    rows = [
        (1, encode_ppm(img), ("image/x-portable-pixmap", 4, 4, None, "ppm")),
        (2, b"not an image", ("application/octet-stream", None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.features for r in extract_image_features(df).collect()}
    # uniform 128 image → every pooled mean is exactly 0.5
    assert all(abs(v - 0.5) < 1e-6 for v in feats[1][:15])
    assert len(feats[2]) == 16 and feats[2] != feats[1]


def test_stratified_sample_deterministic(spark):
    """Same (key, salt) always keeps/drops the same rows, regardless of
    partitioning; per-stratum keep rates track the requested fractions;
    unlisted strata are dropped."""
    from datalake_backend_spark.datapipe.sampling import stratified_sample

    rows = [(i, ["en", "fr", "xx"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept1 = {
        r.doc_id
        for r in stratified_sample(
            df, "lang", {"en": 0.5, "fr": 0.1}, key_col="doc_id", salt="s"
        ).collect()
    }
    kept2 = {
        r.doc_id
        for r in stratified_sample(
            df.repartition(7, "lang"),
            "lang",
            {"en": 0.5, "fr": 0.1},
            key_col="doc_id",
            salt="s",
        ).collect()
    }
    assert kept1 == kept2
    langs = {r.doc_id: r.lang for r in df.collect()}
    by_lang = {"en": 0, "fr": 0, "xx": 0}
    for k in kept1:
        by_lang[langs[k]] += 1
    assert by_lang["xx"] == 0  # unlisted stratum dropped entirely
    assert 400 < by_lang["en"] < 600  # ~0.5 of 1000
    assert 50 < by_lang["fr"] < 150  # ~0.1 of 1000
    # a different salt is an independent draw
    kept3 = {
        r.doc_id
        for r in stratified_sample(
            df, "lang", {"en": 0.5, "fr": 0.1}, key_col="doc_id", salt="other"
        ).collect()
    }
    assert kept3 != kept1


def test_deterministic_split_leakage_safe(spark):
    """Every row gets exactly one split; assignment is a pure function
    of (key, salt) — re-running on a GROWN corpus never moves a
    previously-assigned key between splits (leakage safety)."""
    from datalake_backend_spark.datapipe.sampling import (
        deterministic_split,
        split_bounds,
    )

    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.createDataFrame([(i,) for i in range(1000)], ["doc_id"])
    grown = spark.createDataFrame([(i,) for i in range(2500)], ["doc_id"])
    s1 = {r.doc_id: r.split for r in deterministic_split(small, "doc_id", fracs).collect()}
    s2 = {r.doc_id: r.split for r in deterministic_split(grown, "doc_id", fracs).collect()}
    assert len(s2) == 2500  # nothing unassigned
    for k, v in s1.items():
        assert s2[k] == v  # growth never reassigns
    from collections import Counter

    c = Counter(s2.values())
    assert 1850 < c["train"] < 2150 and 150 < c["val"] < 350 and 150 < c["test"] < 350
    # cumulative bounds exposed for SQL twins match the float math used
    assert [b for _, b in split_bounds(fracs)] == [0.8, 0.8 + 0.1]


def test_repetition_metrics(spark):
    """Hand-checked Gopher repetition features: degenerate repeated text
    scores high, diverse text scores zero."""
    from datalake_backend_spark.datapipe.text import repetition_metrics

    rows = [
        (1, "a b a b a b"),        # 6 toks, 2 distinct; 2-grams: ab x3, ba x2
        (2, "one two three four"),  # all distinct
        (3, "solo"),               # 1 token: no 2-grams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    m = {r.doc_id: r for r in repetition_metrics(df).collect()}
    r1 = m[1]
    assert r1.n_tokens == 6
    assert r1.dup_token_frac == (6 - 2) / 6
    # 5 bigrams: "a b" x3 + "b a" x2 -> best 3, all 5 duplicated
    assert r1.top_2gram_share == 3 / 5
    assert r1.dup_2gram_frac == 5 / 5
    # 4 trigrams: "a b a" x2, "b a b" x2 -> best 2
    assert r1.top_3gram_share == 2 / 4
    r2 = m[2]
    assert r2.dup_token_frac == 0.0
    assert r2.top_2gram_share == 1 / 3 and r2.dup_2gram_frac == 0.0
    r3 = m[3]
    assert r3.n_tokens == 1
    assert r3.top_2gram_share == 0.0 and r3.top_3gram_share == 0.0


def test_redact_pii(spark):
    from datalake_backend_spark.datapipe.text import redact_pii

    rows = [
        (1, "mail a.b+c@test-site.org and b@x.io, call 555-123-4567 "
            "or 555.987.6543, ssn 123-45-6789, host 10.0.255.7"),
        (2, "clean text with plain numbers 12345 and 1.5 ratios"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert (r1.n_email, r1.n_ssn, r1.n_phone, r1.n_ipv4) == (2, 1, 2, 1)
    assert r1.text == (
        "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>, "
        "ssn <SSN>, host <IPV4>"
    )
    r2 = out[2]
    assert (r2.n_email, r2.n_ssn, r2.n_phone, r2.n_ipv4) == (0, 0, 0, 0)
    assert r2.text == rows[1][1]


def test_contamination(spark):
    """A training doc quoting an eval doc verbatim is flagged with the
    right chunk count; clean docs are not flagged."""
    from datalake_backend_spark.datapipe.dedup import contamination

    bench = "what is the capital of france the answer is paris obviously"
    train_rows = [
        (10, "intro words here " + bench + " closing words"),  # quotes bench
        (11, "totally unrelated training text " + " ".join(f"t{i}" for i in range(20))),
    ]
    eval_rows = [(900, bench)]
    tr = spark.createDataFrame(train_rows, ["doc_id", "text"])
    ev = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    hits = {r.doc_id: r.n_shared_chunks for r in contamination(tr, ev, window=4).collect()}
    # bench has 11 tokens -> 8 distinct 4-gram chunks, all inside doc 10
    assert hits == {10: 8}


def test_token_stream_offsets_match_naive(spark):
    """The two-phase distributed offsets equal the naive global cumsum,
    regardless of input partitioning."""
    from datalake_backend_spark.datapipe.packing import token_stream_offsets

    rows = [(i, " ".join(f"w{j}" for j in range((i * 7) % 13 + 1))) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    expected, acc = {}, 0
    for i, text in rows:
        expected[i] = acc
        acc += len(text.split())
    for parts in (1, 7):
        got = {
            r.doc_id: r.start_offset
            for r in token_stream_offsets(df.repartition(parts)).collect()
        }
        assert got == expected


def test_pack_sequences_boundaries(spark):
    """Chunk assignment: ids, in-window offsets, and boundary spans."""
    from datalake_backend_spark.datapipe.packing import pack_sequences

    rows = [(1, 6), (2, 4), (3, 3), (4, 10)]  # offsets 0, 6, 10, 13
    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n), n) for i, n in rows], ["doc_id", "text", "n"]
    )
    out = {r.doc_id: r for r in pack_sequences(df, max_len=8, token_count_col="n").collect()}
    assert (out[1].seq_id, out[1].offset_in_seq, out[1].n_seqs_spanned) == (0, 0, 1)
    # doc 2 starts at 6, runs to 9 -> crosses the 8-token boundary
    assert (out[2].seq_id, out[2].offset_in_seq, out[2].n_seqs_spanned) == (0, 6, 2)
    assert (out[3].seq_id, out[3].offset_in_seq, out[3].n_seqs_spanned) == (1, 2, 1)
    # doc 4: starts 13, ends 22 -> spans windows 1 and 2
    assert (out[4].seq_id, out[4].n_seqs_spanned) == (1, 2)


def test_dedup_keep_canonical(spark):
    from datalake_backend_spark.datapipe.dedup import dedup_keep_canonical

    rows = [(3, "same text"), (1, "same text"), (2, "other"), (4, "same text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {(r.doc_id, r.text) for r in dedup_keep_canonical(df).collect()}
    assert kept == {(1, "same text"), (2, "other")}


def test_cluster_near_dups_transitive(spark):
    """A chain a-b, b-c, c-d collapses into ONE cluster labelled by the
    min node; disjoint edges stay separate; convergence needs multiple
    propagation rounds (diameter 3)."""
    from datalake_backend_spark.datapipe.dedup import cluster_near_dups

    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    got = {r.node: r.cluster_id for r in cluster_near_dups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_near_dups_star_fallback_path_graph(spark, monkeypatch):
    """Worst-case diameter: a 60-edge path with star_after=2 exceeds
    the propagation budget and auto-switches to large-star/small-star
    — the pathological graph degrades gracefully (no RuntimeError) and
    the labels still match the single-component ground truth. A node
    appearing only in a self-pair keeps itself as cluster id. Runs the
    distributed loop (a graph this small is otherwise solved in one
    task)."""
    from datalake_backend_spark.core import onetask
    from datalake_backend_spark.datapipe.dedup import cluster_near_dups

    monkeypatch.setattr(onetask, "_LOCAL_ROWS", -1)

    n = 60
    pairs = [(i, i + 1) for i in range(n)] + [(99, 99)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r.node: r.cluster_id
        for r in cluster_near_dups(df, star_after=2).collect()
    }
    want = {i: 0 for i in range(n + 1)}
    want[99] = 99
    assert got == want


def test_assign_shards_deterministic_and_balanced(spark):
    from datalake_backend_spark.datapipe.sampling import assign_shards

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    a = {r.k: r.shard for r in assign_shards(df, "k", 16, salt="x").collect()}
    b = {
        r.k: r.shard
        for r in assign_shards(df.repartition(7), "k", 16, salt="x").collect()
    }
    assert a == b  # partition-independent
    assert set(a.values()) == set(range(16))
    from collections import Counter

    counts = Counter(a.values())
    assert max(counts.values()) < 2 * min(counts.values())  # hash-balanced


def test_cap_per_group_matches_single_window(spark):
    """The skew-safe two-phase top-k must pick the IDENTICAL row set as
    the naive single-window form."""
    from pyspark.sql import Window

    from datalake_backend_spark.datapipe.dedup import portable_hash60
    from datalake_backend_spark.datapipe.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(300)], "k long, g string"
    )
    two_phase = {
        (r.k, r.g) for r in cap_per_group(df, "g", 7, "k", salt="s").collect()
    }
    h = portable_hash60(F.concat(F.col("k").cast("string"), F.lit("s")))
    w = Window.partitionBy("g").orderBy(h, F.col("k"))
    naive = {
        (r.k, r.g)
        for r in df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 7)
        .drop("_rn")
        .collect()
    }
    assert two_phase == naive and len(naive) == 21


def test_dedup_lines_keeps_first_occurrence(spark):
    """A line keeps only its first (doc, pos) occurrence corpus-wide;
    docs reassemble in order; fully-duplicated docs disappear."""
    from datalake_backend_spark.datapipe.dedup import dedup_lines

    rows = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta"),      # beta drops (first seen in doc 1)
        (3, "alpha\nbeta"),      # both drop -> doc 3 disappears
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_lines) for r in dedup_lines(df).collect()}
    assert got == {
        1: ("alpha\nbeta\ngamma", 3),
        2: ("delta", 1),
    }


def test_quantize_roundtrip_fidelity(spark):
    """8-bit scalar quantization reconstructs within half a level per
    component; constant vectors survive exactly (scale-0 path)."""
    from datalake_backend_spark.datapipe.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [(1, [0.0, 1.0, 0.25, -1.0]), (2, [0.5, 0.5, 0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.embedding, r.dequant, r.codes)
        for r in dequantize_embeddings(quantize_embeddings(df)).collect()
    }
    orig, deq, codes = out[1]
    half_level = (1.0 - (-1.0)) / 255 / 2
    assert all(abs(a - b) <= half_level + 1e-12 for a, b in zip(orig, deq))
    assert max(codes) == 255 and min(codes) == 0
    orig2, deq2, codes2 = out[2]
    assert deq2 == orig2 and codes2 == [0, 0, 0, 0]


def test_tfidf_ranks_distinctive_terms(spark):
    """A term unique to one doc outranks corpus-wide terms; ties break
    lexicographically so the top-k set is deterministic."""
    import math

    from datalake_backend_spark.datapipe.text import tfidf_top_terms

    rows = [
        (1, "common common rare"),
        (2, "common other"),
        (3, "common other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.term, r.tfidf)
        for r in tfidf_top_terms(df, k=2).where("doc_id = 1").collect()
    ]
    # rare: tf=1, df=1 -> ln(4/2)+1 ; common: tf=2, df=3 -> 2*(ln(4/4)+1)=2
    assert [t for t, _ in got] == ["common", "rare"]
    assert abs(dict(got)["rare"] - (math.log(2.0) + 1.0)) < 1e-12
    assert abs(dict(got)["common"] - 2.0) < 1e-12


def test_resize_images_real_resample(spark):
    """PPM and BMP payloads are decoded, nearest-neighbor resampled,
    and re-encoded in their ORIGINAL container; non-images pass through
    byte-identical AND keep their original metadata (dims are only
    rewritten for rows whose payload was actually re-encoded)."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        encode_bmp,
        encode_ppm,
        resize_images,
    )

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[2:, :, :] = 200  # bottom half bright
    rows = [
        (1, encode_ppm(img), ("image/x-portable-pixmap", 4, 4, None, "ppm")),
        (2, b"not an image", ("application/octet-stream", None, None, None, None)),
        (3, encode_bmp(img), ("image/bmp", 4, 4, None, "bmp")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in resize_images(df, 2, 2).collect()}
    small = decode_image(bytes(out[1].payload))
    assert small.shape == (2, 2, 3)
    assert small[0, 0, 0] == 0 and small[1, 0, 0] == 200
    assert out[1].meta.width == 2 and out[1].meta.height == 2
    # non-decodable: bytes unchanged and meta NOT rewritten
    assert bytes(out[2].payload) == b"not an image"
    assert out[2].meta.width is None and out[2].meta.height is None
    # BMP stays BMP and resamples to the same pixels as the PPM twin
    assert bytes(out[3].payload)[:2] == b"BM"
    assert (decode_image(bytes(out[3].payload)) == small).all()
    assert out[3].meta.width == 2 and out[3].meta.codec == "bmp"


def test_pq_encode_topk_recall(spark):
    """Product quantization: codes are m small ints; ADC top-k over
    codes alone recalls most of the exact top-k; scores are valid
    cosines of reconstructed vectors. Recall is governed by code
    resolution: measured on this table, recall@10 ≈ 0.4 / 0.6 / 0.9
    for m = 8 / 16 / 32 (k=16) — so shape assertions use the compact
    m=8 config and the quality bar is pinned at m=16."""
    from datalake_backend_spark.datapipe.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    q = emb.where("vec_id = 1").first().embedding
    q = [float(x) for x in q]

    m, k = 8, 16
    cbs = pq_train(emb, m=m, k=k)
    assert len(cbs) == m and all(len(c) == k for c in cbs)
    codes = pq_encode(emb, cbs)
    first = codes.first()
    assert len(first.pq_codes) == m
    assert all(0 <= c < k for c in first.pq_codes)

    topk = 10
    got = pq_topk(codes, cbs, q, k=topk).collect()
    assert len(got) == topk
    assert all(-1.000001 <= r.pq_cosine <= 1.000001 for r in got)
    # the query vector itself must be in the PQ top-k (it quantizes to
    # its own centroids, which dominate the reconstructed cosine)
    assert 1 in {r.vec_id for r in got}

    # quality bar at double resolution (16 one-byte codes per vector)
    cbs16 = pq_train(emb, m=16, k=k)
    codes16 = pq_encode(emb, cbs16)
    got16 = {r.vec_id for r in pq_topk(codes16, cbs16, q, k=topk).collect()}
    exact = {r.vec_id for r in brute_force_topk(emb, q, topk).collect()}
    recall = len(got16 & exact) / topk
    assert recall >= 0.5, (recall, n)


def test_fuzzy_join_levenshtein(spark):
    """Length banding is complete for the threshold; exact distances
    verified; pairs beyond the band never even become candidates."""
    from datalake_backend_spark.datapipe.dedup import fuzzy_join_levenshtein

    rows = [
        (1, "spark"), (2, "sparc"),        # dist 1, same length
        (3, "sparks"),                     # dist 1 to spark (len +1)
        (4, "park"),                       # dist 1 to spark (len -1)
        (5, "flink"),                      # dist 4 to spark
        (6, "a completely different one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_join_levenshtein(df, max_dist=2).collect()
    }
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert (1, 5) not in got and (1, 6) not in got
    assert got[(2, 3)] == 2  # sparc→sparks
    # threshold 4 picks up flink↔spark
    wide = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_join_levenshtein(df, max_dist=4).collect()
    }
    assert wide[(1, 5)] == 4


def test_rawvideo_seek_decode(spark):
    """RAWV container: per-frame seek decode recovers exactly the
    encoded frame without reading others; header meta round-trips;
    malformed input raises."""
    import numpy as np
    import pytest as _pytest

    from datalake_backend_spark.datapipe.multimodal import (
        decode_video_frame,
        encode_rawvideo,
        video_meta,
    )

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(5, 4, 6, 3), dtype=np.uint8)
    raw = encode_rawvideo(frames, fps=12)
    assert video_meta(raw) == (5, 4, 6, 12)
    for fi in range(5):
        assert (decode_video_frame(raw, fi) == frames[fi]).all()
    with _pytest.raises(ValueError):
        decode_video_frame(raw, 5)  # out of range
    with _pytest.raises(ValueError):
        decode_video_frame(raw[:30], 1)  # truncated
    with _pytest.raises(ValueError):
        video_meta(b"nope")


def test_sampled_frame_stats_samples_only(spark):
    """sampled_frame_stats emits one row per SAMPLED frame (stride 2)
    with exact sums; unsampled frames never appear."""
    from datalake_backend_spark.datapipe.multimodal import (
        sampled_frame_stats,
        synthetic_video_table,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    rows = sampled_frame_stats(synthetic_video_table(docs), every_n=2).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    for i in range(1, 7):
        n = 2 + i % 4
        assert sorted(by_id[i]) == list(range(0, n, 2))


def test_vocab_coverage_matches_single_window(spark):
    """Two-phase prefix cumulative equals the plain global window, the
    integer cut keeps exactly the tokens whose preceding mass is below
    target, and results are partition-invariant."""
    from pyspark.sql import Window

    from datalake_backend_spark.datapipe.text import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a a b b c d"), (2, "a b b e"), (3, "a c c f")],
        "doc_id long, text string",
    )
    # counts: a=6 b=4 c=3 d=1 e=1 f=1  (total 16)
    got = {
        (r.token, r.cnt, r.cum_before)
        for r in vocab_coverage(docs, coverage=(13, 16)).collect()
    }
    # cut: cum_before*16 < 16*13 → cum_before < 13 → a(0), b(6), c(10);
    # d (13) is out
    assert got == {("a", 6, 0), ("b", 4, 6), ("c", 3, 10)}

    for n in (1, 7):
        again = {
            (r.token, r.cnt, r.cum_before)
            for r in vocab_coverage(
                docs.repartition(n), coverage=(13, 16)
            ).collect()
        }
        assert again == got


def test_chunk_documents_windows(spark):
    """Window offsets, overlap, tail retention, and exact reassembly."""
    from datalake_backend_spark.datapipe.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # stride 2 over 10 tokens → starts 0,2,4,6,8 (tail kept)
    assert [(r.tok_start, r.tok_end) for r in c1] == [
        (0, 4), (2, 6), (4, 8), (6, 10), (8, 10)
    ]
    assert c1[0].chunk == "t0 t1 t2 t3"
    assert c1[-1].chunk == "t8 t9" and c1[-1].n_tokens == 2
    # doc shorter than one window → exactly one chunk
    assert [(r.tok_start, r.tok_end, r.chunk) for r in by_doc[2]] == [(0, 2, "a b")]
    assert [(r.chunk, r.n_tokens) for r in by_doc[3]] == [("solo", 1)]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_incremental_near_dup_equals_batch(spark):
    """Three ingest batches through the stored LSH index reproduce the
    from-scratch answer exactly — including a near-dup pair that
    STRADDLES two batches (the failure mode incrementality risks)."""
    from datalake_backend_spark.datapipe.dedup import (
        incremental_near_dup_minhash,
        near_dup_minhash,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely unrelated text about spark engines"),
        (4, "the quick brown fox leaps over the lazy dog"),  # near-dup of 1/2
        (5, "another unrelated document entirely here now"),
        (6, "completely unrelated text about spark engines"),  # dup of 3
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    batches = [
        docs.where(F.col("doc_id") <= 2),
        docs.where((F.col("doc_id") > 2) & (F.col("doc_id") <= 4)),
        docs.where(F.col("doc_id") > 4),
    ]
    kw = dict(threshold=0.75, bands=16, k=64)
    idx, got = None, set()
    for b in batches:
        pairs, new_idx = incremental_near_dup_minhash(b, docs, idx, **kw)
        got |= {(r.id_a, r.id_b) for r in pairs.collect()}
        idx = new_idx if idx is None else idx.unionByName(new_idx)
    want = {
        (r.id_a, r.id_b)
        for r in near_dup_minhash(docs, **kw).collect()
    }
    assert got == want
    assert (1, 4) in got and (2, 4) in got  # straddles batches 1 and 2
    assert (3, 6) in got                    # straddles batches 2 and 3


def test_negative_samples_deterministic_no_self(spark):
    """k negatives per anchor, never the anchor itself, identical
    across partitionings; distinct targets spread over the corpus."""
    from datalake_backend_spark.datapipe.sampling import negative_samples

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    out = negative_samples(docs, "doc_id", k=4).collect()
    assert len(out) == 80
    assert all(r.neg_id != r.doc_id for r in out)
    assert all(0 <= r.neg_id < 20 for r in out)
    again = {
        (r.doc_id, r.neg_idx, r.neg_id)
        for r in negative_samples(docs.repartition(7), "doc_id", k=4).collect()
    }
    assert again == {(r.doc_id, r.neg_idx, r.neg_id) for r in out}
    # sanity: draws are spread, not collapsed onto a few targets
    assert len({r.neg_id for r in out}) > 10

    import pytest as _pytest

    one = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError):
        negative_samples(one, "doc_id", k=2)


def test_resample_linear_identity_and_known_values():
    """Same-rate is identity; 2x upsampling interpolates midpoints
    exactly; downsampling halves length; stereo channels resample
    independently; non-decodable payloads pass through resample_audio
    untouched."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import resample_linear

    x = np.array([0, 100, -100, 50], dtype=np.int16)
    assert (resample_linear(x, 8000, 8000) == x).all()
    up = resample_linear(x, 8000, 16000)
    assert list(up) == [0, 50, 100, 0, -100, -25, 50]
    down = resample_linear(up, 16000, 8000)
    assert list(down) == [0, 100, -100, 50]  # round-trips on exact grid
    s = np.stack([x, (-x).astype(np.int16)], axis=1)
    us = resample_linear(s, 8000, 16000)
    assert (us[:, 0] == up).all() and (us[:, 1] == -up).all()


def test_resample_audio_passthrough_and_meta(spark):
    from datalake_backend_spark.datapipe.multimodal import (
        decode_wav,
        encode_wav,
        resample_audio,
    )
    import numpy as np

    wav = encode_wav(np.arange(100, dtype=np.int16), 8000)
    rows = [(1, bytearray(wav), ("audio/wav", None, None, 12, "pcm_s16le")),
            (2, bytearray(b"not audio"), ("application/octet-stream", None, None, None, "raw"))]
    df = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:bigint,codec:string>",
    )
    out = {r.media_id: r for r in resample_audio(df, 16000).collect()}
    arr, rate = decode_wav(bytes(out[1].payload))
    assert rate == 16000 and arr.shape[0] == 199
    assert out[1].meta.duration_ms == 199 * 1000 // 16000
    assert bytes(out[2].payload) == b"not audio"
    assert out[2].meta.duration_ms is None


def test_frame_diffs_known_transition(spark):
    """A hand-built two-scene video: tiny diffs within a scene, a huge
    flagged diff at the cut; non-video payloads are skipped."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        encode_rawvideo,
        frame_diffs,
    )

    a = np.zeros((2, 2, 2, 3), dtype=np.uint8)
    a[1] = 3  # scene 1, small motion
    b = np.full((2, 2, 2, 3), 200, dtype=np.uint8)  # scene 2
    frames = np.concatenate([a, b])
    rows = [(1, bytearray(encode_rawvideo(frames, 5))),
            (2, bytearray(b"nope"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.frame_idx: r for r in frame_diffs(df, threshold=50.0).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].sum_abs_diff == 3 * 12 and not out[1].is_scene_change
    assert out[2].sum_abs_diff == (200 - 3) * 12 and out[2].is_scene_change
    assert out[3].sum_abs_diff == 0
    assert all(r.media_id == 1 for r in out.values())


def test_lsh_max_bucket_caps_hot_buckets(spark):
    """A boilerplate cluster larger than max_bucket stops generating
    candidate pairs; normal-sized clusters are unaffected."""
    from datalake_backend_spark.datapipe.dedup import near_dup_minhash

    boiler = "this exact template appears on every single page verbatim"
    rows = [(i, boiler) for i in range(10)] + [
        (100, "a unique doc about spark"),
        (101, "a unique doc about spark"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = near_dup_minhash(docs, threshold=0.9).collect()
    assert len(uncapped) == 45 + 1  # C(10,2) boilerplate + the real pair
    capped = {
        (r.id_a, r.id_b)
        for r in near_dup_minhash(docs, threshold=0.9, max_bucket=5).collect()
    }
    assert capped == {(100, 101)}  # boilerplate bucket dropped whole


def test_sentences_segmentation(spark):
    from datalake_backend_spark.datapipe.text import sentences

    docs = spark.createDataFrame(
        [
            (1, "First one. Second two! Third three? Tail no punct"),
            (2, "Multi!!!  Spaces.   And... ellipsis ends."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.sentence, r.n_tokens) for r in sentences(docs).collect()
    }
    assert (1, "First one", 2) in got
    assert (1, "Tail no punct", 3) in got
    assert (2, "Multi", 1) in got and (2, "And", 1) in got
    assert (2, "ellipsis ends", 2) in got
    assert all(r[0] != 3 for r in got)  # empty doc yields nothing


def test_weighted_sample_semantics(spark):
    """Weight 0 keeps nothing, weight 1 keeps everything, a row's
    survival is monotone in its weight, and the draw is
    partition-invariant."""
    from datalake_backend_spark.datapipe.sampling import weighted_sample

    docs = spark.createDataFrame(
        [(i, 0.5) for i in range(200)], "doc_id long, w double"
    )
    zero = weighted_sample(docs.withColumn("w", F.lit(0.0)), "w")
    assert zero.count() == 0
    allr = weighted_sample(docs.withColumn("w", F.lit(1.0)), "w")
    assert allr.count() == 200

    half = {r.doc_id for r in weighted_sample(docs, "w").collect()}
    assert 60 < len(half) < 140  # ~Binomial(200, .5)
    # monotone: raising weights never evicts a surviving row
    more = {
        r.doc_id
        for r in weighted_sample(
            docs.withColumn("w", F.lit(0.8)), "w"
        ).collect()
    }
    assert half <= more
    again = {
        r.doc_id for r in weighted_sample(docs.repartition(7), "w").collect()
    }
    assert again == half


def test_leakage_safe_split_no_cluster_straddle(spark):
    """Splitting on the cluster id keeps every near-dup cluster whole
    — no cluster straddles two splits (per-doc splits do straddle)."""
    from datalake_backend_spark.datapipe.dedup import (
        cluster_near_dups,
        near_dup_minhash,
    )
    from datalake_backend_spark.datapipe.sampling import deterministic_split

    rows = []
    for c in range(30):  # 30 clusters of 3 near-identical docs
        base = f"cluster {c} shares this exact sentence body verbatim here"
        for j in range(3):
            rows.append((c * 10 + j, base))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    labels = cluster_near_dups(
        near_dup_minhash(docs, threshold=0.9).select("id_a", "id_b")
    )
    grouped = docs.select("doc_id").join(
        labels, docs.doc_id == labels.node, "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("g")
    )
    split = deterministic_split(
        grouped, "g", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    per_cluster = (
        split.groupBy("g")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r.n_splits == 1 for r in per_cluster)
    assert split.select("split").distinct().count() >= 2  # actually splits


def test_uncapped_hot_bucket_warns_but_keeps_rows(spark, caplog):
    """`cap_hot_buckets(max_bucket=None)` must keep EVERY row (capping
    changes recall; uncapped is the oracle-parity default) while making
    the quadratic hazard observable: a bucket larger than `warn_above`
    logs a WARNING once the plan executes (VERDICT r5 'no silent
    un-caps' ask)."""
    import logging
    import time

    from datalake_backend_spark.datapipe.dedup import cap_hot_buckets

    caplog.set_level(logging.WARNING, logger="datalake_backend_spark.datapipe.dedup")
    rows = [(i, 0, 42) for i in range(50)] + [(99, 1, 7)]
    banded = spark.createDataFrame(rows, "doc_id int, band int, bucket long")
    out = cap_hot_buckets(banded, None, warn_above=10)
    assert out.columns == ["doc_id", "band", "bucket"]
    assert out.count() == 51  # answers unchanged — observe only

    def _warned():
        return any("hot LSH bucket" in r.message for r in caplog.records)

    deadline = time.time() + 15
    while time.time() < deadline and not _warned():
        time.sleep(0.1)
    assert _warned(), "hot-bucket warning never fired"
    # capped path still filters, and small buckets stay silent
    assert cap_hot_buckets(banded, 10).count() == 1


def test_bloom_contamination_equals_exact(spark):
    """contamination_bloom must return EXACTLY what contamination
    returns (no false negatives by Bloom construction; false positives
    removed by the exact verify), while the filter itself behaves like
    a Bloom filter: all members hit, non-members mostly miss."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.datapipe.dedup import (
        _bloom_might_contain,
        build_bloom_filter,
        contamination,
        contamination_bloom,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(12)))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    ev = docs.where(F.col("doc_id") % 9 == 0)
    tr = docs.where(F.col("doc_id") % 9 != 0)
    exact = {
        (r.doc_id, r.n_shared_chunks)
        for r in contamination(tr, ev, window=4).collect()
    }
    bloom = {
        (r.doc_id, r.n_shared_chunks)
        for r in contamination_bloom(tr, ev, window=4, m_bits=1 << 12).collect()
    }
    assert bloom == exact and exact  # identical, non-trivial

    # filter behavior: members always hit; random non-members mostly miss
    m_bits, k = 1 << 14, 5
    members = spark.range(0, 500).select(F.col("id").alias("v"))
    bits = build_bloom_filter(members, "v", m_bits, k)
    flt = spark.createDataFrame([(bits,)], "_bloom array<long>")
    probe = (
        spark.range(0, 5000)
        .select(F.col("id").alias("v"))
        .crossJoin(F.broadcast(flt))
        .select(
            "v",
            _bloom_might_contain(F.col("_bloom"), F.col("v"), m_bits, k).alias("hit"),
        )
    )
    got = {r.v: r.hit for r in probe.collect()}
    assert all(got[v] for v in range(500))  # zero false negatives
    fp = sum(1 for v in range(500, 5000) if got[v]) / 4500
    assert fp < 0.05, fp  # 2^14 bits / 500 keys / 5 hashes -> tiny fpp


def test_remove_duplicate_spans(spark):
    """Lee-et-al substring dedup semantics (dedup.remove_duplicate_spans;
    oracle twin r141): a copied span is cut from the LATER doc only, an
    exact-duplicate doc empties, a within-doc repeat keeps its first
    occurrence, sub-k docs pass through whitespace-normalized."""
    from datalake_backend_spark.datapipe.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x y a b c d e f g h z"),  # embeds doc 1's first 8-gram
            (3, "short  doc"),  # < k, double space normalizes
            (4, "a b c d e f g h i j"),  # exact duplicate of doc 1
            (5, "p q r s t u v w p q r s t u v w"),  # self-repeat
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=8).collect()}
    assert out[1]["clean_text"] == "a b c d e f g h i j"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["n_tokens_removed"] == 8
    assert out[3]["clean_text"] == "short doc"
    assert out[4]["clean_text"] == "" and out[4]["n_tokens_kept"] == 0
    assert out[5]["clean_text"] == "p q r s t u v w"
    # overlapping duplicated spans merge: doc 6 repeats a 9-token run,
    # so two overlapping 8-gram spans must cut as ONE 9-token interval
    docs2 = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: r for r in remove_duplicate_spans(docs2, k=8).collect()
    }
    assert out2[2]["clean_text"] == "" and out2[2]["n_tokens_removed"] == 9


def test_ngram_lm_stats(spark):
    """Kneser-Ney ingredients (text.ngram_lm_stats; oracle twin r142):
    the hand corpus pins the 'frequent but low-continuation' case —
    'york' appears 3x but only ever follows 'new' (continuation 1),
    while 'the' follows 3 distinct lefts."""
    from datalake_backend_spark.datapipe.text import ngram_lm_stats

    docs = spark.createDataFrame(
        [
            (1, "new york is the city"),
            (2, "the new york paper"),
            (3, "in the new york"),
        ],
        "doc_id long, text string",
    )
    out = {r["w"]: r for r in ngram_lm_stats(docs).collect()}
    assert out["york"]["unigram_cnt"] == 3
    assert out["york"]["continuation_cnt"] == 1  # only 'new'
    assert out["the"]["continuation_cnt"] == 3  # is / <s> / in
    assert out["new"]["right_ctx_cnt"] == 1  # always 'york'
    assert out["in"]["continuation_cnt"] == 1  # <s> boundary counts


def test_lm_score_documents(spark):
    """CCNet-style LM scoring (text.lm_score_documents; oracle twin
    r144): a hand corpus where doc 3 is gibberish — every one of its
    transitions is corpus-hapax — while docs 1 and 2 share the
    'the cat sat' backbone and score high mean predictability."""
    from datalake_backend_spark.datapipe.text import lm_score_documents

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat sat down"),
            (3, "zxq qvw jjk"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_score_documents(docs).collect()}
    # n_bigrams = tokens + 1 (boundary pairs)
    assert out[1]["n_bigrams"] == 4
    assert out[2]["n_bigrams"] == 5
    assert out[3]["n_bigrams"] == 4
    # gibberish doc: every transition unique to it
    assert out[3]["novel_bigrams"] == 4
    # V = 8 right-words (the,cat,sat,down,zxq,qvw,jjk,</s>); Laplace:
    # doc1 = floor(3e9/11) [<s>→the, c12=2 c1=3] + floor(3e9/10)·2
    #        [the→cat, cat→sat] + floor(2e9/10) [sat→</s>, c12=1 c1=2]
    assert (
        out[1]["pred_score"]
        == 3 * 10**9 // 11 + 2 * (3 * 10**9 // 10) + 2 * 10**9 // 10
    )
    assert out[1]["mean_p_scaled"] == out[1]["pred_score"] // 4
    # ranking: fluent docs beat gibberish on the mean score
    assert out[3]["mean_p_scaled"] < out[1]["mean_p_scaled"]
    assert out[3]["mean_p_scaled"] < out[2]["mean_p_scaled"]


def test_tf_cosine_near_dups(spark):
    """Integer-exact tf-cosine detector (dedup.tf_cosine_near_dups;
    oracle twin r146): a one-word edit keeps the shared 8-token chunk
    and passes cosine 8/√72 ≈ 0.943 ≥ 0.8 via the cross-multiplied
    check; a full reorder has cosine 1.0 but no shared chunk — the
    documented blocking miss."""
    from datalake_backend_spark.datapipe.dedup import tf_cosine_near_dups

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h x"),
            (3, "p q r s t u v w"),
            (4, "h g f e d c b a"),  # reorder: cos=1, no shared chunk
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): r
        for r in tf_cosine_near_dups(docs, tau_num=4, tau_den=5).collect()
    }
    assert set(out) == {(1, 2)}
    assert out[(1, 2)]["dot"] == 8
    assert out[(1, 2)]["n2_a"] == 8
    assert out[(1, 2)]["n2_b"] == 9
    # tighter threshold drops the pair: 0.95² · 72 > 64
    none = tf_cosine_near_dups(docs, tau_num=19, tau_den=20).collect()
    assert none == []


def test_semantic_dedup_keep_one(spark):
    """SemDeDup (similarity.semantic_dedup; oracle twin r148): three
    copies of one direction and a near-copy form one semantic cluster
    keeping only the minimum id; the orthogonal vector is a kept
    singleton."""
    from datalake_backend_spark.datapipe.similarity import semantic_dedup

    base = [1.0] + [0.0] * 63
    near = [0.98, 0.2] + [0.0] * 62
    ortho = [0.0, 0.0, 1.0] + [0.0] * 61
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (9, ortho)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semantic_dedup(emb, threshold=0.9).collect()}
    assert out[1].keep and out[1].cluster_id == 1
    assert not out[2].keep and out[2].cluster_id == 1
    assert not out[3].keep and out[3].cluster_id == 1
    assert out[9].keep and out[9].cluster_id == 9


def test_nb_quality_score_generalizes_gate(spark):
    """CCNet-style token classifier (text.nb_quality_score; oracle
    twin r151): a doc the GATE labels bad but whose tokens are
    good-corpus tokens scores like the good docs — the classifier
    generalizes the heuristic instead of parroting it."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.datapipe.text import nb_quality_score

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", True),
            (2, "alpha beta delta", True),
            (3, "zz yy xx", False),
            (4, "alpha beta gamma", False),  # bad label, good tokens
        ],
        "doc_id long, text string, gate boolean",
    )
    out = {r.doc_id: r for r in nb_quality_score(docs, "gate").collect()}
    # alpha/beta: cg=2 ct=3 -> 600000; gamma: cg=1 ct=2 -> 500000;
    # zz/yy/xx: cg=0 ct=1 -> 333333
    assert out[1].mean_p_scaled == (600000 + 600000 + 500000) // 3
    assert out[4].mean_p_scaled == out[1].mean_p_scaled  # generalized
    assert out[3].mean_p_scaled == 333333
    assert out[4].mean_p_scaled > out[3].mean_p_scaled


def test_bm25_scores_hand_computed(spark):
    """Integer-rational BM25 (datapipe/text.py:bm25_scores; oracle twin
    r154) on a 3-doc corpus small enough to verify every factor by
    hand: idf half-bit quantization (round 13 — the quarter-bit form
    wrapped int64 past ~27.5k docs), the 44L/20L/6L/18dlN common-
    denominator tf algebra, and the (score desc, doc_id) tie-break."""
    from datalake_backend_spark.datapipe.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),          # dl=3, tf(cat)=2
            (2, "cat fish"),             # dl=2, tf(cat)=1
            (3, "fish fish fish dog"),   # dl=4, no cat
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.score_scaled for r in bm25_scores(docs, ["cat"]).collect()}
    # N=3, L=9, df(cat)=2 -> idf_q = bitlen(8^2 // 5^2) - 1
    #   = bitlen(64 // 25) - 1 = bitlen(2) - 1 = 1
    n, length, df = 3, 9, 2
    idf_q = (((2 * n + 2) ** 2) // ((2 * df + 1) ** 2)).bit_length() - 1
    assert idf_q == 1

    def score(tf, dl):
        return (idf_q * 44 * length * tf * 10**6) // (
            20 * length * tf + 6 * length + 18 * dl * n
        )

    assert out == {1: score(2, 3), 2: score(1, 2)}
    # saturation: doubling tf must NOT double the score
    assert out[1] < 2 * out[2]
    # longer doc with same tf scores lower (length normalization);
    # doc 3 keeps df < N — at df = N the half-bit idf correctly
    # quantizes Lucene's log(1 + 0.5/(N+0.5)) ~ 0.18 bits down to 0
    docs2 = spark.createDataFrame(
        [(1, "cat a b"), (2, "cat a b c d e"), (3, "x y z")],
        "doc_id long, text string",
    )
    o2 = {r.doc_id: r.score_scaled for r in bm25_scores(docs2, ["cat"]).collect()}
    assert o2[1] > o2[2]


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """Content-defined chunking (datapipe/dedup.py:cdc_chunk_stats;
    oracle twin r156): a prefix insertion shifts every token position,
    but because boundaries depend only on the local k-gram, the chunk
    stream re-synchronizes at the first boundary after the edit — the
    two documents share every chunk beyond it. Fixed-size blocks would
    share nothing."""
    import random

    from datalake_backend_spark.datapipe.dedup import cdc_chunk_stats

    rng = random.Random(7)
    body = " ".join(rng.choice("abcdefghij") + str(rng.randrange(50))
                    for _ in range(400))
    docs = spark.createDataFrame(
        [(1, body), (2, "inserted prefix tokens " + body)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cdc_chunk_stats(docs, k=4, divisor=8).collect()}
    # both docs carry many chunks, and almost all of doc 1's are shared
    assert out[1].n_chunks > 20
    assert out[1].n_shared_chunks >= out[1].n_chunks - 2
    assert out[2].n_shared_chunks >= out[1].n_chunks - 2
    # token accounting is exact
    assert out[1].n_chunk_tokens == 400
    assert out[2].n_chunk_tokens == 403
    # determinism under different partitioning
    again = {
        r.doc_id: r
        for r in cdc_chunk_stats(docs.repartition(5), k=4, divisor=8).collect()
    }
    assert {d: (v.n_chunks, v.n_shared_chunks) for d, v in again.items()} == {
        d: (v.n_chunks, v.n_shared_chunks) for d, v in out.items()
    }


def test_mix_with_temperature_source_cardinality_guard(spark, monkeypatch):
    """mix_with_temperature collects one row per DISTINCT source — a
    caller pointing source_col at a high-cardinality column (doc_id)
    must get a loud ValueError from a distributed probe, never a
    whole-table driver collect."""
    import pytest

    import datalake_backend_spark.datapipe.sampling as sampling_mod

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).alias("src")
    )
    monkeypatch.setattr(sampling_mod, "_MAX_SOURCES", 3)
    with pytest.raises(ValueError, match="distinct"):
        sampling_mod.mix_with_temperature(df, "doc_id", "doc_id")
    # a genuine low-cardinality source column still mixes
    assert sampling_mod.mix_with_temperature(df, "src", "doc_id").count() > 0


def test_build_bloom_filter_m_bits_cap(spark):
    """build_bloom_filter materializes m_bits/64 longs on the driver;
    an absurd m_bits must raise before any job runs."""
    import pytest

    from datalake_backend_spark.datapipe.dedup import build_bloom_filter

    df = spark.range(3).select(F.col("id"))
    with pytest.raises(ValueError, match="driver"):
        build_bloom_filter(df, "id", m_bits=1 << 40)
    assert len(build_bloom_filter(df, "id", m_bits=1 << 10)) == (1 << 10) // 64


def test_random_projection_matches_formula_and_stays_mapside(spark):
    """JL projection (datapipe/similarity.py:random_projection; oracle
    twin r177): coordinates equal a driver-side recomputation of the
    arithmetic sign matrix, and the plan has NO shuffle — pure
    per-row codegen arithmetic."""
    import math

    from datalake_backend_spark.datapipe.similarity import random_projection

    vecs = [(1, [0.5, -1.25, 2.0]), (2, [0.0, 3.5, -0.75])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    out = {r.vec_id: r for r in random_projection(df, k=2, scale=6).collect()}

    def sign(i, j):
        m = 1009 * i + j + 7
        return 1 if (m * m * m) % 1000003 % 2 == 0 else -1

    for vid, v in vecs:
        for j in range(2):
            want = sum(
                sign(i, j) * math.floor(float(x) * 10**6)
                for i, x in enumerate(v)
            )
            assert out[vid][f"y{j}"] == want, (vid, j)
    plan = (
        random_projection(df, k=2)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_random_projection_large_dim_no_int64_overflow(spark):
    """At d >= ~2080 the raw sign formula's m³ exceeds int64 (m =
    1009·i + j + 7 ≈ 4.1e6 at i = 4095 → m³ ≈ 7e19 > 9.2e18): Spark
    would silently WRAP in non-ANSI mode and the DuckDB twin errors.
    The fix reduces m modulo the prime BEFORE cubing ((m mod p)³ mod
    p == m³ mod p), so a d = 4096 vector must match the unbounded-int
    Python ground truth bit-for-bit — pre-fix this mismatched."""
    import math

    from datalake_backend_spark.datapipe.similarity import random_projection

    d = 4096
    # ±0.5 steps are exact in float32 → no cast noise in the floor
    vec = [((i % 7) - 3) * 0.5 for i in range(d)]
    df = spark.createDataFrame(
        [(1, vec)], "vec_id int, embedding array<float>"
    )
    row = random_projection(df, k=2, scale=6).collect()[0]

    def sign(i, j):
        m = 1009 * i + j + 7  # unbounded Python int: exact m³ mod p
        return 1 if (m * m * m) % 1000003 % 2 == 0 else -1

    for j in range(2):
        want = sum(
            sign(i, j) * math.floor(x * 10**6) for i, x in enumerate(vec)
        )
        assert row[f"y{j}"] == want, j


def test_quality_budget_keep_boundary_semantics(spark):
    """Nucleus curation (datapipe/sampling.py:quality_budget_keep;
    oracle twin r191): keep while strictly-better mass is below the
    budget — the row LANDING on the boundary is dropped only when the
    budget is exactly consumed, ties order by id, and pct=100 keeps
    everything."""
    import pytest

    from datalake_backend_spark.datapipe.sampling import quality_budget_keep

    rows = [("g", 1, 50.0), ("g", 2, 30.0), ("g", 3, 20.0),
            ("h", 4, 10.0), ("h", 5, 10.0)]
    df = spark.createDataFrame(rows, "grp string, id int, score double")
    kept = {
        r.id
        for r in quality_budget_keep(df, "grp", "score", "id", 80).collect()
    }
    # g: cum_before 0, 50, 80 -> 80*100 < 80*100 is false -> id 3 drops
    # h: tie at 10.0 orders by id; cum_before 0, 10 -> both kept (<16)
    assert kept == {1, 2, 4, 5}
    all_kept = quality_budget_keep(df, "grp", "score", "id", 100).count()
    assert all_kept == 5
    with pytest.raises(ValueError, match="budget_pct"):
        quality_budget_keep(df, "grp", "score", "id", 0)


def test_phrase_occurrences_overlaps_and_boundaries(spark):
    """phrase_occurrences (datapipe/text.py; r216): counts overlapping
    occurrences, respects token boundaries (no substring matches), and
    drops docs without the phrase."""
    from datalake_backend_spark.datapipe.text import phrase_occurrences

    rows = [
        (1, "a b a b a"),      # "a b" twice
        (2, "aa b a bb"),      # substrings only -> no match
        (3, "a a b"),          # once
        (4, "b a"),            # wrong order
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.n_occurrences for r in phrase_occurrences(df, "a b").collect()}
    assert got == {1: 2, 3: 1}


def test_phrase_occurrences_three_tokens(spark):
    """Three-token phrase joins two gaps; 'a a a a' contains 'a a a' twice."""
    from datalake_backend_spark.datapipe.text import phrase_occurrences

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b a")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.n_occurrences for r in phrase_occurrences(df, "a a a").collect()}
    assert got == {1: 2}
