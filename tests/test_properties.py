"""Property tests (SURVEY §5.2 item 4) via hypothesis.

Driven on driver-side generated rows, executed on Spark: idempotence of
the cleaning kernel, explode∘re-nest identity, sessionization
conservation laws.
"""

from __future__ import annotations

import math

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from datalake_backend_spark.core.cleaning import apply_null_defaults, clean_strings
from datalake_backend_spark.operators.renest import renest_frames
from datalake_backend_spark.operators.sessionize import session_summary, sessionize

# hypothesis drives a local SparkSession — keep examples few and shapes
# small: each example is a Spark job.
FAST = settings(max_examples=10, deadline=None)

texts = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Zs")), max_size=12
    ),
)


@FAST
@given(st.lists(st.tuples(texts, st.integers(-5, 5)), min_size=1, max_size=8))
def test_cleaning_idempotent_property(spark, rows):
    df = spark.createDataFrame(rows, "s string, n int")
    clean = lambda d: apply_null_defaults(clean_strings(d), {"s": "dflt"})
    once = sorted(map(tuple, clean(df).collect()))
    twice = sorted(map(tuple, clean(clean(df)).collect()))
    assert once == twice


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(-99, 99)),
        min_size=1,
        max_size=12,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_renest_explode_roundtrip(spark, rows):
    """explode(renest(df)) returns exactly the original rows."""
    df = spark.createDataFrame(rows, "frame int, seq int, val int")
    nested = renest_frames(df, ["frame"], ["seq", "val"], ["seq"])
    back = nested.select("frame", F.explode("detections").alias("d")).select(
        "frame", "d.seq", "d.val"
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@FAST
@given(
    st.lists(st.booleans(), min_size=2, max_size=14),
)
def test_sessionize_conservation(spark, states):
    """Session count == number of inactive→active transitions; active +
    inactive seconds == total span (Δt attribution is a partition of
    the timeline)."""
    rows = [("e", float(i), s) for i, s in enumerate(states)]
    df = spark.createDataFrame(rows, "id string, t double, a boolean")
    sessions = sessionize(df, ["id"], "t", "a").collect()
    expected_sessions = sum(
        1
        for i, s in enumerate(states)
        if s and (i == 0 or not states[i - 1])
    )
    assert len(sessions) == expected_sessions

    summary = session_summary(df, ["id"], "t", "a").collect()[0]
    span = float(len(states) - 1)
    assert abs(summary.active_seconds + summary.inactive_seconds - span) < 1e-9
    assert summary.became_active == expected_sessions - (1 if states[0] else 0)


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.one_of(st.none(), st.sampled_from("abc"))),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(st.integers(0, 7), st.one_of(st.none(), st.sampled_from("abc"))),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
def test_scd2_invariants_property(spark, current_rows, change_rows):
    """SCD2 invariants under arbitrary (incl. NULL) compare values:
    every change key ends with exactly one open version carrying the
    change's value; re-applying the same changes is a no-op."""
    import datetime

    from datalake_backend_spark.operators.merge import scd2_apply

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 6, 1)
    current = spark.createDataFrame(
        [(k, v, t0, None) for k, v in current_rows],
        "id int, attr string, effective_from timestamp, effective_to timestamp",
    )
    changes = spark.createDataFrame(change_rows, "id int, attr string")
    merged = scd2_apply(current, changes, ["id"], ["attr"], ts=F.lit(t1))
    rows = merged.collect()
    open_by_key = {}
    for r in rows:
        if r.effective_to is None:
            open_by_key.setdefault(r.id, []).append(r.attr)
    for k, v in change_rows:
        assert open_by_key.get(k) == [v], (k, v, open_by_key.get(k))
    # keys only in current keep exactly one open version
    change_keys = {k for k, _ in change_rows}
    for k, v in current_rows:
        if k not in change_keys:
            assert open_by_key.get(k) == [v]
    # idempotent re-apply
    again = scd2_apply(merged, changes, ["id"], ["attr"], ts=F.lit(t1))
    assert sorted(map(tuple, again.collect()), key=repr) == sorted(
        map(tuple, rows), key=repr
    )


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_cluster_near_dups_matches_union_find(spark, edges):
    """Min-label propagation equals a reference union-find on random
    edge lists: same node set, same component partition, cluster_id is
    the component minimum. Checked on the one-task path (the default at
    this size) and on the distributed loop, with and without the
    large-star/small-star fallback."""
    from unittest import mock

    from datalake_backend_spark.core import onetask
    from datalake_backend_spark.datapipe.dedup import cluster_near_dups

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    expected: dict[int, int] = {}
    for n in parent:
        root = find(n)
        expected[root] = min(expected.get(root, n), n)
    want = {n: expected[find(n)] for n in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    one_task = {r.node: r.cluster_id for r in cluster_near_dups(df).collect()}
    assert one_task == want
    with mock.patch.object(onetask, "_LOCAL_ROWS", -1):
        got = {r.node: r.cluster_id for r in cluster_near_dups(df).collect()}
        assert got == want
        # star_after=0 forces the large-star/small-star fallback on the
        # same random graph — both algorithms must agree with union-find
        star = {
            r.node: r.cluster_id
            for r in cluster_near_dups(df, star_after=0).collect()
        }
        assert star == want


@given(
    st.integers(1, 40),   # frames
    st.integers(1, 3),    # channels
    st.sampled_from([8000, 16000, 44100]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=30, deadline=None)
def test_wav_roundtrip_property(frames, ch, rate, seed):
    """encode_wav → decode_wav is the identity for any int16 content,
    channel count, and rate."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32767, size=(frames, ch), dtype=np.int16)
    arr, got_rate = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate
    assert arr.shape == (frames, ch)
    assert (arr == samples).all()


@given(st.integers(1, 12), st.integers(1, 10), st.integers(0, 2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_image_codec_roundtrip_property(w, h, seed):
    """PPM and BMP byte codecs are exact inverses for any pixel
    content and any dims (including widths needing BMP row padding)."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_image(encode_ppm(img)) == img).all()
    assert (decode_image(encode_bmp(img)) == img).all()


@given(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1))
@settings(max_examples=50, deadline=None)
def test_zorder_key_is_injective_and_bounded(x, y):
    """Morton interleave: exact round-trip (deinterleave recovers x, y)
    and the key stays within 32 bits for 16-bit inputs."""
    def spread(v):
        v &= 0xFFFF
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v

    z = spread(x) | (spread(y) << 1)

    def unspread(v):
        v &= 0x55555555
        v = (v | (v >> 1)) & 0x33333333
        v = (v | (v >> 2)) & 0x0F0F0F0F
        v = (v | (v >> 4)) & 0x00FF00FF
        v = (v | (v >> 8)) & 0x0000FFFF
        return v

    assert unspread(z) == x and unspread(z >> 1) == y
    assert z < 2**32


@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.text("ab", max_size=2),
                  st.one_of(st.none(), st.floats(-10, 10, allow_nan=False))),
        max_size=12,
    ),
    st.lists(
        st.tuples(st.integers(0, 15), st.text("ab", max_size=2),
                  st.one_of(st.none(), st.floats(-10, 10, allow_nan=False))),
        max_size=12,
    ),
)
@settings(max_examples=15, deadline=None)
def test_cdc_roundtrip_property(spark, old_rows, new_rows):
    """apply_changelog(old, snapshot_diff(old, new, include_values))
    == new for ARBITRARY keyed frames (dedup by key first — snapshots
    are keyed tables)."""
    from datalake_backend_spark.operators.merge import (
        apply_changelog,
        snapshot_diff,
    )

    dd = lambda rows: {k: (k, s, v) for k, s, v in rows}
    old = list(dd(old_rows).values())
    new = list(dd(new_rows).values())
    schema = "k int, s string, v double"
    odf = spark.createDataFrame(old, schema) if old else spark.createDataFrame([], schema)
    ndf = spark.createDataFrame(new, schema) if new else spark.createDataFrame([], schema)
    ch = snapshot_diff(odf, ndf, ["k"], ["s", "v"], include_values=True)
    applied = {tuple(r) for r in apply_changelog(odf, ch, ["k"]).collect()}
    assert applied == {tuple(r) for r in ndf.collect()}


@FAST
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=60),
    st.integers(2, 10),
)
def test_heavy_hitters_equals_group_by(spark, values, k):
    """heavy_hitters == plain GROUP BY ... HAVING for random value
    streams, thresholds, and partitionings."""
    from datalake_backend_spark.operators.distributions import heavy_hitters

    min_share = 1.0 / k
    df = spark.createDataFrame([(v,) for v in values], "value string").repartition(3)
    got = {
        (r.value, r.cnt)
        for r in heavy_hitters(df, "value", min_share=min_share).collect()
    }
    import math

    thr = math.ceil(len(values) * min_share)
    want = {
        (r.value, r.cnt)
        for r in df.groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= thr)
        .collect()
    }
    assert got == want


@FAST
@given(
    st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "x", "yy"]), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    ),
    st.integers(2, 8),
    st.integers(0, 6),
)
def test_chunking_reassembly_property(spark, docs, chunk, overlap_raw):
    """Every token lands in ≥1 chunk; with overlap=0 concatenating the
    chunks reproduces the document exactly; offsets tile correctly."""
    from datalake_backend_spark.datapipe.text import chunk_documents

    overlap = min(overlap_raw, chunk - 1)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, toks in enumerate(docs):
        cs = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        stride = chunk - overlap
        assert [r.tok_start for r in cs] == [j * stride for j in range(len(cs))]
        assert cs[-1].tok_end == len(toks)  # tail covered
        covered = set()
        for r in cs:
            covered |= set(range(r.tok_start, r.tok_end))
            assert r.chunk == " ".join(toks[r.tok_start : r.tok_end])
        assert covered == set(range(len(toks)))
        if overlap == 0:
            assert " ".join(r.chunk for r in cs) == " ".join(toks)


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from("ab")),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    st.lists(st.tuples(st.integers(0, 500), st.integers(-3, 3)), max_size=6),
)
def test_data_skipping_equals_full_filter(spark, tmp_path_factory, rows, pred_seed):
    """read_where == read().where(...) for random tables and random
    conjunctive predicates — pruning must never change results."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    tbl = VersionedTable(str(tmp_path_factory.mktemp("sk") / "t"))
    df = spark.createDataFrame(rows, "k int, s string").repartition(3)
    tbl.commit(df)
    preds = [("k", op, base + d) for (base, d), op in
             zip(pred_seed, ["<", ">=", "=", "<=", ">", "="])][:3]
    if not preds:
        preds = [("k", ">=", 0)]
    got = sorted(map(tuple, tbl.read_where(spark, preds).collect()))
    full = tbl.read(spark)
    col_ops = {"=": lambda c, v: c == v, "<": lambda c, v: c < v,
               "<=": lambda c, v: c <= v, ">": lambda c, v: c > v,
               ">=": lambda c, v: c >= v}
    for c, op, v in preds:
        full = full.where(col_ops[op](F.col(c), F.lit(v)))
    assert got == sorted(map(tuple, full.collect()))


@FAST
@given(
    st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 30)),
        min_size=1,
        max_size=10,
    ),
    st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 30), st.integers(0, 99)),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from(["backward", "forward", "nearest"]),
)
def test_asof_join_matches_bruteforce(spark, lefts, rights, direction):
    """All three directions against a brute-force reference, including
    duplicate timestamps and same-timestamp inclusivity."""
    from datalake_backend_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(lefts)],
        "lid int, k string, t double",
    )
    # dedupe right (k, rt) pairs: multiple right rows at one instant
    # have no defined winner in any asof semantics
    seen = {}
    for k, t, v in rights:
        seen[(k, t)] = v
    right = spark.createDataFrame(
        [(k, float(t), v) for (k, t), v in seen.items()],
        "k string, rt double, v int",
    )
    got = {
        r.lid: r.v
        for r in asof_join(
            left, right, "k", "t", "rt", direction=direction
        ).collect()
    }

    def brute(k, t):
        rs = [(rt, v) for (rk, rt), v in seen.items() if rk == k]
        back = [(rt, v) for rt, v in rs if rt <= t]
        fwd = [(rt, v) for rt, v in rs if rt >= t]
        b = max(back, default=None)
        f = min(fwd, default=None)
        if direction == "backward":
            pick = b
        elif direction == "forward":
            pick = f
        else:
            if b is None:
                pick = f
            elif f is None:
                pick = b
            else:
                pick = f if (f[0] - t) < (t - b[0]) else b
        return pick[1] if pick else None

    for i, (k, t) in enumerate(lefts):
        assert got[i] == brute(k, float(t)), (i, k, t, direction)


@given(
    st.integers(1, 3),          # h blocks-ish small dims
    st.integers(1, 3),
    st.integers(40, 98),        # quality
    st.integers(0, 2**31 - 1),  # pixel seed
)
@settings(max_examples=15, deadline=None)
@example(hb=1, wb=1, quality=40, seed=0)  # once-failing low-quality case
def test_jpeg_roundtrip_bounded_error(hb, wb, quality, seed):
    """Baseline JPEG fuzz: ANY small RGB image encodes to a parseable
    bitstream and decodes to the same shape with bounded MEAN error
    (saturated random noise legitimately produces per-pixel chroma
    errors >100 at low quality — that's real JPEG, so the max is only
    a sanity bound), and re-encoding the decoded image drifts less
    than the first pass (approach to the codec's fixed point)."""
    import numpy as np

    from datalake_backend_spark.datapipe.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    h, w = 3 + 7 * hb, 2 + 9 * wb  # deliberately non-multiples of 8
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality))
    assert dec.shape == img.shape and dec.dtype == np.uint8
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() <= 48, (quality, err.mean())
    # second pass drifts no more than the first (stability)
    dec2 = decode_jpeg(encode_jpeg(dec, quality))
    err2 = np.abs(dec2.astype(int) - dec.astype(int))
    assert err2.mean() <= err.mean() + 1, (quality, err.mean(), err2.mean())


@given(
    st.lists(st.integers(0, 2**7 - 1), min_size=3, max_size=3),
    st.lists(st.integers(0, 2**7 - 1), min_size=3, max_size=3),
)
@settings(max_examples=25, deadline=None)
def test_zorder_3d_is_injective(a, b):
    """n-d Morton interleave: distinct 3-d points map to distinct keys
    (bit j of col i at position j*n+i is invertible), and the key is
    bounded by bits*n."""
    def key(p, bits=7, n=3):
        out = 0
        for i, v in enumerate(p):
            v &= (1 << bits) - 1
            for j in range(bits):
                out |= ((v >> j) & 1) << (j * n + i)
        return out

    ka, kb = key(a), key(b)
    assert ka < (1 << 21) and kb < (1 << 21)
    assert (ka == kb) == (a == b)


# ---- codec + perceptual-hash properties (pure Python, no Spark jobs:
# generous example counts are cheap)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=2, max_value=8).flatmap(
        lambda mcs: st.tuples(
            st.just(mcs),
            st.lists(
                st.integers(min_value=0, max_value=(1 << mcs) - 1), max_size=600
            ),
        )
    )
)
@example(case=(2, [1, 1, 2, 0, 2, 1, 0, 0, 3, 0, 1]))  # end-of-stream
# width-transition desync: table fills to 2^width on the LAST assignment,
# so the final-code+EOI tail must be emitted at the post-bump width.
def test_lzw_roundtrip_property(case):
    from datalake_backend_spark.datapipe.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )
    import numpy as np

    mcs, idx = case
    arr = np.array(idx, dtype=np.int64)
    assert _lzw_decode(_lzw_encode(arr, mcs), mcs) == bytes(
        arr.astype(np.uint8)
    )


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=9, max_value=40),
    st.integers(min_value=0, max_value=2**31),
)
def test_gif_roundtrip_property(h, w, seed):
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        decode_image,
        encode_gif,
    )

    rng = np.random.default_rng(seed)
    # <=256 colors by construction
    pal = rng.integers(0, 256, (rng.integers(1, 257), 3), dtype=np.uint8)
    img = pal[rng.integers(0, len(pal), (h, w))]
    assert np.array_equal(decode_image(encode_gif(img)), img)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=8, max_value=50),
    st.integers(min_value=9, max_value=50),
    st.integers(min_value=0, max_value=2**31),
)
def test_dhash_matches_float_reference_property(h, w, seed):
    """The integer cross-multiplied comparison equals the exact
    block-mean definition on arbitrary dims (ragged grids included).
    The reference uses Fraction means — a float reference would itself
    mis-order exact ties on unequal-size blocks."""
    from fractions import Fraction

    import numpy as np

    from datalake_backend_spark.datapipe.phash import dhash64

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    hi, lo = dhash64(img)
    luma = img.astype(np.int64).sum(axis=2)
    rb = [(i * h) // 8 for i in range(9)]
    cb = [(j * w) // 9 for j in range(10)]
    exp_hi = exp_lo = 0
    for i in range(8):
        for j in range(8):
            bl = luma[rb[i] : rb[i + 1], cb[j] : cb[j + 1]]
            br = luma[rb[i] : rb[i + 1], cb[j + 1] : cb[j + 2]]
            a = Fraction(int(bl.sum()), bl.size)
            b = Fraction(int(br.sum()), br.size)
            if a < b:
                idx = i * 8 + j
                if idx < 32:
                    exp_lo |= 1 << idx
                else:
                    exp_hi |= 1 << (idx - 32)
    assert (hi, lo) == (exp_hi, exp_lo)


@settings(max_examples=40, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_normalize_and_redact_idempotent(spark, s):
    """normalize_text and redact_pii are idempotent: applying either
    twice equals applying it once (the property that makes re-running
    a cleaning pipeline safe), for ANY input string including ones
    containing the replacement placeholders themselves."""
    from datalake_backend_spark.datapipe.text import (
        normalize_text,
        redact_pii,
    )

    df = spark.createDataFrame([(s,)], "text string")
    n1 = normalize_text(df).collect()[0].text
    n2 = normalize_text(
        spark.createDataFrame([(n1,)], "text string")
    ).collect()[0].text
    assert n2 == n1

    r1 = redact_pii(df).collect()[0].text
    r2 = redact_pii(
        spark.createDataFrame([(r1,)], "text string")
    ).collect()[0].text
    assert r2 == r1


@given(st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=60))
@example([1, -1, 1, -1, 1])
@example([-5, -5, -5])
def test_cusum_prefix_min_identity(deltas):
    """The window rewrite inside cusum_stats relies on the identity
    S_i = R_i − min(0, min_{j≤i} R_j) for the clamped recursion
    S_i = max(0, S_{i−1} + d_i) — pure integer math, so property-check
    it directly against the recursion for arbitrary deviation
    sequences (the Spark side is pinned separately by
    test_cusum_stats_matches_reference_recursion)."""
    s = 0
    recursion = []
    for d in deltas:
        s = max(0, s + d)
        recursion.append(s)
    r = 0
    mn = 0
    identity = []
    for d in deltas:
        r += d
        mn = min(mn, r)
        identity.append(r - min(0, mn))
    assert identity == recursion


@given(
    st.lists(
        st.lists(st.integers(0, 12), min_size=1, max_size=10),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([(1, 2), (2, 3), (4, 5)]),
)
def test_ppjoin_filters_never_lose_a_true_pair(corpus, tau):
    """Soundness of the PPJoin candidate rules in set_similarity_join
    (prefix pigeonhole + length filter + positional filter with
    OR-over-match-rows): pure-Python mirror over arbitrary small
    corpora — every pair with Jaccard ≥ num/den must survive candidate
    generation. The filters may only ever ADD work (false candidates),
    never drop a qualifying pair."""
    import math
    from collections import Counter

    num, den = tau
    sets = [sorted(set(toks)) for toks in corpus]
    df_count = Counter(t for s in sets for t in s)
    ordered = [
        sorted(s, key=lambda t: (df_count[t], t)) for s in sets
    ]

    def prefix(o):
        n = len(o)
        return o[: n - math.ceil(n * num / den) + 1]

    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            sa, sb = set(sets[a]), set(sets[b])
            inter = len(sa & sb)
            union = len(sa | sb)
            if inter * den < num * union:
                continue  # not a true pair
            na, nb = len(sets[a]), len(sets[b])
            # length filter must pass for a qualifying pair
            assert max(na, nb) * num <= min(na, nb) * den
            # some shared PREFIX token must pass the positional bound
            pa = {t: i + 1 for i, t in enumerate(prefix(ordered[a]))}
            pb = {t: i + 1 for i, t in enumerate(prefix(ordered[b]))}
            shared = set(pa) & set(pb)
            assert shared, "prefix pigeonhole violated"
            ok = any(
                (1 + min(na - pa[t], nb - pb[t])) * (num + den)
                >= num * (na + nb)
                for t in shared
            )
            assert ok, "positional filter dropped a qualifying pair"


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=8),
    st.integers(1, 50),
)
@settings(max_examples=15, deadline=None)
def test_apportionment_invariants(spark, weights, seats):
    """Both apportionment methods (r237/r251): totals equal the seat
    count exactly, every key appears, and largest-remainder respects
    quota (each key within 1 of its exact proportional share) —
    for ANY weights with a positive total."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.allocation import (
        apportion_dhondt,
        apportion_largest_remainder,
    )

    if sum(weights) == 0:
        weights = [w + 1 for w in weights]
    rows = [(f"k{i:02d}", w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "k string, wt int")
    total = sum(weights)
    lr = {r.k: r.seats_alloc for r in
          apportion_largest_remainder(df, "k", "wt", seats).collect()}
    assert sum(lr.values()) == seats and len(lr) == len(rows)
    for (k, w) in rows:
        quota = seats * w / total
        assert math.floor(quota) <= lr[k] <= math.ceil(quota), (k, quota, lr)
    dh = {r.k: r.seats_alloc for r in
          apportion_dhondt(df, "k", "wt", seats).collect()}
    assert sum(dh.values()) == seats and len(dh) == len(rows)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.booleans()),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None)
def test_kaplan_meier_monotone_and_counts(spark, obs):
    """kaplan_meier (operators/survival.py; r231): survival is
    non-increasing in t, starts ≤ 1, event counts sum to the input's
    event total, and at_risk at the first step equals n."""
    from datalake_backend_spark.operators.survival import kaplan_meier

    df = spark.createDataFrame(
        [(d, int(e)) for d, e in obs], "dur int, ev int"
    )
    rows = sorted(kaplan_meier(df, "dur", "ev").collect(),
                  key=lambda r: r.dur)
    n_events = sum(1 for _, e in obs if e)
    assert sum(r.d for r in rows) == n_events
    if rows:
        assert rows[0].at_risk <= len(obs)
        last = 1.0 + 1e-9
        for r in rows:
            assert r.survival <= last + 1e-9, rows
            last = r.survival


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 10),
)
@settings(max_examples=15, deadline=None)
def test_nearest_within_radius_equals_brute_force(spark, pts, radius):
    """nearest_within_radius (core/geometry.py; r234): the grid-
    blocked plan returns EXACTLY the brute-force argmin within the
    radius, for any point cloud — the blocking loses no pair."""
    from datalake_backend_spark.core.geometry import nearest_within_radius

    left = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "lid long, x long, y long",
    )
    right = spark.createDataFrame(
        [(1000 + i, y, x) for i, (x, y) in enumerate(pts)],
        "rid long, x long, y long",
    )
    got = {
        r.lid: (r.nearest_rid, r.dist2)
        for r in nearest_within_radius(
            left, right, radius, "lid", "rid"
        ).collect()
    }
    want = {}
    r2 = radius * radius
    for i, (x, y) in enumerate(pts):
        best = None
        for j, (xx, yy) in enumerate(pts):
            rx, ry = yy, xx
            d2 = (x - rx) ** 2 + (y - ry) ** 2
            if d2 <= r2 and (best is None or (d2, 1000 + j) < best):
                best = (d2, 1000 + j)
        if best is not None:
            want[i] = (best[1], best[0])
    assert got == want


@given(st.lists(st.integers(0, 500), min_size=1, max_size=60))
@settings(max_examples=10, deadline=None)
def test_kmv_merge_equals_oneshot(spark, ids):
    """kmv_state merge (operators/incremental.py; r254): splitting
    the ids into any two batches and merging the sketches equals the
    one-shot sketch — k-min mergeability for arbitrary inputs."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.distributions import kmv_distinct
    from datalake_backend_spark.operators.incremental import (
        finalize_kmv,
        kmv_state,
        merge_kmv_state,
    )

    df = spark.createDataFrame([(i,) for i in ids], "uid bigint")
    half = ids[len(ids) // 2] if ids else 0
    b1 = df.where(F.col("uid") <= half)
    b2 = df.where(F.col("uid") > half)
    k = 8
    parts = [b for b in (b1, b2) if not b.isEmpty()]
    state = kmv_state(parts[0], [], "uid", k=k)
    for b in parts[1:]:
        state = merge_kmv_state(state, kmv_state(b, [], "uid", k=k), [], k=k)
    merged = {tuple(r) for r in finalize_kmv(state, [], k=k).collect()}
    oneshot = {tuple(r) for r in kmv_distinct(df, "uid", k=k).collect()}
    assert merged == oneshot


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),  # key
            st.integers(-50, 50),  # order value (duplicates likely)
            st.integers(1, 9),  # summand
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=15, deadline=None)
def test_keyed_running_sum_equals_window(spark, rows):
    """keyed_running_sum (operators/ranking.py; round-12 scale fix,
    backs the mann-whitney/roc/spearman/median/quantile/gini/winsorize
    family): for ANY key/value/weight multiset — including duplicate
    (key, value) pairs, negative values, and single-row keys — the
    two-phase quantile-bucketed prefix sum must equal the plain
    per-key window cumulative row-for-row. Duplicate order values
    make the local window's intra-tie order engine-chosen, so the
    comparison aggregates to the per-(key, value) FINAL cumulative
    (the tie group's total), which is order-independent."""
    from pyspark.sql import Window

    from datalake_backend_spark.operators.ranking import keyed_running_sum

    df = spark.createDataFrame(rows, "k string, v bigint, w bigint")
    g = df.groupBy("k", "v").agg(F.sum("w").alias("w"))
    got = {
        (r.k, r.v): r.cum
        for r in keyed_running_sum(g, ["k"], ["v"], "w", out_col="cum").collect()
    }
    win = Window.partitionBy("k").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        (r.k, r.v): r.cum
        for r in g.withColumn("cum", F.sum("w").over(win)).collect()
    }
    assert got == want
