"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_to` — exact cosine against a broadcast query vector:
  one map stage (``zip_with`` + left-fold in double), no shuffle.
* :func:`brute_force_topk` — the exact baseline: map + global top-k
  (Spark's ``orderBy().limit(k)`` is a per-partition top-k followed by
  a k-row merge on the driver — O(n) work, O(k) result).
* :func:`lsh_assign` / :func:`lsh_topk` — the scale path: random
  hyperplane signs give a deterministic bucket key; search touches only
  the query's bucket. Recall trades with ``n_planes``.
* :func:`near_dup_pairs` — embedding near-dup: bucket self-join +
  exact cosine verify, same shape as MinHash-LSH candidates.

Hyperplanes are generated from a fixed LCG seed (pure Python, no
numpy dependency in the hot path) and inlined as literals — identical
plan on every run and cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — needed at module scope so pandas_udf
# type hints (stringified by the future import) resolve at decoration time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lcg(seed: int):
    """Deterministic minimal-standard LCG yielding floats in [-1, 1)."""
    state = seed % 2147483647 or 1
    while True:
        state = (state * 48271) % 2147483647
        yield state / 1073741823.5 - 1.0


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    gen = _lcg(seed)
    return [[next(gen) for _ in range(dim)] for _ in range(n_planes)]


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(col: Column, query: list[float]) -> Column:
    qlit = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(col, qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine_to(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    out_col: str = "cosine",
) -> DataFrame:
    """Exact cosine similarity of every row's vector to ``query``.

    JVM-side left fold — right for modest dims (≤ a few hundred) and
    when bit-exact cross-engine reproducibility matters."""
    v = _as_double_array(vec_col)
    qn = sum(float(x) * float(x) for x in query) ** 0.5
    return df.withColumn(out_col, dot(v, query) / (norm(v) * F.lit(qn)))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine (deterministic tie-break on id)."""
    scored = cosine_to(df, query, vec_col).select(id_col, "cosine")
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def lsh_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Sign-of-projection LSH bucket id (0 .. 2^n_planes-1)."""
    v = _as_double_array(vec_col)
    planes = random_hyperplanes(n_planes, dim, seed)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bucket = bucket + F.when(
            dot(v, p) >= 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return df.withColumn(out_col, bucket)


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket.

    At 100 TB the bucketed table is written partitioned by ``bucket``,
    so this prunes to one partition's files before scanning.
    """
    dim = len(query)
    planes = random_hyperplanes(n_planes, dim, seed)
    qbucket = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) >= 0:
            qbucket |= 1 << i
    assigned = lsh_assign(df, vec_col, n_planes, dim, seed)
    return brute_force_topk(
        assigned.where(F.col("bucket") == qbucket), query, k, vec_col, id_col
    )


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index: KMeans centroids over the corpus + per-vector list
    assignment. Returns (assigned_df with ``ivf_list`` column, centroids).

    The scale path writes ``assigned`` partitioned by ``ivf_list`` so a
    query scans only its probed lists' files. Training is distributed
    (pyspark.ml KMeans, deterministic seed); assignment is one map
    stage through the model.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("_fv", array_to_vector(_as_double_array(vec_col)))
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_fv", predictionCol="ivf_list"
    ).fit(feat)
    assigned = model.transform(feat).drop("_fv")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact cosine over only the ``nprobe`` IVF
    lists whose centroids are closest to the query."""
    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    probed = sorted(
        range(len(centroids)), key=lambda i: -cos(centroids[i], query)
    )[:nprobe]
    subset = assigned.where(F.col("ivf_list").isin(probed))
    return brute_force_topk(subset, query, k, vec_col, id_col)


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs: same-bucket self-join + exact
    cosine verification ≥ threshold."""
    v = _as_double_array(vec_col)
    assigned = lsh_assign(df, vec_col, n_planes, dim, seed).select(
        F.col(id_col), F.col("bucket"), v.alias("_v"), norm(v).alias("_n")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        (
            F.aggregate(
                F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col("a._n") * F.col("b._n"))
        ).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= threshold)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    codes_col: str = "codes",
) -> DataFrame:
    """Per-vector scalar quantization (the FAISS/ScaNN storage trick):
    each float vector becomes ``2^bits - 1``-level integer codes plus a
    (lo, scale) pair — int8 cuts vector storage and scan IO 4× at
    100 TB, which is usually the ANN bottleneck, at a small recall
    cost. Map-only; fully closed-form, so any engine reproduces the
    codes bit-for-bit (``round`` of identical doubles half-away-from-
    zero in both Spark and DuckDB for non-negative inputs).

    Constant vectors (lo == hi) get scale 0 and all-zero codes;
    :func:`dequantize_embeddings` maps those back to the constant."""
    levels = float(2**bits - 1)
    v = _as_double_array(F.col(vec_col))
    lo, hi = F.array_min(v), F.array_max(v)
    scale = (hi - lo) / F.lit(levels)
    codes = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round((x - lo) / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumns({codes_col: codes, "q_lo": lo, "q_scale": scale})


def dequantize_embeddings(
    df: DataFrame, codes_col: str = "codes", out_col: str = "dequant"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`:
    ``x' = lo + code * scale`` (exact double arithmetic, map-only)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(codes_col),
            lambda c: F.col("q_lo") + c.cast("double") * F.col("q_scale"),
        ),
    )


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    sample_size: int = 65536,
    iters: int = 25,
    restarts: int = 4,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split every vector into ``m``
    contiguous subvectors and train an independent KMeans codebook of
    ``k`` centroids per subspace. Returns ``codebooks[m][k][subdim]``.

    Scale shape: codebooks are trained on a BOUNDED deterministic
    sample (``sample_size`` vectors picked by xxhash64 order — Spark
    plans the orderBy+limit as TakeOrderedAndProject, a per-partition
    partial top-k, never a full sort), then all ``m`` subspace KMeans
    runs happen in ONE vectorized Lloyd's loop driver-side. Training
    cost is O(sample · k · dim), independent of corpus size — the same
    design FAISS uses (codebooks from a ~10⁵ sample, encode the full
    corpus distributedly). The previous formulation — m sequential
    pyspark.ml KMeans fits over the full corpus — was 8 multi-job
    cluster rounds for the same centroids (measured 10.2 s → ~1.3 s
    for the r101 registry row at sf=0.1).

    PQ is the storage tier below IVF: codes are ``m`` bytes per vector
    (vs ``4·dim`` for float32), so a 100 TB embedding corpus scans as
    ~m/(4·dim) of its raw bytes, and distance evaluation against a
    query is table lookups instead of float dot products."""
    v = _as_double_array(vec_col)
    pdf = (
        df.select(v.alias("v"), F.xxhash64(F.col(vec_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample_size)
        .toPandas()  # Arrow transfer — not row-at-a-time py4j
    )
    x = np.stack([np.asarray(a, dtype=np.float64) for a in pdf["v"]])
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    xs = x.reshape(n, m, sub)
    x2 = (xs**2).sum(axis=2)  # n × m

    def lloyd(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
        # kmeans++ init per subspace (D²-weighted greedy seeding)
        cb = np.empty((m, k, sub))
        for i in range(m):
            pts = xs[:, i]
            cb[i, 0] = pts[rng.integers(n)]
            d2 = ((pts - cb[i, 0]) ** 2).sum(axis=1)
            for j in range(1, k):
                tot = d2.sum()
                if tot <= 0:
                    cb[i, j] = pts[rng.integers(n)]
                    continue
                # clamp: tot is a pairwise sum, cumsum is sequential —
                # rng*tot can exceed cumsum[-1] by a few ulps and
                # searchsorted would then return n (out of range)
                cb[i, j] = pts[
                    min(
                        np.searchsorted(np.cumsum(d2), rng.random() * tot),
                        n - 1,
                    )
                ]
                d2 = np.minimum(d2, ((pts - cb[i, j]) ** 2).sum(axis=1))
        inertia = np.zeros(m)
        for _ in range(iters):
            # squared distances for ALL subspaces at once: n × m × k
            d = (
                x2[:, :, None]
                - 2.0 * np.einsum("nms,mks->nmk", xs, cb)
                + (cb**2).sum(axis=2)[None]
            )
            assign = d.argmin(axis=2)  # n × m
            inertia = d.min(axis=2).sum(axis=0)  # per-subspace
            new_cb = np.empty_like(cb)
            for i in range(m):
                counts = np.bincount(assign[:, i], minlength=k)
                sums = np.zeros((k, sub))
                np.add.at(sums, assign[:, i], xs[:, i])
                nonempty = counts > 0
                new_cb[i, nonempty] = sums[nonempty] / counts[nonempty, None]
                # empty cluster: re-seed on the worst-quantized point
                for j in np.flatnonzero(~nonempty):
                    new_cb[i, j] = xs[d[:, i].min(axis=1).argmax(), i]
            if np.allclose(new_cb, cb):
                break
            cb = new_cb
        return cb, inertia

    # multi-restart, best inertia kept independently PER SUBSPACE —
    # Lloyd's local optima are the whole quality story at small k
    best_cb, best_in = lloyd(np.random.default_rng(seed))
    for r in range(1, restarts):
        cb_r, in_r = lloyd(np.random.default_rng(seed + 7919 * r))
        better = in_r < best_in
        best_cb[better] = cb_r[better]
        best_in = np.minimum(best_in, in_r)
    return [[list(map(float, c)) for c in best_cb[i]] for i in range(m)]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Assign every subvector to its nearest codebook centroid:
    ``(id, array<int> of m codes)``. Arrow-vectorized over the batch
    (one argmin per subspace via numpy einsum) — map-only, no
    shuffle."""
    import pandas as pd

    cb = np.array(codebooks)  # m × k × sub
    m, _k, sub = cb.shape

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        # whole-batch vectorization: one einsum across every row and
        # subspace (no per-row Python loop over the Arrow batch)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs]).reshape(
            len(vecs), m, sub
        )
        d = (
            (x**2).sum(axis=2)[:, :, None]
            - 2.0 * np.einsum("bms,mks->bmk", x, cb)
            + (cb**2).sum(axis=2)[None]
        )
        codes = d.argmin(axis=2).astype("int32")  # b × m
        return pd.Series(list(codes))

    return df.select(
        id_col, encode(_as_double_array(vec_col)).alias(out_col)
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: precompute per-subspace
    lookup tables of ``dot(query_sub, centroid)`` and ``|centroid|²``,
    broadcast-join them to the exploded codes, and score
    ``Σdot / (|q|·sqrt(Σ|c|²))`` — the cosine between the query and the
    RECONSTRUCTED vector, evaluated entirely from the tiny LUT (the
    float vectors are never read). One broadcast join + one key
    aggregate; the LUT is m·k rows regardless of corpus size."""
    cb = np.array(codebooks)
    m, kk, sub = cb.shape
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q ** 2).sum()))
    qs = q.reshape(m, sub)
    lut_rows = [
        (
            i,
            c,
            float(qs[i] @ cb[i, c]),
            float((cb[i, c] ** 2).sum()),
        )
        for i in range(m)
        for c in range(kk)
    ]
    spark = codes_df.sparkSession
    lut = spark.createDataFrame(
        lut_rows, "sub int, code int, dot double, n2 double"
    )
    exploded = codes_df.select(
        id_col, F.posexplode(codes_col).alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("dot").alias("_d"), F.sum("n2").alias("_n"))
        .select(
            id_col,
            (F.col("_d") / (qn * F.sqrt(F.col("_n")))).alias("pq_cosine"),
        )
    )
    return scored.orderBy(F.desc("pq_cosine"), id_col).limit(k)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): drop documents that are SEMANTIC
    duplicates — same meaning in different words, which every lexical
    detector (MinHash/SimHash/tf-cosine/chunk overlap) misses by
    construction. Composition of audited pieces: hyperplane-LSH
    bucketed cosine pairs (:func:`near_dup_pairs` — candidates from
    bucket equi-joins, exact cosine verify, never all-pairs) →
    connected components (``dedup.cluster_near_dups``, min-label with
    the large-star fallback) → keep the minimum id per semantic
    cluster. The paper clusters with k-means and keeps one doc per
    low-variance neighborhood; the LSH formulation keeps the same
    keep-one-per-semantic-group contract while staying deterministic
    and cross-engine reproducible (pinned LCG planes).

    Returns one row per input vector: (id, cluster_id, keep) — keep is
    True exactly for each cluster's minimum id and for singletons, so
    ``df.join(out.where("keep"), id)`` is the deduplicated corpus and
    ``1 - avg(keep)`` is the semantic duplication rate.
    """
    from datalake_backend_spark.datapipe.dedup import cluster_near_dups

    pairs = near_dup_pairs(
        df, threshold, vec_col=vec_col, id_col=id_col,
        n_planes=n_planes, dim=dim, seed=seed,
    )
    labels = cluster_near_dups(pairs.select("id_a", "id_b"))
    return (
        df.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("cluster_id", F.col("node")).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col("node")) == F.col("node")).alias(
                "keep"
            ),
        )
    )


def random_projection(
    df: DataFrame,
    k: int = 4,
    scale: int = 6,
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas' database-friendly projections — public
    literature): each output coordinate is ``y_j = Σ_i sign(i,j) ·
    floor(v_i · 10^scale)``, an INTEGER dot product with a fixed
    pseudo-random sign pattern, so the projection is a bit-exact
    function of the vector in any engine (floor of identical doubles,
    integer sums) while preserving pairwise distances in expectation —
    the cheap precursor to LSH/IVF when the raw dimension is the cost
    driver.

    The sign matrix is arithmetic, not a library RNG, so any engine
    reproduces it: ``m = 1009·i + j + 7``; ``sign = +1`` iff
    ``(m³ mod 1000003)`` is even (cubing modulo a prime breaks the
    parity regularity a plain linear form would have). ``m`` is
    reduced modulo the prime BEFORE cubing — ``(m mod p)³ mod p ==
    m³ mod p``, and ``(p−1)³ ≈ 1.0·10¹⁸`` stays inside int64 for ANY
    dimension, whereas a raw ``m³`` overflows at d ≳ 2080 (Spark
    would silently wrap in non-ANSI mode; DuckDB errors).

    Scale shape: pure per-row column arithmetic inside whole-stage
    codegen — zero shuffles, zero UDFs; cost is O(d·k) per row, the
    JL price itself. Returns ``keep_cols`` (default: everything but
    the vector) plus ``y0..y{k-1}`` bigints."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keep = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != vec_col
    ]
    factor = 10**scale
    outs = []
    for j in range(k):
        # reduce mod the prime BEFORE cubing: int64-safe for any d
        m = f"pmod(1009L * CAST(i AS BIGINT) + {j}L + 7L, 1000003L)"
        outs.append(
            F.expr(
                f"aggregate(transform({vec_col}, (x, i) -> "
                f"(CASE WHEN pmod({m} * {m} * {m}, 1000003L) % 2 = 0 "
                f"THEN 1L ELSE -1L END)"
                f" * CAST(FLOOR(CAST(x AS DOUBLE) * {factor}) AS BIGINT)"
                f"), 0L, (acc, v) -> acc + v)"
            ).alias(f"y{j}")
        )
    return df.select(*keep, *outs)


def maxsim_scores(
    queries: DataFrame,
    docs: DataFrame,
    vec_col: str = "embedding",
    query_id: str = "vec_id",
    doc_key: str = "label",
    max_query_tokens: int = 256,
) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim scoring: the query is a
    SET of token vectors, each document a SET of token vectors, and

        score(doc) = Σ_{q ∈ query} max_{v ∈ doc} ⟨q, v⟩

    — the retrieval scorer single-vector cosine (q24/q28) cannot
    express (Khattab & Zaharia, ColBERT, SIGIR 2020). Returns one row
    per ``doc_key``: ``(doc_key, n_query_tokens, maxsim)``.

    The query set is a bounded CONSTANT (ColBERT ~32 tokens), so it is
    collected (guarded by ``max_query_tokens``) and inlined as literal
    vectors — the q24 idiom scaled to k vectors. That makes the whole
    scorer ONE whole-stage-codegen aggregate over the doc vectors:
    k dot products per row, k ``max`` aggregates per key, and a
    FIXED-ORDER sum of the k maxes (query-id order, never
    partition-ordered float summation) — no join, no shuffle beyond
    the groupBy, bit-exact in any left-folding engine.

    Scale shape: the doc-vector table is scanned ONCE and only
    (doc_key, k scalars) leave the map stage. For re-ranking, feed
    ``docs`` the ANN candidate set (q63/q28), not the corpus.
    """
    qrows = (
        queries.select(query_id, vec_col)
        .orderBy(query_id)
        .limit(max_query_tokens + 1)
        .collect()
    )
    if len(qrows) > max_query_tokens:
        raise ValueError(
            f"maxsim query set exceeds max_query_tokens={max_query_tokens}; "
            "late interaction wants a token-bounded QUERY, not a corpus"
        )
    if not qrows:
        raise ValueError("empty query set")
    v = _as_double_array(vec_col)
    aggs = [
        F.max(dot(v, [float(x) for x in row[1]])).alias(f"_m{i}")
        for i, row in enumerate(qrows)
    ]
    agg = docs.groupBy(F.col(doc_key).alias("doc_key")).agg(*aggs)
    total = F.col("_m0")
    for i in range(1, len(qrows)):
        total = total + F.col(f"_m{i}")
    return agg.select(
        "doc_key",
        F.lit(len(qrows)).cast("bigint").alias("n_query_tokens"),
        total.alias("maxsim"),
    )


def centroid_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic nearest-centroid assignment — the k-means E-step
    (and the serving-time cluster router) as ONE codegen map stage:
    centroids are literal vectors (the q24/maxsim idiom), each row
    computes k exact left-fold squared-L2 distances, and argmin ties
    break to the LOWEST centroid id (first index of the array min —
    pinned, so the assignment is a pure function any engine
    reproduces). Training loops (pyspark.ml KMeans, A15) own the
    float-iteration nondeterminism; THIS step is the part a 100 TB
    pipeline re-runs per batch and the part an oracle can pin.

    Returns the input plus ``centroid_id`` and ``dist_sq``.
    """
    if not centroids:
        raise ValueError("centroid_assign needs >= 1 centroid")
    v = _as_double_array(vec_col)
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for _, c in centroids
        ]
    )
    ids = F.array(*[F.lit(int(i)).cast("bigint") for i, _ in centroids])
    pos = F.array_position(dists, F.array_min(dists))
    return df.withColumn("_d", dists).withColumn(
        "centroid_id", F.element_at(ids, pos.cast("int"))
    ).withColumn(
        "dist_sq", F.array_min(F.col("_d"))
    ).drop("_d")
