"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each algorithm at 100 TB):

* **Exact** — one hash aggregate on ``md5(text)``; the shuffle carries
  (hash, doc_id), never the text.
* **MinHash+LSH** — per-doc signatures are a map stage; banding turns
  the quadratic all-pairs problem into an equi-join on (band, hash)
  bucket keys, so candidate generation is a self-join that only
  materializes same-bucket pairs. Signature params are fixed constants:
  deterministic across runs and clusters.
* **SimHash** — 64-bit signature per doc (map stage); near-dup candidates
  bucket on 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 of 4 chunks
  equal), verified with ``bit_count(xor)``.
* **n-gram Jaccard** — exact verification on candidate pairs only
  (array_intersect/array_union on distinct shingle sets).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datalake_backend_spark.core import onetask
from datalake_backend_spark.core.materialize import (
    LOOP_ROWS_PER_PART,
    checkpoint,
    parts_for,
    pin,
)
from datalake_backend_spark.datapipe.text import tokens

_LOG = logging.getLogger(__name__)

#: Mersenne prime 2^31-1: modulus for the MinHash permutation family.
#: It must sit just above the reduced hash universe (h < 2^31) so that
#: a*h wraps the modulus ~2^31 times — that's what makes
#: (a*h + b) mod p a universal family. (A larger prime like 2^61-1
#: with a*h+b < 2^62 wraps at most once, stays order-preserving in h,
#: and every "permutation" then picks the same min element.)
#: a*h < 2^62 also never overflows a signed 64-bit long.
MINHASH_P = 2147483647

#: Fixed (a, b) parameters, a ∈ [1, p-1], b ∈ [0, p-1] — deterministic
#: across runs and clusters.
MINHASH_PARAMS = [
    ((2 * i + 1) * 2654435761 % MINHASH_P or 1, (i * 40503 + 2654435769) % MINHASH_P)
    for i in range(128)
]


def shingles_of_tokens(toks: Column, n: int = 1) -> Column:
    """Distinct sorted n-gram shingle set over an existing token-array
    column. For n > 1, pass a BOUND column (projected in its own step),
    not an inline ``tokens(...)`` expression — higher-order lambdas have
    no subexpression elimination, so an inlined split re-runs once per
    shingle (see ``text.chunk_fingerprint_projection``)."""
    if n == 1:
        return F.array_sort(F.array_distinct(toks))
    seq = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
    grams = F.transform(seq, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_sort(F.array_distinct(grams))


def shingles(col: Column | str, n: int = 1) -> Column:
    """Distinct sorted token n-gram shingle set."""
    return shingles_of_tokens(tokens(col), n)


def shingle_projection(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 1
) -> DataFrame:
    """(id, _sh) shingle projection with the token array bound in its
    own projection step — the fast path for any n."""
    return df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).select(
        F.col(id_col), shingles_of_tokens(F.col("_t"), n).alias("_sh")
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical doc per exact-content cluster: (content_hash,
    canonical_id = min id, dup_count). Keep rows where
    ``dup_count == 1`` or join back on canonical_id to drop dupes."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def dedup_keep_canonical(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop exact-content duplicates, keeping the min-id row per
    cluster, in ONE pass: rank within content-hash partitions instead
    of computing the canon set and semi-joining back (which evaluates
    the upstream plan twice — costly when the input is itself a
    computed projection, e.g. normalized text). One shuffle, on the
    16-byte hash."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_of_shingles(shingle_col: Column | str, k: int = 128) -> Column:
    """k-permutation MinHash signature expression over an existing
    shingle-array column (lets callers compute shingles ONCE and share
    the projection between signature and verify stages).

    One fold over the hashed shingle array, accumulating all k running
    minima at once — the permutation-outer shape (k ``array_min`` calls
    over the same hashed array) re-evaluates the hash ``transform``
    under every permutation, since higher-order lambdas are interpreted
    with no subexpression elimination."""
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    hashed = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)))
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in MINHASH_PARAMS[:k]
        ]
    )
    # init = p (strictly above every pmod value) so the first element
    # always replaces it; shingle arrays are never empty (tokens('') is
    # ['']) so the result equals the true per-permutation minimum.
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), k),
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(
                m, F.pmod(p.getField("a") * h + p.getField("b"), F.lit(MINHASH_P))
            ),
        ),
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
    k: int = 128,
    out_col: str = "minhash",
) -> DataFrame:
    """k-permutation MinHash signature over token n-gram shingles."""
    return df.withColumn(out_col, minhash_of_shingles(shingles(F.col(text_col), n), k))


def band_projection(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 32,
    k: int = 128,
) -> DataFrame:
    """Explode MinHash signatures into ``(id, band, bucket)`` rows —
    the PERSISTABLE LSH index of a corpus slice. ``bands × docs`` rows,
    ~24 bytes each; storing it is what makes dedup incremental (see
    :func:`incremental_near_dup_minhash`)."""
    rows_per_band = max(1, k // bands)
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


#: uncapped runs WARN when any (band, bucket) exceeds this size — the
#: "no silent un-caps" guard: a boilerplate-heavy corpus goes quadratic
#: in one bucket, and the operator should say so before it does
HOT_BUCKET_WARN = 1000


#: live watcher threads — bounded so plan-only callers (explain loops,
#: tools/plan_report.py) can't accumulate blocked waiters forever
_WATCHERS: list = []
_MAX_WATCHERS = 64


#: WARNING for an uncapped (band, bucket) or perceptual-hash group
#: above the warn threshold, formatted from the observed metrics
HOT_BUCKET_MSG = (
    "hot LSH bucket in %(where)s: max bucket size %(max_bucket_size)d "
    "(p99 %(p99_bucket_size)s) with no max_bucket cap — a bucket of m "
    "docs emits m^2/2 candidate pairs; pass max_bucket to "
    "cap_hot_buckets/near_dup_minhash to bound the quadratic blowup "
    "(bounded recall trade)"
)


def _watch(obs, metric: str, threshold: int, where: str, msg: str) -> None:
    """Log ``msg`` (formatted from the observed metrics and ``where``)
    once the plan executes, if the observed ``metric`` exceeds
    ``threshold``.

    ``Observation.get`` blocks until the first action on the observed
    DataFrame completes, so the wait lives on a daemon thread: zero
    cost if the plan is never run, an automatic WARNING if it runs and
    breaches ``threshold``. A plan that is never EXECUTED leaves its
    waiter blocked, so the live set is capped at ``_MAX_WATCHERS`` —
    beyond that, new plans skip the watcher (answers and the
    observe() metrics are unaffected)."""
    import threading

    _WATCHERS[:] = [t for t in _WATCHERS if t.is_alive()]
    if len(_WATCHERS) >= _MAX_WATCHERS:
        return

    def _wait() -> None:
        try:
            m = obs.get
        except Exception:  # session torn down before any action
            return
        if (m.get(metric) or 0) > threshold:
            _LOG.warning(msg, dict(m, where=where))

    t = threading.Thread(target=_wait, daemon=True)
    t.start()
    _WATCHERS.append(t)


def cap_hot_buckets(
    banded: DataFrame,
    max_bucket: int | None,
    warn_above: int | None = HOT_BUCKET_WARN,
    keys: tuple[str, ...] = ("band", "bucket"),
    where: str = "lsh_candidates",
) -> DataFrame:
    """Drop ``keys`` groups — by default (band, bucket) — holding more
    than ``max_bucket`` members before the candidate self-join. A
    boilerplate bucket of m docs costs m²/2 candidate pairs — one
    template shared by 10⁶ pages is 5·10¹¹ pairs from a single bucket
    at web scale. Capping trades bounded recall (only pairs whose EVERY
    shared band is hot are lost — for true near-dups that means
    boilerplate-identical docs, which exact dedup upstream already
    collapses) for a hard quadratic bound. One extra count-over-window
    pass on the banded projection; ``None`` disables the CAP but not
    the OBSERVABILITY: bucket-size stats still ride the plan via
    ``observe()`` (the window shuffles on the same key the candidate
    join needs, so the exchange is reused, not added) and a daemon
    watcher logs a WARNING naming ``where`` when any bucket exceeds
    ``warn_above`` — answers unchanged, hazard visible.
    ``warn_above=None`` restores the bare pass-through. The perceptual
    tier caps its hot hash and signature groups (a site logo repeated
    across 10⁶ pages) through this same function with its own
    ``keys``."""
    from pyspark.sql import Window

    if max_bucket is None and warn_above is None:
        return banded
    w = Window.partitionBy(*keys)
    with_n = banded.withColumn("_bn", F.count(F.lit(1)).over(w))
    if max_bucket is None:
        from pyspark.sql import Observation

        obs = Observation()
        observed = with_n.observe(
            obs,
            F.max("_bn").alias("max_bucket_size"),
            F.percentile_approx("_bn", 0.99).alias("p99_bucket_size"),
        )
        _watch(obs, "max_bucket_size", warn_above, where, HOT_BUCKET_MSG)
        return observed.drop("_bn")
    return with_n.where(F.col("_bn") <= max_bucket).drop("_bn")


def lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 32,
    k: int = 128,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding → candidate pairs (id_a < id_b), deduplicated.

    Explodes each signature into ``bands`` bucket keys and self-joins on
    (band, bucket_hash): the shuffle key is the bucket, so only docs
    sharing a band collide — the all-pairs comparison never happens.
    ``k`` must match the signature length it was built with.
    ``max_bucket`` arms :func:`cap_hot_buckets` — the web-scale guard
    against a boilerplate bucket going quadratic.
    """
    banded = cap_hot_buckets(
        band_projection(sig_df, id_col, sig_col, bands, k), max_bucket
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _jaccard_on_shingles(
    sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs given a precomputed shingle
    projection ``sh = (id_col, _sh)``."""
    out = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "_sh": "_sha"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "_sh": "_shb"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sha", "_shb")).cast("double")
            / F.size(F.array_union("_sha", "_shb")),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


#: caller-supplied pair frames WARN past this many candidates — the
#: verify stage is linear in the pair count, so an unbounded caller
#: (e.g. an accidental cross join) goes quadratic with no LSH cap to
#: save it; same "no silent un-caps" contract as HOT_BUCKET_WARN
PAIR_WARN = 1_000_000


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    max_pairs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate (id_a, id_b) pairs.

    The pair frame is caller-supplied, so nothing upstream bounds it
    (unlike :func:`near_dup_minhash`, whose LSH banding + hot-bucket
    cap keep candidates near-linear). Two guards:

    - ``max_pairs`` set → eager fail-fast: one cheap
      ``limit(max_pairs + 1)`` count probe, ``ValueError`` if the
      frame exceeds it (the probe short-circuits the scan, it never
      counts the full blowup).
    - ``max_pairs`` unset → an ``observe()`` watcher WARNs when the
      executed plan verified more than :data:`PAIR_WARN` candidates,
      mirroring :func:`cap_hot_buckets`.
    """
    if max_pairs is not None:
        probe = pairs.limit(max_pairs + 1).count()
        if probe > max_pairs:
            raise ValueError(
                f"jaccard_pairs: candidate frame exceeds max_pairs="
                f"{max_pairs} — the verify stage is linear in the pair "
                "count; generate candidates with a bounded blocker "
                "(LSH bands / length bands / prefix filter) instead of "
                "an unbounded join"
            )
    else:
        from pyspark.sql import Observation

        obs = Observation()
        pairs = pairs.observe(obs, F.count(F.lit(1)).alias("n_pairs"))
        _watch(
            obs,
            "n_pairs",
            PAIR_WARN,
            "jaccard_pairs",
            "oversized candidate frame in %(where)s: %(n_pairs)d pairs "
            "verified with no max_pairs cap — pass max_pairs to fail "
            "fast, or generate candidates with a bounded blocker",
        )
    # deliberately NOT persisted (round-14, measured): the verify join
    # reads sh on both pair sides, but the subtree is a narrow
    # scan+tokenize with no shuffle — the two sides build in parallel
    # as independent broadcast stages, while a persist serializes them
    # behind one materialization (+1.3 s stage wall at sf0.1) and at
    # scale trades one extra text scan for caching shingle arrays of
    # comparable size. Contrast near_dup_minhash, whose persisted sh
    # feeds the k-hash signature pass AND verification.
    sh = shingle_projection(df, text_col, id_col, n)
    return _jaccard_on_shingles(sh, pairs, id_col)


def near_dup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.8,
    bands: int = 32,
    k: int = 128,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end MinHash near-dup: signature → LSH candidates → exact
    Jaccard verify ≥ threshold.

    Candidate recall for a pair with true Jaccard j is
    1 - (1 - j^(k/bands))^bands; size (k, bands) so that recall at the
    target threshold is ≈ 1 (e.g. k=64, bands=16 → rows-per-band 4,
    recall 1-3e-12 at j=0.95) — then the verified output equals the
    exact all-pairs answer at half the signature cost of k=128.

    The tokenize→shingle projection is computed ONCE and pinned
    (memory-and-disk, spills at corpus scale), then shared by the
    signature stage and the candidate-verify stage — previously each
    stage re-tokenized the full corpus.
    """
    sh = pin(shingle_projection(df, text_col, id_col, n), "dedup.shingles")
    sig = sh.select(
        F.col(id_col), minhash_of_shingles("_sh", k).alias("minhash")
    )
    cands = lsh_candidates(sig, id_col, bands=bands, k=k, max_bucket=max_bucket)
    verified = _jaccard_on_shingles(sh, cands, id_col)
    return verified.where(F.col("jaccard") >= threshold)


def portable_hash60(col: Column) -> Column:
    """Cross-engine 60-bit token hash: first 15 hex chars of md5, parsed
    as a non-negative BIGINT (top 4 bits always zero, so it never
    overflows a signed long). DuckDB twin:
    ``('0x' || substr(md5(t), 1, 15))::BIGINT``. xxhash64 is ~2-3×
    faster per token but has no public twin in other engines — this
    keeps every simhash pipeline oracle-checkable bit-for-bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash64(col: Column | str, token_hash=portable_hash60) -> Column:
    """64-bit SimHash over whitespace tokens (charikar bit-vote).

    ``token_hash`` maps a token to a BIGINT; the default
    :func:`portable_hash60` is reproducible in any SQL engine (its top
    4 bits are zero, so the signature is effectively 60-bit — the
    chunk-pigeonhole candidate logic is unaffected). Pass
    ``F.xxhash64`` for maximum throughput when cross-engine
    reproducibility doesn't matter.

    Structured as ONE fold over the token-hash array accumulating all
    64 bit-votes at once. The per-bit-outer formulation (64 separate
    ``aggregate`` calls over the same hashed array) re-evaluates the
    token-hash ``transform`` under every aggregate — higher-order
    lambdas are interpreted and get no subexpression elimination, so
    that shape costs 64 hash computations per token."""
    token_hashes = F.transform(tokens(col), token_hash)
    seq64 = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            seq64,
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, seq64, lambda v, b: F.struct(v.alias("vote"), b.alias("bit"))
        ),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(
            s.getField("vote") > 0,
            F.call_function("shiftleft", F.lit(1).cast("long"), s.getField("bit")),
        ).otherwise(F.lit(0).cast("long")),
    )


def near_dup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ max_hamming.

    Candidates bucket on the 4 16-bit chunks (pigeonhole for ≤3 bit
    flips), verified with bit_count(xor) — no all-pairs stage.
    """
    sigs = df.select(F.col(id_col), simhash64(F.col(text_col)).alias("simhash"))
    chunks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.struct(
                    i.alias("chunk"),
                    F.call_function("shiftright", F.col("simhash"), i * 16)
                    .bitwiseAND(F.lit(65535))
                    .alias("val"),
                ),
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk", "c.val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    ).where(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def chunk_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Partial-overlap (containment) pairs: documents sharing at least
    ``min_shared`` distinct rolling ``window``-token chunk fingerprints.

    Complements the whole-document detectors: a short document embedded
    verbatim inside a long one has low global Jaccard (MinHash misses
    it) and a distant SimHash, but its chunks collide exactly. This is
    the standard containment pass in training-data dedup pipelines.

    Scale shape: fingerprints explode to (fp, id) and candidates come
    from an equi-join on the 60-bit fingerprint — the shuffle carries
    hashes, never text, and there is no all-pairs stage. ``max_df``
    drops fingerprints appearing in more than that many documents
    before the self-join (boilerplate chunks — headers, licenses — are
    the hot keys that would otherwise square: a chunk shared by d docs
    yields d*(d-1)/2 candidate rows).

    Uses :func:`portable_hash60` so the result is reproducible in any
    SQL engine (driver oracle q67).
    """
    from datalake_backend_spark.datapipe.text import chunk_fingerprint_projection

    fps = chunk_fingerprint_projection(
        df, text_col, id_col, window=window, hash_fn=portable_hash60
    )
    # explode_outer, deliberately: plain explode lets the optimizer
    # infer a size(chunk_fps) > 0 filter and push it below the
    # projection, re-inlining the whole tokenize→md5 chain into a
    # per-row Filter that re-computes it 2× (measured 4.4 s vs 0.9 s at
    # sf0.1). The shingle array is never empty (greatest(…, 1) in the
    # sequence bound), so outer semantics are identical.
    ex = fps.select(F.col(id_col), F.explode_outer("chunk_fps").alias("fp"))
    # one shuffle on fp; the doc list per fingerprint replaces a
    # self-join (which would evaluate the tokenize→hash chain once per
    # join side). The frequency cap bounds the per-fp pair fan-out to
    # C(max_df, 2), so the generated array is small by construction.
    grouped = ex.groupBy("fp").agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("_ids")
    )
    grouped = grouped.where(F.size("_ids") >= 2)
    if max_df is not None:
        grouped = grouped.where(F.size("_ids") <= max_df)
    ids = F.col("_ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    shared = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("shared_chunks"))
    )
    return shared.where(F.col("shared_chunks") >= min_shared)


def contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark-decontamination scan: for each training document, the
    number of distinct rolling ``window``-token chunk fingerprints it
    shares with ANY evaluation document. Non-zero = the training doc
    quotes benchmark material and would inflate eval scores.

    Scale shape: the eval side reduces to a distinct fingerprint set —
    benchmarks are tiny next to a 100 TB corpus, so it broadcasts
    (``broadcast_eval``) and the train side never shuffles: explode →
    broadcast-hash-join → partial-agg on the already-exploded rows.
    Set ``broadcast_eval=False`` only if the eval set itself is huge.
    """
    from datalake_backend_spark.datapipe.text import chunk_fingerprint_projection

    tr = chunk_fingerprint_projection(
        train_df, text_col, id_col, window=window, hash_fn=portable_hash60
    ).select(F.col(id_col), F.explode_outer("chunk_fps").alias("fp"))
    ev = (
        chunk_fingerprint_projection(
            eval_df, text_col, id_col, window=window, hash_fn=portable_hash60
        )
        .select(F.explode_outer("chunk_fps").alias("fp"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    joined = tr.join(ev, "fp")
    # chunk_fps is distinct per doc, so plain count == distinct count
    return joined.groupBy(id_col).agg(F.count("*").alias("n_shared_chunks"))


def build_bloom_filter(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> list[int]:
    """Distributed Bloom-filter build over a column of 64-bit values:
    each value sets ``k_hashes`` bit positions (``xxhash64(value,
    seed_i) mod m``), the bit positions fold into 64-bit words with a
    map-side-combined ``bit_or`` aggregate, and only the OCCUPIED words
    come back to the driver (≤ k·n, regardless of ``m_bits``). Returns
    the filter as ``m_bits/64`` longs.

    Scale shape: the build is one exploded projection + one aggregate
    over word ids — no collect of the values themselves; a 1M-bit
    filter is 128 KB however large the input is."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    # the collect below is bounded by m_bits/64 longs — loud cap so a
    # caller can't turn the driver-side bitset into a multi-GB
    # materialization (2^30 bits = 16M longs = 128 MB is already
    # generous; a filter that big belongs in a DataFrame join)
    if m_bits > 1 << 30:
        raise ValueError(
            f"m_bits={m_bits} would materialize {m_bits // 64:,} longs "
            "on the driver; cap is 2^30 bits (use a join-based "
            "decontamination for larger key sets)"
        )
    c = F.col(col).cast("long")
    positions = F.array(
        *[F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits)) for i in range(k_hashes)]
    )
    words = (
        df.select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            # shiftleft's bit count must be a literal in the DSL; the
            # SQL form takes an expression
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    out = [0] * (m_bits // 64)
    for r in words:
        out[r.word] = r.bits
    return out


def _bloom_might_contain(
    bits_col: Column, value: Column, m_bits: int, k_hashes: int
) -> Column:
    """Membership test against a Bloom filter carried as an
    array<long> column: AND over the k probed bits. Pure fused column
    arithmetic — evaluates inside whole-stage codegen, no UDF."""
    v = value.cast("long")
    probes = []
    for i in range(k_hashes):
        pos = F.pmod(F.xxhash64(v, F.lit(i)), F.lit(m_bits))
        word = F.element_at(bits_col, (pos / 64).cast("int") + 1)
        probes.append(F.getbit(word, F.pmod(pos, F.lit(64))) == 1)
    out = probes[0]
    for p in probes[1:]:
        out = out & p
    return out


def contamination_bloom(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """:func:`contamination` behind a Bloom-filter pre-filter — the
    shape for when the eval/benchmark set is too large to broadcast as
    an exact fingerprint set (contamination's ``broadcast_eval``
    assumption breaks somewhere past ~10⁸ distinct fingerprints, i.e.
    a large multi-benchmark suite against a 100 TB corpus).

    Two phases, same exact answer: (1) the eval fingerprints fold into
    an ``m_bits`` Bloom filter (:func:`build_bloom_filter` — 128 KB at
    2²⁰ bits, shipped via a 1-row broadcast join, membership tested in
    fused column arithmetic); train chunk fingerprints that the filter
    rejects are DEFINITELY absent and drop map-side, which is the bulk
    of a clean corpus. (2) Survivors — true hits plus the fpp·n false
    positives — go through the exact fingerprint join, which removes
    the false positives. No false negatives exist, so output ==
    :func:`contamination` exactly (the r128 oracle pins this with
    q71's own SQL twin). With default sizing (2²⁰ bits / 5 hashes) fpp
    is < 1% up to ~10⁵ eval fingerprints; size ``m_bits`` ≈ 10·n_eval
    for ~1% at larger suites."""
    from datalake_backend_spark.datapipe.text import chunk_fingerprint_projection

    tr = chunk_fingerprint_projection(
        train_df, text_col, id_col, window=window, hash_fn=portable_hash60
    ).select(F.col(id_col), F.explode_outer("chunk_fps").alias("fp"))
    ev = (
        chunk_fingerprint_projection(
            eval_df, text_col, id_col, window=window, hash_fn=portable_hash60
        )
        .select(F.explode_outer("chunk_fps").alias("fp"))
        .distinct()
    )
    spark = train_df.sparkSession
    # the eval fingerprint set is consumed TWICE (the bloom build is an
    # eager action; the exact verify joins it again) — checkpoint it so
    # the tokenize→hash chain runs once, not per consumer
    ev = checkpoint(ev, "dedup.eval_fps")
    bits = build_bloom_filter(ev, "fp", m_bits, k_hashes)
    # range(1) + ONE string literal split/cast to array<long>: the
    # build side is PROVABLY one row in the physical plan (Range (0,
    # 1)) so the plan audit whitelists the broadcast-scalar nested
    # loop, and the filter crosses py4j as a single ~100 KB string —
    # F.lit(list_of_16k_longs) marshals element-by-element (measured
    # 8 s driver-side); a createDataFrame row would be fast but shows
    # as an opaque Scan ExistingRDD the audit can't prove is 1 row
    flt = spark.range(1).select(
        F.split(F.lit(",".join(map(str, bits))), ",")
        .cast("array<long>")
        .alias("_bloom")
    )
    pruned = (
        tr.crossJoin(F.broadcast(flt))
        .where(_bloom_might_contain(F.col("_bloom"), F.col("fp"), m_bits, k_hashes))
        .drop("_bloom")
    )
    # exact verify on the tiny survivor set: false positives fall out.
    # Deliberately NOT a broadcast — in the regime this operator exists
    # for, the eval fingerprint set doesn't fit a broadcast; the bloom
    # already shrank the train side to survivors, so this shuffle
    # carries (id, fp) for hits + fpp-rate noise, not the corpus.
    joined = pruned.join(ev, "fp")
    return joined.groupBy(id_col).agg(F.count("*").alias("n_shared_chunks"))


def _cluster_star(und: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    converges in O(log² n) rounds REGARDLESS of component diameter —
    the scale path for pathological pair graphs (long chains) where
    min-label propagation's O(diameter) rounds would be too many.

    large-star links every strictly-larger neighbor of a node to its
    neighborhood minimum; small-star links the smaller neighbors (and
    the node) to that minimum. At the fixed point the edge set is a
    union of stars centered on each component's min node. Convergence
    is detected by an (edge-count, hash-sum) checksum — one cheap
    aggregate per round instead of a set-difference join; a false
    stall needs a 64-bit hash-sum collision on the same edge count.

    ``und`` is the bidirectional edge list ``(src, dst)``; returns
    ``(node, cluster_id)`` for every node with at least one non-self
    edge (callers re-attach self-only nodes)."""
    e = checkpoint(
        und.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct(),
        "dedup.star_edges",
    )

    def checksum(df: DataFrame):
        # decimal(38,0) accumulator: a long sum of 64-bit hashes would
        # overflow under ANSI mode. This aggregate is ALSO the action
        # that materializes each round's lazily checkpointed edge set
        # (round-15): the former eager small-star checkpoint + separate
        # checksum job were 2 jobs for one pass — chain-heavy graphs
        # (sorted-neighborhood candidates) run tens of star rounds, so
        # the per-round job count is the local wall.
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return row.n, row.h

    prev = checksum(e)
    for _ in range(max_rounds):
        # large-star: (b, min(N(a) ∪ {a})) for every neighbor b > a
        nbrs = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select("u", F.least("u", "m").alias("m"))
        )
        e = checkpoint(
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct(),
            "dedup.star_edges",
        )
        # small-star: link each node and its smaller neighbors to the
        # min. Lazy checkpoint — the checksum below is the action that
        # materializes it, so the round runs 2 jobs (large-star eager
        # checkpoint + small-star+checksum), not 3. Large-star stays
        # eager: small-star consumes it TWICE (join + mins aggregate),
        # and a lazy checkpoint's first job would race both branches
        # over the unmaterialized partitions.
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        e = checkpoint(
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct(),
            "dedup.star_edges",
            eager=False,
        )
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"_cluster_star did not converge in {max_rounds} rounds")
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def cluster_near_dups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    star_after: int = 5,
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster ids.

    Pair detection (MinHash / SimHash / embedding buckets) yields edges;
    canonical-keep needs COMPONENTS (a~b, b~c ⇒ keep one of {a,b,c} even
    though (a,c) was never emitted as a pair).

    Two paths, chosen only by the size of the symmetrized edge frame
    (the count the loop takes anyway to right-size itself). Up to
    ``core.onetask._LOCAL_ROWS`` rows the components are found in ONE
    task by union-find with min labels (``core.onetask``): the rounds
    below cost one or more Spark jobs each, which on a duplicate-cluster
    graph of a few hundred thousand edges is nearly all scheduling, and
    one thread finishes first (the McSherry et al. "COST" argument;
    the threshold and its crossover are in ``core.onetask``). The
    one-task result is lazy: the solve runs with the caller's action.

    Above the threshold, the distributed path: iterative
    min-label propagation — each round every node adopts the smallest
    label among itself and its neighbors, converging in O(component
    diameter) rounds. Near-dup components are duplicate clusters — tiny
    diameter in practice — so a handful of rounds suffices even at
    100 TB; each round is one shuffle on the node id (the join reuses
    the aggregate's partitioning). ``localCheckpoint`` cuts the lineage
    so the plan doesn't grow exponentially with iterations, and the
    per-round convergence probe is a COUNT scalar, not a collect.

    If propagation hasn't converged after ``star_after`` rounds (a
    pathological high-diameter graph — e.g. a chain of pairwise
    near-dups), it automatically switches to the large-star/small-star
    algorithm (:func:`_cluster_star`), which converges in O(log² n)
    rounds independent of diameter — a valid-but-nasty graph degrades
    gracefully instead of failing the job. This also bounds the number
    of driver-blocking convergence probes at ``star_after``.

    Pairs with a NULL endpoint are dropped up front: a NULL id names no
    document, and each path would otherwise label it differently.
    Returns ``(node, cluster_id)`` for every node that appears in a
    remaining pair; ``cluster_id`` is the component's minimum node id
    (the same canonical-min rule ``dedup_keep_canonical`` uses for exact
    dups).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    und = checkpoint(
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        "dedup.cc_edges",
    )
    # one count picks the path and sizes the loop (cheap: und is
    # checkpointed)
    n_edges = onetask.count_rows(und)
    if onetask.fits_one_task(n_edges):
        ids = und.schema["src"].dataType
        return onetask.one_task(
            {"edges": und},
            onetask.component_rows,
            StructType().add("node", ids).add("cluster_id", ids),
        )
    # right-size the loop to the GRAPH, not the upstream partitioning:
    # the union inherits 2× the pair-join's partitions, and every
    # round's join/agg/convergence-probe then pays that task count as
    # fixed overhead. Duplicate-cluster graphs are typically orders of
    # magnitude smaller than the corpus that produced them.
    cur = und.rdd.getNumPartitions()
    parts = parts_for(n_edges, cur, LOOP_ROWS_PER_PART)
    if parts < cur:
        und = checkpoint(und.repartition(parts, "src"), "dedup.cc_edges")
    labels = checkpoint(
        und.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("cluster_id")),
        "dedup.cc_labels",
    )
    for it in range(min(max_iter, star_after)):
        # Convergence detection rides the round's OWN aggregate
        # (round-14 VERDICT #6): the old label flows through the same
        # union→groupBy as a tagged column (neighbor rows carry NULL,
        # each node has exactly one labels row, so min(_old) recovers
        # it), and the change count is one scalar aggregate over the
        # lazily-checkpointed round output — the action that also
        # materializes it. The former probe join (prop ⋈ labels +
        # filter + count — an extra node-keyed stage per round) is
        # gone: one job per round, strictly smaller. (An observe()
        # metric was tried first and measured: Observation completes
        # with None when its plan hides behind a lazy localCheckpoint's
        # LogicalRDD, so the scalar aggregate is the working form.)
        # _old carries cluster_id's OWN type — node ids may be strings.
        cid_type = labels.schema["cluster_id"].dataType
        prop = checkpoint(
            und.join(labels, und.src == labels.node)
            .select(
                F.col("dst").alias("node"),
                "cluster_id",
                F.lit(None).cast(cid_type).alias("_old"),
            )
            .unionByName(labels.withColumn("_old", F.col("cluster_id")))
            .groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min("_old").alias("_old"),
            ),
            "dedup.cc_labels",
            eager=False,
        )
        row = prop.agg(
            # null-safe: a node with no old label (NULL _old) counts
            # as changed instead of dropping out of the sum
            F.sum(
                (~F.col("cluster_id").eqNullSafe(F.col("_old"))).cast("long")
            ).alias("n_changed"),
            F.count(F.lit(1)).alias("n_nodes"),
        ).first()
        changed = int(row["n_changed"] or 0)
        labels = prop.select("node", "cluster_id")
        if changed == 0:
            return labels
        # Long-diameter early exit (round-15, found via q178's profile:
        # sorted-neighborhood pair graphs are chains BY CONSTRUCTION,
        # and min-label propagation burned all star_after rounds before
        # falling back): when a non-first round still relabels half the
        # nodes, the component diameter is far beyond the remaining
        # round budget — switch to large-star/small-star now (O(log² n)
        # rounds regardless of diameter). Work-only heuristic: both
        # paths compute the exact same components; the node count rides
        # the same scalar aggregate for free.
        if it >= 1 and 2 * changed >= int(row["n_nodes"]):
            break
    # star labels cover nodes with ≥1 non-self edge; nodes appearing
    # only in self-pairs keep themselves as cluster id
    star = _cluster_star(und)
    all_nodes = und.select(F.col("src").alias("node")).distinct()
    return (
        star.unionByName(
            all_nodes.select("node", F.col("node").alias("cluster_id"))
        )
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-global line/paragraph dedup (the MassiveText / Dolma
    exact-paragraph rule): every line keeps only its FIRST occurrence
    — ordered by (doc, position) — across the whole corpus; documents
    are reassembled with surviving lines in original order, and docs
    whose every line was a duplicate disappear.

    Scale shape: explode to (id, pos, line), group on an (md5, length)
    line key to find each line's canonical (doc, pos) via
    ``min(struct)`` (one hash-key shuffle with map-side partial min —
    never a sort of the corpus), then an equi-join on the key filters
    survivors and one aggregate per doc rebuilds the text. The key is
    hash PLUS length so an md5 collision between distinct lines can't
    silently merge them corpus-wide (colliding inputs of equal length
    is practically impossible; the shuffle still carries a fixed-width
    key, not the line text). Returns ``(id, text, n_lines)`` with only
    surviving docs.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    ).withColumn("_lh", F.concat(F.md5("line"), F.length("line").cast("string")))
    canon = lines.groupBy("_lh").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("_c")
    )
    kept = (
        lines.join(canon, "_lh")
        .where((F.col(id_col) == F.col("_c.d")) & (F.col("pos") == F.col("_c.p")))
        .select(id_col, "pos", "line")
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            line_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s.getField("line"),
            ),
        ).alias(text_col),
        F.count("*").alias("n_lines"),
    )


def fuzzy_join_levenshtein(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 3,
) -> DataFrame:
    """Fuzzy self-join: all pairs (``id_a < id_b``) whose strings are
    within ``max_dist`` edits (exact Levenshtein) — entity-resolution
    for names/titles/labels.

    Candidate generation is a length-band equi-join: one side explodes
    each string's length into the ``2·d+1`` admissible partner lengths
    (|len(a) − len(b)| > d forces distance > d, so banding is
    COMPLETE — no pair within threshold can be missed), then the exact
    distance verifies candidates only. Never an all-pairs cross join.

    Skew note: the band key is the raw length, so a corpus where most
    strings share one length concentrates candidates on few keys; for
    such data compose with `operators/skew.py:salted_join` or upgrade
    the blocker to PassJoin-style partition signatures (segment
    pigeonhole) — the verify stage is unchanged.
    """
    s = F.col(text_col)
    left = df.select(
        F.col(id_col).alias("id_a"),
        s.alias("_sa"),
        F.explode(
            F.sequence(
                F.length(s) - max_dist, F.length(s) + max_dist
            )
        ).alias("_band"),
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        s.alias("_sb"),
        F.length(s).alias("_band"),
    )
    return (
        left.join(right, "_band")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def lsh_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    bands: int = 32,
    k: int = 128,
) -> DataFrame:
    """Build the ``(id, band, bucket)`` LSH index rows for a corpus
    slice (signature + banding in one pass). Persist these — e.g. in a
    :class:`~datalake_backend_spark.sources.versioned.VersionedTable` —
    and each new ingest batch dedups against the corpus WITHOUT
    re-hashing it."""
    sig = minhash_signature(df, text_col, n=n, k=k).select(id_col, "minhash")
    return band_projection(sig, id_col, "minhash", bands, k)


def incremental_near_dup_minhash(
    new_docs: DataFrame,
    all_docs: DataFrame,
    old_index: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.8,
    bands: int = 32,
    k: int = 128,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: hash ONLY the new batch, probe the stored
    index, verify exactly. Returns ``(verified_pairs, new_index_rows)``
    — append the index rows to the store for the next batch.

    The 100 TB shape: per-batch cost is O(new · bands) hashing plus a
    bucket equi-join of the new rows against the index — the corpus is
    never re-tokenized, re-hashed, or self-joined again. Candidates are
    new-vs-old plus new-vs-new (both fall out of one join of the new
    rows against old ∪ new); verification reads only candidate ids'
    texts from ``all_docs``. Determinism: a pair found in batch i stays
    found — re-running later batches can only ADD pairs, so the union
    of per-batch outputs equals the from-scratch
    :func:`near_dup_minhash` of the full corpus (pinned by the r116
    oracle and a unit test)."""
    new_idx = lsh_index(new_docs, text_col, id_col, n, bands, k)
    full_idx = (
        old_index.unionByName(new_idx) if old_index is not None else new_idx
    )
    capped = cap_hot_buckets(full_idx, max_bucket)
    a, b = new_idx.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    verified = jaccard_pairs(all_docs, cand, text_col, id_col, n).where(
        F.col("jaccard") >= threshold
    )
    return verified, new_idx


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """Exact duplicated-SPAN removal (the Lee et al. "Deduplicating
    Training Data" substring dedup): every ``k``-token window whose
    fingerprint occurs more than once in the corpus is cut from all
    but its FIRST occurrence (global (doc_id, pos) order), and each
    document is reassembled from its surviving tokens. Unlike the
    detection-only operators (q67 flags containment pairs, q20 drops
    whole duplicate docs), this REWRITES text: boilerplate headers,
    license blocks, and quoted passages disappear from later copies
    while the first keeps them.

    Pipeline (all relational, oracle-reproducible): positional k-gram
    fingerprints (``posexplode`` — O(tokens) rows, the same cost class
    a suffix-array build pays) → one shuffle on the fingerprint for
    the global first-occurrence rank → later occurrences become cut
    spans ``[pos, pos+k)`` → per-doc gaps-and-islands interval merge →
    cut positions explode to an equi anti-join on (doc, pos) → ordered
    reassembly via ``array_sort(collect_list)``. Output keeps every
    input doc: ``(id, clean_text, n_tokens, n_tokens_kept,
    n_tokens_removed)`` — a doc shorter than ``k`` passes through
    whitespace-normalized, a fully-duplicated doc comes back empty.

    ``hash_fn`` defaults to :func:`portable_hash60` so a SQL twin
    reproduces the fingerprints bit-for-bit; pass ``F.xxhash64`` for
    maximum JVM throughput when cross-engine parity doesn't matter
    (hash collisions conflate spans either way — at 60 bits the odds
    are negligible, and both engines agree on WHICH spans)."""
    from pyspark.sql import Window

    hash_fn = hash_fn or portable_hash60
    staged = df.select(id_col, text_col).withColumn(
        "_toks", tokens(F.col(text_col))
    )
    toks, n = F.col("_toks"), F.size("_toks")

    grams = staged.where(n >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: hash_fn(F.concat_ws(" ", F.slice(toks, i, k))),
            )
        ).alias("pos", "_gh"),
    )
    w_first = Window.partitionBy("_gh").orderBy(id_col, "pos")
    spans = (
        grams.withColumn("_rk", F.row_number().over(w_first))
        .where(F.col("_rk") > 1)
        .select(id_col, F.col("pos").alias("lo"), (F.col("pos") + k - 1).alias("hi"))
    )
    # gaps-and-islands merge of overlapping cut spans per doc
    w_doc = Window.partitionBy(id_col).orderBy("lo", "hi")
    prev_hi = F.max("hi").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        spans.withColumn(
            "_new", (prev_hi.isNull() | (F.col("lo") > prev_hi)).cast("int")
        )
        .withColumn("_grp", F.sum("_new").over(w_doc))
        .groupBy(id_col, "_grp")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
    )
    cut = merged.select(
        id_col, F.explode(F.sequence("lo", "hi")).alias("pos")
    )
    toks_pos = staged.select(
        id_col, F.posexplode(toks).alias("pos", "_tok")
    ).where(F.col("_tok") != "")
    kept = toks_pos.join(cut, [id_col, "pos"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_tokens_kept"),
    )
    base = df.select(
        id_col, F.size(tokens(F.col(text_col))).alias("n_tokens")
    )
    return (
        base.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            (
                F.col("n_tokens") - F.coalesce("n_tokens_kept", F.lit(0))
            ).alias("n_tokens_removed"),
        )
    )


def tf_cosine_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_num: int = 4,
    tau_den: int = 5,
    window: int = 8,
    max_df: int = 50,
) -> DataFrame:
    """Term-frequency cosine near-dup pairs with an INTEGER-exact
    threshold — the classic bag-of-words cosine detector, as a third
    whole-document modality next to MinHash (set Jaccard) and SimHash
    (weighted bit vote): cosine over raw term COUNTS also catches the
    "same words, different multiplicity" edits those two de-emphasize.

    Floats never appear: with τ = tau_num/tau_den, the predicate
    ``cos(a,b) ≥ τ`` cross-multiplies to ``tau_den²·dot² ≥
    tau_num²·‖a‖²·‖b‖²`` — pure BIGINT products of integer counts, so
    any engine lands on the identical pair set (oracle r146). Safe
    while ``tau_den·dot`` stays under ~3e9 (dot is bounded by the
    max term-count product times shared vocabulary; document-scale
    text is orders below that).

    Scale shape: candidates come from shared rolling ``window``-token
    chunk FINGERPRINTS (:func:`chunk_overlap_pairs` with
    ``min_shared=1``), not shared words — single terms are useless
    blocking keys on any corpus big enough that every vocabulary word
    is hot (measured: at 10× corpus no word had df ≤ 200, so word
    blocking yielded ZERO candidates while chunk blocking kept
    finding the true near-dups). The ``max_df`` cap bounds per-chunk
    fan-out to C(max_df, 2). The exact dot product then joins each
    candidate pair back to the FULL tf vectors (an equi-join keyed on
    (doc, term) — per-pair cost is |terms(a)|, no all-pairs stage).
    Like every blocked detector here, recall is explicit: a pair
    sharing no ``window``-token run is never considered — a document
    pair can in principle hold cosine ≥ τ with all words reordered,
    and this detector deliberately leaves that to MinHash/SimHash.
    """
    from datalake_backend_spark.datapipe.text import tokens

    tf = pin(
        df.select(
            F.col(id_col).alias("_d"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("_d", "w")
        .agg(F.count("*").alias("c")),
        "dedup.tf",
    )
    norms = tf.groupBy("_d").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    cand = chunk_overlap_pairs(
        df, text_col, id_col, window=window, min_shared=1, max_df=max_df
    ).select("id_a", "id_b")
    ta = tf.select(F.col("_d").alias("id_a"), "w", F.col("c").alias("ca"))
    tb = tf.select(F.col("_d").alias("id_b"), "w", F.col("c").alias("cb"))
    dots = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "w"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("_d").alias("id_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("_d").alias("id_b"), F.col("n2").alias("n2_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            F.expr(
                f"{tau_den * tau_den}L * dot * dot"
                f" >= {tau_num * tau_num}L * n2_a * n2_b"
            )
        )
        .select("id_a", "id_b", "dot", "n2_a", "n2_b")
    )


def cdc_chunk_stats(
    df: DataFrame,
    k: int = 4,
    divisor: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync-style) dedup statistics
    at token granularity: cut each document where the fingerprint of
    the ``k``-token window ENDING at a position is ≡ 0 mod ``divisor``
    (expected chunk length ≈ ``divisor`` tokens), hash every chunk,
    and report per document how much of it is corpus-shared. Because
    boundaries depend only on LOCAL content, an insertion early in a
    document shifts token positions but the chunk stream re-synchronizes
    at the next boundary — fixed-size blocks would mark everything
    downstream as new. This is the storage/transfer dedup view (how
    many bytes does the corpus really contain?) that complements the
    document-level near-dup operators.

    Returns one row per doc: ``(doc_id, n_chunks, n_chunk_tokens,
    n_shared_chunks)`` where a chunk is shared when its fingerprint
    occurs in more than one (doc, chunk) instance corpus-wide.

    Shape: O(tokens) rows end to end — an array-level boundary
    transform, one posexplode, a per-doc running-sum window (each doc
    its own partition), one (doc, chunk) aggregate, one fingerprint-
    frequency aggregate joined back broadcast-style on the chunk hash.
    Never pairwise. ``hash_fn`` defaults to :func:`portable_hash60`
    for cross-engine twins (r156); pass ``F.xxhash64`` for speed."""
    from pyspark.sql import Window

    hash_fn = hash_fn or portable_hash60
    staged = (
        df.select(id_col, text_col)
        .where(F.trim(F.col(text_col)) != "")
        .withColumn("_toks", tokens(F.col(text_col)))
    )
    toks, n = F.col("_toks"), F.size("_toks")
    # bnd[p] = 1 iff the k-gram ending at p fingerprints to 0 mod divisor
    bnd = F.transform(
        F.sequence(F.lit(1), n),
        lambda p: F.when(
            (p >= k)
            & (
                F.pmod(
                    hash_fn(F.concat_ws(" ", F.slice(toks, p - k + 1, k))),
                    F.lit(divisor),
                )
                == 0
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    rows = staged.select(
        F.col(id_col).alias("_d"),
        F.posexplode(F.arrays_zip(toks.alias("w"), bnd.alias("b"))).alias(
            "_p", "_z"
        ),
    ).select("_d", "_p", F.col("_z.w").alias("w"), F.col("_z.b").alias("b"))
    w_doc = (
        Window.partitionBy("_d")
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = rows.withColumn(
        "_chunk", F.coalesce(F.sum("b").over(w_doc), F.lit(0))
    )
    chunks = chunked.groupBy("_d", "_chunk").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("chunk_text"),
        F.count("*").alias("n_tok"),
    )
    hashed = chunks.select(
        "_d", "n_tok", hash_fn(F.col("chunk_text")).alias("chunk_hash")
    )
    freq = hashed.groupBy("chunk_hash").agg(F.count("*").alias("_freq"))
    return (
        hashed.join(freq, "chunk_hash")
        .groupBy(F.col("_d").alias(id_col))
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tok").alias("n_chunk_tokens"),
            F.sum(F.when(F.col("_freq") > 1, 1).otherwise(0)).alias(
                "n_shared_chunks"
            ),
        )
    )


def set_similarity_join(
    df: DataFrame,
    tau_num: int = 1,
    tau_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join with PPJoin-style prefix
    filtering (Chaudhuri et al. SSJoin / Xiao et al. PPJoin — public
    literature): all pairs whose DISTINCT-token Jaccard is ≥
    ``tau_num/tau_den``, without ever forming the all-pairs product.

    Why it scales: order every document's token set by GLOBAL rarity
    (ascending document frequency, ties by token). If J(A,B) ≥ t then
    A and B share at least ``ceil(t·|A|)`` tokens, so by pigeonhole the
    globally-smallest shared token sits inside A's first
    ``|A| − ceil(t·|A|) + 1`` tokens (its PREFIX) — and inside B's.
    Candidates therefore come from an equi-join on PREFIX tokens only:
    rare-first ordering makes prefix postings short, so the join is
    linear-ish in corpus size instead of quadratic. Candidates then
    verify with the exact integer test ``inter·den ≥ num·union`` —
    the filter changes WORK, never the result (LSH's probabilistic
    recall is the contrast: this join is exact).

    Returns ``(id_a, id_b, n_inter, n_union)`` with ``id_a < id_b``.
    All-integer — bit-exact in any engine (oracle r166 brute-forces
    the same pairs in DuckDB)."""
    # pinned: consumed four times (both candidate-join sides + both
    # verify sides) — each use otherwise re-runs the whole
    # tokenize → df-rank → rare-first reorder pipeline (round-14)
    ordered = pin(
        _ssj_ordered(df, tau_num, tau_den, text_col, id_col), "dedup.ssj_ordered"
    )
    cand = _ssj_candidates(ordered, tau_num, tau_den)
    # exact verify: fetch the ordered token arrays for the surviving
    # candidate pairs only (two narrow equi-joins on id)
    sets = ordered.select("_id", "_n", "_toks")
    ver = cand.join(
        sets.select(
            F.col("_id").alias("id_a"),
            F.col("_n").alias("na"),
            F.col("_toks").alias("ta"),
        ),
        "id_a",
    ).join(
        sets.select(
            F.col("_id").alias("id_b"),
            F.col("_n").alias("nb"),
            F.col("_toks").alias("tb"),
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.col("na") + F.col("nb") - inter
    return (
        ver.withColumn("n_inter", inter)
        .withColumn("n_union", union)
        .where(F.col("n_inter") * tau_den >= F.lit(tau_num) * F.col("n_union"))
        .select("id_a", "id_b", "n_inter", "n_union")
    )


def _ssj_ordered(
    df: DataFrame,
    tau_num: int,
    tau_den: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rare-first ordered token arrays + prefixes for the PPJoin
    pipeline: ``(_id, _toks, _n, _prefix)``."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.filter(tokens(text_col), lambda t: t != "")
        ).alias("_toks"),
    )
    tok = base.select("_id", F.explode("_toks").alias("term"))
    dft = tok.groupBy("term").agg(F.count("*").alias("_df"))
    # per-doc rare-first ordered token array (one shuffle back to _id)
    ordered = (
        tok.join(dft, "term")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "term"))),
                lambda s: s["term"],
            ).alias("_toks")
        )
        .withColumn("_n", F.size("_toks"))
        .withColumn(
            "_prefix",
            F.slice(
                "_toks",
                1,
                F.col("_n")
                - F.ceil(F.col("_n") * tau_num / F.lit(tau_den)).cast("int")
                + 1,
            ),
        )
    )
    return ordered


def _ssj_candidates(
    ordered: DataFrame,
    tau_num: int,
    tau_den: int,
    positional: bool = True,
) -> DataFrame:
    """Slim PPJoin candidate pairs ``(id_a, id_b)`` from the prefix
    equi-join. The join carries only (id, set size, prefix position,
    64-bit term hash) — never the token arrays — so its shuffle width
    is a few fixed-width columns instead of whole documents. Hash
    collisions and unequal-but-cohashed terms can only ADD candidates;
    the exact verify in :func:`set_similarity_join` removes them, so
    the result is unchanged. Joining on the hash also keeps shuffle
    keys fixed-width for long terms. ``positional=False`` disables the
    positional filter (same pairs plus extras — used by the scaling
    harness to measure how many candidates the filter prunes)."""
    pref = ordered.select(
        "_id", "_n", F.posexplode("_prefix").alias("_pos", "term")
    )
    a = pref.select(
        F.col("_id").alias("id_a"),
        F.col("_n").alias("na"),
        (F.col("_pos") + 1).alias("pa"),
        F.xxhash64("term").alias("_th"),
    )
    b = pref.select(
        F.col("_id").alias("id_b"),
        F.col("_n").alias("nb"),
        (F.col("_pos") + 1).alias("pb"),
        F.xxhash64("term").alias("_th"),
    )
    # positional filter (PPJoin): from a shared prefix token at
    # (1-based) positions pa/pb, overlap ≤ 1 + min(na−pa, nb−pb);
    # J ≥ num/den ⟺ inter·(num+den) ≥ num·(na+nb), so a match row
    # whose upper bound misses that threshold can't be the FIRST
    # shared token of a qualifying pair. Pairs survive if ANY match
    # row passes — the genuinely-first shared token has no shared
    # token before it in either array, so its bound is valid and a
    # qualifying pair always keeps at least that row (no false
    # negatives; the filter changes WORK, never the result).
    cand = (
        a.join(b, "_th")
        .where(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
        .where(
            F.greatest("na", "nb") * tau_num
            <= F.least("na", "nb") * F.lit(tau_den)
        )
    )
    if positional:
        cand = cand.where(
            (
                F.lit(1)
                + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            )
            * F.lit(tau_num + tau_den)
            >= F.lit(tau_num) * (F.col("na") + F.col("nb"))
        )
    return cand.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 5,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge
    method — public literature): order all records by a blocking key
    and emit every pair whose GLOBAL rank distance is < ``window`` —
    the classic entity-resolution candidate generator when similarity
    is monotone in a sortable key (name prefixes, normalized
    addresses), complementing the set-overlap blocking of
    :func:`set_similarity_join` and the probabilistic blocking of
    :func:`near_dup_minhash`.

    Scale shape: the global rank is computed WITHOUT a single-
    partition window — the shared two-phase kernel
    (``operators.ranking.global_rank``: sampled full-tuple splitter
    buckets over (key, id), per-bucket ranks, metadata offsets; round
    13 replaced this operator's own localCheckpoint +
    spark_partition_id variant). Neighbor pairs come from an equi-join on rank-block
    ``r div window``: each left row probes its own block and the next
    one, so every qualifying pair joins exactly once and no sort ever
    funnels through one reducer. Output is a deterministic function of
    the (key, id) total order — identical in any engine.

    Returns ``(id_a, id_b, rank_gap)`` with ``id_a``'s rank strictly
    below ``id_b``'s and ``0 < rank_gap < window``. ``carry_cols``
    rides payload columns through the blocking so verify stages
    (levenshtein, feature compare) need NO re-join against the base
    table — each named column comes back twice as ``{col}_a`` /
    ``{col}_b``. Carrying widens the block-join shuffle by the
    payload width, but replaces TWO full shuffled joins back to the
    base table — at 100 TB the joins lose."""
    from datalake_backend_spark.operators.ranking import global_rank

    if window < 2:
        raise ValueError("window must be >= 2")
    carry = carry_cols or []
    base = df.select(
        F.col(key_col).alias("_k"),
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"_c{i}") for i, c in enumerate(carry)],
    )
    ranked = global_rank(base, ["_k", "_id"], out_col="_r").select(
        "_id",
        "_r",
        *[f"_c{i}" for i in range(len(carry))],
    )
    lhs = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_r").alias("_ra"),
        *[
            F.col(f"_c{i}").alias(f"{c}_a")
            for i, c in enumerate(carry)
        ],
        F.explode(
            F.array(
                F.expr(f"_r div {window}"),
                F.expr(f"_r div {window} + 1"),
            )
        ).alias("_blk"),
    )
    rhs = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_r").alias("_rb"),
        *[
            F.col(f"_c{i}").alias(f"{c}_b")
            for i, c in enumerate(carry)
        ],
        F.expr(f"_r div {window}").alias("_blk"),
    )
    return (
        lhs.join(rhs, "_blk")
        .where(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") < window)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("_rb") - F.col("_ra")).alias("rank_gap"),
            *[f"{c}_a" for c in carry],
            *[f"{c}_b" for c in carry],
        )
    )


def cluster_keep_best(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup cluster CANONICALIZATION: one representative per
    cluster, chosen by highest ``score_col`` (smallest id on ties) —
    the curation step after :func:`cluster_near_dups` that exact
    dedup's canonical-keep performs for byte-identical docs, extended
    to near-dup components (keep the longest/cleanest member, drop
    the rest). Docs in no cluster are singletons that keep themselves.

    Scale shape: one left join docs⟕clusters (clusters is the small
    side — only docs that HAD a near-dup pair appear) and one hash
    aggregate with ``max_by`` over a (score, -id) struct; no window,
    no collect.

    Returns ``(cluster_id, n_members, kept_id, best_score)``.
    """
    lab = docs.join(
        clusters.withColumnsRenamed({"node": id_col}),
        id_col,
        "left",
    ).select(
        F.col(id_col),
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        F.col(score_col),
    )
    return lab.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max_by(
            id_col, F.struct(F.col(score_col), (-F.col(id_col)).alias("_t"))
        ).alias("kept_id"),
        F.max(score_col).alias("best_score"),
    )
