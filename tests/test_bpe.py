"""BPE trainer/encoder tests (datapipe/bpe.py).

The r130 oracle row pins the distributed pair-count stage; these pin
the driver-side greedy merge loop and the Arrow encode stage (not
SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_backend_spark.datapipe.bpe import (
    EOW,
    bpe_encode,
    bpe_train,
    word_counts,
)


def _corpus(spark):
    return spark.createDataFrame(
        [("low low low lower lowest",), ("new newer newest low",)],
        "text string",
    )


def test_bpe_train_textbook_merges(spark):
    """The classic low/lower/lowest corpus: most frequent pairs merge
    first, in the deterministic (count desc, pair asc) order."""
    merges = bpe_train(_corpus(spark), 3)
    assert merges == [("l", "o"), ("lo", "w"), ("low", EOW)]


def test_bpe_encode_roundtrip_and_compression(spark):
    docs = _corpus(spark)
    merges = bpe_train(docs, 8)
    rows = bpe_encode(docs, merges).collect()
    for r in rows:
        # round trip: tokens concatenate back to the words (EOW = space)
        rebuilt = "".join(r.bpe_tokens).replace(EOW, " ").strip()
        assert rebuilt == r.text.lower()
    # more merges never increase token count (monotone compression)
    def total(n):
        enc = bpe_encode(docs, bpe_train(docs, n))
        return sum(len(r.bpe_tokens) for r in enc.collect())

    t0, t4, t8 = total(0), total(4), total(8)
    assert t0 >= t4 >= t8
    assert t8 < t0  # merges actually compress


def test_bpe_partition_invariance(spark):
    """Merges are a pure function of the word-count table — the same
    list regardless of how the corpus is partitioned."""
    docs = _corpus(spark)
    assert bpe_train(docs.repartition(7), 6) == bpe_train(
        docs.coalesce(1), 6
    )


def test_bpe_top_words_bound_and_early_stop(spark):
    docs = _corpus(spark)
    # bounding the word table keeps only the dominant words' statistics
    wc = {r.word: r["count"] for r in word_counts(docs, top_words=2).collect()}
    assert set(wc) == {"low", "new"} or len(wc) == 2
    # min_pair_count stops before inventing single-occurrence merges
    tiny = spark.createDataFrame([("a b",)], "text string")
    assert bpe_train(tiny, 10, min_pair_count=2) == []


def test_word_counts_huge_bound_avoids_takeordered(spark):
    """An absurd top_words (the cap-rerouting path passes 1e9) must
    NOT plan as TakeOrderedAndProject: its per-partition k-sized buffer
    allocates gigabytes per task and stalled the whole JVM for 13+
    minutes (safepoint starvation wedged the executor heartbeat).
    word_counts pins the topK fallback threshold so the planner picks
    Sort + GlobalLimit instead — identical rows, bounded memory."""
    docs = _corpus(spark)
    wc = word_counts(docs, top_words=10**9)
    plan = wc._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    got = {r.word: r["count"] for r in wc.collect()}
    assert got["low"] == 4
    # sane bounds keep the cheap per-partition top-k path
    small = word_counts(docs, top_words=2)
    splan = small._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in splan


def test_bpe_encode_unknown_words_fall_back_to_chars(spark):
    docs = _corpus(spark)
    merges = bpe_train(docs, 8)
    other = spark.createDataFrame([("zzq",)], "text string")
    toks = bpe_encode(other, merges).first().bpe_tokens
    assert toks == ["z", "z", "q", EOW]


def test_bpe_train_word_cap_routes_to_distributed(spark, monkeypatch):
    """Above the driver-word ceiling bpe_train no longer refuses
    (round-13 VERDICT ask #6): it probes the distinct-word count
    distributedly, warns, and routes to bpe_train_distributed — which
    must return the IDENTICAL merge list. The cap is shrunk via the
    module constant instead of building a 2M-word corpus."""
    import warnings

    import datalake_backend_spark.datapipe.bpe as bpe_mod

    docs = _corpus(spark)  # > 2 distinct words
    want = bpe_mod.bpe_train(docs, 4, top_words=None)  # driver path
    assert want
    monkeypatch.setattr(bpe_mod, "_MAX_DRIVER_WORDS", 2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = bpe_mod.bpe_train(docs, 4, top_words=10**9)
    assert got == want
    assert any("bpe_train_distributed" in str(w.message) for w in caught)
    # under the cap (explicitly or via top_words) still trains driver-side
    monkeypatch.setattr(bpe_mod, "_MAX_DRIVER_WORDS", 2_000_000)
    assert bpe_mod.bpe_train(docs, 1, top_words=None)


def test_bpe_train_distributed_matches_driver_loop(spark):
    """The distributed trainer (vocab table never collected, merges
    applied as native array folds, 1-row argmax per iteration) is
    bit-identical to the driver greedy loop — same merges, same order,
    same early stop — including past a lineage-cut checkpoint
    boundary (checkpoint_every=2 over 7 merges crosses three)."""
    from datalake_backend_spark.datapipe.bpe import bpe_train_distributed

    docs = spark.createDataFrame(
        [
            ("low low low lower lowest",),
            ("new newer newest low wide widest",),
            ("a ab abc abcd abcd abcd",),
        ],
        "text string",
    ).repartition(5)
    want = bpe_train(docs, 7)
    got = bpe_train_distributed(docs, 7, checkpoint_every=2)
    assert got == want
    # early stop parity: min_pair_count suppresses singleton merges
    tiny = spark.createDataFrame([("a b",)], "text string")
    assert bpe_train_distributed(tiny, 10, min_pair_count=2) == []


def test_merge_pair_expr_greedy_scan_semantics(spark):
    """The fold-based merge must equal the sequential scan-and-skip-2
    on the adversarial shapes: overlapping runs ("xxxx" under (x,x)
    pairs as [xx, xx], never [xx, x, x] or [xxx, x]) and a merged
    token immediately followed by the pair's right symbol."""
    from datalake_backend_spark.datapipe.bpe import (
        _merge_pair_expr,
        _merge_word,
    )

    cases = [
        (["x", "x", "x", "x"], "x", "x"),
        (["x", "x", "x"], "x", "x"),
        (["a", "b", "b", "a", "b"], "a", "b"),
        (["ab", "b", "b"], "ab", "b"),
        (["x", "xx", "xx"], "x", "xx"),
        (["q"], "a", "b"),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i int, syms array<string>",
    )
    for i, (syms, a, b) in enumerate(cases):
        got = (
            df.where(F.col("i") == i)
            .select(_merge_pair_expr("syms", a, b).alias("m"))
            .first()
            .m
        )
        assert got == _merge_word(syms, a, b), (syms, a, b, got)


def test_bpe_distributed_round_fills_vocab_in_one_job(spark, monkeypatch):
    """Each merge round pins the rewritten vocab eagerly, and the fill
    is ONE Spark job (``core.onetask.count_rows``) — ``DataFrame.count()``
    on a persisted frame runs three under AQE. Counted per pin call by
    job group through ``statusTracker``."""
    from datalake_backend_spark.core import materialize
    from datalake_backend_spark.datapipe import bpe as bpe_mod

    sc = spark.sparkContext
    jobs_per_pin = []

    def counted_pin(df, name, eager=False):
        group = f"bpe-pin-{len(jobs_per_pin)}"
        sc.setJobGroup(group, group)
        try:
            return materialize.pin(df, name, eager=eager)
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
            jobs_per_pin.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(bpe_mod, "pin", counted_pin)
    docs = spark.createDataFrame(
        [("low low low lower lowest",), ("new newer newest low wide widest",)],
        "text string",
    ).repartition(3)
    merges = bpe_mod.bpe_train_distributed(docs, 4, checkpoint_every=100)
    assert merges == bpe_train(docs, 4)
    assert jobs_per_pin == [1, 1, 1, 1]
