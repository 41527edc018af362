"""BPE statistics tests (datapipe/bpe.py).

The r130 oracle row pins the distributed pair-count stage; these pin
the word-count table's ``top_words`` bound and its plan shape."""

from __future__ import annotations

from datalake_backend_spark.datapipe.bpe import word_counts


def _corpus(spark):
    return spark.createDataFrame(
        [("low low low lower lowest",), ("new newer newest low",)],
        "text string",
    )


def test_word_counts_top_words_bound(spark):
    docs = _corpus(spark)
    # bounding the word table keeps only the dominant words' statistics
    wc = {r.word: r["count"] for r in word_counts(docs, top_words=2).collect()}
    assert set(wc) == {"low", "new"} or len(wc) == 2


def test_word_counts_huge_bound_avoids_takeordered(spark):
    """An absurd top_words (1e9) must NOT plan as
    TakeOrderedAndProject: its per-partition k-sized buffer allocates
    gigabytes per task and stalled the whole JVM for 13+ minutes
    (safepoint starvation wedged the executor heartbeat).
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

