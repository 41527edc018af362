"""Byte-pair-encoding statistics over a corpus.

BPE statistics are a function of the WORD-FREQUENCY table, not the raw
corpus, so the distributed work is one pass that builds ``(word,
count)`` (explode + hash aggregate; the shuffle carries words, never
documents), optionally bounded to the ``top_words`` most frequent words
(deterministic count-desc/word tie-break). The initial adjacent-symbol
pair counts are fully relational and oracle-checked (r130).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker (the classic BPE word-boundary symbol)
EOW = "</w>"


def word_counts(
    df: DataFrame, text_col: str = "text", top_words: int | None = None
) -> DataFrame:
    """Distributed ``(word, count)`` over whitespace-split, lowercased
    text — the sufficient statistic for BPE training. ``top_words``
    bounds the table (count desc, word asc — deterministic)."""
    wc = (
        df.select(
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
                "word"
            )
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )
    if top_words is not None:
        if top_words > 10_000_000:
            # A huge k must NOT plan as TakeOrderedAndProject: its
            # per-partition k-sized buffer allocates gigabytes per task
            # and stalls the JVM in allocation/GC (a 1e9 bound wedged
            # the whole executor for 13+ minutes). The engine session
            # caps spark.sql.execution.topKSortFallbackThreshold, but
            # word_counts can run on a PLAIN session (the driver gate)
            # whose threshold is Int.MaxValue — pin it here so the
            # planner picks Sort + GlobalLimit (spillable, identical
            # rows) for absurd bounds on any session.
            df.sparkSession.conf.set(
                "spark.sql.execution.topKSortFallbackThreshold",
                "10000000",
            )
        # TakeOrderedAndProject: per-partition partial top-k, no full sort
        wc = wc.orderBy(F.desc("count"), "word").limit(top_words)
    return wc


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_words: int | None = None
) -> DataFrame:
    """Initial adjacent-symbol pair counts (characters + ``</w>``),
    weighted by word frequency — iteration 0 of BPE training, fully
    relational (explode the character positions of each distinct word,
    pair with the next symbol, weight by the word's corpus count).
    This is the SQL-expressible face of the trainer; r130's DuckDB twin
    recomputes it exactly."""
    wc = word_counts(df, text_col, top_words)
    # symbols = chars + EOW; pairs over positions 1..len(symbols)-1
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))
    pairs = F.expr(
        "transform(sequence(1, size(_syms) - 1), "
        "i -> struct(_syms[i - 1] AS a, _syms[i] AS b))"
    )
    return (
        wc.select("count", syms.alias("_syms"))
        .select("count", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("count").alias("pair_count"))
    )
