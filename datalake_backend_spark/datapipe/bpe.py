"""Byte-pair-encoding tokenizer training + encoding over a corpus.

The training-data pipeline's tokenizer step (SURVEY's "token counting"
row covers a BPE-ish regex; this is the real trainer). The distributed
shape is the one fast tokenizer trainers actually use: BPE statistics
are a function of the WORD-FREQUENCY table, not the raw corpus — so

* **one distributed pass** builds ``(word, count)`` (explode + hash
  aggregate; the shuffle carries words, never documents),
* the table is **bounded** to the ``top_words`` most frequent words
  (deterministic count-desc/word tie-break) — on web corpora the top
  ~10⁶ word forms carry almost all token mass, so merge quality is
  unaffected while the driver state stays MBs at any corpus size,
* the **merge loop runs driver-side** over that dict (each iteration
  re-counts pairs in ≤ top_words short symbol lists — microseconds;
  running it as Spark jobs would be thousands of shuffles for the same
  arithmetic),
* **encoding** is an Arrow-batched map stage with a per-batch word
  cache (corpora repeat words; each distinct word is merged once per
  batch).

Determinism: ties in pair counts break lexicographically, so the
learned merge list is a pure function of the word-count table — same
merges on any cluster, any partitioning. The initial pair statistics
are SQL-expressible and oracle-checked (r130); the greedy loop and
encode are pinned by unit tests (known-corpus merges, round-trip,
monotone compression, partition invariance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.core.materialize import checkpoint, pin, scope

#: end-of-word marker (the classic BPE word-boundary symbol)
EOW = "</w>"

#: hard ceiling on the driver-side vocab collect in :func:`bpe_train`
_MAX_DRIVER_WORDS = 2_000_000


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


def _merge_word(symbols: list[str], a: str, b: str) -> list[str]:
    out, i, n = [], 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _word_syms(col: str = "word"):
    """``array<string>``: the word's characters + the EOW marker."""
    return F.concat(F.split(F.col(col), ""), F.array(F.lit(EOW)))


def _merge_pair_expr(syms_col: str, a: str, b: str):
    """Greedy left-to-right merge of adjacent ``(a, b)`` inside an
    ``array<string>`` column, as a pure fold (``F.aggregate``): walk
    the symbols; when the accumulator's last element is ``a`` and the
    incoming symbol is ``b``, replace that last element with ``a+b``.
    This IS the sequential scan-and-skip-2: a merged token equals
    ``a+b`` which can never equal ``a`` (``b`` is non-empty), so a
    freshly merged token can't falsely re-merge with a following
    ``b`` — the fold and the index loop agree on every input.
    ``a``/``b`` enter as frozen literals (never outer column refs, so
    the lambda is rewrite-safe under exchange reuse)."""
    A, B = F.lit(a), F.lit(b)
    return F.aggregate(
        syms_col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == A) & (s == B),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(A, B))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


@scope("bpe.train")
def bpe_train_distributed(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    top_words: int | None = None,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """BPE training with the WORD TABLE kept distributed (round-13
    VERDICT ask #6): lifts :func:`bpe_train`'s driver-memory ceiling —
    the vocab never leaves the executors, so corpora with hundreds of
    millions of distinct word forms train without a bounded collect.

    Per merge iteration: one distributed pair-count aggregation over
    the (symbols, count) table (the same aggregation r130 oracle-
    checks), a 1-ROW ``limit(1)`` collect for the argmax (count desc,
    pair asc — identical tie-break to the driver loop, so the learned
    merge list is bit-identical to :func:`bpe_train` on any corpus
    both can handle), then a native-expression rewrite of the symbol
    arrays (:func:`_merge_pair_expr` — no Python in the loop). Each
    round's vocab frame is pinned (filled by one job) and the lineage
    cut with an eager ``localCheckpoint`` every ``checkpoint_every``
    iterations (the graph tier's iteration pattern,
    ``operators/graph.py``), so plan depth stays bounded at any
    ``num_merges``. The call runs in its own scope: every round's vocab
    stays materialized until it returns, when all are released.

    Cost model: ``num_merges`` shuffle jobs over the word table vs the
    driver loop's zero — use :func:`bpe_train` (which auto-routes
    here only above ``_MAX_DRIVER_WORDS``) unless the vocab genuinely
    can't fit on the driver."""
    wc = word_counts(df, text_col, top_words)
    vocab = checkpoint(
        wc.select(_word_syms().alias("syms"), F.col("count")), "bpe.vocab"
    )
    merges: list[tuple[str, str]] = []
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(syms[i - 1] AS a, syms[i] AS b))"
    )
    for it in range(num_merges):
        top = (
            # fully-merged words (1 symbol) have no pairs — and
            # sequence(1, 0) runs DESCENDING, which would index
            # syms[1] out of bounds under ANSI
            vocab.where(F.size("syms") > 1)
            .select("count", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("count").alias("pc"))
            # TakeOrderedAndProject — partial per-partition top-1,
            # never a global sort
            .orderBy(F.desc("pc"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["pc"]) < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        step = vocab.select(
            _merge_pair_expr("syms", a, b).alias("syms"), "count"
        )
        if (it + 1) % max(1, checkpoint_every) == 0:
            # cut lineage: plan depth stays <= checkpoint_every selects
            vocab = checkpoint(step, "bpe.vocab")
        else:
            vocab = pin(step, "bpe.vocab", eager=True)
    return merges


def bpe_train(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    top_words: int | None = 1_000_000,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list (rank = index). See module docstring for the
    distributed/driver split; stops early when no pair reaches
    ``min_pair_count``. Vocabularies past ``_MAX_DRIVER_WORDS`` route
    to :func:`bpe_train_distributed` instead of failing (round-13
    VERDICT ask #6) — same merge list, ``num_merges`` distributed
    jobs instead of a driver loop."""
    wc = word_counts(df, text_col, top_words)
    # the vocab collect is bounded by top_words when set, but
    # top_words=None (or an absurd value) would materialize the whole
    # distinct-word table on the driver — probe the size distributedly
    # and route to the distributed trainer instead of OOMing
    if top_words is None or top_words > _MAX_DRIVER_WORDS:
        n_words = wc.count()
        if n_words > _MAX_DRIVER_WORDS:
            import warnings

            warnings.warn(
                f"bpe_train: {n_words:,} distinct words exceed the "
                f"driver ceiling ({_MAX_DRIVER_WORDS:,}); routing to "
                f"bpe_train_distributed ({num_merges} distributed "
                f"jobs)",
                stacklevel=2,
            )
            return bpe_train_distributed(
                df,
                num_merges,
                text_col=text_col,
                top_words=top_words,
                min_pair_count=min_pair_count,
            )
    rows = wc.collect()
    # r["count"], not r.count — Row.count is the tuple method
    vocab = {r.word: (list(r.word) + [EOW], int(r["count"])) for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab.values():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        # max count, ties broken lexicographically — deterministic
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < min_pair_count:
            break
        merges.append(best)
        vocab = {
            w: (_merge_word(syms, *best), n) for w, (syms, n) in vocab.items()
        }
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize every document with a learned merge list: Arrow-batched
    map stage, per-batch word cache (each distinct word in the batch is
    merged once). Appends ``out_col: array<string>``; other columns
    pass through."""
    from collections.abc import Iterator

    import pandas as pd

    ranks = {m: i for i, m in enumerate(merges)}
    from pyspark.sql import types as T

    fields = df.schema.fieldNames()
    # fresh StructType — .add() mutates the DataFrame's own schema object
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.StringType()))]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc_text(text: str) -> list[str]:
            toks: list[str] = []
            for w in (text or "").lower().split():
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, ranks)
                toks.extend(got)
            return toks

        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = [enc_text(t) for t in pdf[text_col]]
            yield pdf[fields + [out_col]]

    return df.mapInPandas(batches, out_schema)
