"""Text analysis: tokens, normalization, PII redaction, fingerprints, scoring.

All pure column expressions (JVM-side, codegen'd) — a 100 TB corpus pays
one map stage, no shuffle, for every per-document metric here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.core.materialize import pin

#: whitespace tokenizer shared by every operator (and by the DuckDB
#: oracles — keep in sync with regexp_split_to_array(trim(x), '\s+')).
TOKEN_RE = r"\s+"

PUNCT_CHARS = ".,!?;:'\"()-"

#: Minimal stopword list per language (top function words; public
#: knowledge).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
}


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_RE)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def doc_lengths(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token count ``(doc_id, dl)`` WITHOUT an explode or
    a shuffle: ``dl = size(filter(tokens(text), t -> t <> ''))`` is a
    narrow projection, where the explode→groupBy(doc) formulation it
    replaces (round-14) shuffled one partially-aggregated row per
    document and re-tokenized the corpus once per consumer. Documents
    with zero non-empty tokens are dropped — exactly the rows the old
    groupBy never produced — so corpus scalars (N docs, Σ dl) derived
    from this frame match the explode-based ones bit-for-bit.

    Precondition (round-14 ADVICE): ``id_col`` must be UNIQUE per row.
    This emits one row per INPUT row (no groupBy), so duplicate doc
    ids would inflate corpus N / Σ dl in the bm25 scorers and fan out
    the serving doclens view — where the old explode+groupBy silently
    collapsed them. Every corpus in this repo carries unique doc ids
    (the ingestion layer's dedup owns that invariant); dedupe upstream
    before calling if yours does not."""
    # array_remove, not a filter() lambda: higher-order-function
    # lambdas are interpreted per element (no codegen) — measured
    # ~30% slower on this hot path
    dl = F.size(F.array_remove(tokens(F.col(text_col)), ""))
    return (
        df.select(F.col(id_col).alias("doc_id"), dl.alias("dl"))
        .where(F.col("dl") > 0)
    )


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.translate(c, PUNCT_CHARS, "")
    return F.length(c) - F.length(stripped)


#: scrub patterns for normalize_text (applied in order)
_SCRUB_PATTERNS = [
    (r"https?://\S+", " "),          # URLs
    (r"[\w.+-]+@[\w-]+\.[\w.-]+", " "),  # emails
    (r"[\x00-\x08\x0b\x0c\x0e-\x1f]", ""),  # control chars (keep \t\n\r)
]


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    lowercase: bool = True,
    scrub: bool = True,
) -> DataFrame:
    """Training-data text normalization: optional URL/email/control-char
    scrubbing, whitespace collapse, trim, optional lowercasing — one
    codegen'd projection, the standard pre-dedup canonicalization so
    near-identical documents hash together."""
    out_col = out_col or text_col
    c = F.col(text_col)
    if scrub:
        for pat, repl in _SCRUB_PATTERNS:
            c = F.regexp_replace(c, pat, repl)
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out_col, c)


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Exact-content fingerprint (md5 of the raw text)."""
    return df.withColumn(out_col, F.md5(F.col(text_col)))


#: PII patterns, applied in declaration order (email first: once its
#: token is gone the digit patterns can't partially re-match it; SSN
#: before phone so 3-2-4 never half-matches 3-3-4). Regex subset chosen
#: to behave identically under Java regex and RE2 (ASCII \w and \b, no
#: backreferences/lookaround) so SQL-engine twins reproduce the output.
PII_PATTERNS = {
    "email": r"[\w.+-]+@[\w-]+\.[\w.-]+",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    count_prefix: str = "n_",
) -> DataFrame:
    """Redact emails / SSNs / phone numbers / IPv4s with typed
    placeholders (``<EMAIL>`` etc.) and count matches per type — the
    mandatory scrub before any corpus leaves the lake. One codegen'd
    projection per row: counts read the ORIGINAL text (each pattern
    independent), then replacements apply in PII_PATTERNS order.
    """
    out_col = out_col or text_col
    c = F.col(text_col)
    counts = {
        f"{count_prefix}{name}": F.size(
            F.regexp_extract_all(c, F.lit(pat), F.lit(0))
        )
        for name, pat in PII_PATTERNS.items()
    }
    red = c
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return df.withColumns({**counts, out_col: red})


def _ngram_array(toks: Column, n: int) -> Column:
    """Overlapping token n-grams (space-joined), empty array when the
    document has fewer than ``n`` tokens."""
    cnt = F.size(toks)
    seq = F.sequence(F.lit(1), cnt - n + 1)
    grams = F.transform(seq, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def _run_length_stats(sorted_arr: Column) -> Column:
    """struct(best, dup) over a SORTED array: ``best`` = the highest
    frequency of any element, ``dup`` = total count of elements whose
    frequency > 1. Single O(n) fold after the sort — map-only, so a
    100 TB corpus pays zero shuffle for per-document repetition stats
    (the explode→groupBy alternative shuffles every n-gram)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = x == acc.getField("prev")
        new_run = F.when(same, acc.getField("run") + 1).otherwise(F.lit(1).cast("long"))
        # a run closes when the element changes; fold its length into
        # dup only if it repeated
        closed = F.when(
            ~F.coalesce(same, F.lit(False)) & (acc.getField("run") > 1),
            acc.getField("run"),
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc.getField("best"), new_run).alias("best"),
            (acc.getField("dup") + closed).alias("dup"),
        )

    def finish(acc: Column) -> Column:
        tail = F.when(acc.getField("run") > 1, acc.getField("run")).otherwise(
            F.lit(0).cast("long")
        )
        return F.struct(
            acc.getField("best").alias("best"),
            (acc.getField("dup") + tail).alias("dup"),
        )

    return F.aggregate(sorted_arr, init, step, finish)


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style per-document repetition features (Rae et al. 2021
    §A1.1): duplicate-token fraction, top/duplicate 2-gram share, top
    3-gram share. High values mark boilerplate and degenerate repeated
    text that dedup misses because the repetition is *within* one doc.

    Pure projection: tokens bound once per row (see
    :func:`chunk_fingerprint_projection` for why the bind must be its
    own step), then sorted-run folds — no shuffle, no UDF.
    """
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    toks = F.col("_t")
    n_tok = F.size(toks)
    g2 = _run_length_stats(F.array_sort(_ngram_array(toks, 2)))
    g3 = _run_length_stats(F.array_sort(_ngram_array(toks, 3)))
    n_g2 = F.greatest(n_tok - 1, F.lit(0))
    n_g3 = F.greatest(n_tok - 2, F.lit(0))
    return staged.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        ((n_tok - F.size(F.array_distinct(toks))).cast("double") / n_tok).alias(
            "dup_token_frac"
        ),
        (g2.getField("best").cast("double") / F.greatest(n_g2, F.lit(1))).alias(
            "top_2gram_share"
        ),
        (g2.getField("dup").cast("double") / F.greatest(n_g2, F.lit(1))).alias(
            "dup_2gram_frac"
        ),
        (g3.getField("best").cast("double") / F.greatest(n_g3, F.lit(1))).alias(
            "top_3gram_share"
        ),
    )


def chunk_fingerprint_projection(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    out_col: str = "chunk_fps",
    hash_fn=None,
) -> DataFrame:
    """Lean (id, chunk_fps) rolling-fingerprint projection.

    Prunes to (id, token-array) FIRST, then computes the shingle hashes
    from the bound array column. Keeping the raw text alongside the
    token alias lets CollapseProject merge the projections and re-inline
    the split into the transform lambda, where it re-runs once per
    shingle (measured 6.6 s vs 1.2 s over 5k docs at sf0.1) — pruning
    the text away blocks the merge and pins the split to once per row.
    """
    hash_fn = hash_fn or F.xxhash64
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    toks = F.col("_t")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1))),
        lambda i: hash_fn(F.concat_ws(" ", F.slice(toks, i, window))),
    )
    return staged.select(
        F.col(id_col), F.array_sort(F.array_distinct(shingles)).alias(out_col)
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus TF-IDF with the smoothed sklearn idf
    (``ln((N+1)/(df+1)) + 1``): top-``k`` terms per document by
    (score DESC, term ASC) — the classic keyword-extraction /
    relevance-feature step.

    Scale shape: explode → (doc, term) counts → per-term document
    frequency; the corpus size N joins back as a broadcast single-row
    scalar (never a partition-less window), the DF table joins on the
    term key, and the final top-k is one window per doc partition.
    Terms tie-break lexicographically so the selection is total-order
    deterministic; equal (tf, df) pairs score bit-identically in any
    engine, so ranking is reproducible (the ln of identical doubles
    agrees across libm implementations to well below the 6dp the
    oracle compares).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # persisted: the document-frequency aggregate and the score join
    # both consume tf — without the persist each use re-runs the full
    # tokenize→explode→count pass over the corpus (round-14; same
    # idiom as tf_cosine_near_dups' shared tf frame)
    tf = pin(
        toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")),
        "text.tf",
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = df.select(F.count("*").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(id_col, "term", "tfidf")
    )


def corpus_frequency_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_max_df: int = 2,
) -> DataFrame:
    """Per-document fluency proxy from corpus statistics alone: how
    "familiar" a document's vocabulary is to the corpus it lives in —
    the integer-exact cousin of a unigram language-model logprob
    (avoided here because cross-engine ``ln`` differs in the last ulp
    and would poison value hashes).

    Output per doc: ``n_tokens``, ``mean_tf`` (mean corpus frequency
    of the doc's tokens, double from one exact int÷int), and
    ``rare_ratio`` (share of tokens whose corpus frequency ≤
    ``rare_max_df`` — gibberish and OCR noise score high, boilerplate
    scores low).

    Scale shape: one explode + one token-count aggregate + one join of
    exploded tokens against the vocabulary table. Stopwords make the
    token key skewed — the vocabulary side is the SMALL side, so it is
    broadcast when it fits (AQE skew-join covers the shuffle fallback
    for web-scale vocabularies); the per-doc re-aggregate is keyed by
    doc id, which is uniform.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok")
    ).where(F.col("_tok") != "")
    vocab = toks.groupBy("_tok").agg(F.count("*").alias("_tf"))
    scored = (
        toks.join(F.broadcast(vocab), "_tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_tf").alias("_sum_tf"),
            F.sum((F.col("_tf") <= rare_max_df).cast("long")).alias("_n_rare"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        (F.col("_sum_tf") / F.col("n_tokens")).cast("double").alias("mean_tf"),
        (F.col("_n_rare") / F.col("n_tokens")).cast("double").alias("rare_ratio"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    coverage: tuple[int, int] = (999, 1000),
) -> DataFrame:
    """Smallest frequency-ranked vocabulary covering ``coverage`` of
    the corpus token stream — the tokenizer-design question ("how many
    types cover 99.9% of tokens?") asked before committing a vocab
    size. A token is kept while the cumulative count of all
    higher-ranked tokens (count desc, token asc tie-break) is still
    below the target; ``coverage`` is an integer ``(num, den)``
    fraction so the cut compares exact integers — no float threshold
    to diverge between engines.

    Scale shape: tokens hash-aggregate to (token, cnt) — the only
    corpus-sized shuffle, with map-side partials — then the cumulative
    rank runs over the VOCABULARY (orders of magnitude smaller) via
    the shared two-phase kernel (``operators.ranking
    .keyed_running_sum``) ordered by (−cnt, token). Full-tuple
    splitters, because the zipf tail makes cnt=1 a giant tie group a
    count-only boundary could never split; the grand total rides the
    kernel's ``total_col`` metadata (BIGINT end to end — total·num
    overflowed int32 at sf1.0 before round 12). Round 13 replaced this
    operator's own localCheckpoint + spark_partition_id prefix sum
    (which also left a never-unpersisted cache behind). No
    vocabulary-sized single-partition sort.
    """
    from datalake_backend_spark.operators.ranking import keyed_running_sum

    num, den = coverage
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cum = keyed_running_sum(
        counts.withColumn("_negcnt", -F.col("cnt")),
        [],
        ["_negcnt", "token"],
        "cnt",
        out_col="_incl",
        total_col="_tot",
        tuple_splitters=True,
    )
    return (
        cum.withColumn("cum_before", F.col("_incl") - F.col("cnt"))
        .where(
            F.col("cum_before") * F.lit(den).cast("bigint")
            < F.col("_tot") * F.lit(num).cast("bigint")
        )
        .select("token", "cnt", "cum_before")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the RAG /
    context-window prep step: chunk ``i`` covers tokens ``[i·stride,
    i·stride + chunk_tokens)`` with ``stride = chunk_tokens − overlap``,
    and the final partial window is kept so no tail token is lost.
    Emits ``(id, chunk_idx, tok_start, tok_end, n_tokens, chunk)``.

    Pure column expressions end-to-end (split → sequence → transform/
    slice → posexplode): map-only, no shuffle, no Python in the row
    path — whole-stage codegen handles a 100 TB corpus as a single
    scan-and-expand stage."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("tok_start"),
            F.least(s + chunk_tokens, n).alias("tok_end"),
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias(
                "chunk"
            ),
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_c"),
    ).select(
        id_col,
        "chunk_idx",
        F.col("_c.tok_start").alias("tok_start"),
        F.col("_c.tok_end").alias("tok_end"),
        (F.col("_c.tok_end") - F.col("_c.tok_start")).alias("n_tokens"),
        F.col("_c.chunk").alias("chunk"),
    )


def sentences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sentence segmentation: split on terminal-punctuation runs
    followed by whitespace (``[.!?]+\\s+`` — deliberately lookbehind-
    free so the rule reproduces in RE2-based engines), trim, drop
    empties, and emit ``(id, sentence, n_tokens)`` rows. The
    sentence-level unit underlies per-sentence quality filtering and
    sentence-dedup curation passes; map-only explode, no shuffle."""
    sent = F.explode(
        F.split(F.col(text_col), r"[.!?]+\s+")
    ).alias("_s")
    out = df.select(F.col(id_col), sent).select(
        id_col, F.trim(F.regexp_replace(F.col("_s"), r"[.!?]+$", "")).alias("sentence")
    )
    out = out.where(F.col("sentence") != "")
    return out.withColumn("n_tokens", F.size(tokens(F.col("sentence"))))


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Corpus inverted index: one row per term with document frequency,
    total term frequency, and the posting list serialized as
    ``"doc:tf,doc:tf,..."`` in ascending doc order — the structure a
    search-index sink (serving/export.py) ships, built as two hash
    aggregates (term×doc tf, then term fold); the posting list is
    assembled inside the term aggregate with ``array_sort`` over
    ``collect_list`` (deterministic order without a global sort).

    ``max_df`` drops terms appearing in more than that many documents
    — stopword postings are the skew hazard at 100 TB (a term in every
    doc makes one reducer assemble a corpus-sized list; real engines
    block-split postings, a cap is the honest bounded version). The
    serialization is plain string so any engine reproduces it
    byte-for-byte (string_agg ... ORDER BY twin)."""
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    idx = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("tf_total"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat_ws(
                    ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                ),
            ),
            ",",
        ).alias("postings"),
    )
    if max_df is not None:
        idx = idx.where(F.col("df") <= max_df)
    return idx


def ngram_lm_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-model count statistics per word — the corpus pass a
    KenLM-style n-gram LM build (or an LM-based quality filter) needs:
    unigram count, the Kneser-Ney CONTINUATION count (how many
    DISTINCT left neighbors the word follows — "York" is frequent but
    continues almost nothing except "New", which is exactly what KN
    smoothing wants to know), its right-context twin, and the count of
    distinct bigrams the word starts. Document boundaries carry the
    ``<s>``/``</s>`` sentinels so edge words count their boundary
    context exactly once.

    Shape: one explode to positional tokens (O(tokens) rows), a
    self-join-free window lag for the left neighbor, then ONE
    aggregate with distinct counts — all integers, bit-exact in any
    engine."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_d"),
        F.posexplode(tokens(F.col(text_col))).alias("_p", "w"),
    ).where(F.col("w") != "")
    lagw = Window.partitionBy("_d").orderBy("_p")
    with_ctx = toks.select(
        "w",
        F.coalesce(F.lag("w").over(lagw), F.lit("<s>")).alias("left"),
        F.coalesce(F.lead("w").over(lagw), F.lit("</s>")).alias("right"),
    )
    return with_ctx.groupBy("w").agg(
        F.count("*").alias("unigram_cnt"),
        F.countDistinct("left").alias("continuation_cnt"),
        F.countDistinct("right").alias("right_ctx_cnt"),
    )


def lm_score_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10**9,
) -> DataFrame:
    """LM-based document quality scoring — the APPLY side of the
    CCNet/KenLM perplexity filter: build a bigram MLE model over the
    corpus (with ``<s>``/``</s>`` boundary sentinels), then score every
    document by how predictable its word transitions are under that
    model. Fluent prose rides high-count transitions; gibberish,
    boilerplate keyboard-mash, and wrong-language text ride rare ones.

    Classic CCNet sums ``log p(w2|w1)`` — a float whose libm last-ulp
    behavior differs across engines. To stay bit-exact cross-engine
    (the repo's oracle convention) the score is instead the sum of
    INTEGER-scaled Laplace-smoothed transition probabilities
    ``FLOOR(scale·(c(w1,w2)+1) / (c(w1·)+V))`` (V = right-vocabulary
    size) — pure BIGINT arithmetic. The smoothing is load-bearing,
    not a nicety: unsmoothed MLE assigns a corpus-hapax transition
    probability 1 (the word only ever transitions one way), so
    gibberish would score HIGH; add-one pulls singleton transitions
    toward 1/V while genuinely frequent transitions stay near their
    MLE value, restoring the fluent-beats-gibberish ranking the
    filter exists for. ``novel_bigrams`` counts corpus-hapax
    transitions (the doc's own occurrence is the only one) — high
    hapax share is the strongest single gibberish signal.

    Shape at 100 TB: one explode to boundary-extended positional
    tokens, one window lag to form bigram pairs (persisted — the model
    build and the scoring join share it), two count aggregates for the
    model, then an equi-join of doc pairs against the model keyed on
    the bigram and ONE per-doc aggregate. No driver-side state, no
    floats, no all-pairs stage.

    Returns per doc: ``n_bigrams`` (tokens+1 incl. boundaries),
    ``novel_bigrams``, ``pred_score`` (BIGINT sum of scaled p), and
    ``mean_p_scaled = pred_score div n_bigrams`` — the thresholdable
    length-normalized score."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_d"),
        F.posexplode(
            F.concat(
                F.array(F.lit("<s>")),
                F.filter(tokens(F.col(text_col)), lambda x: x != ""),
                F.array(F.lit("</s>")),
            )
        ).alias("_p", "w"),
    )
    lagw = Window.partitionBy("_d").orderBy("_p")
    pairs = pin(
        toks.withColumn("w1", F.lag("w").over(lagw))
        .where(F.col("w1").isNotNull())
        .select("_d", "w1", F.col("w").alias("w2")),
        "text.bigrams",
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = pairs.agg(F.countDistinct("w2").alias("_V"))
    model = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p_scaled", F.expr(f"({scale}L * (c12 + 1)) div (c1 + _V)")
        )
        .drop("_V")
    )
    return (
        pairs.join(model, ["w1", "w2"])
        .groupBy("_d")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("c12") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("novel_bigrams"),
            F.sum("p_scaled").alias("pred_score"),
        )
        .withColumn("mean_p_scaled", F.expr("pred_score div n_bigrams"))
        .withColumnRenamed("_d", id_col)
    )


def nb_quality_score(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10**6,
) -> DataFrame:
    """Self-supervised token-likelihood quality scorer — the CCNet
    trick in classifier form: a cheap heuristic gate labels a seed of
    documents good/bad (``label_col`` boolean), per-token class
    posteriors are estimated from that labeling, and every document is
    re-scored by its tokens' mean posterior. Documents full of tokens
    that predominantly occur in gate-passing text score high even when
    the gate itself is ambivalent about them — the scorer GENERALIZES
    the heuristic (exactly why CCNet trains a Wikipedia LM instead of
    shipping the heuristic).

    Integer-exact: the per-token Laplace posterior is
    ``FLOOR(scale·(c_good+1) / (c_total+2))`` and the doc score is the
    BIGINT sum over token occurrences — no logs, no libm, bit-exact in
    any engine (oracle r151).

    Scale shape: one explode (persisted — model build and scoring
    share it), one count aggregate for the model, one equi-join on the
    token, one per-doc aggregate. Returns per doc: ``n_tok``,
    ``sum_p_scaled``, ``mean_p_scaled = sum div n``."""
    toks = pin(
        df.select(
            F.col(id_col).alias("_d"),
            F.col(label_col).alias("_g"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .where(F.col("w") != ""),
        "text.label_tokens",
    )
    model = (
        toks.groupBy("w")
        .agg(
            F.sum(F.when(F.col("_g"), 1).otherwise(0)).alias("cg"),
            F.count("*").alias("ct"),
        )
        .withColumn("p_scaled", F.expr(f"({scale}L * (cg + 1)) div (ct + 2)"))
    )
    return (
        toks.join(model.select("w", "p_scaled"), "w")
        .groupBy("_d")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("p_scaled").alias("sum_p_scaled"),
        )
        .withColumn("mean_p_scaled", F.expr("sum_p_scaled div n_tok"))
        .withColumnRenamed("_d", id_col)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10**6,
    top_k: int = 20,
) -> DataFrame:
    """BM25 ranking over the corpus for a fixed term query — the READ
    side of the search tier whose WRITE side is :func:`inverted_index`:
    score every document against ``query_terms`` with the BM25
    saturation formula (k1 = 1.2, b = 0.75) and return the top
    ``top_k`` as ``(doc_id, score_scaled)``.

    Exactness: floating BM25 (libm ``log``) is not bit-reproducible
    across engines, so both factors are integer rationals. The tf
    component is exact BM25 algebra over a common denominator — with
    L = Σ dl (so avgdl = L/N),

        tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
          = 44·L·tf / (20·L·tf + 6·L + 18·dl·N)

    — and the idf is Lucene's ``log(1 + (N−df+½)/(df+½))`` quantized
    to HALF-bits via pure integer ops: for x ≥ y ≥ 1,
    ``floor(log2(x/y)) = bit_length(x div y) − 1``, so with x=(2N+2)²
    and y=(2df+1)² the expression ``length(bin(x div y)) − 1`` is
    exactly ``floor(2·log2((2N+2)/(2df+1)))`` in ANY engine that has
    ``bin()`` (Spark and DuckDB both do). Per-term score is then one
    exact ``div`` with the numerator widened to DECIMAL(38,0); integer
    sums are order-independent, so the ranking is a bit-exact function
    of the corpus (oracle r154) — the same algebra as
    :func:`bm25_multi_query`, int64-safe to N ≈ 1.5·10⁹ documents /
    L ≈ 10¹³ tokens (round-13: replaced the quarter-bit idf whose
    ``(2N+2)⁴`` wrapped signed-64 past N ≈ 27,550 — the one sf1.0
    verdict that was a tolerance instead of a hash).

    Scale shape (round-14 rework): document length rides the matching
    rows as ``size(filter(tokens(...)))`` — a narrow projection, so
    the old full-token-stream ``groupBy(doc)`` shuffle and its join
    back onto the scored rows are both gone; tf is restricted to the
    query terms BEFORE any shuffle (the filtered explode ships only
    matching postings); the tiny (doc, term, dl, tf) frame is
    persisted so the per-term document frequency re-reads it instead
    of re-tokenizing the corpus; corpus scalars (N, Σdl) come from
    one more narrow pass via the broadcast 1-row-agg idiom; the top-k
    is ``orderBy().limit()`` — Spark plans TakeOrderedAndProject, a
    per-partition heap + driver merge of k rows, never a global
    sort."""
    terms = list(query_terms)
    qtf = pin(
        # inner projection materializes the tokenize ONCE per row; the
        # outer select references _t twice (dl + the explode child),
        # which CollapseProject will not inline past (non-cheap expr
        # referenced twice), so the regex split runs once, not twice.
        # array_remove + explode + where(isin) stay in codegen; a
        # filter() lambda here would run interpreted per token.
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_remove(tokens(F.col(text_col)), "").alias("_t"),
        )
        .select(
            "doc_id",
            F.size("_t").alias("dl"),
            F.explode("_t").alias("term"),
        )
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf")),
        "text.query_tf",
    )
    corpus = doc_lengths(df, text_col, id_col).agg(
        F.count("*").alias("_n"), F.sum("dl").alias("_l")
    )  # 1 row — broadcast scalar, never a collect
    dft = qtf.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        qtf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_q",
            F.expr(
                "length(bin(((2L*_n + 2L) * (2L*_n + 2L))"
                " div ((2L*df_t + 1L) * (2L*df_t + 1L)))) - 1"
            ).cast("bigint"),
        )
        .withColumn(
            "term_score",
            F.expr(
                # exact integer quotient (`div`); decimal(38,0)
                # numerator so idf·44·L·tf·scale never wraps int64
                f"(cast(idf_q as decimal(38,0)) * 44 * _l * tf"
                f" * {scale})"
                " div (20L * _l * tf + 6L * _l + 18L * dl * _n)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score").alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), F.asc("doc_id"))
        .limit(top_k)
    )


def bm25_multi_query(
    df: DataFrame,
    queries: dict[str, list[str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10**6,
    top_k: int = 10,
) -> DataFrame:
    """BM25 over a QUERY SET in one pass — the serving-layer shape
    (rank every outstanding query per batch) instead of one Spark job
    per query: the query set becomes a tiny broadcast ``(query_id,
    term)`` table, postings join it once, and the per-query top-k is a
    single ``row_number`` window partitioned by query. Returns
    ``(query_id, doc_id, score_scaled, rank)`` with ``rank ≤ top_k``.

    Same integer-rational tf algebra as :func:`bm25_scores`
    (k1 = 1.2, b = 0.75 over the common denominator), but built for
    corpus scale: the idf is HALF-bit quantized —
    ``floor(2·log2((2N+2)/(2df+1))) = length(bin((2N+2)² div
    (2df+1)²)) − 1`` — squaring only once so the intermediate stays
    int64 to N ≈ 1.5·10⁹ documents (the quarter-bit form wraps at
    N ≈ 27.5 K), and the ``idf·44·L·tf·scale`` numerator accumulates
    in DECIMAL(38,0) (HUGEINT in the DuckDB twin) so token mass
    L ~ 10¹³ at 100 TB cannot wrap it. Round-14 shape (same rework as
    :func:`bm25_scores`): document length rides the matching rows as
    a narrow ``size(filter(...))`` projection instead of a
    full-token-stream groupBy + join-back; the filtered explode ships
    only query-term postings; the tiny tf frame is persisted so the
    document-frequency pass re-reads it instead of re-tokenizing;
    corpus scalars via the broadcast 1-row-agg idiom; scores are a
    bit-exact function of the corpus in any engine (oracle r162)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    qrows = [
        (qid, t) for qid, terms in sorted(queries.items()) for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, term string")
    all_terms = sorted({t for ts in queries.values() for t in ts})
    tf = pin(
        # two-level projection so the regex split runs once per row;
        # codegen-friendly array_remove/explode/where (see bm25_scores)
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_remove(tokens(F.col(text_col)), "").alias("_t"),
        )
        .select(
            "doc_id",
            F.size("_t").alias("dl"),
            F.explode("_t").alias("term"),
        )
        .where(F.col("term").isin(all_terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf")),
        "text.query_tf",
    )
    corpus = doc_lengths(df, text_col, id_col).agg(
        F.count("*").alias("_n"), F.sum("dl").alias("_l")
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_q",
            F.expr(
                "length(bin(((2L*_n + 2L) * (2L*_n + 2L))"
                " div ((2L*df_t + 1L) * (2L*df_t + 1L)))) - 1"
            ).cast("bigint"),
        )
        .withColumn(
            "term_score",
            F.expr(
                # exact integer quotient (`div`, not floor(a/b)): the
                # decimal divide rounds HALF_UP at scale 6, flooring
                # one high within 5e-7 of an integer; the quotient is
                # ≤ 44·idf·scale/20 so bigint cannot overflow
                f"(cast(idf_q as decimal(38,0)) * 44 * _l"
                f" * tf * {scale})"
                " div (20L * _l * tf + 6L * _l + 18L * dl * _n)"
            ),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score_scaled")
    )
    # two-phase top-k: a partition-LOCAL top-k first, so the final
    # per-query window sorts at most top_k x n_partitions rows — a
    # query matching the whole corpus would otherwise funnel every
    # scored doc into one partition for the global sort. The local
    # prune is a superset of the global top-k, so results are
    # identical.
    w_local = Window.partitionBy("query_id", "_p").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    pruned = (
        agg.withColumn("_p", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= top_k)
        .drop("_p", "_lr")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    return pruned.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_k
    )


def bm25_search_from_index(
    index: DataFrame,
    doc_lens: DataFrame,
    queries: dict[str, list[str]],
    scale: int = 10**6,
    top_k: int = 10,
) -> DataFrame:
    """The READ side of the search pair: BM25 top-k for a query set
    scored from a PRE-BUILT :func:`inverted_index` frame — no corpus
    pass. :func:`bm25_multi_query` tokenizes the documents per batch;
    a serving layer doesn't re-read 100 TB of text per query set, it
    keeps the index (terms ≪ tokens) plus a tiny ``(doc_id, dl)``
    table and touches only the query terms' rows: the broadcast query
    join selects |query terms| index rows, their serialized postings
    explode back into (doc_id, tf), and the identical integer BM25
    algebra (half-bit idf, DECIMAL numerator, exact `div`) ranks them.
    Per-posting work is proportional to the matched postings, not the
    corpus — the Kibana-style "top documents for this term set"
    without a per-query Spark job over raw text.

    ``index`` needs columns (term, df, postings); ``doc_lens`` needs
    (doc_id, dl) with exactly one row per indexed document. Returns
    ``(query_id, doc_id, score_scaled, rank)`` — identical integers to
    :func:`bm25_multi_query` over the same corpus (oracle r173 pins
    the round-trip through the serialized posting strings)."""
    from pyspark.sql import Window

    spark = index.sparkSession
    qrows = [
        (qid, t) for qid, terms in sorted(queries.items()) for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, term string")
    corpus = doc_lens.agg(F.count("*").alias("_n"), F.sum("dl").alias("_l"))
    posts = (
        index.join(F.broadcast(qdf), "term")
        .select(
            "query_id",
            F.col("df").alias("df_t"),
            F.explode(F.split("postings", ",")).alias("_p"),
        )
        .select(
            "query_id",
            "df_t",
            F.substring_index("_p", ":", 1).cast("bigint").alias("doc_id"),
            F.substring_index("_p", ":", -1).cast("bigint").alias("tf"),
        )
    )
    scored = (
        posts.join(doc_lens, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_q",
            F.expr(
                "length(bin(((2L*_n + 2L) * (2L*_n + 2L))"
                " div ((2L*df_t + 1L) * (2L*df_t + 1L)))) - 1"
            ).cast("bigint"),
        )
        .withColumn(
            "term_score",
            F.expr(
                f"(cast(idf_q as decimal(38,0)) * 44 * _l"
                f" * tf * {scale})"
                " div (20L * _l * tf + 6L * _l + 18L * dl * _n)"
            ),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score_scaled")
    )
    # same two-phase top-k as bm25_multi_query: partition-local prune
    # first so the per-query global sort sees ≤ top_k × n_partitions
    w_local = Window.partitionBy("query_id", "_p").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    pruned = (
        agg.withColumn("_p", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= top_k)
        .drop("_p", "_lr")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    return pruned.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_k
    )


def phrase_occurrences(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional-index phrase search: documents containing the exact
    token sequence ``phrase`` (whitespace-tokenized), with the exact
    occurrence count — the n-token generalization of the inverted
    index (r134) that "bag of tokens" postings cannot answer.

    Scale shape: the classic positional-postings plan — posexplode to
    (doc, pos, token) postings FILTERED to the phrase's tokens before
    any shuffle (the filter is the phrase's selectivity; everything
    else never leaves the map stage), then one self-equi-join per gap
    on (doc, pos + k). At 100 TB the postings table is the
    precomputed index a search tier would store; this operator IS its
    build + probe. The r216 DuckDB twin scans token ARRAYS per
    document instead (list_filter over positions — a different
    algorithm with no join at all), so an off-by-one in the position
    arithmetic, a boundary token miss, or an overlap miscount breaks
    the hash.
    """
    terms = phrase.strip().split()
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 tokens (use LIKE for one)")
    toks = F.split(F.trim(F.col(text_col)), TOKEN_RE)
    postings = (
        df.select(
            F.col(id_col),
            F.posexplode(toks).alias("pos", "tok"),
        )
        .where(F.col("tok").isin(terms))
    )
    first = postings.where(F.col("tok") == terms[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    cur = first
    for k, t in enumerate(terms[1:], start=1):
        # aliasing pos - k to p0 makes each gap an explicit two-key
        # equi-join on (doc, position) — never a doc-only join with a
        # post-filter over the per-doc position cross
        nxt = postings.where(F.col("tok") == t).select(
            id_col, (F.col("pos") - k).alias("p0")
        )
        cur = cur.join(nxt, on=[id_col, "p0"], how="inner")
    return cur.groupBy(id_col).agg(
        F.count("*").alias("n_occurrences")
    )


def bigram_lift(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining: for every adjacent token pair occurring
    ≥ ``min_count`` times, the association lift
    ``P(w1,w2) / (P(w1)·P(w2)) = n12 · N_tok / (n1 · n2)`` — the
    log-free PMI core (phrase/MWE detection, stopword-chain
    diagnostics before dedup shingling). Unigram probabilities use
    token occurrences, bigram counts use adjacent positions within a
    document (no cross-document pairs).

    Exactness: counts are BIGINTs; the lift numerator/denominator
    accumulate in decimal(38,0) (DuckDB HUGEINT — n12·N_tok passes
    2^63 once the corpus passes ~10¹⁰ tokens) and convert to double
    only for the single final division — identical on both engines.

    Scale shape: one explode + two hash aggregates + one join of the
    bigram counts against the (much smaller) unigram table twice.
    The bigram table is the big intermediate; min_count prunes it
    INSIDE the first aggregate's HAVING, before any join."""
    toks = df.select(tokens(text_col).alias("_t")).where(
        F.size("_t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_t"), 1, F.size("_t") - 1).alias("w1"),
                F.slice(F.col("_t"), 2, F.size("_t") - 1).alias("w2"),
            )
        ).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
        .where(F.col("n12") >= min_count)
    )
    uni = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    total = uni.agg(F.sum("n").alias("_ntok"))
    dec = "decimal(38,0)"
    return (
        big.join(uni.select(F.col("w").alias("w1"), F.col("n").alias("n1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n").alias("n2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            "n2",
            (
                (F.col("n12").cast(dec) * F.col("_ntok")).cast("double")
                / (F.col("n1").cast(dec) * F.col("n2")).cast("double")
            ).alias("lift"),
        )
    )
