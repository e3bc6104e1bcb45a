"""Text-analysis operators for large-scale training-data pipelines.

All hot-path computation is JVM-side ``pyspark.sql.functions`` (whole
-stage codegen, no Python); formulas are deliberately expressible in
ANSI SQL so the DuckDB oracle can replicate them bit-for-bit.

The reference engine treats payloads as opaque strings
(/root/reference/pipe-api/.../Message.java:14-31); these operators are
the additive capability a transcript-lake engine needs on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: tiny English stopword list for the language-ID heuristic — keep in
#: sync with the SQL-side list in __spark_entry__.py oracles
EN_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "you", "that"]


def round6(c: Column) -> Column:
    """Deterministic 6-dp rounding: ``floor(x·10⁶ + 0.5)/10⁶``.

    ``F.round`` (HALF_UP on the decimal rendering) and DuckDB's
    ``round`` disagree on ties sitting at binary-representation
    boundaries; this floor formulation is pure IEEE arithmetic, so both
    engines produce bit-identical doubles.  Oracle-side equivalent:
    ``floor(x * 1000000 + 0.5) / 1000000``.
    """
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII letters, rounded to 6 dp."""
    return round6(
        F.length(F.regexp_replace(col, "[^A-Za-z]", "")) / F.length(col)
    )


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = tokens(F.lower(col))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    return F.when(n == 0, F.lit(0.0)).otherwise(round6(hits / n))


def quality_score(text: Column) -> Column:
    """Composite document-quality score in [0, 1]:
    0.5·alpha_ratio + 0.3·min(tokens/200, 1) + 0.2·(1 - stopword_ratio·5 capped).

    The exact formula is arbitrary (as in any pretraining-filter
    pipeline); what matters is that it is deterministic, vectorized,
    and oracle-replicable.
    """
    len_term = F.least(token_count(text) / F.lit(200.0), F.lit(1.0))
    sw_term = F.lit(1.0) - F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return round6(
        F.lit(0.5) * alpha_ratio(text) + F.lit(0.3) * len_term + F.lit(0.2) * sw_term
    )


def detect_lang(text: Column) -> Column:
    """N-gram-free heuristic language ID: English if the stopword ratio
    clears a threshold, else 'other'.  (A production pipeline would use
    fastText; the Spark plumbing — a pure column expression, no UDF —
    is the part that matters at 100 TB.)"""
    return F.when(stopword_ratio(text) >= 0.05, "en").otherwise("other")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text.  md5 (not xxhash64) so the
    DuckDB oracle computes the identical value."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def subword_token_count(col: Column, max_piece: int = 4) -> Column:
    """BPE-ish subword token-count estimate, pure JVM regex: letter
    runs split into ≤``max_piece``-char pieces (≈ mean merged-BPE piece
    length), each digit its own token, each non-alphanumeric symbol its
    own token.  A deterministic, oracle-replicable stand-in for a real
    BPE vocab (which would be a broadcast merge table + the same
    regexp pre-tokenizer at scale)."""
    pat = "[A-Za-z]{1,%d}|[0-9]|[^A-Za-z0-9\\s]" % max_piece
    return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))


def _max_run_of_sorted(arr: Column) -> Column:
    """Highest multiplicity of any element in ``arr`` — computed as the
    longest run of equal adjacent elements after ``array_sort``.

    This is the zero-shuffle mode-count: an O(n log n) per-row sort plus
    one linear ``aggregate`` pass, entirely inside whole-stage codegen.
    The classic explode → groupBy(doc, gram) → max formulation shuffles
    every n-gram of the corpus twice; at 100 TB that is the single
    largest shuffle a quality-filter pass would run, and it buys nothing
    — the mode is a per-document statistic.
    """
    sorted_arr = F.array_sort(arr)
    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda s, x: F.struct(
            x.alias("prev"),
            F.when(s.prev.isNotNull() & (x == s.prev), s.run + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                s.best,
                F.when(s.prev.isNotNull() & (x == s.prev), s.run + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda s: s.best,
    )


def gopher_quality_filter(
    df: DataFrame,
    col: str = "text",
    min_words: int = 25,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_dup_word_frac: float = 0.60,
    max_top_bigram_frac: float = 0.05,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Gopher-style repetition/quality gates (Rae et al. 2021, §A1.1):

    - ``n_words`` ∈ [min_words, max_words]
    - ``mean_word_len`` ∈ [min, max]
    - ``dup_word_frac``  = 1 − distinct/total words ≤ threshold
    - ``top_bigram_frac`` = count of the most frequent word bigram /
      total bigrams ≤ threshold (the "most common n-gram character
      fraction" rule, count-based)

    Output: the input columns + the four signals (6-dp deterministic
    rounding) + a ``keep`` boolean.  No Python UDF.

    The top bigram is found without a shuffle: per-row ``array_sort`` +
    run-length ``aggregate``, so the whole filter is one projection
    pass.  Spark's higher-order functions are CodegenFallback
    (interpreted Catalyst eval, outside whole-stage codegen), so the
    per-row constant is high; the win is the single scan pass.

    ``min_input_partitions`` spreads a small/single-split input across
    the cores first (see ``functions.dedup.spread_small_input``).  With
    the scan parallelized this fold measured 0.63 s at sf0.1 local[32]
    against 1.03 s for an explode → groupBy formulation (BENCH.md).
    """
    from aqueduct_core_spark.functions.dedup import spread_small_input

    df = spread_small_input(df, min_input_partitions)
    c = F.col(col)
    words = tokens(c)
    n = token_count(c)
    # total word characters / word count (trim + collapse whitespace)
    chars = F.length(F.regexp_replace(F.trim(c), r"\s+", ""))
    mwl = F.when(n == 0, F.lit(0.0)).otherwise(round6(chars / n))
    dwf = F.when(n == 0, F.lit(0.0)).otherwise(
        round6(F.lit(1.0) - F.size(F.array_distinct(words)) / n)
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.slice(words, 1, F.size(words) - 1),
            lambda w, i: F.concat(w, F.lit(" "), F.element_at(words, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    tbf = F.when(F.size(bigrams) == 0, F.lit(0.0)).otherwise(
        round6(_max_run_of_sorted(bigrams) / F.size(bigrams))
    )
    out = df.select(
        "*",
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        dwf.alias("dup_word_frac"),
        tbf.alias("top_bigram_frac"),
    )

    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("dup_word_frac") <= max_dup_word_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
    )
    return out.withColumn("keep", keep)


def word_ngrams(col: Column, n: int = 2) -> Column:
    """All word n-grams of normalized text, in order, WITH repeats
    (array<string>; docs with fewer than ``n`` words → empty array).

    Same normalization as :func:`aqueduct_core_spark.functions.dedup.
    word_shingles` (lower, trim, whitespace collapse) so corpus n-gram
    statistics and dedup shingles agree on token boundaries — but no
    dedup and no short-doc fallback: counting wants every occurrence.
    """
    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - n + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(size >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def top_ngrams(
    df: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-level top-k n-grams by occurrence count (ties broken by
    the n-gram string) — the heavy-hitter / vocabulary query a corpus
    pipeline runs before tokenizer training.

    Shape at scale: explode → hash aggregate WITH map-side partial
    combine (the count collapses per partition before the shuffle — the
    shuffle carries distinct n-grams, not occurrences) →
    TakeOrderedAndProject for the top-k (per-partition heap + driver
    merge of k rows, never a global sort).
    """
    g = df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("ngram"))
    return (
        g.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )


def chunk_docs(
    df: DataFrame,
    size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows — the context-
    window chunking step every embedding / pretraining pipeline runs
    between cleaning and tokenization.

    Windows are ``size`` whitespace tokens with ``overlap`` tokens
    shared between consecutive chunks (stride ``size - overlap``); the
    final window is partial rather than dropped, so every token lands
    in at least one chunk — but a window that would sit ENTIRELY inside
    the previous chunk's overlap region is not emitted (start bound
    ``n - overlap - 1``): it would duplicate text the corpus already
    carries and double-count ``chunk_tokens``.  Output: one row per
    chunk with ``chunk_idx`` (0-based within the doc), ``chunk_text``
    and ``chunk_tokens``.

    Shape at scale: a single projection + ``explode`` — the window
    starts are generated per row with ``sequence`` and sliced from the
    one tokens array, so there is no shuffle, no window function and no
    Python; output partitioning inherits the scan's.  Rows whose text
    holds no tokens produce no chunks.

    Reference analog: none (the reference ships payloads opaque); this
    is additive LLM-pipeline capability like the rest of this module.
    """
    if not (0 <= overlap < size):
        raise ValueError(f"need 0 <= overlap < size, got {overlap=} {size=}")
    stride = size - overlap
    c = F.col(text_col)
    toks = tokens(c)
    n = token_count(c)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
    )
    out_cols = [col for col in df.columns if col != text_col]
    return (
        df.where(n > 0)
        .select(*out_cols, toks.alias("_toks"), n.alias("_n"),
                F.explode(starts).alias("_start"))
        .select(
            *out_cols,
            (F.col("_start") / stride).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_start") + 1, size))
            .alias("chunk_text"),
            F.least(F.lit(size), F.col("_n") - F.col("_start"))
            .cast("int").alias("chunk_tokens"),
        )
    )


#: PII patterns, written in the common Java-regex/RE2 subset (no
#: backreferences, no lookaround) so the DuckDB oracle replicates them
#: verbatim.  Spark's regexp_replace is global by default; DuckDB needs
#: the explicit 'g' option.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}-\d{3,4}-\d{4}"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub personally-identifying strings before a corpus leaves the
    lake: emails → ``<EMAIL>``, phone-shaped numbers → ``<PHONE>``,
    with per-doc hit counts for audit metrics.

    Replacement is sequential (emails first), and the counts mirror
    what was actually replaced: emails are counted on the original
    text, phones on the EMAIL-STRIPPED text — a phone-shaped substring
    inside an email address is redacted as part of the email, so
    counting it as a phone too would report phantom phone redactions
    in the audit metrics.  One projection, JVM regex only — no shuffle,
    no Python.
    """
    c = F.col(text_col)
    no_emails = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    redacted = F.regexp_replace(no_emails, PII_PHONE, "<PHONE>")
    return df.select(
        *[col for col in df.columns if col != text_col],
        redacted.alias(text_col),
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_emails, F.lit(PII_PHONE), F.lit(0)))
        .alias("n_phones"),
    )


def pack_token_stream(
    df: DataFrame,
    budget: int = 2048,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_text: bool = False,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay the corpus out as one
    token stream (documents concatenated in a deterministic total
    order) and cut it into fixed-``budget`` training sequences — the
    standard GPT-style pretraining packing, where a document may span
    a sequence boundary.  Output: one row per (document, sequence)
    span — ``seq_id``, ``seq_off`` (the span's start offset inside the
    sequence) and ``span_tokens`` — i.e. exactly the attribution a
    packed-batch loader needs to mask cross-document attention.
    Zero-token documents pack nothing.

    Stream order is ``(shard, id)`` with ``shard = id mod n_shards`` —
    deterministic and independent of parallelism or file layout.  An
    exact GLOBAL running token offset without a global sort: one
    window per shard (hash shuffle on ``shard``), then the per-shard
    totals — ``n_shards`` rows, a bounded driver collect like the
    trigger planner's block stats — prefix-summed and broadcast back
    as each shard's stream base.  The explode generates a doc's
    covered sequence ids arithmetically (no join against a sequence
    table).  At 100 TB: one shuffle, a ≤``n_shards``-row collect, and
    per-shard skew bounded by ``max doc count per residue class``.

    Reference analog: none — additive LLM-pipeline capability
    (:func:`chunk_docs` splits WITHIN documents; this packs ACROSS
    them).
    """
    from pyspark.sql.window import Window

    if budget <= 0 or n_shards <= 0:
        raise ValueError(f"need positive budget/n_shards, got {budget=} {n_shards=}")
    nt = token_count(F.col(text_col))
    carry = [tokens(F.col(text_col)).alias("_toks")] if with_text else []
    t = (
        df.select(F.col(id_col), nt.cast("long").alias("n_tokens"), *carry)
        .where(F.col("n_tokens") > 0)
        .withColumn("_shard", F.pmod(F.col(id_col), F.lit(n_shards)).cast("int"))
    )
    w = (
        Window.partitionBy("_shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = t.withColumn("_local_end", F.sum("n_tokens").over(w))

    totals = {
        int(r["_shard"]): int(r["tot"])
        for r in t.groupBy("_shard").agg(F.max("_local_end").alias("tot")).collect()
    }
    bases, acc = [], 0
    for s in range(n_shards):
        bases.append((s, acc))
        acc += totals.get(s, 0)
    base_df = df.sparkSession.createDataFrame(bases, "_shard int, _base long")

    b = F.lit(int(budget))
    carry_cols = ["_toks"] if with_text else []
    g = t.join(F.broadcast(base_df), "_shard").select(
        F.col(id_col),
        "n_tokens",
        *carry_cols,
        (F.col("_base") + F.col("_local_end") - F.col("n_tokens")).alias("_start"),
        (F.col("_base") + F.col("_local_end") - 1).alias("_end"),
    )
    out = g.select(
        F.col(id_col),
        "n_tokens",
        *carry_cols,
        "_start",
        "_end",
        F.explode(
            F.sequence(F.floor(F.col("_start") / b), F.floor(F.col("_end") / b))
        ).alias("seq_id"),
    )
    span_lo = F.greatest(F.col("_start"), F.col("seq_id") * b)
    span_hi = F.least(F.col("_end"), (F.col("seq_id") + 1) * b - 1)
    text_cols = (
        [
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_toks"),
                    (span_lo - F.col("_start") + 1).cast("int"),
                    (span_hi - span_lo + 1).cast("int"),
                ),
            ).alias("span_text")
        ]
        if with_text
        else []
    )
    return out.select(
        F.col(id_col),
        "n_tokens",
        F.col("seq_id").cast("long").alias("seq_id"),
        (span_lo - F.col("seq_id") * b).cast("int").alias("seq_off"),
        (span_hi - span_lo + 1).cast("int").alias("span_tokens"),
        *text_cols,
    )


def unigram_logprob_scores(
    df: DataFrame,
    top_k: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality proxy: score every document
    by its mean unigram log-probability under a model trained on the
    corpus itself — fluent, typical text scores high; gibberish, boiler
    and wrong-language text scores low.  The published pipelines use a
    KenLM 5-gram here; the unigram variant keeps the exact same plan
    shape (train a model in one aggregate pass, score in a second) while
    staying deterministic and oracle-replicable.

    Model: the ``top_k`` most frequent whitespace tokens (ties broken
    by token text — deterministic), add-one smoothed against the corpus
    token total N: ``logp(t) = ln(count(t) + 1) − ln(N + 1)`` with
    ``count = 0`` for out-of-vocabulary tokens.  Score = mean logp over
    the document's tokens, rounded to 6 decimals.  Zero-token documents
    are dropped.

    Shape at scale: token counting is explode → hash agg with map-side
    combine (8-byte-ish tokens move, never document text); the vocab is
    a bounded ``top_k``-row relation kept distributed and broadcast into
    the scoring join; scoring is explode → broadcast-hash join → one
    hash agg on the doc id.  No sort-merge join, no driver-side model.
    """
    if top_k <= 0:
        raise ValueError(f"need positive top_k, got {top_k=}")
    toks = df.where(token_count(F.col(text_col)) > 0).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    # one tokenization pass builds the per-token counts (map-side
    # combine; |unique tokens| rows, tiny next to the corpus), then the
    # corpus total AND the vocab both derive from that materialized
    # table — left lazy, the total job, the vocab job and the returned
    # plan would each re-tokenize the whole corpus (localCheckpoint
    # rather than persist: the caller runs the returned plan after this
    # function, past any unpersist we could place)
    counts = (
        toks.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("_c").alias("s")).collect()[0]["s"] or 0
    vocab = counts.orderBy(F.col("_c").desc(), F.col("_t").asc()).limit(int(top_k))
    ln_n = F.log(F.lit(float(total) + 1.0))
    scored = (
        toks.join(F.broadcast(vocab), "_t", "left")
        .select(
            F.col(id_col),
            (F.log(F.coalesce(F.col("_c"), F.lit(0)).cast("double") + 1.0) - ln_n)
            .alias("_lp"),
        )
        .groupBy(id_col)
        .agg(
            round6(F.avg("_lp")).alias("lm_score"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    return scored
