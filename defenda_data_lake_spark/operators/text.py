"""Text-analysis operators for training-data curation.

All pure Column expressions (JVM-side, codegen-friendly) — language ID,
quality scoring, token counting, and fingerprinting are deliberately
formulated so the exact same arithmetic is expressible in ANSI SQL
(the DuckDB oracle reproduces them bit-for-bit).

Scale notes: every operator here is a narrow per-row projection — no
shuffle, no UDF.  At 100 TB these run at parquet-scan speed and
column-prune down to the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic.  Deliberately tiny and deterministic; lowercase.
LANGUAGE_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "y", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}

#: the union of every language's markers, in sorted order — the shared
#: stopword list for quality scoring, rule filters, and their SQL
#: oracles (catalog.py embeds it as a literal; keep derivation here so
#: a marker change can't desynchronize the copies)
ALL_MARKERS: list[str] = sorted({m for ms in LANGUAGE_MARKERS.values() for m in ms})


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(F.col(text_col)), " ")


def token_count_col() -> Column:
    """Whitespace token count of ``text``."""
    return F.size(tokens_col("text"))


def marker_hits_col(text_col: str, markers: list[str]) -> Column:
    """How many tokens of the text are in the marker list."""
    return F.size(
        F.filter(
            tokens_col(text_col),
            lambda t: F.lower(t).isin([m for m in markers]),
        )
    )


def detect_language(df: DataFrame) -> DataFrame:
    """Stopword-marker language ID over ``text``: score each language by marker-token
    hits; highest score wins (ties broken by language code order);
    'und' (undetermined) when no marker hits at all."""
    scored = df
    for lang, markers in sorted(LANGUAGE_MARKERS.items()):
        scored = scored.withColumn(f"_score_{lang}", marker_hits_col("text", markers))
    langs = sorted(LANGUAGE_MARKERS)
    best = F.greatest(*[F.col(f"_score_{lang}") for lang in langs])
    pick = F.lit("und")
    # first language (in sorted order) achieving the best score wins;
    # build the WHEN chain back-to-front so earlier langs take priority
    for lang in reversed(langs):
        pick = F.when(F.col(f"_score_{lang}") == best, F.lit(lang)).otherwise(pick)
    pick = F.when(best > 0, pick).otherwise(F.lit("und"))
    return scored.withColumn("detected_lang", pick).drop(
        *[f"_score_{lang}" for lang in langs]
    )


def quality_features(df: DataFrame) -> DataFrame:
    """Quality-scoring features of ``text``: length, token count, mean token
    length, stopword ratio, punctuation ratio, and a composite
    ``quality_score`` in [0, 1].

    The formula only uses arithmetic reproducible in ANSI SQL:
      score = 0.4 * min(1, n_tokens/20)            -- enough content
            + 0.3 * min(1, stopword_ratio * 5)     -- natural language
            + 0.3 * (1 - min(1, punct_ratio * 10)) -- not symbol soup
    """
    n_chars = F.length(F.col("text"))
    n_tokens = token_count_col()
    stop_hits = marker_hits_col("text", ALL_MARKERS)
    n_punct = n_chars - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    stopword_ratio = stop_hits / n_tokens
    punct_ratio = n_punct / n_chars
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(20.0))
        + F.lit(0.3) * F.least(F.lit(1.0), stopword_ratio * 5)
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * 10))
    )
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_token_len", (n_chars - (n_tokens - 1)) / n_tokens)
        .withColumn("stopword_ratio", stopword_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("quality_score", score)
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set of the normalized ``text``.  Two documents with the
    same bag of words (any order) collide — the classic shuffle-robust
    near-dup key."""
    sorted_tokens = F.array_join(
        F.array_sort(F.array_distinct(F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        ))),
        " ",
    )
    return df.withColumn("fingerprint", F.md5(sorted_tokens))


# ------------------------------------------------------------- redaction

#: (label, pattern) — patterns restricted to syntax shared by Java
#: regex and RE2 so any engine applies the same rules
REDACTION_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    (
        "ipv4",
        r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    ),
    # 7+ digit runs with optional separators: phone-number-shaped
    ("phone", r"\+?\d[\d\- ()]{5,}\d"),
]


def redact(df: DataFrame) -> DataFrame:
    """PII scrubbing of ``text`` for training corpora:
    ``text_redacted`` replaces every match of each of
    ``REDACTION_PATTERNS`` with ``<LABEL>``, and replacements are
    counted per label (``n_redactions`` total, ``redaction_counts``
    map) so curation can filter documents that are mostly PII.

    Pure codegen projection — a chain of ``regexp_replace`` /
    ``regexp_count`` over the scan, no shuffle, no Python."""
    redacted = F.col("text")
    counts = []
    for label, pattern in REDACTION_PATTERNS:
        counts.append(
            (label, F.regexp_count(redacted, F.lit(pattern)).cast("long"))
        )
        redacted = F.regexp_replace(redacted, pattern, f"<{label.upper()}>")
    total = counts[0][1]
    for _, c in counts[1:]:
        total = total + c
    return df.withColumns(
        {
            "text_redacted": redacted,
            "n_redactions": total,
            "redaction_counts": F.map_from_arrays(
                F.array(*[F.lit(label) for label, _ in counts]),
                F.array(*[c for _, c in counts]),
            ),
        }
    )


# --------------------------------------------- repetition / LM quality


def repetition_signals(df: DataFrame) -> DataFrame:
    """Repetition-based quality signals of ``text`` in the style of the Gopher
    corpus filters: the fraction of repeated words and repeated word
    bigrams per document (0 = all distinct, →1 = pure repetition).
    High values flag boilerplate, keyword stuffing, and generation
    loops — standard pre-training corpus filters.

    Scale notes (100 TB): shuffle-free narrow projection.  The bigram
    list is built with an O(L) ``transform`` over word positions —
    an interpreted lambda, but linear per row and evaluated on the
    scan side; the alternative (posexplode → window over doc_id →
    two aggregations) pushes a ~100x row expansion through an
    exchange, which loses at any scale.  (This is unlike the O(L²)
    slice-based shingle HOF rejected in operators/dedup.py — linear
    HOFs over short arrays are fine; quadratic ones are not.)
    """
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    tmp = df.withColumn("_w", w).withColumn("_nw", F.size(F.col("_w")))
    bigrams = F.when(
        F.col("_nw") >= 2,
        F.expr(
            "transform(sequence(1, size(_w) - 1),"
            " i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    tmp = tmp.withColumn("_bg", bigrams)
    return (
        tmp.withColumn("n_words", F.col("_nw").cast("long"))
        .withColumn(
            "word_rep_frac",
            F.lit(1.0)
            - F.size(F.array_distinct(F.col("_w")))
            / F.col("_nw").cast("double"),
        )
        .withColumn(
            "bigram_rep_frac",
            F.when(
                F.size(F.col("_bg")) > 0,
                F.lit(1.0)
                - F.size(F.array_distinct(F.col("_bg")))
                / F.size(F.col("_bg")).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_w", "_nw", "_bg")
    )


def unigram_logprob_scores(df: DataFrame) -> DataFrame:
    """Mean log probability of a document's ``text`` words under the corpus's
    own unigram language model — the CCNet-style LM quality signal
    (documents far below the corpus mean are gibberish / OCR noise;
    far above are boilerplate).  Returns (id, n_words, avg_logp)
    with ``avg_logp`` UNROUNDED (callers round for cross-engine
    comparison), keyed by ``doc_id``.

    Scale notes (100 TB): the corpus pass is one explode + one
    hash-aggregation on ``word`` (map-side partial combine absorbs
    the Zipf head — every task pre-aggregates its own 'the').  The
    score pass joins word occurrences back to the vocabulary: the
    vocabulary is Zipf-bounded (~10⁷ entries for web-scale corpora,
    ~hundreds of MB), millions of times smaller than the corpus, so it
    broadcasts: a map-side join with NO shuffle of the corpus and no
    hot-key skew ('the' never converges on one task)."""
    words = df.select(
        F.col("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word"),
    )
    counts = words.groupBy("word").agg(F.count("*").alias("wc"))
    # the single-row total rides in via a broadcast nested-loop of one
    # row; the underlying groupBy(word) shuffle is shared with the
    # vocabulary join via exchange reuse
    totals = F.broadcast(counts.agg(F.sum("wc").alias("total_words")))
    return (
        words.join(F.broadcast(counts), "word")
        .crossJoin(totals)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.avg(
                F.log(F.col("wc").cast("double") / F.col("total_words"))
            ).alias("avg_logp"),
        )
    )


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """Gopher/C4-style rule-based filter of ``text`` documents: each
    rule becomes an explicit 0/1 flag plus a combined ``keep``, so a
    curation pipeline can both filter and audit rejection reasons (the
    standard pre-training corpus recipe: 30-100,000 words, mean word
    length 3-10, at least 2% stopwords, at most 60% repeated words).

    Flags are integers, not booleans, so every engine's client surface
    (pandas, Arrow, JDBC) agrees on the column type.

    Scale notes (100 TB): shuffle-free narrow projection over the text
    column — runs at parquet-scan speed, prunes every other column,
    and composes with any downstream filter pushdown.  All arithmetic
    is reproducible in ANSI SQL (the DuckDB oracle replays it)."""
    w = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    tmp = df.withColumn("_w", w).withColumn(
        "_nw", F.size(F.col("_w")).cast("long")
    )
    norm_len = F.length(F.array_join(F.col("_w"), " "))
    mean_word_len = (norm_len - (F.col("_nw") - 1)) / F.col("_nw")
    stop_frac = (
        F.size(F.filter(F.col("_w"), lambda t: t.isin(ALL_MARKERS)))
        / F.col("_nw").cast("double")
    )
    word_rep_frac = (
        F.lit(1.0)
        - F.size(F.array_distinct(F.col("_w"))) / F.col("_nw").cast("double")
    )
    flags = {
        "ok_n_words": (F.col("_nw") >= 30) & (F.col("_nw") <= 100_000),
        "ok_mean_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "ok_stop_frac": stop_frac >= 0.02,
        "ok_word_rep": word_rep_frac <= 0.6,
    }
    out = tmp.withColumn("n_words", F.col("_nw"))
    out = out.withColumn("mean_word_len", mean_word_len)
    out = out.withColumn("stop_frac", stop_frac)
    out = out.withColumn("word_rep_frac", word_rep_frac)
    keep = None
    for name, cond in flags.items():
        out = out.withColumn(name, cond.cast("int"))
        keep = cond if keep is None else (keep & cond)
    return out.withColumn("keep", keep.cast("int")).drop("_w", "_nw")


def bigram_logprob_scores(df: DataFrame) -> DataFrame:
    """Mean conditional log probability of each document's ``text`` word bigrams
    under the corpus's own bigram MLE model — ln(c(w1 w2) / c(w1 ·)) —
    the next step up from the unigram CCNet signal: it penalizes
    documents whose word ORDER is improbable (shuffled text, keyword
    stuffing) that a unigram model scores as normal.

    Returns ``(doc_id, n_bigrams, avg_logp2)`` for documents with >= 2
    words, ``avg_logp2`` unrounded.

    Scale notes (100 TB): bigram positions are a linear interpreted
    ``transform`` on the scan side (same trade as repetition_signals).
    The bigram-count table is NOT broadcast — distinct bigram types
    grow with the corpus (Heaps' law, billions at web scale), so the
    count join is hash-partitioned on ``bigram`` (map-side partial
    aggregation absorbs the Zipf head; AQE converts to broadcast when
    the model actually fits).  Head totals are derived FROM the bigram
    counts (vocab-sized input, no second corpus pass) and are
    unigram-bounded, so they do broadcast.  A production deployment
    persists the bigram-count table between the model and scoring
    passes; unpersisted, the count subtree is recomputed once."""
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    tmp = df.select(F.col("doc_id"), w.alias("_w")).filter(F.size("_w") >= 2)
    bg = tmp.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_w) - 1),"
                " i -> struct(element_at(_w, i) AS head,"
                "             concat(element_at(_w, i), ' ',"
                "                    element_at(_w, i + 1)) AS bigram))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.head").alias("head"), F.col("b.bigram").alias("bigram"))
    bc = bg.groupBy("bigram").agg(F.count("*").alias("c"))
    # head totals from the (vocab-sized) bigram counts, not a second
    # corpus aggregation: c(w1 ·) = sum of c(w1 w2) over w2
    ht = F.broadcast(
        bc.select(F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("head"), "c")
        .groupBy("head")
        .agg(F.sum("c").alias("h"))
    )
    return (
        bg.join(bc, "bigram")
        .join(ht, "head")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(F.log(F.col("c").cast("double") / F.col("h"))).alias(
                "avg_logp2"
            ),
        )
    )


def oov_rate(df: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Per-document out-of-vocabulary rate of ``text`` against the corpus's own
    top-``vocab_size`` word vocabulary (count desc, word asc
    tie-break — fully deterministic).  High OOV flags gibberish, OCR
    noise, and wrong-language content relative to the corpus; it is
    also the standard tokenizer-coverage diagnostic.

    Returns ``(doc_id, n_words, n_oov, oov_frac)``.

    Scale notes (100 TB): the vocabulary is top-k of a hash-aggregated
    word count (map-side combine absorbs the Zipf head) and broadcasts;
    the corpus joins map-side — one shuffle total for the word counts,
    one for the per-doc aggregation."""
    words = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "word"
        ),
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("wc"))
        .orderBy(F.col("wc").desc(), F.col("word").asc())
        .limit(vocab_size)
        .select("word", F.lit(1).alias("_in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_oov",
            (F.col("n_oov") / F.col("n_words").cast("double")).alias(
                "oov_frac"
            ),
        )
    )


def normalize_unicode(df: DataFrame, out_col: str | None = None) -> DataFrame:
    """NFC-normalize ``text`` (via Python's ``unicodedata`` — the
    canonicalization step that makes visually identical strings
    byte-identical BEFORE hashing/dedup/tokenizing; without it, a
    composed ``é`` and ``e``+combining-acute are different shingles,
    different exact-dup hashes, different tokens) into ``out_col``
    (``text`` itself when not given).

    Spark has no built-in Unicode-normalization expression, so this is
    a deliberate Arrow-batched ``pandas_udf`` — the sanctioned Python
    path — applied as a shuffle-free per-row projection: no exchange,
    no state, composes under whole-stage codegen boundaries like any
    scalar UDF, and NULL passes through as NULL.  At 100 TB the cost
    is one Arrow round trip over the text column only (the optimizer
    prunes the rest), parallel in the scan partitioning."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # no type hints on the kernel: `from __future__ import annotations`
    # stringifies them and pandas is module-local here, so pyspark's
    # hint resolution would fail — the explicit returnType suffices
    def _norm_series(s):
        return s.map(lambda x: x if x is None else unicodedata.normalize("NFC", x))

    kernel = pandas_udf(_norm_series, "string")
    return df.withColumn(out_col or "text", kernel(F.col("text")))


def source_unigram_js(df: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram ``text``
    word distributions of every unordered pair of corpus ``source``s — the
    "how different are my sources really" diagnostic behind dataset
    mixing decisions (a temperature-mix like q59 reweights sources;
    this measures whether reweighting can matter at all: JS ≈ 0 means
    two dumps are the same distribution and their mix ratio is a
    dedup question, not a diversity one).  Returns one row per pair:
    ``(src_a, src_b, n_words_a, n_words_b, js)`` with ``js``
    UNROUNDED (callers round for cross-engine comparison);
    ``src_a < src_b`` lexicographically.

    Zero-frequency handling WITHOUT a full-outer join: with
    M = (P+Q)/2,

        JS = 0.5·[ Σ_shared p·ln(2p/(p+q)) + (1-C_P)·ln 2 ]
           + 0.5·[ Σ_shared q·ln(2q/(p+q)) + (1-C_Q)·ln 2 ]

    where C_P = Σ_shared p: a word present only in P contributes
    p·ln 2 to KL(P||M), so the words absent from the inner join are
    recovered exactly from the shared-mass totals.  A pair sharing NO
    words (possible between tiny sources) still gets its row — the
    pair frame is the tiny per-source totals cross (|sources|²),
    left-joined to the shared-word aggregation — with js = ln 2, the
    JS maximum.

    Scale notes (100 TB): tokenization is one corpus pass (explode +
    hash-agg on (source, word); map-side partials absorb the Zipf
    head).  Everything AFTER that is VOCABULARY-bounded, independent
    of corpus size: the distribution table is |sources|·V rows, the
    pair expansion is the word self-join (a word shared by k sources
    emits k(k-1)/2 rows — bounded by |sources|²·V), and the final agg
    key space is |sources|².  The self-join is a broadcast hash join
    (the q54 convention) — the build side is the vocabulary-bounded
    distribution table, so the join needs NO exchange and no sort (at
    32x-replicated sf0.1 this removed ~1.3 s of small-stage sort-merge
    overhead on a 20k-row table).

    The counts table feeds five downstream branches, so it is pinned
    once with an EAGER ``localCheckpoint`` (the
    ``histogram_quantiles``/q112 convention) — measured at
    128x-replicated sf0.1 as the difference between 5.27 s and 1.80 s
    per call.  The side effects to know about: plan CONSTRUCTION runs
    one Spark job, and the checkpoint's blocks live until the
    returned DataFrame is garbage-collected."""
    import math

    words = df.select(
        F.col("source").alias("src"),
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word"),
    )
    counts = words.groupBy("src", "word").agg(F.count("*").alias("wc"))
    # the counts table is consumed by FIVE downstream branches (totals
    # twice via the pair frame, the distribution, and both sides of
    # the self-join); shuffle reuse shares the corpus explode but each
    # branch still re-runs the final aggregation over the exchange —
    # measured as the dominant residual at 128x (3.6 s of plan
    # overhead on a 79k-row table, SCALING.md round 12).
    # localCheckpoint pins the VOCABULARY-bounded table once — the
    # exact q112 (dsir_importance_weights) move for the same shape.
    counts = counts.localCheckpoint(eager=True)
    totals = counts.groupBy("src").agg(F.sum("wc").alias("tw"))
    dist = counts.join(F.broadcast(totals), "src").select(
        "src", "word", (F.col("wc").cast("double") / F.col("tw")).alias("p")
    )
    a, b = dist.alias("a"), F.broadcast(dist.alias("b"))
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(
            F.sum(
                F.col("a.p")
                * F.log(2.0 * F.col("a.p") / (F.col("a.p") + F.col("b.p")))
            ).alias("_sa"),
            F.sum(
                F.col("b.p")
                * F.log(2.0 * F.col("b.p") / (F.col("a.p") + F.col("b.p")))
            ).alias("_sb"),
            F.sum("a.p").alias("_ca"),
            F.sum("b.p").alias("_cb"),
        )
    )
    ta, tb = totals.alias("ta"), totals.alias("tb")
    pairs = ta.join(tb, F.col("ta.src") < F.col("tb.src")).select(
        F.col("ta.src").alias("src_a"),
        F.col("tb.src").alias("src_b"),
        F.col("ta.tw").alias("n_words_a"),
        F.col("tb.tw").alias("n_words_b"),
    )
    ln2 = math.log(2.0)
    z = F.lit(0.0)
    js = 0.5 * (
        F.coalesce(F.col("_sa"), z)
        + (1.0 - F.coalesce(F.col("_ca"), z)) * ln2
    ) + 0.5 * (
        F.coalesce(F.col("_sb"), z)
        + (1.0 - F.coalesce(F.col("_cb"), z)) * ln2
    )
    return pairs.join(inter, ["src_a", "src_b"], "left").select(
        "src_a", "src_b", "n_words_a", "n_words_b", js.alias("js")
    )
