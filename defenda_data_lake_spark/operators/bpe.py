"""Corpus-learned BPE tokenizer: learn a byte-pair-encoding merge
table from the corpus, apply it as whole-stage-codegen string
rewrites, and account documents in REAL learned tokens instead of
whitespace words (VERDICT r8 item 3) — the missing piece between this
engine's token-budget operators (q92/q93) and how production training
pipelines actually measure data.

The algorithm is classic BPE (Sennrich et al. 2016, public knowledge)
pinned to an exactly-reproducible form so a SQL oracle can replay
every step:

* **Words**: ``lower(text)`` split on ``[^a-z]+``; empty strings and
  words longer than ``MAX_WORD_LEN`` (32) are excluded everywhere
  (learning AND accounting) — documented scope, identical in both
  engines.
* **Symbol state**: a word is its symbols joined by single spaces with
  a leading and trailing space (``' a b c '``) — the classic BPE
  working form, chosen because "merge pair (l, r)" is then the plain
  LITERAL string replace ``' l r ' -> ' lr '``, and ``replace`` has
  identical left-to-right non-overlapping semantics in Python, Spark
  (``F.replace``) and DuckDB.
* **One merge application = exactly ``N_PASSES`` (5) replace passes.**
  A single pass can miss adjacent occurrences (the match consumes the
  shared boundary space: ``' a a a a '`` -> ``' aa a a '``), so passes
  repeat; 5 passes reach a true fixpoint for any word up to 32 chars
  (occurrences at most halve+1 per pass).  Both engines run the same
  fixed pass count, so the result is deterministic even where the
  bound is loose.
* **Learning**: from the top ``LEARN_WORDS`` (2000) distinct words by
  ``(count DESC, word ASC)``, repeat ``N_MERGES`` (24) times: count
  adjacent symbol pairs weighted by word frequency, pick the max by
  ``(count DESC, pair-string ASC)`` (the space sorts below ``a-z``, so
  pair-string order equals (l, r) tuple order), apply it.  Ties and
  iteration order are therefore total — the merge table is a pure
  function of the corpus.
* **Application**: merges applied in rank order, each to fixpoint
  (= the same 5-pass replace chain), to every distinct corpus word;
  a word's token count is its final symbol count.

Scale design (100 TB): learning aggregates word counts in Spark (one
hash agg over the corpus — the only corpus-sized step), then collects
the BOUNDED top-2000 rows and learns driver-side in pure Python
(milliseconds; the k-means-centroid pattern, not a driver loop over
data).  Application is a single projection of ``N_MERGES × N_PASSES``
chained literal ``replace`` calls — all JVM codegen, no Python
workers — run over DISTINCT words only (Heaps-law: orders of magnitude
smaller than the corpus), then hash-joined back to per-document word
instances.  The join strategy is left to Catalyst's size stats — at
interactive scale the distinct-word table is provably small and
broadcasts; at 100 TB the same stats exceed the threshold and it hash
joins.  What the operator never does is FORCE a broadcast of this
Heaps-unbounded table (the q111 chunk-frequency lesson; pinned by
test).

The learned table has ``N_MERGES`` merges; application takes a table
of any size.  The replace-CHAIN application has a measured ceiling —
445 nested calls (an 89-merge saturated
table) overflows the JVM stack in Column conversion; 256 is the
deliberately conservative cap — so past :data:`MAX_EXPR_REPLACES`
the application auto-switches to an Arrow kernel (same
literal-replace semantics,
vectorized per batch, still distinct-words-only); the DuckDB oracle
side re-learns 64/128/256-merge tables green in 1.7/6.5/30 s at
sf0.01 (r10 probe) — linear-in-merges,
so the oracle form is the thing that gives out first, not the engine.

No reference counterpart: the reference engine has no tokenizer; this
family extends SURVEY.md §2's training-data operators.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_MERGES = 24
N_PASSES = 5
LEARN_WORDS = 2000
MAX_WORD_LEN = 32

WORD_SPLIT_RE = "[^a-z]+"


def corpus_words(df: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
    """Explode ``text`` into the BPE word stream ``w`` (lowercased
    ``[a-z]+`` runs, 1..MAX_WORD_LEN chars), carrying ``keep`` columns
    through for per-document accounting."""
    return (
        df.select(
            *keep,
            F.explode(F.split(F.lower(F.col("text")), WORD_SPLIT_RE)).alias("w"),
        )
        .filter((F.col("w") != "") & (F.length("w") <= MAX_WORD_LEN))
    )


def word_counts(df: DataFrame) -> DataFrame:
    """Distinct-word frequencies ``(w, cnt)`` — the corpus-sized
    aggregation that feeds learning (map-side combine; one shuffle on
    the word)."""
    return corpus_words(df).groupBy("w").agg(F.count("*").alias("cnt"))


def learn_bpe(top_words: Sequence[tuple[str, int]]) -> list[str]:
    """Pure-Python merge learning over a bounded ``(word, count)``
    list — deterministic, and replayed verbatim by the SQL oracle
    (tests pin Python == DuckDB on the same corpus).  Returns merges
    as pair strings ``'l r'`` in rank order."""
    states = {w: " " + " ".join(w) + " " for w, _ in top_words}
    merges: list[str] = []
    for _ in range(N_MERGES):
        pc: dict[str, int] = {}
        for w, cnt in top_words:
            sy = states[w].strip().split(" ")
            for i in range(len(sy) - 1):
                p = sy[i] + " " + sy[i + 1]
                pc[p] = pc.get(p, 0) + cnt
        if not pc:
            # every word fully merged — only possible on toy corpora;
            # the merge table is simply shorter (the SQL oracle's
            # LIMIT-1-on-empty would diverge first, so the catalog
            # asserts the corpus precondition instead)
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        pat, rep = " " + best + " ", " " + best.replace(" ", "") + " "
        for w in states:
            s = states[w]
            for _ in range(N_PASSES):
                s = s.replace(pat, rep)
            states[w] = s
        merges.append(best)
    return merges


def learn_bpe_spark(df: DataFrame) -> list[str]:
    """Learn the merge table from a corpus DataFrame: Spark aggregates
    :func:`word_counts`, the bounded top-``LEARN_WORDS`` rows come to
    the driver (TakeOrdered, ≤2000 rows at ANY corpus size) and
    :func:`learn_bpe` runs locally."""
    top = (
        word_counts(df)
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(LEARN_WORDS)
        .collect()
    )
    return learn_bpe([(r["w"], r["cnt"]) for r in top])


def char_spaced(col: Column) -> Column:
    """The initial symbol state: ``'abc' -> ' a b c '``."""
    return F.concat(F.lit(" "), F.regexp_replace(col, "(.)", "$1 "))


def apply_merges_expr(col: Column, merges: Sequence[str]) -> Column:
    """Final symbol state of a word column under the merge table: one
    chained-literal-``replace`` projection (n_merges × N_PASSES calls,
    all JVM codegen — no Python workers, no shuffle)."""
    st = char_spaced(col)
    for pair in merges:
        pat = F.lit(" " + pair + " ")
        rep = F.lit(" " + pair.replace(" ", "") + " ")
        for _ in range(N_PASSES):
            st = F.replace(st, pat, rep)
    return st


def token_count_expr(col: Column, merges: Sequence[str]) -> Column:
    """Token count of a word column under the merge table."""
    return F.size(F.split(F.trim(apply_merges_expr(col, merges)), " "))


def tokenize_py(word: str, merges: Sequence[str]) -> list[str]:
    """Reference Python tokenizer (tests pin it against the Spark
    expression row-for-row)."""
    s = " " + " ".join(word) + " "
    for pair in merges:
        pat, rep = " " + pair + " ", " " + pair.replace(" ", "") + " "
        for _ in range(N_PASSES):
            s = s.replace(pat, rep)
    return s.strip().split(" ")


# Measured ceiling of the chained-literal-replace form: the Column ->
# Expression conversion recurses once per nested call, and a 256-merge
# table (445+ nested replaces after saturation) overflows the JVM
# stack before the plan even exists (StackOverflowError in
# ColumnNodeToExpressionConverter, Spark 4.1, r10 probe).  Past this
# depth the application switches to the Arrow kernel below.
MAX_EXPR_REPLACES = 256


def _token_count_arrow(merges: Sequence[str]):
    """Arrow-kernel token counter for merge tables too large for the
    codegen replace chain: a ``pandas_udf`` whose body runs the SAME
    state-space rewrite (``' w o r d '`` + literal replaces, identical
    left-to-right non-overlapping semantics) VECTORIZED over the
    batch — ``Series.str.replace(regex=False)`` is one C pass per
    merge x pass over the whole batch, not a Python loop per word.
    Runs over DISTINCT words only (Heaps-bounded), so the Python
    stage's cost scales with the vocabulary, never the corpus."""
    import pandas as pd  # noqa: F401 - imported for the worker

    from pyspark.sql.functions import pandas_udf

    frozen = list(merges)

    @pandas_udf("long")
    def n_tok(words):
        # Python's str.replace('', ' ') inserts at every boundary
        # including both ends: 'abc' -> ' a b c ' — exactly the
        # canonical symbol state
        st = words.str.replace("", " ", regex=False)
        for pair in frozen:
            pat = " " + pair + " "
            rep = " " + pair.replace(" ", "") + " "
            for _ in range(N_PASSES):
                st = st.str.replace(pat, rep, regex=False)
        return st.str.strip().str.split(" ").str.len().astype("int64")

    return n_tok


def word_token_counts(df: DataFrame, merges: Sequence[str]) -> DataFrame:
    """``(w, n_tok)`` over the corpus's DISTINCT words — the expensive
    rewrite runs once per distinct word, never once per instance.

    While the chain fits under :data:`MAX_EXPR_REPLACES` nested calls
    the count is the chained-literal-replace codegen projection (no
    Python stage — the oracle-replayable form); past it, the
    vectorized pandas kernel (same semantics, for production-sized
    merge tables: a 256-merge table overflows the JVM stack in Column
    conversion — the measured r10 ceiling)."""
    distinct = corpus_words(df).select("w").distinct()
    if len(merges) * N_PASSES <= MAX_EXPR_REPLACES:
        return distinct.select(
            "w", token_count_expr(F.col("w"), merges).cast("long").alias("n_tok")
        )
    return distinct.select(
        "w", _token_count_arrow(merges)(F.col("w")).alias("n_tok")
    )


def _doc_word_token_join(df: DataFrame, merges: Sequence[str]) -> DataFrame:
    """Shared accounting core: per-doc word instance counts
    ``(doc_id, w, n_occ)`` equi-joined to the distinct-word token counts
    ``(w, n_tok)``.  ONE place owns the plan (shuffle on ``(id, w)``;
    join strategy size-decided by Catalyst, never a forced broadcast
    of the Heaps-unbounded word side) so :func:`tokenize_corpus` and
    :func:`full_token_accounting` cannot silently diverge."""
    per_doc_word = (
        corpus_words(df, keep=["doc_id"])
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("n_occ"))
    )
    return per_doc_word.join(word_token_counts(df, merges), "w")


def tokenize_corpus(df: DataFrame, merges: Sequence[str]) -> DataFrame:
    """Per-document token accounting under the learned merge table:
    ``(doc_id, n_words, n_chars_az, n_tokens)`` — word instances,
    their a-z char total, and their BPE token total.  Documents with
    no qualifying words are absent (no defined token count).

    Plan: per-doc-per-word instance counts (one shuffle on
    ``(id, w)``), equi-join to the distinct-word token counts on ``w``
    (strategy size-decided by Catalyst — never a forced broadcast of
    the Heaps-unbounded side), final agg on the id."""
    return (
        _doc_word_token_join(df, merges)
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.length("w")).cast("long").alias("n_chars_az"),
            F.sum(F.col("n_occ") * F.col("n_tok")).cast("long").alias("n_tokens"),
        )
    )


# fallback-stripping pattern: lowercase a-z plus the EXPLICIT ASCII
# whitespace set shared by Java regex and RE2 (never `\s`, whose class
# differs between the engines: Java includes \x0B, RE2 does not)
FALLBACK_STRIP_RE = "[a-z \\t\\n\\r\\f]"


def fallback_count_cols(lowered: Column) -> tuple[Column, Column]:
    """The two byte-fallback columns ``(long_chars, other_bytes)``
    over an already-lowered text column — ONE definition serving both
    the batch accountant and the stream meter (their parity is
    test-pinned, so the expressions must not be able to drift).

    Built without higher-order functions: an aggregate/filter lambda
    formulation is value-identical but is a CodegenFallback
    expression, and two fallback expressions in one Project knocked
    the whole projection out of whole-stage codegen (measured 7x
    slower at the 32x probe — SCALING.md round 9);
    regexp_extract_all + array_join keeps the Project in codegen."""
    long_chars = F.length(
        F.array_join(
            F.regexp_extract_all(
                lowered, F.lit("[a-z]{" + str(MAX_WORD_LEN + 1) + ",}"), F.lit(0)
            ),
            "",
        )
    ).cast("long")
    other_bytes = F.octet_length(
        F.regexp_replace(lowered, FALLBACK_STRIP_RE, "")
    ).cast("long")
    return long_chars, other_bytes


def full_token_accounting(
    df: DataFrame, merges: Sequence[str], carry_cols: Sequence[str] = ()
) -> DataFrame:
    """Full-coverage token accounting with BYTE FALLBACK — the
    production-tokenizer contract (GPT-2-style byte fallback, public
    knowledge) where no input char is unaccounted, instead of
    :func:`tokenize_corpus`'s documented a-z-words-only scope, over
    each ``text``:

    * qualifying words (lowercased ``[a-z]+`` runs, ≤``MAX_WORD_LEN``
      chars) cost their BPE token count under ``merges``;
    * oversized a-z runs (>``MAX_WORD_LEN``) fall back to one token
      per char (they are a-z, so char == UTF-8 byte);
    * everything else except ASCII whitespace (space/tab/newline/CR/FF
      — an explicit class, see ``FALLBACK_STRIP_RE``) falls back to
      one token per UTF-8 BYTE of the lowercased text.

    Returns one row per input row: ``(doc_id, n_words, n_vocab_words,
    n_tokens_bpe, n_long_chars, n_bytes_other, n_tokens_total)`` where
    ``n_vocab_words`` counts word INSTANCES the merge table collapses
    to a single token (the in-vocab hit rate — ``1 -
    n_vocab_words/n_words`` is the real-token OOV rate, and
    ``n_tokens_bpe/n_words`` the fertility).  Unlike
    ``tokenize_corpus``, documents with no qualifying words still
    appear (zero BPE columns) — fallback bytes alone can be nonzero.

    PRECONDITION: ``doc_id`` must be unique (one row per document).
    Under duplicate ids the BPE side aggregates per ID while the
    fallback side stays per row, so the left join would attach the
    MERGED token totals to each duplicate row — inflated counts, and
    divergent from the per-row streaming twin.  The engine's document
    ids are unique by construction; de-dup first if yours are not.

    ``carry_cols`` names input columns to propagate unchanged onto the
    output rows (e.g. the group key a rollup needs next).  They ride
    the fallback projection — the scan this operator already pays —
    instead of forcing the caller into a second corpus-sized join back
    to the input (measured: the join form cost q121 an extra exchange
    round at the 32x probe).

    Scale: the fallback columns are one narrow codegen projection (no
    shuffle); the BPE side is exactly ``tokenize_corpus``'s plan (one
    (id, w) shuffle + distinct-word rewrite + size-decided equi-join);
    the stitch is a left join on the id.  Nothing here forces a
    broadcast of a Heaps-unbounded table."""
    reserved = {
        "doc_id", "n_words", "n_vocab_words", "n_tokens_bpe",
        "n_long_chars", "n_bytes_other", "n_tokens_total",
    }
    clash = [c for c in carry_cols if c in reserved]
    if clash:
        raise ValueError(
            f"carry_cols {clash} collide with accounting output columns"
        )
    lowered = F.lower(F.coalesce(F.col("text"), F.lit("")))
    zero = F.lit(0).cast("long")
    long_chars, other_bytes = fallback_count_cols(lowered)
    fb = df.select(
        F.col("doc_id"),
        *[F.col(c) for c in carry_cols],
        long_chars.alias("n_long_chars"),
        other_bytes.alias("n_bytes_other"),
    )
    bpe = (
        _doc_word_token_join(df, merges)
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(
                F.when(F.col("n_tok") == 1, F.col("n_occ")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_vocab_words"),
            F.sum(F.col("n_occ") * F.col("n_tok"))
            .cast("long")
            .alias("n_tokens_bpe"),
        )
    )
    return fb.join(bpe, "doc_id", "left").select(
        "doc_id",
        *carry_cols,
        F.coalesce(F.col("n_words"), zero).alias("n_words"),
        F.coalesce(F.col("n_vocab_words"), zero).alias("n_vocab_words"),
        F.coalesce(F.col("n_tokens_bpe"), zero).alias("n_tokens_bpe"),
        "n_long_chars",
        "n_bytes_other",
        (
            F.coalesce(F.col("n_tokens_bpe"), zero)
            + F.col("n_long_chars")
            + F.col("n_bytes_other")
        ).alias("n_tokens_total"),
    )


def full_token_accounting_py(text: str, merges: Sequence[str]) -> dict[str, int]:
    """Pure-Python reference for :func:`full_token_accounting` on one
    document (tests pin Spark row == this on adversarial unicode/
    whitespace/oversized-word inputs), with the same ``MAX_WORD_LEN``
    and ``N_PASSES``."""
    import re

    # the same pattern constants as the Spark expressions: Python `re`
    # reads the backslash escapes in FALLBACK_STRIP_RE identically, so
    # one definition serves all three engines' contracts
    lowered = (text or "").lower()
    words = [w for w in re.split(WORD_SPLIT_RE, lowered) if w]
    qual = [w for w in words if len(w) <= MAX_WORD_LEN]
    long_chars = sum(len(w) for w in words if len(w) > MAX_WORD_LEN)
    other = re.sub(FALLBACK_STRIP_RE, "", lowered)
    n_bytes_other = len(other.encode("utf-8"))
    n_tok = [len(tokenize_py(w, merges)) for w in qual]
    n_bpe = sum(n_tok)
    return {
        "n_words": len(qual),
        "n_vocab_words": sum(1 for t in n_tok if t == 1),
        "n_tokens_bpe": n_bpe,
        "n_long_chars": long_chars,
        "n_bytes_other": n_bytes_other,
        "n_tokens_total": n_bpe + long_chars + n_bytes_other,
    }


def merges_to_df(spark: SparkSession, merges: Sequence[str]) -> DataFrame:
    """The merge table as rows ``(rank, pair, token)`` — rank is
    1-based application order.  One partition from the start
    (``bounded_local_df``): the table is tiny, and the
    coalesce(1)-on-parallelize alternative costs a measured ~5 s of
    sequential partition draining per write."""
    from defenda_data_lake_spark.utils.partitioning import bounded_local_df

    rows = [(i + 1, p, p.replace(" ", "")) for i, p in enumerate(merges)]
    return bounded_local_df(spark, rows, "rank long, pair string, token string")


def fertility_by_group(
    df: DataFrame, merges: Sequence[str], group_col: str
) -> DataFrame:
    """Per-group tokenizer-fit report — how well the learned merge
    table serves each language/source/domain: ``(group, n_docs,
    n_words, n_tokens_bpe, n_bytes_other, fertility,
    vocab_hit_rate)`` where ``fertility`` is BPE tokens per word
    (1.0 = every word is a vocab token; higher = the tokenizer
    fragments this group's text) and ``vocab_hit_rate`` the fraction
    of word instances collapsing to one token.  This is the signal a
    multi-corpus pipeline reads before deciding a group needs its own
    vocabulary budget (fertility gaps between languages are the
    classic mis-fit symptom).  Groups with zero qualifying words
    report NULL ratios, not a division error.

    Scale: :func:`full_token_accounting`'s plan plus ONE hash agg on
    the group — nothing new shuffles the corpus (the group key rides
    the accounting scan via ``carry_cols``; a join-back formulation
    measured an extra exchange round at the 32x probe)."""
    acc = full_token_accounting(df, merges, carry_cols=[group_col]).withColumnRenamed(
        group_col, "grp"
    )
    words = F.sum("n_words").cast("long")
    toks = F.sum("n_tokens_bpe").cast("long")
    hits = F.sum("n_vocab_words").cast("long")
    return acc.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").cast("long").alias("n_docs"),
        words.alias("n_words"),
        toks.alias("n_tokens_bpe"),
        F.sum("n_bytes_other").cast("long").alias("n_bytes_other"),
        F.when(words > 0, toks.cast("double") / words.cast("double")).alias(
            "fertility"
        ),
        F.when(words > 0, hits.cast("double") / words.cast("double")).alias(
            "vocab_hit_rate"
        ),
    )


_MERGES_CACHE: dict[tuple, list[str]] = {}


def learned_merges_cached(
    spark: SparkSession, df: DataFrame, cache_key: tuple
) -> list[str]:
    """Session-memoized merge table (the catalog's BPE queries all
    share one learned table per (session, sf_dir)).  Invalidation:
    ``plans.catalog_shared.clear_table_cache`` clears this memo too —
    after regenerating parquet under a cached sf_dir, a stale table
    would diverge from the oracle's from-scratch re-learning."""
    key = (id(spark), *cache_key)
    for stale in [k for k in _MERGES_CACHE if k[0] != id(spark)]:
        del _MERGES_CACHE[stale]
    merges = _MERGES_CACHE.get(key)
    if merges is None:
        merges = learn_bpe_spark(df)
        _MERGES_CACHE[key] = merges
    return merges
