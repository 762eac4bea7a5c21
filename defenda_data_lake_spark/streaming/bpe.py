"""Streaming BPE token accounting: apply a batch-learned merge table
(``operators/bpe.py``) to a document STREAM — real-token budget
metering at ingest time instead of over a corpus at rest.

The batch accountant
(:func:`~defenda_data_lake_spark.operators.bpe.tokenize_corpus`)
explodes words, dedups them, and re-joins — but accounting a streamed
document only ever needs ITS OWN words, and the merge table is a
bounded list of LITERALS baked into the expression.  Each row reduces
its own word array with ``F.aggregate``: pure append mode, no state
store, no watermark, no shuffle, no distinct-word table.

The trade is per-element interpretation: inside the higher-order
``aggregate`` lambda the 120-replace chain evaluates interpreted per
word (the batch path runs it whole-stage-codegen once per DISTINCT
word).  For an ingest-time meter the per-row cost is what you pay to
need no state; for corpus-at-rest accounting use the batch operator.

One deliberate contract difference from the batch operator (pinned by
test): the batch inner-join drops documents with NO qualifying words;
the stream emits them with ``n_words = n_tokens = 0`` — a stream
stage must not lose rows (the ``near_dedupe_stream`` no-row-lost
invariant), and a zero row is the auditable form of "nothing to
count".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.bpe import (
    MAX_WORD_LEN,
    WORD_SPLIT_RE,
    fallback_count_cols,
    token_count_expr,
)


def bpe_token_stream(
    stream_df: DataFrame,
    merges: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Append-mode-safe stream of ``(id, n_words, n_chars_az,
    n_tokens)`` — the same columns (and exact integer values, no
    rounding caveat) as the batch ``tokenize_corpus`` for every
    document with at least one qualifying word; wordless documents
    additionally appear as zero rows (see module docstring)."""
    # NULL text counts as empty (zero row), not as NULL counts — the
    # stream's no-row-lost contract needs an auditable zero
    words = F.filter(
        F.split(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), WORD_SPLIT_RE
        ),
        lambda w: (w != F.lit("")) & (F.length(w) <= F.lit(max_word_len)),
    )
    zero = F.lit(0).cast("long")
    return stream_df.select(
        F.col(id_col).alias("id"),
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            words, zero, lambda acc, w: acc + F.length(w).cast("long")
        ).alias("n_chars_az"),
        F.aggregate(
            words,
            zero,
            lambda acc, w: acc + token_count_expr(w, merges).cast("long"),
        ).alias("n_tokens"),
    )


def bpe_full_token_stream(
    stream_df: DataFrame,
    merges: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Streaming twin of the batch
    :func:`~defenda_data_lake_spark.operators.bpe.full_token_accounting`
    (byte-fallback full-coverage accounting): same columns, exact
    integer parity per document (pinned by test), still STATELESS
    append mode — the fallback columns are plain codegen projections
    and the BPE columns per-row ``F.aggregate`` reductions over the
    document's own words, so no state store, watermark, or shuffle is
    introduced.  NULL text meters as empty (all-zero row).

    ``passthrough`` columns ride through unchanged (the
    ``minhash_signatures`` precedent) so a downstream stage — e.g.
    ``streaming.sampling.group_budget_admission`` keyed on the
    document's language — needs NO stream-stream join-back to recover
    them (composition pinned by test)."""
    lowered = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    words = F.filter(
        F.split(lowered, WORD_SPLIT_RE),
        lambda w: (w != F.lit("")) & (F.length(w) <= F.lit(max_word_len)),
    )
    zero = F.lit(0).cast("long")
    # the shared column builder keeps batch/stream fallback semantics
    # from drifting (their parity is test-pinned)
    long_chars, other_bytes = fallback_count_cols(lowered, max_word_len)
    # the EXPENSIVE per-word replace chain runs ONCE, in its own
    # projection: `_tc` is referenced by three downstream expressions,
    # and CollapseProject does not inline a multiply-referenced
    # non-cheap alias, so the chain is not re-expanded per consumer
    # (naive form — two independent F.aggregate calls each embedding
    # token_count_expr — evaluated the 120-replace chain twice per
    # word instance)
    counted = stream_df.select(
        F.col(id_col).alias("id"),
        F.transform(
            words, lambda w: token_count_expr(w, merges).cast("long")
        ).alias("_tc"),
        long_chars.alias("n_long_chars"),
        other_bytes.alias("n_bytes_other"),
        *[F.col(c) for c in passthrough],
    )
    n_bpe = F.aggregate(F.col("_tc"), zero, lambda acc, c: acc + c)
    n_vocab = F.aggregate(
        F.col("_tc"),
        zero,
        lambda acc, c: acc
        + F.when(c == F.lit(1), F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    return counted.select(
        "id",
        F.size("_tc").cast("long").alias("n_words"),
        n_vocab.alias("n_vocab_words"),
        n_bpe.alias("n_tokens_bpe"),
        "n_long_chars",
        "n_bytes_other",
        (n_bpe + F.col("n_long_chars") + F.col("n_bytes_other")).alias(
            "n_tokens_total"
        ),
        *[F.col(c) for c in passthrough],
    )
