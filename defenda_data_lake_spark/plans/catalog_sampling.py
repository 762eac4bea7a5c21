"""Sampling / selection family: hash splits, stratified, weighted,
per-group, temperature mix, sequence packing, and token budgets."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from defenda_data_lake_spark.operators import sampling as SA
from defenda_data_lake_spark.plans.catalog_shared import (
    R,
    _t,
)


def q92_token_budget(spark, sf_dir):
    """Token-budget greedy selection
    (``operators/sampling.token_budget_select``): fill 25% of the
    corpus's total tokens with the most lexically diverse documents
    first (score = distinct words / tokens, doc_id tiebreak) — the
    curation closing step that turns ranked documents into a training
    mix of a target size.  The oracle is the naive global-window
    cumulative sum; the operator computes the SAME prefix sum as a
    two-level (bucket offset + within-bucket) cumsum so no task ever
    holds the corpus — q92's plan-quality test pins the absence of a
    single-partition window.  Budget math is exact-integer
    (``4·cum <= total``); the one double (the score) is a single
    division, identical IEEE on both engines."""
    from defenda_data_lake_spark.operators.sampling import (
        token_budget_select,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), " "))
    uniq = F.size(F.array_distinct(F.split(F.trim(F.col("text")), " ")))
    t = docs.select(
        "doc_id",
        toks.cast("long").alias("n_tok"),
        (uniq.cast("double") / toks.cast("double")).alias("score"),
    )
    sel = token_budget_select(
        t,
        token_col="n_tok",
        key_col="score",
        tie_cols=["doc_id"],
        budget_ratio=(1, 4),
        buckets=32,
    )
    return sel.select(
        "doc_id", R("score", 6).alias("score"), "n_tok", "cum_tokens"
    )


Q92_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
           / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS score
  FROM documents
),
c AS (
  SELECT doc_id, n_tok, score,
         CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens,
         CAST(sum(n_tok) OVER () AS BIGINT) AS total
  FROM t
)
SELECT doc_id, round(score * 1000000, 0) / 1000000 AS score, n_tok, cum_tokens
FROM c WHERE 4 * cum_tokens <= total
"""


def q93_group_token_budget(spark, sf_dir):
    """Mix-spec selection
    (``operators/sampling.group_token_budget_select``): fill each
    LANGUAGE to 25% of its own token total, best (most lexically
    diverse) documents first — the per-group twin of q92, i.e. how
    "30% code / 20% multilingual"-style mix specs become a concrete
    training set with per-domain quality ranking.  Scale: one hash
    exchange on ``lang``; every window is group-bounded (no
    unpartitioned window — the q93 plan test pins it); budget math
    exact-integer per group."""
    from defenda_data_lake_spark.operators.sampling import (
        group_token_budget_select,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), " "))
    uniq = F.size(F.array_distinct(F.split(F.trim(F.col("text")), " ")))
    t = docs.select(
        "doc_id",
        "lang",
        toks.cast("long").alias("n_tok"),
        (uniq.cast("double") / toks.cast("double")).alias("score"),
    )
    sel = group_token_budget_select(
        t,
        token_col="n_tok",
        key_col="score",
        group_col="lang",
        tie_cols=["doc_id"],
        budget_ratio=(1, 4),
    )
    return sel.select(
        "doc_id", "lang", R("score", 6).alias("score"), "n_tok", "cum_tokens"
    )


Q93_SQL = r"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
           / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS score
  FROM documents WHERE lang IS NOT NULL
),
c AS (
  SELECT doc_id, lang, n_tok, score,
         CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT)
           AS cum_tokens,
         CAST(sum(n_tok) OVER (PARTITION BY lang) AS BIGINT) AS total
  FROM t
)
SELECT doc_id, lang, round(score * 1000000, 0) / 1000000 AS score, n_tok, cum_tokens
FROM c WHERE 4 * cum_tokens <= total
"""


_Q52_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.2}
_Q52_DEFAULT_FRACTION = 0.1


def q52_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling: keep 100% of src0, 50% of
    src1, 20% of src2, 10% of everything else (the keep-rare-sources /
    downsample-the-crawl pattern).  The membership test is one narrow
    codegen expression on (id, source) — no shuffle before the summary
    group-by, reproducible in any engine with md5."""
    from defenda_data_lake_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs,
        "doc_id",
        "source",
        _Q52_FRACTIONS,
        default_fraction=_Q52_DEFAULT_FRACTION,
        salt="strat",
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


Q52_SQL = f"""
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM (
  SELECT source, n_chars,
         CAST('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10000 AS bucket
  FROM documents
) t
WHERE bucket < CASE source
  {" ".join(f"WHEN '{s}' THEN {round(f * 10000)}" for s, f in _Q52_FRACTIONS.items())}
  ELSE {round(_Q52_DEFAULT_FRACTION * 10000)} END
GROUP BY source
"""


def q55_group_sample(spark, sf_dir):
    """Deterministic per-group subsample: the 50 documents per source
    with the smallest md5-derived sample key — reproducible
    domain-balanced subsampling (every engine and every run picks the
    same rows, unlike rand()-based sampling).

    Scale notes (100 TB): one hash shuffle on ``source``.  The
    ``row_number <= k`` filter over the window plans as
    WindowGroupLimit (plan-asserted): every map task keeps only its
    own top-k per group BEFORE the exchange, so the shuffle carries
    O(groups x k) rows per task, not the corpus."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("smp"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 50)
        .select(
            "doc_id",
            "source",
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


Q55_SQL = """
SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('smp' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 50
"""


def q38_dataset_split(spark, sf_dir):
    """Deterministic train/test split by content hash (the reproducible
    alternative to ``df.sample`` — same row, same split, any engine,
    forever): per-source counts and character volume per split.
    Scale: the split is a narrow codegen expression on the id column —
    no shuffle beyond the final group-by."""
    from defenda_data_lake_spark.operators.sampling import with_split

    docs = _t(spark, sf_dir, "documents")
    return (
        with_split(docs, "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


Q38_SQL = """
SELECT source,
       CASE WHEN CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 10000 < 1000
            THEN 'test' ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


_Q39_BUCKETS = 16
_Q39_BUDGET = 256


def q39_sequence_packing(spark, sf_dir):
    """Sequence packing for training batches: assign documents to bins
    of ~256 tokens (whitespace tokens) — the deterministic next-fit-
    decreasing approximation: docs sorted big-first, a doc's bin is the
    budget-prefix of the tokens packed before it.

    Scale: exact first-fit packing is inherently sequential (a global
    running state), so the corpus is first split into hash buckets and
    packed WITHIN each — per-bucket windows parallelize across the
    cluster and no global single-partition window exists (the rarity-
    detection anti-pattern).  Returns per-bin stats."""
    docs = _t(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    d = docs.select(
        "doc_id",
        tokens.alias("tokens"),
        (F.col("doc_id") % _Q39_BUCKETS).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("tokens").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = d.withColumn(
        "bin",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) / _Q39_BUDGET),
    )
    return binned.groupBy("bucket", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


Q39_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens,
         doc_id % {_Q39_BUCKETS} AS bucket
  FROM documents
),
binned AS (
  SELECT bucket, doc_id, tokens,
         CAST(floor((sum(tokens) OVER (
             PARTITION BY bucket ORDER BY tokens DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - tokens) / {_Q39_BUDGET}) AS BIGINT) AS bin
  FROM d
)
SELECT bucket, bin, count(*) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS bin_tokens, min(doc_id) AS first_doc
FROM binned
GROUP BY bucket, bin
"""


def q59_temperature_mix(spark, sf_dir):
    """α=0.5 temperature rebalancing of the per-source mix
    (operators/sampling.py ``temperature_resample``): group stats are a
    tiny aggregation, rates broadcast back onto the corpus, the corpus
    itself is never shuffled before the summary group-by."""
    docs = _t(spark, sf_dir, "documents")
    tagged = SA.temperature_resample(docs, "doc_id", "source")
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").alias("n_kept"),
        R(F.min("rate"), 6).alias("rate"),
    )


Q59_SQL = """
WITH stats AS (SELECT source, count(*) AS n_g FROM documents GROUP BY source),
w AS (
  SELECT source, n_g,
         CAST(floor(sqrt(CAST(n_g AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_g
  FROM stats
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_total,
         CAST(sum(w_g) AS BIGINT) AS sum_w
  FROM w
),
rates AS (
  SELECT source, least(1.0, 0.5 * n_total * w_g / sum_w / n_g) AS rate
  FROM w, tot
),
tagged AS (
  SELECT d.source, rate,
         CASE WHEN CAST('0x' || substr(md5('temp' || CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 10000
                   < CAST(floor(rate * 10000.0) AS BIGINT)
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       round(min(rate), 6) AS rate
FROM tagged GROUP BY source
"""


def q72_weighted_sample(spark, sf_dir):
    """Deterministic weighted sample without replacement, k=100, weight
    = document length (operators.sampling.weighted_sample): the
    Efraimidis–Spirakis A-Res draw with hash-derived randomness, so the
    same 100 docs come back on every engine and every re-run.  The
    top-k plans as ``TakeOrderedAndProject`` — per-partition heaps, no
    corpus shuffle.  Priority is rounded for display only; ordering
    uses the unrounded key with id tie-breaks."""
    from defenda_data_lake_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "doc_id", "n_chars", k=100)
    return out.select(
        F.col("sample_rank").cast("long").alias("sample_rank"),
        "doc_id",
        "source",
        "n_chars",
        R("priority", 8).alias("priority"),
    )


# replays the E-S draw exactly: same md5-derived uniform (32-bit, first
# 8 hex chars), same ln(u)/w priority, same tie-break, same rounding
Q72_SQL = """
WITH pri AS (
  SELECT doc_id, source, n_chars,
         ln((CAST('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) + 0.5) / 4294967296.0)
         / (CASE WHEN n_chars > 0 THEN CAST(n_chars AS DOUBLE) ELSE 1.0 END)
           AS priority
  FROM documents
), topk AS (
  SELECT doc_id, source, n_chars, priority,
         row_number() OVER (ORDER BY priority DESC, doc_id) AS sample_rank
  FROM pri ORDER BY priority DESC, doc_id LIMIT 100
)
SELECT sample_rank, doc_id, source, n_chars,
       round(priority * 100000000, 0) / 100000000 AS priority
FROM topk
"""


def q75_group_weighted_sample(spark, sf_dir):
    """Per-source weighted sampling without replacement, k=20, weight =
    document length (operators/sampling.py ``group_weighted_sample``):
    the per-group twin of q72 — one hash shuffle on source, and the
    rank filter plans as WindowGroupLimit so map tasks pre-prune to
    their own top-k per group before the exchange."""
    from defenda_data_lake_spark.operators.sampling import group_weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = group_weighted_sample(docs, "source", "doc_id", "n_chars", k=20)
    return out.select(
        "source",
        F.col("sample_rank").cast("long").alias("sample_rank"),
        "doc_id",
        "n_chars",
        R("priority", 8).alias("priority"),
    )


Q75_SQL = """
WITH pri AS (
  SELECT source, doc_id, n_chars,
         ln((CAST('0x' || substr(md5('gwsample' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) + 0.5) / 4294967296.0)
         / (CASE WHEN n_chars > 0 THEN CAST(n_chars AS DOUBLE) ELSE 1.0 END)
           AS priority
  FROM documents
), ranked AS (
  SELECT source, doc_id, n_chars, priority,
         row_number() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id
         ) AS sample_rank
  FROM pri
)
SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, n_chars,
       round(priority * 100000000, 0) / 100000000 AS priority
FROM ranked WHERE sample_rank <= 20
"""


def q112_dsir_weights(spark, sf_dir):
    """DSIR importance weights (``sampling.dsir_importance_weights``,
    Xie et al. 2023): every document scored by the mean log ratio of
    target-domain vs raw-corpus probability over its hashed
    unigram+bigram features (1024 md5 buckets, add-0.5 smoothing),
    with the English subcorpus as the target domain — the standard
    recipe for selecting domain-matched pretraining data from a
    general crawl.  ONE corpus pass builds both bucket models (a
    single agg carrying raw and target counts), the 1024-row log-ratio
    table broadcasts back into the feature stream, and the only
    corpus-sized exchange is the final per-doc mean."""
    docs = _t(spark, sf_dir, "documents")
    out = SA.dsir_importance_weights(docs, F.col("lang") == "en")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_feats",
        R("avg_logw", 4).alias("avg_logw"),
    )


Q112_SQL = r"""
WITH norm AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS t FROM documents
),
w AS (SELECT doc_id, lang, string_split(t, ' ') AS ws FROM norm),
uni AS (SELECT doc_id, lang, unnest(ws) AS feat FROM w),
bi AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS feat
       FROM w, unnest(range(1, len(ws))) AS u(i)),
feats AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 1024 AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
counts AS (SELECT bucket, count(*) AS raw_c,
                  sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tgt_c
           FROM feats GROUP BY bucket),
tot AS (SELECT sum(raw_c) AS raw_tot, sum(tgt_c) AS tgt_tot FROM counts),
ratios AS (SELECT bucket,
                  ln(((tgt_c + 0.5) / (tgt_tot + 512.0)) /
                     ((raw_c + 0.5) / (raw_tot + 512.0))) AS logr
           FROM counts, tot)
SELECT doc_id, count(*) AS n_feats, round(avg(logr), 4) AS avg_logw
FROM feats JOIN ratios USING (bucket)
GROUP BY doc_id
"""
