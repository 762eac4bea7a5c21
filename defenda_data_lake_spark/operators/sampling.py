"""Deterministic sampling and dataset splits for training-data curation.

``df.sample()`` is nondeterministic across runs/partitionings and not
reproducible in another engine — useless for a train/test split that
must survive re-runs, backfills, and audits.  These operators derive
membership from a content hash instead: a row's bucket is
``int(md5(salt || id)[:8 hex], 16) % 10000``, so the same row lands in
the same split everywhere, forever, in any engine with md5 (the Q38
DuckDB oracle replays it verbatim).

Scale: pure narrow column expressions inside codegen — no shuffle, no
state, prunes to the id column.  Changing ``salt`` re-draws the whole
assignment (the standard way to get independent folds).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: bucket space for hash sampling: rates are expressed in 1/10000ths
BUCKETS = 10_000


def hash_bucket(id_col: str | Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 10000) from ``md5(salt || id)``.
    First 8 hex chars → int (32 bits: unbiased modulo at this bucket
    count), as a plain codegen expression."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    hexpart = F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8)
    return (F.conv(hexpart, 16, 10).cast("long") % BUCKETS).alias("bucket")


def _threshold(fraction: float) -> int:
    """Bucket threshold for a rate: rounded, not truncated —
    ``int(0.043 * 10000)`` is 429 under binary floating point, which
    would silently drop one whole bucket vs the intended 430."""
    return round(fraction * BUCKETS)


def with_split(df: DataFrame, id_col: str, salt: str = "split") -> DataFrame:
    """Append a stable ``'train'``/``'test'`` ``split`` column: rows
    whose bucket falls in the lowest 10% of the space are test."""
    return df.withColumn(
        "split",
        F.when(
            hash_bucket(id_col, salt) < _threshold(0.1),
            F.lit("test"),
        ).otherwise(F.lit("train")),
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 100% of rare
    sources, 5% of a crawl): one when-chain threshold on the same
    hash bucket — still a single narrow projection."""
    threshold = None
    for value, fraction in fractions.items():
        cond = F.col(strata_col) == value
        limit = F.lit(_threshold(fraction))
        threshold = (
            F.when(cond, limit) if threshold is None else threshold.when(cond, limit)
        )
    threshold = (
        F.lit(_threshold(default_fraction))
        if threshold is None
        else threshold.otherwise(F.lit(_threshold(default_fraction)))
    )
    return df.filter(hash_bucket(id_col, salt) < threshold)


def temperature_resample(
    df: DataFrame,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """α=0.5 temperature rebalancing of a grouped corpus (the
    multilingual/multi-domain pre-training mix recipe): per-group keep
    rates are proportional to ``sqrt(n_g)/n_g`` so over-represented
    groups are downsampled toward a flatter mix while the total kept
    volume targets half of the corpus.  Membership is
    the same deterministic md5 bucket as every sampler here, so the
    draw is reproducible in any engine.

    Appends ``rate`` (the group's keep rate) and ``keep`` (0/1).

    Cross-engine float determinism: group weights are quantized to
    integer micro-units (``floor(sqrt(n_g) * 1e6)``) so their SUM is
    exact integer arithmetic — a floating sum's value depends on
    accumulation order, which no distributed engine guarantees.  The
    remaining per-group expression is a fixed left-to-right chain of
    IEEE-exact ops (sqrt, *, /), identical in Spark and the SQL oracle.

    Scale notes (100 TB): group stats are one tiny aggregation (rows =
    number of groups); the totals reduce to ONE row, cross-joined back
    by broadcast; the rate table broadcast-joins onto the corpus by
    group key.  The corpus itself is never shuffled — scan, map-side
    join, filter."""
    stats = df.groupBy(group_col).agg(F.count("*").alias("_n_g"))
    stats = stats.withColumn(
        "_w_g",
        F.floor(F.sqrt(F.col("_n_g").cast("double")) * F.lit(1_000_000.0)).cast(
            "long"
        ),
    )
    totals = F.broadcast(
        stats.agg(
            F.sum("_n_g").alias("_n_total"), F.sum("_w_g").alias("_sum_w")
        )
    )
    rates = stats.crossJoin(totals).select(
        F.col(group_col).alias("_rate_key"),
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            * F.col("_n_total")
            * F.col("_w_g")
            / F.col("_sum_w")
            / F.col("_n_g"),
        ).alias("rate"),
    )
    # null-safe equality: a NULL group (missing source metadata) is a
    # legitimate stratum with its own stats row — a plain equi-join
    # would silently drop those rows from the output instead of
    # tagging them
    joined = df.join(
        F.broadcast(rates), F.col(group_col).eqNullSafe(F.col("_rate_key"))
    ).drop("_rate_key")
    return joined.withColumn(
        "keep",
        (
            hash_bucket(id_col, "temp")
            < F.floor(F.col("rate") * F.lit(float(BUCKETS))).cast("long")
        ).cast("int"),
    )


def es_priority(
    id_col: str, weight_col: str | Column, salt: str = "wsample"
) -> Column:
    """The Efraimidis–Spirakis A-Res priority ``ln(u)/w`` with
    hash-derived randomness: ``u`` uniform in (0, 1) from the first 8
    hex chars of ``md5(salt || id)`` (32-bit resolution), ``w`` the
    weight with non-positive/NULL clamped to 1 (fractional weights
    pass through).  Larger priority = drawn earlier; any engine with
    md5 replays it bit-for-bit."""
    wcol = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    w = F.when(wcol > 0, wcol).otherwise(F.lit(1.0))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return F.log(u) / w


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (top-``k``):
    Efraimidis–Spirakis A-Res with hash-derived randomness.  Each row
    draws ``u`` from ``md5('wsample' || id)`` (32-bit resolution, uniform in
    (0, 1)) and gets priority ``ln(u) / w``; the ``k`` largest
    priorities ARE a weighted sample without replacement — a row's
    inclusion probability is proportional to its weight, and the whole
    draw replays bit-for-bit in any engine with md5 (the q72 DuckDB
    oracle does).  ``df.sample()`` can't do this: not weighted, not
    deterministic across partitionings, not replayable elsewhere.

    The standard curation move this exists for: sample documents
    proportionally to length/quality for eval sets or pilot corpora,
    reproducibly, with an audit trail.

    Scale notes (100 TB): priority is a narrow codegen expression; the
    global top-k plans as ``TakeOrderedAndProject`` (per-partition
    heaps, then a k-row merge on one reducer) — no full sort, no
    shuffle of the corpus.  Ties in priority are broken by id, so the
    result is total-order deterministic.

    Returns the sampled rows with their ``priority`` (the E-S key,
    useful for debugging draw boundaries) and 1-based ``sample_rank``.
    Non-positive or NULL weights are clamped to 1 so they behave as
    unit weight instead of poisoning the draw with NaN/Inf; positive
    fractional weights pass through untouched (0 < w < 1 is a
    legitimate down-weight, e.g. a quality score)."""
    keyed = df.withColumn("priority", es_priority(id_col, weight_col))
    topk = keyed.orderBy(F.col("priority").desc(), F.col(id_col)).limit(k)
    return topk.withColumn(
        "sample_rank",
        F.row_number().over(
            Window.orderBy(F.col("priority").desc(), F.col(id_col))
        ),
    )


def group_weighted_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """Per-group weighted sampling without replacement: the ``k``
    highest Efraimidis–Spirakis priorities WITHIN each group — e.g.
    "20 docs per source, drawn proportionally to length/quality",
    reproducibly.  The per-group twin of :func:`weighted_sample`.

    Scale notes (100 TB): one hash shuffle on ``group_col``; the
    ``row_number <= k`` filter over the window plans as
    WindowGroupLimit (same property q55 asserts), so every map task
    keeps only its own top-k per group BEFORE the exchange — the
    shuffle carries O(groups x k) rows per task, not the corpus."""
    keyed = df.withColumn(
        "priority", es_priority(id_col, weight_col, "gwsample")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("priority").desc(), F.col(id_col)
    )
    return keyed.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= k
    )


def token_budget_select(
    df: DataFrame,
    token_col: str,
    key_col: str,
    budget_ratio: tuple[int, int],
    tie_cols: Sequence[str] = (),
    buckets: int = 64,
) -> DataFrame:
    """Greedy token-budget selection: order rows by ``key_col``
    descending (best-first), take the maximal prefix whose cumulative
    ``token_col`` stays within the budget — "fill a training mix with
    the highest-quality documents first", the standard curation closing
    step.  The budget is ``budget_ratio=(num, den)`` of the total token
    count (kept while ``den·cum <= num·total`` — exact integer
    arithmetic, no float threshold).

    The naive formulation — ``SUM(tokens) OVER (ORDER BY key)`` with no
    PARTITION BY — is a scale killer: Spark plans an unpartitioned
    window as ONE task holding the whole corpus.  This operator computes
    the same global prefix sum as a two-level cumsum:

    1. one pass (pruned to ``key_col``) estimates quantile boundaries
       (``approxQuantile``) and buckets rows by key — boundary precision
       affects only load balance, never the result;
    2. per-bucket token totals aggregate map-side (the shuffle carries
       ~``buckets`` rows per task); a window over that tiny table yields
       each bucket's exclusive prefix offset and the grand total;
    3. ONE full exchange partitions rows by bucket; the within-bucket
       cumulative sum plus the broadcast offset is the exact global
       cumulative sum, and the budget filter runs where the rows are.

    Determinism contract: ``key_col ++ tie_cols`` must be a TOTAL order
    (pass the primary key as the last tie) — the selected set is then
    unique and engine-independent, replayable as the naive window in any
    SQL engine (the q92 oracle).  Rows with a NULL key or NULL token
    count are excluded (they have no defined position/cost).  Skew
    caveat: all rows sharing one key value land in one bucket — a
    degenerate key (one value everywhere) degrades to the single-task
    window this exists to avoid.

    The operator consumes its input THREE times — the quantile probe,
    the bucket totals, and the cumsum itself — so an expensive upstream
    (e.g. a tokenizing projection over raw text) would otherwise
    evaluate three times.  ``localCheckpoint`` pins the input once;
    pass a NARROW projection (key, tokens, id) and join wide payloads
    back by id afterwards if the row is heavy.

    Returns the selected rows (original columns) + ``cum_tokens`` = the
    global cumulative token count, BIGINT."""
    num, den = budget_ratio
    if num < 0 or den <= 0:
        raise ValueError(f"need num >= 0 and den > 0; got {budget_ratio}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1; got {buckets}")
    cols = df.columns
    t = df.filter(
        F.col(token_col).isNotNull() & F.col(key_col).isNotNull()
    ).localCheckpoint(eager=True)
    # quantile boundaries: load balance only — the cumulative sum below
    # is exact regardless of where the bucket cuts land.  buckets=1 is
    # the degenerate single-bucket (single-task) form: no probe pass
    # (approxQuantile rejects an empty probability list)
    probes = [i / buckets for i in range(1, buckets)]
    bounds = (
        sorted(set(t.stat.approxQuantile(key_col, probes, 0.01)))
        if probes
        else []
    )
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col(key_col) > F.lit(b)).cast("int")
    tb = t.withColumn("_tb_bucket", bucket)
    tok = F.col(token_col).cast("long")

    row_order = [F.col(key_col).desc(), *[F.col(c) for c in tie_cols]]
    bucket_order = F.col("_tb_bucket").desc()

    # tiny side: per-bucket totals (map-side combined), exclusive prefix
    # offsets in global order, grand total — <= buckets rows end to end
    bsums = tb.groupBy("_tb_bucket").agg(F.sum(tok).alias("_tb_bsum"))
    w_off = Window.orderBy(bucket_order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bsums.select(
        "_tb_bucket",
        F.coalesce(F.sum("_tb_bsum").over(w_off), F.lit(0).cast("long")).alias(
            "_tb_off"
        ),
        F.sum("_tb_bsum").over(Window.partitionBy()).alias("_tb_total"),
    )

    w_cum = Window.partitionBy("_tb_bucket").orderBy(*row_order)
    cum = (F.col("_tb_off") + F.sum(tok).over(w_cum)).alias("cum_tokens")
    sel = tb.join(F.broadcast(offs), "_tb_bucket").select(
        *cols, F.col("_tb_total"), cum
    )
    keep = F.col("cum_tokens") * F.lit(int(den)) <= (
        F.col("_tb_total") * F.lit(int(num))
    )
    return sel.filter(keep).select(*cols, "cum_tokens")


def group_token_budget_select(
    df: DataFrame,
    token_col: str,
    key_col: str,
    group_col: str,
    budget_ratio: tuple[int, int],
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group token-budget selection — the MIX-SPEC operator: fill
    each group (language, source, domain) to its own token target with
    that group's best (highest ``key_col``) rows first:
    ``budget_ratio=(num, den)`` keeps each group's best prefix while
    ``den·cum <= num·group_total`` (exact integer arithmetic).
    :func:`token_budget_select` is the ungrouped twin for one global
    budget.

    Scale: ONE hash exchange on ``group_col``; the cumulative window
    is bounded by the group (no unpartitioned window anywhere).  Skew
    caveat: one giant group serializes within its partition — if a
    single group dominates the corpus, select it with the bucketed
    global operator instead.  Rows with NULL key/token/group are
    excluded; ``key_col ++ tie_cols`` must totally order rows WITHIN a
    group for a deterministic, engine-replayable selection.

    Returns the selected rows + ``cum_tokens`` = within-group
    cumulative token count, BIGINT."""
    num, den = budget_ratio
    if num < 0 or den <= 0:
        raise ValueError(f"need num >= 0 and den > 0; got {budget_ratio}")
    cols = df.columns
    t = df.filter(
        F.col(token_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
    )
    tok = F.col(token_col).cast("long")
    w_cum = Window.partitionBy(group_col).orderBy(
        F.col(key_col).desc(), *[F.col(c) for c in tie_cols]
    )
    cum = F.sum(tok).over(w_cum).alias("cum_tokens")
    # the group total rides the SAME exchange as the cumsum window
    # (both partition by group_col); filter on the materialized
    # column — a window expression can't sit in a WHERE
    w_all = Window.partitionBy(group_col)
    sel = t.select(*cols, cum, F.sum(tok).over(w_all).alias("_gtb_total"))
    keep = F.col("cum_tokens") * F.lit(int(den)) <= (
        F.col("_gtb_total") * F.lit(int(num))
    )
    return sel.filter(keep).select(*cols, "cum_tokens")

def dsir_feature_array():
    """Array of DSIR features for one document: normalized ``text``
    unigrams + bigrams.  NULL text scores as empty text (one \'\'-unigram): a NULL
    feature array would vanish under explode/aggregate and silently
    drop the document from the scored output — every document must
    receive a weight.  Bigrams via slice+zip_with so one-word docs
    yield an empty bigram array, never a descending ``sequence``."""
    from defenda_data_lake_spark.operators.dedup import normalized_text

    norm = normalized_text(F.coalesce(F.col("text"), F.lit("")))
    w = F.split(norm, " ")
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(w, bigrams)


#: DSIR feature hash buckets
DSIR_BUCKETS = 1024


def dsir_bucket_of(feat):
    """The engine-portable feature→bucket hash (first 8 md5 hex chars,
    the :func:`hash_bucket` scheme)."""
    return (
        F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


def dsir_bucket_counts(df: DataFrame, target: Column) -> DataFrame:
    """The fitted DSIR "model": per-bucket raw and target feature
    counts from ONE corpus pass — ``(bucket, raw_c, tgt_c)``,
    <= ``DSIR_BUCKETS`` rows, consumed by :func:`dsir_importance_weights`."""
    feats = df.select(
        target.alias("_is_target"),
        F.explode(dsir_feature_array()).alias("feat"),
    ).select(
        "_is_target", dsir_bucket_of(F.col("feat")).alias("bucket")
    )
    counts = feats.groupBy("bucket").agg(
        F.count("*").alias("raw_c"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("tgt_c"),
    )
    # the counts table is <= DSIR_BUCKETS rows but sits on a full corpus
    # pass; without pinning it, the totals row and the ratio broadcast
    # would each recompute the feature explode — THREE corpus passes
    # instead of two (the q92 precedent)
    return counts.localCheckpoint(eager=True)

def dsir_bucket_ratios(counts: DataFrame) -> DataFrame:
    """Per-bucket add-0.5 smoothed log ratio ``(bucket, logr)`` from a
    fitted counts table — THE one definition of the DSIR smoothing
    formula.

    Totals via a one-row broadcast crossJoin (the q97-datasheet
    pattern): the counts table is <= ``DSIR_BUCKETS`` rows, the totals
    one."""
    alpha = 0.5
    denom = alpha * DSIR_BUCKETS
    torow = counts.agg(
        F.sum("raw_c").alias("_raw_tot"), F.sum("tgt_c").alias("_tgt_tot")
    )
    return counts.crossJoin(F.broadcast(torow)).select(
        "bucket",
        F.log(
            ((F.col("tgt_c") + F.lit(alpha)) / (F.col("_tgt_tot") + F.lit(denom)))
            / ((F.col("raw_c") + F.lit(alpha)) / (F.col("_raw_tot") + F.lit(denom)))
        ).alias("logr"),
    )


def dsir_importance_weights(df: DataFrame, target: Column) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every document by how much more
    likely its content is under a TARGET-domain bag-of-hashed-ngrams
    model than under the raw-corpus model.  Documents with high
    weights "look like" the target domain; resampling the corpus by
    these weights is the standard recipe for building a domain-matched
    pretraining mix from a general crawl.

    ``target`` is a boolean Column over ``df``'s rows marking the
    target-domain examples (e.g. ``F.col("lang") == "en"``); the raw
    model is the whole corpus, so every scored feature bucket is
    guaranteed a nonzero raw count.

    Features are unigrams + bigrams of the normalized ``text``, hashed
    into ``DSIR_BUCKETS`` buckets via the first 8 hex chars of md5 — the
    same engine-portable scheme as :func:`hash_bucket`, so a SQL
    oracle replays the bucketing bit-for-bit.  Bucket probabilities
    are add-0.5 smoothed; the per-document weight is the MEAN of
    ``ln(p_target(b)/p_raw(b))`` over the document's feature
    OCCURRENCES (length-normalized log importance weight — the paper's
    sum-form ranks long documents first regardless of fit).

    Returns ``(id, n_feats, avg_logw)``, ``id`` the ``doc_id``
    (un-rounded; callers round).

    Plan shape (scale): feature explode is pure JVM (split + zip_with
    bigrams — slice-based, so one-word docs yield an empty bigram
    array, never a descending ``sequence``); bucket counts for BOTH
    models come from ONE corpus pass (a single agg keyed by the
    ≤``DSIR_BUCKETS``-row bucket id, carrying raw and target counts
    together); totals + log-ratios are arithmetic over that tiny
    table, which then BROADCASTS back into the feature stream; the
    only corpus-sized exchange is the final per-doc mean.  Nothing
    here is skew-prone: bucket ids are md5-uniform by construction."""
    feats = df.select(
        F.col("doc_id").alias("id"),
        target.alias("_is_target"),
        F.explode(dsir_feature_array()).alias("feat"),
    ).select(
        "id",
        "_is_target",
        dsir_bucket_of(F.col("feat")).alias("bucket"),
    )
    counts = dsir_bucket_counts(df, target)
    ratios = dsir_bucket_ratios(counts)
    return (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_feats"),
            F.avg("logr").alias("avg_logw"),
        )
    )
