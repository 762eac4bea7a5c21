"""Trained document-quality classification: multinomial Naive Bayes
over unigram features, trained and applied entirely as DataFrame
aggregations (no MLlib, no Python in the hot path — every step is a
join/agg Catalyst can optimize, and every step is replayable as ANSI
SQL for the correctness oracle).

This is the "train a fastText-style quality classifier on a labeled
seed set, score the whole corpus" stage of an LLM data pipeline
(GPT-3/CCNet-style quality filtering), expressed engine-native.  The
reference repo has no ML surface; this extends the training-data
operator family.

Model: multinomial NB with Laplace (+1) smoothing.

    log_odds(w) = ln((c_pos(w)+1)/(T_pos+V)) - ln((c_neg(w)+1)/(T_neg+V))
    score(doc)  = ln((N_pos+1)/(N_neg+1)) + sum_w log_odds(w)

where c_cls(w) counts occurrences of w in train docs of that class,
T_cls the total train occurrences for the class, V the train vocabulary
size, N_cls the train doc counts.  Words unseen in training contribute
the smoothed c=0 odds.  All inputs are exact integers, so the ratios
(and hence the scores, up to ulp-level ln/summation noise absorbed by
4-decimal rounding — the q54 unigram-LM precedent) are engine-stable.

Scale notes (100 TB):

* **Training is two aggregations.**  Word counts shuffle once on the
  word (Zipf-bounded vocabulary, skew absorbed by map-side partial
  aggregation); the 6 scalar totals reduce to one broadcastable row.
* **Scoring never shuffles the corpus.**  The model table is
  vocabulary-sized (Zipf-bounded, same argument as the q54 unigram
  model) and BROADCAST into the per-doc word stream; the only
  corpus-sized exchange is the final per-doc aggregation on the id.
* The train/score split is a narrow md5 expression (the ``q38``
  deterministic-split pattern) — no sampling nondeterminism, any
  engine reproduces the same split forever.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.dedup import normalized_text


def _doc_words(df: DataFrame) -> DataFrame:
    """(id, word) stream: ``text`` normalized and split on single spaces
    (the canonical form emitted by ``normalized_text``)."""
    return df.select(
        F.col("doc_id").alias("_nb_id"),
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("word"),
    ).filter(F.length("word") > 0)


def nb_train(train_df: DataFrame, label_col: str) -> tuple[DataFrame, DataFrame]:
    """Fit the NB model on ``train_df``'s ``doc_id``/``text`` rows
    (``label_col`` must be 0/1 int).

    Returns ``(model, totals)``: ``model`` is one row per train word
    with integer class counts; ``totals`` is ONE row of scalar
    aggregates (class word totals, vocab size, class doc counts).
    Both are integer-exact — the float log-odds are derived at scoring
    time so the model tables stay mergeable/inspectable.
    """
    labeled = train_df.select(
        F.col("doc_id").alias("_nb_id"),
        F.col(label_col).cast("long").alias("_nb_y"),
    )
    words = _doc_words(train_df).join(labeled, "_nb_id")
    model = words.groupBy("word").agg(
        F.sum("_nb_y").alias("c_pos"),
        F.sum(F.lit(1) - F.col("_nb_y")).alias("c_neg"),
    )
    totals = model.agg(
        F.sum("c_pos").alias("t_pos"),
        F.sum("c_neg").alias("t_neg"),
        F.count("*").alias("vocab"),
    ).crossJoin(
        F.broadcast(
            labeled.agg(
                F.sum("_nb_y").alias("n_pos"),
                F.sum(F.lit(1) - F.col("_nb_y")).alias("n_neg"),
            )
        )
    )
    return model, totals


def nb_score(df: DataFrame, model: DataFrame, totals: DataFrame) -> DataFrame:
    """Score every ``doc_id``/``text`` row of ``df`` under a trained
    model: returns ``(doc_id, n_words, score)`` where ``score`` is the
    NB log-odds (positive => classified positive).  Unseen words take
    the smoothed zero-count odds.  ``model`` is broadcast
    (vocabulary-sized); ``totals`` is a broadcast single row."""
    words = _doc_words(df)
    scored = (
        words.join(F.broadcast(model), "word", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "_nb_id",
            (
                F.log(
                    (F.coalesce(F.col("c_pos"), F.lit(0)) + 1)
                    / (F.col("t_pos") + F.col("vocab"))
                )
                - F.log(
                    (F.coalesce(F.col("c_neg"), F.lit(0)) + 1)
                    / (F.col("t_neg") + F.col("vocab"))
                )
            ).alias("_nb_lo"),
            (F.log((F.col("n_pos") + 1) / (F.col("n_neg") + 1))).alias("_nb_prior"),
        )
    )
    return scored.groupBy("_nb_id").agg(
        F.count("*").alias("n_words"),
        (F.first("_nb_prior") + F.sum("_nb_lo")).alias("score"),
    ).select(F.col("_nb_id").alias("doc_id"), "n_words", "score")


def train_split_expr(id_col: str) -> Column:
    """Deterministic md5 train-membership predicate (the q38 split
    pattern, reusing ``sampling.hash_bucket``): True for ~80% of rows,
    same rows on any engine."""
    from defenda_data_lake_spark.operators.sampling import hash_bucket

    return hash_bucket(id_col, "nbsplit") < 8000


def nb_quality_scores(df: DataFrame, label_expr: Column) -> DataFrame:
    """End-to-end pipeline: deterministic train split of ``doc_id`` ->
    NB fit on the train rows' ``text`` under ``label_expr`` -> score
    the corpus.  Returns ``(doc_id, n_words, score, predicted)``.

    Contract edges: a NULL ``label_expr`` (e.g. a NULL feature column)
    labels the row NEGATIVE — the same coalesce the SQL oracle's
    ``CASE WHEN .. THEN 1 ELSE 0 END`` applies — rather than silently
    excluding it from the counts while its words still widen the
    vocabulary.  Rows whose text normalizes to EMPTY contribute no
    word rows and are absent from the output (there is nothing to
    score); callers joining scores back 1:1 should left-join."""
    labeled = df.withColumn(
        "_nb_label", F.coalesce(label_expr.cast("long"), F.lit(0))
    )
    train = labeled.filter(train_split_expr("doc_id"))
    model, totals = nb_train(train, "_nb_label")
    scored = nb_score(df, model, totals)
    return scored.withColumn(
        "predicted", (F.col("score") > 0).cast("int")
    )


def nb_evaluate(df: DataFrame, label_expr: Column) -> DataFrame:
    """Held-out evaluation of the :func:`nb_quality_scores` pipeline:
    fit on the train split, score the TEST split, and reduce its
    predictions against the labels to ONE row of confusion counts and
    derived metrics (accuracy / precision / recall / F1).  The scores
    it grades are identical to ``nb_quality_scores``' (same model,
    same smoothing) — only the wasted train-split scoring is skipped.

    Determinism: the counts are exact integers; each metric is a
    SINGLE division of integer counts (F1 as 2tp/(2tp+fp+fn), never
    composed from pre-divided floats), so the doubles are IEEE-
    identical on any engine.  Zero denominators yield NULL.

    Scale: only the TEST split is ever scored (the train split's
    scores would be discarded — at the 80/20 split that is 5x
    less scoring work than scoring the corpus); evaluation then adds
    one broadcast-sized join and a global 1-row aggregation.

    Contract edge: a test doc whose text normalizes to empty (or is
    NULL) produces no word rows, so it is excluded from ``n_test`` and
    every metric — the report covers scoreable docs only, and the SQL
    oracle mirrors the exclusion.
    """
    labeled = df.withColumn(
        "_nb_y", F.coalesce(label_expr.cast("long"), F.lit(0))
    )
    train = labeled.filter(train_split_expr("doc_id"))
    model, totals = nb_train(train, "_nb_y")
    test = labeled.filter(~train_split_expr("doc_id"))
    scored = nb_score(test, model, totals)
    return nb_evaluate_scored(scored.join(test.select("doc_id", "_nb_y"), "doc_id"))


def nb_evaluate_scored(scored: DataFrame) -> DataFrame:
    """:func:`nb_evaluate`'s reduction on an ALREADY-scored labeled
    frame (columns ``score`` raw log-odds + ``_nb_y`` 0/1 label):
    confusion counts + single-division metrics.  Factored out (review
    fix, round 12) so the catalog's shared-view entry (q106) and the
    standalone operator reduce through ONE implementation — the
    metric conventions cannot drift between them."""
    c = lambda cond: F.sum(cond.cast("long"))  # noqa: E731
    p, y = F.col("score") > 0, F.col("_nb_y") == 1
    counts = scored.agg(
        F.count("*").alias("n_test"),
        c(p & y).alias("tp"),
        c(p & ~y).alias("fp"),
        c(~p & y).alias("fn"),
        c(~p & ~y).alias("tn"),
    )
    div = lambda num, den: F.when(den > 0, num / den)  # noqa: E731
    return counts.select(
        "n_test", "tp", "fp", "fn", "tn",
        div(F.col("tp") + F.col("tn"), F.col("n_test")).alias("accuracy"),
        div(F.col("tp"), F.col("tp") + F.col("fp")).alias("prec"),
        div(F.col("tp"), F.col("tp") + F.col("fn")).alias("rec"),
        div(
            2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")
        ).alias("f1"),
    )


def nb_calibration(df: DataFrame, label_expr: Column) -> DataFrame:
    """Reliability diagram of the :func:`nb_quality_scores` classifier
    on the held-out split: 10 equal-frequency score bins vs observed
    positive rate — "are the classifier's probabilities honest", the
    calibration gate that belongs next to q106's accuracy gate before
    scores drive corpus pruning (a quality filter that thresholds on
    p>0.9 needs p to MEAN 0.9).

    Per bin: ``(bin, n, mean_pred, frac_pos, gap)`` where ``mean_pred``
    averages the logistic transform of the NB log-odds and ``gap`` is
    the bin's |mean_pred - frac_pos| (the summand of expected
    calibration error; weight by n/N for ECE).

    Determinism contract (cross-engine): the log-odds is rounded at
    4dp BEFORE everything (the q103 oracle's score), the logistic
    input is clamped to ±30 (sigmoid saturates below double noise
    there, and DuckDB's exp() errors on overflow rather than returning
    inf), bins are ``ntile`` over (rounded score, id) so ties split
    identically, and the emitted means are rounded at 4dp with ``gap``
    computed FROM the rounded pair.

    Scale: identical plan shape to :func:`nb_evaluate` (broadcast
    model join + one keyed agg) plus one ntile window over the TEST
    split's per-doc scores — test-split-sized, not corpus-sized; at
    100 TB the eval split is sampled anyway."""
    labeled = df.withColumn(
        "_nb_y", F.coalesce(label_expr.cast("long"), F.lit(0))
    )
    train = labeled.filter(train_split_expr("doc_id"))
    model, totals = nb_train(train, "_nb_y")
    test = labeled.filter(~train_split_expr("doc_id"))
    scored = nb_score(test, model, totals)
    return nb_calibration_scored(
        scored.join(test.select("doc_id", "_nb_y"), "doc_id")
    )


def nb_calibration_scored(scored: DataFrame) -> DataFrame:
    """:func:`nb_calibration`'s binning on an ALREADY-scored labeled
    frame (``score`` raw log-odds, ``_nb_y`` 0/1, ``doc_id``):
    round-first, clamp at +-30, ntile over (rounded score, id), means
    at 4dp, gap from the rounded pair.  Factored out (review fix,
    round 12) so the shared-view entry (q123) and the standalone
    operator share ONE implementation of the determinism
    conventions."""
    from pyspark.sql import Window

    # scale-round-unscale (the plans.R scheme): F.round(x, 4) rounds
    # the exact decimal expansion of the double and disagrees with
    # DuckDB on .5-after-FP-multiply edges
    r4 = lambda c: F.round(c * 10000, 0) / 10000  # noqa: E731
    score_r = r4(F.col("score"))
    prob = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-F.greatest(F.least(score_r, F.lit(30.0)), F.lit(-30.0)))
    )
    w = Window.orderBy(score_r.asc(), F.col("doc_id").asc())
    binned = scored.select(
        F.ntile(10).over(w).alias("bin"),
        prob.alias("_prob"),
        F.col("_nb_y").alias("_y"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r4(F.avg("_prob")).alias("mean_pred"),
            r4(F.avg(F.col("_y").cast("double"))).alias("frac_pos"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n",
            "mean_pred",
            "frac_pos",
            r4(F.abs(F.col("mean_pred") - F.col("frac_pos"))).alias("gap"),
        )
    )
