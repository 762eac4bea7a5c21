"""Fuzzy record linkage / edit-distance near-duplicate detection.

Complements the token-level dedup family (MinHash/Jaccard/SimHash in
``operators/dedup.py``) with CHARACTER-level similarity: two records
link when the edit (Levenshtein) distance between their normalized text
prefixes is small.  This is the classic record-linkage shape — ocr
noise, typo'd entity names, near-identical boilerplate with small
character edits — that token-set similarity under-detects (one typo
inside a word changes the whole token).

Reference parity: the reference repo has no entity-resolution code
(its dedup surface is delegated to Athena SQL); this module is part of
the training-data-pipeline operator family the engine adds on top.

Scale notes (100 TB):

* **Blocking, not all-pairs.**  Candidates are generated by an
  equi-join on a deterministic *blocking key* (the first 3 tokens of
  the normalized text).  Blocking is the
  standard record-linkage trade: recall is bounded by the blocking
  scheme (pairs that disagree in the first tokens are never compared —
  documented, deliberate), cost is bounded by block sizes.  The join is
  a plain hash equi-join; no cross product anywhere (plan-asserted in
  ``tests/test_linkage_classify.py``).
* **Degenerate-block cap.**  A blocking key shared by thousands of
  rows (empty text, boilerplate headers) contributes quadratic pairs
  and near-zero discrimination — the same hazard as a degenerate LSH
  bucket.  Blocks of more than 1000 rows are dropped with a windowed
  count BEFORE the self-join (mirrors ``minhash_lsh_candidates``'s
  ``max_bucket_docs`` cap; the count runs in the same exchange the
  join needs, so the guard adds no extra shuffle).
* **Bounded comparison cost.**  Distances are computed on a 64-char
  prefix with Spark's *thresholded* ``levenshtein(a, b, 8)`` (JVM
  codegen, early-exits the DP once the distance provably exceeds the
  threshold — O(64 x 8) per pair instead of O(64^2)).  No Python in
  the hot path.
* One exchange on the blocking key (window + self-join share it);
  per-pair work is a bounded JVM expression.  Skewed keys are exactly
  the capped degenerate blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from defenda_data_lake_spark.operators.dedup import normalized_text


def blocking_key(col: Column) -> Column:
    """First 3 whitespace tokens of the normalized text, re-joined with
    single spaces — the deterministic blocking key.  Rows with fewer
    tokens block on what they have."""
    return F.array_join(F.slice(F.split(normalized_text(col), " "), 1, 3), " ")


def candidate_pairs(df: DataFrame, neighbor_window: int | None) -> DataFrame:
    """Candidate pair generation of :func:`edit_distance_pairs`:
    blocking + cap + (all-pairs | sorted-neighborhood) expansion,
    WITHOUT the distance computation.  Returns ``(id_a, id_b, _pa,
    _pb)`` where ``_pa/_pb`` are the two normalized 64-char ``text``
    prefixes still to be compared."""
    norm = normalized_text(F.col("text"))
    side = df.select(
        F.col("doc_id").alias("_lk_id"),
        F.substring(norm, 1, 64).alias("_lk_prefix"),
        blocking_key(F.col("text")).alias("_lk_block"),
    ).filter(F.col("_lk_prefix").isNotNull() & (F.length("_lk_prefix") > 0))

    # degenerate-block cap: count within the blocking exchange, BEFORE
    # the pair expansion fans out
    side = side.withColumn(
        "_lk_block_n", F.count("*").over(Window.partitionBy("_lk_block"))
    ).filter(F.col("_lk_block_n") <= F.lit(1000))

    if neighbor_window is None:
        a = side.select(
            F.col("_lk_id").alias("id_a"),
            F.col("_lk_prefix").alias("_pa"),
            "_lk_block",
        )
        b = side.select(
            F.col("_lk_id").alias("id_b"),
            F.col("_lk_prefix").alias("_pb"),
            "_lk_block",
        )
        return a.join(b, "_lk_block").filter(F.col("id_a") < F.col("id_b"))
    # sorted-neighborhood as LAG columns over the block window: no
    # self-join at all — each row carries its w predecessors in the
    # (prefix, id) sort order, then explodes to candidate pairs.
    # One exchange total (shared with the cap window: same
    # partitioning key), O(rows x w) candidates by construction.
    w_spec = Window.partitionBy("_lk_block").orderBy("_lk_prefix", "_lk_id")
    cands = F.array(
        *[
            F.struct(
                F.lag("_lk_id", j).over(w_spec).alias("nid"),
                F.lag("_lk_prefix", j).over(w_spec).alias("npfx"),
            )
            for j in range(1, neighbor_window + 1)
        ]
    )
    return (
        side.withColumn("_lk_cands", cands)  # window exprs resolve here
        .withColumn("_lk_c", F.explode("_lk_cands"))
        .filter(F.col("_lk_c.nid").isNotNull())
        .select(
            F.least("_lk_id", F.col("_lk_c.nid")).alias("id_a"),
            F.greatest("_lk_id", F.col("_lk_c.nid")).alias("id_b"),
            F.col("_lk_prefix").alias("_pa"),
            F.col("_lk_c.npfx").alias("_pb"),
        )
    )


def edit_distance_pairs(
    df: DataFrame, neighbor_window: int | None = None
) -> DataFrame:
    """Within-block ``doc_id`` pairs whose normalized ``text`` prefixes
    are within 8 character edits.

    ``neighbor_window=None`` compares ALL pairs inside each block —
    exact within the blocking scheme, but per-block cost is quadratic,
    so block sizes growing with the corpus (fixed-vocabulary blocking
    keys at 100 TB) blow up: the 32x probe (SCALING.md round-7
    "edit-distance linkage") measured 8.2x wall growth for the
    all-pairs form, and that only because the 1000-row block cap
    starts DROPPING the fattest blocks outright (recall loss) — the
    uncapped quadratic is unbounded.  ``neighbor_window=w`` switches to
    SORTED-NEIGHBORHOOD candidates (Hernandez-Stolfo): each block is
    sorted by (prefix, id) and only rows within ``w`` positions are
    compared — total candidates are O(rows x w), LINEAR in corpus
    size (the same probe measures 2.2x wall at 32x data, amortizing
    fixed job cost).
    The additional recall trade: a pair with >= w closer-sorting
    block-mates between them is not compared (near-identical prefixes
    sort adjacent, so true near-dups are overwhelmingly within the
    window).

    Returns ``(id_a, id_b, distance)`` with ``id_a < id_b`` (column
    order when the id column is numeric) and ``distance`` the exact
    Levenshtein distance between the two 64-char prefixes
    (exact because the thresholded form returns the true distance
    whenever it is <= the threshold).
    """
    pairs = candidate_pairs(df, neighbor_window)
    # Two semantics-preserving guards before the DP, measured ~20x at
    # the 32x probe (37.4 s unguarded -> 1.9 s, best-of-3; SCALING.md round-7
    # "edit-distance linkage"): equal prefixes (the dominant near-dup
    # case in a replica-flooded corpus) short-circuit to 0 — Spark's
    # thresholded levenshtein does NOT short-circuit equal inputs — and
    # a length-difference prune (|len(a)-len(b)| lower-bounds the edit
    # distance) skips the DP entirely for hopeless pairs.
    dist = F.when(F.col("_pa") == F.col("_pb"), F.lit(0)).otherwise(
        F.when(
            F.abs(F.length("_pa") - F.length("_pb")) > 8, F.lit(-1)
        ).otherwise(F.levenshtein(F.col("_pa"), F.col("_pb"), 8))
    )
    return (
        pairs.withColumn("distance", dist)
        # thresholded levenshtein returns -1 when distance > threshold;
        # equal prefixes are distance 0 and kept
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))
    )
