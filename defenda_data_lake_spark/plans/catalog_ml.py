"""Pipeline-ML family: snapshot diff/reconciliation, corpus datasheet,
SCD-2 history, PageRank, triangle counts, NB quality classifier."""

from __future__ import annotations

from pyspark.sql import functions as F
from defenda_data_lake_spark.operators import dedup as D
from defenda_data_lake_spark.plans.catalog_shared import (
    R,
    _t,
    _MINHASH_CTES_SQL,
    _MINHASH_PAIRS_SELECT,
    derived_view,
)


def _nb_scored_view(spark, sf_dir):
    """Session-materialized full-corpus NB scoring — the q87
    ``derived_view`` lesson applied to the NB-scoring density family
    (VERDICT r11 item 3): q103, q106, and q123 all replay the SAME
    pipeline (label ``n_chars >= 300``, salt ``nbsplit``, 80/20 md5
    split), so the expensive subtree — corpus word explode, broadcast
    model join, per-doc aggregation — runs ONCE per session instead of
    once per query.  One row per scoreable doc: the RAW log-odds (the
    consumers round; rounding here would flip ``raw > 0`` on
    |raw| < 5e-5 edges), word count, label, and split membership.

    Value identity: per-doc scores depend only on the doc's own words
    and the (train-split-derived) model, so scoring the full corpus
    and filtering to the test split afterwards is value-identical to
    scoring the test split alone (what ``nb_evaluate``/
    ``nb_calibration`` do standalone); 4dp rounding at the consumers
    absorbs float-sum reorder, the same contract the oracles pin.

    Scale: pinned under the documents byte budget like every derived
    view; past it the view streams UNPINNED — same plan, fused into
    each consumer (``derived_view``'s documented 100 TB policy).  At
    100 TB the equivalent move is persisting scores as a table column
    (a scoring backfill), refreshed when the seed set changes."""
    from defenda_data_lake_spark.operators import classify as CL

    def build(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        labeled = docs.withColumn(
            "_nb_y",
            F.coalesce((F.col("n_chars") >= 300).cast("long"), F.lit(0)),
        )
        train = labeled.filter(CL.train_split_expr("doc_id"))
        model, totals = CL.nb_train(train, "_nb_y")
        scored = CL.nb_score(docs, model, totals)
        return scored.join(
            labeled.select(
                "doc_id",
                "_nb_y",
                CL.train_split_expr("doc_id").alias("_nb_train"),
            ),
            "doc_id",
        )

    return derived_view(
        spark, sf_dir, "nb_scored", build, source_table="documents"
    )


def q94_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation (``operators/diff.py``): diff two
    versions of the orders table — deterministic synthetic drift
    (every 97th key deleted from the old snapshot = 'added', every
    89th from the new = 'removed', every 11th price bumped 0.5 =
    'modified') — into the four-row added/removed/modified/unchanged
    report with min/max affected key.  The post-backfill audit tool
    that closes the maintenance loop (upsert/compaction/retention
    verify).  Scale: ONE co-partitioned full-outer join on the key
    (bucket both snapshots and even that exchange disappears);
    null-safe struct equality inside the join stage; four rows
    survive the map-side-combined count.  The oracle replays the diff
    with column-wise IS NOT DISTINCT FROM — no cross-engine hashing
    anywhere."""
    from defenda_data_lake_spark.operators.diff import snapshot_diff_summary

    orders = _t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    old = base.filter(F.col("o_orderkey") % 97 != 5)
    new = base.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 3, F.col("o_totalprice") + F.lit(0.5)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff_summary(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


Q94_SQL = r"""
WITH oldsnap AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % 97 <> 5
),
newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 3 THEN o_totalprice + 0.5
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 89 <> 7
),
d AS (
  SELECT coalesce(newsnap.o_orderkey, oldsnap.o_orderkey) AS k,
         CASE WHEN oldsnap.o_orderkey IS NULL THEN 'added'
              WHEN newsnap.o_orderkey IS NULL THEN 'removed'
              WHEN oldsnap.o_totalprice IS NOT DISTINCT FROM newsnap.o_totalprice
               AND oldsnap.o_orderstatus IS NOT DISTINCT FROM newsnap.o_orderstatus
                THEN 'unchanged'
              ELSE 'modified' END AS diff_type
  FROM oldsnap FULL OUTER JOIN newsnap ON oldsnap.o_orderkey = newsnap.o_orderkey
)
SELECT diff_type, CAST(count(*) AS BIGINT) AS n_rows,
       min(k) AS min_key, max(k) AS max_key
FROM d GROUP BY diff_type
"""


def q95_sampled_diff(spark, sf_dir):
    """Sampled reconciliation (``operators/diff.py``): estimate q94's
    drift report from a 1/16 coordinated key sample — the "how much
    drifted?" preview that costs a fraction of the full join at 100 TB
    (the md5-prefix key filter runs map-side in both scans, so the
    full-outer join exchanges ~1/16 of the keys).  Same synthetic
    drift as q94; the oracle replays the SAMPLE hash-for-hash, so the
    sampling itself is value-checked.  Accuracy vs the exact report is
    asserted in test_diff.py; a drift type with no sampled keys is
    absent — identically absent in the replay (deterministic
    sample)."""
    from defenda_data_lake_spark.operators.diff import (
        sampled_snapshot_diff_summary,
    )

    orders = _t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    old = base.filter(F.col("o_orderkey") % 97 != 5)
    new = base.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 3, F.col("o_totalprice") + F.lit(0.5)
        ).otherwise(F.col("o_totalprice")),
    )
    return sampled_snapshot_diff_summary(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


Q95_SQL = r"""
WITH oldsnap AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % 97 <> 5
    AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
),
newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 3 THEN o_totalprice + 0.5
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders
  WHERE o_orderkey % 89 <> 7
    AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
),
d AS (
  SELECT CASE WHEN oldsnap.o_orderkey IS NULL THEN 'added'
              WHEN newsnap.o_orderkey IS NULL THEN 'removed'
              WHEN oldsnap.o_totalprice IS NOT DISTINCT FROM newsnap.o_totalprice
               AND oldsnap.o_orderstatus IS NOT DISTINCT FROM newsnap.o_orderstatus
                THEN 'unchanged'
              ELSE 'modified' END AS diff_type
  FROM oldsnap FULL OUTER JOIN newsnap ON oldsnap.o_orderkey = newsnap.o_orderkey
)
SELECT diff_type, CAST(count(*) AS BIGINT) AS sample_rows,
       CAST(16 * count(*) AS BIGINT) AS est_rows
FROM d GROUP BY diff_type
"""


def q97_corpus_datasheet(spark, sf_dir):
    """Corpus DATASHEET — the one-row report a curator publishes with
    a dataset release: scale (docs/tokens), composition (languages),
    hygiene (exact-duplicate docs, short-doc count), and vocabulary
    richness (the q79 HLL sketch, global).  Composes the engine's
    counting, hashing, and sketch primitives into the reporting
    surface.  Scale: ONE pass over the corpus for the row-level stats
    (every aggregate map-side combines); the vocabulary sketch's word
    explosion reduces to ≤256 registers inside the scan stage; two
    one-row broadcast crossJoins stitch the card together."""
    from defenda_data_lake_spark.operators.sketches import hll_distinct

    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    base = docs.select(
        "doc_id", "lang", F.col("text"), toks.alias("n_tok")
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tok").alias("total_tokens"),
        R(F.avg("n_tok"), 4).alias("mean_tokens"),
        F.sum(F.when(F.col("n_tok") < 50, 1).otherwise(0))
        .cast("long")
        .alias("short_docs"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("exact_dup_docs"),
    )
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).filter(F.length("word") > 0)
    vocab = hll_distinct(words, "word")
    return stats.crossJoin(F.broadcast(vocab)).select(
        "n_docs",
        "n_langs",
        "total_tokens",
        "mean_tokens",
        "short_docs",
        "exact_dup_docs",
        R("hll_estimate", 4).alias("vocab_est"),
    )


Q97_SQL = r"""
WITH base AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs,
         count(DISTINCT lang) AS n_langs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         round(avg(n_tok), 4) AS mean_tokens,
         CAST(sum(CASE WHEN n_tok < 50 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
         CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs
  FROM base
),
wds AS (
  SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
),
ww AS (SELECT word FROM wds WHERE len(word) > 0),
hx AS (SELECT md5(word) AS h FROM ww),
rr AS (
  SELECT substr(h, 1, 2) AS idx,
         max(least(4 * length(regexp_extract(substr(h, 3, 14), '^(0*)', 1))
             + CASE substr(regexp_replace(substr(h, 3, 14), '^0*', ''), 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END + 1, 55)) AS maxrho
  FROM hx GROUP BY idx
),
agg AS (
  SELECT sum(CAST(1 AS BIGINT) << (55 - maxrho)) AS isum0,
         count(*) AS nonzero
  FROM rr
),
fin AS (
  SELECT (256 - nonzero) AS zeros,
         CAST(0.7182725932495458 AS DOUBLE) * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
           * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
           / CAST(isum0 + (256 - nonzero) * (CAST(1 AS BIGINT) << 55) AS DOUBLE)
           AS raw
  FROM agg
),
vocab AS (
  SELECT round(CASE WHEN raw <= CAST(640 AS DOUBLE) AND zeros > 0
               THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / zeros) ELSE raw END * 10000, 0) / 10000
           AS vocab_est
  FROM fin
)
SELECT n_docs, n_langs, total_tokens, mean_tokens, short_docs, exact_dup_docs, vocab_est
FROM stats, vocab
"""


def q99_scd2_history(spark, sf_dir):
    """SCD-2 dimension history build (``operators/scd.py``): compact
    the per-user event-type observation log into versioned validity
    intervals ``[valid_from_s, valid_to_s)`` — the table shape a
    point-in-time dimension join (or the q29 as-of join) consumes.

    Scale: ONE hash exchange on user_id; the change-flag lag, running
    version sum, per-version count, and interval-closing lead all run
    as sorts over that same key-clustered layout (pinned in
    test_graph_scd.py's single-exchange plan test)."""
    from defenda_data_lake_spark.operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(
        ev, ["user_id"], ["event_type"], "ts", order_cols=["event_id"]
    )


Q99_SQL = """
WITH obs AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS obs_s,
         CASE WHEN row_number() OVER w = 1
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ver AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS version
  FROM obs
),
cnt AS (
  SELECT *, count(*) OVER (PARTITION BY user_id, version) AS n_obs FROM ver
),
starts AS (
  SELECT user_id, event_type, version, obs_s AS valid_from_s, n_obs
  FROM cnt WHERE chg = 1
)
SELECT user_id, event_type, CAST(version AS BIGINT) AS version, valid_from_s,
       lead(valid_from_s) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to_s,
       CAST(n_obs AS BIGINT) AS n_obs
FROM starts
"""


def q100_pagerank(spark, sf_dir):
    """PageRank centrality over the customer–supplier order-flow graph
    (``operators/graph.py``): nodes are customers and suppliers, an
    undirected edge links a customer to every supplier that fulfilled
    one of its orders; 5 damped rounds rank entities by flow
    centrality — the corpus-weighting / entity-importance primitive.

    Fully value-checked DESPITE being iterative float-free math: ranks
    are BIGINT fixed-point (1e-12 units) so every engine computes the
    identical integers regardless of summation order — the oracle
    replays all 5 rounds as unrolled CTEs.  Scale: each round is one
    edge⋈rank equi-join + keyed agg (Pregel-as-join); the rank table
    is |V|-sized and broadcasts under AQE, the edge list never
    shuffles."""
    from defenda_data_lake_spark.operators.graph import pagerank, symmetrize

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # node ids ride as LONGS through the whole iteration (customer
    # custkey·2, supplier suppkey·2+1 — injective, and the two
    # families can never collide, exactly like the 'c'/'s' string
    # prefixes) and render to the contract's string ids only in the
    # final projection: every per-round join/agg then hashes and
    # shuffles 8-byte keys instead of variable-width strings (guide
    # §2.3 narrower types).  The graphs are isomorphic, the rank
    # arithmetic is key-independent exact integer math, and the final
    # mapping is the inverse encoding — output rows are identical
    # (oracle-verified at sf0.001/0.01/0.1).
    raw = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    )
    # broadcast_ranks (round 13): |V| here is customers+suppliers —
    # ~16 bytes/node, broadcast-sized at ANY corpus replication this
    # engine meets (8 MB at the 32x replica) — so the rank table rides
    # a broadcast and every per-round |E| exchange disappears; the
    # pinned edge relation is dst-partitioned once instead (see
    # operators/graph.py docstring; values exact-integer identical,
    # equivalence pinned in tests/test_r13_optimizations.py).
    pr = pagerank(symmetrize(raw), symmetric_input=True, broadcast_ranks=True)
    return pr.select(
        F.concat(
            F.when(F.col("node_id") % 2 == 0, F.lit("c")).otherwise(
                F.lit("s")
            ),
            F.expr("node_id div 2").cast("string"),
        ).alias("node_id"),
        "rank_e12",
        "rank",
    )


def _pagerank_sql() -> str:
    """Unrolled 5-round fixed-point PageRank in DuckDB: BIGINT ranks in 1e-12
    units, ``//`` floor division mirroring Spark's ``div`` (all values
    non-negative, so floor == truncate), per-round CAST back to BIGINT
    because DuckDB widens ``sum`` to HUGEINT."""
    from defenda_data_lake_spark.operators.graph import DAMPING_PCT

    scale = 10**12
    rounds = []
    prev = "r0"
    for i in range(1, 6):
        rounds.append(f"""
r{i} AS (
  SELECT e.dst AS node_id,
         CAST(p.b + ({DAMPING_PCT} * sum(r.rank_e12 // d.outdeg)) // 100
              AS BIGINT) AS rank_e12
  FROM edges e
  JOIN {prev} r ON e.src = r.node_id
  JOIN deg d ON e.src = d.src
  CROSS JOIN params p
  GROUP BY e.dst, p.b
)""")
        prev = f"r{i}"
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node_id FROM edges),
params AS (
  SELECT CAST({scale} // count(*) AS BIGINT) AS r_init,
         CAST(({100 - DAMPING_PCT} * {scale}) // (100 * count(*)) AS BIGINT) AS b
  FROM nodes
),
r0 AS (SELECT node_id, r_init AS rank_e12 FROM nodes CROSS JOIN params),
{",".join(rounds)}
SELECT node_id, rank_e12,
       round(rank_e12 / {scale}.0 * 1000000, 0) / 1000000 AS rank
FROM {prev}
"""


Q100_SQL = _pagerank_sql()


def q101_triangle_counts(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over the
    MinHash near-duplicate graph: how *transitively* duplicated each
    document's neighborhood is (a clique-y neighborhood means template
    families; a low coefficient at high degree means a hub doc spuriously
    bridging unrelated families — exactly what an LSH-bucket audit
    looks for).  Nodes are documents that appear in ≥1 candidate pair.

    Scale: the operator's degree-ordered orientation bounds the wedge
    join by O(m^1.5) regardless of hub skew (``graph.triangle_counts``
    docstring); every join is an equi-join (no OR-condition nested
    loop — pinned in test_graph_scd.py)."""
    from defenda_data_lake_spark.operators.graph import symmetrize, triangle_counts

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    return triangle_counts(symmetrize(pairs, src="id_a", dst="id_b"))


Q101_SQL = f"""
WITH {_MINHASH_CTES_SQL},
pairs AS ({_MINHASH_PAIRS_SELECT}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src AS node_id, count(*) AS degree FROM edges GROUP BY src),
oriented AS (
  SELECT e.src, e.dst FROM edges e
  JOIN deg da ON e.src = da.node_id
  JOIN deg db ON e.dst = db.node_id
  WHERE da.degree < db.degree OR (da.degree = db.degree AND e.src < e.dst)
),
wedges AS (
  SELECT a.src AS apex, a.dst AS b, c.dst AS c
  FROM oriented a JOIN oriented c ON a.src = c.src AND a.dst < c.dst
),
closing AS (SELECT least(src, dst) AS b, greatest(src, dst) AS c FROM oriented),
tri AS (SELECT apex, b, c FROM wedges JOIN closing USING (b, c)),
pern AS (
  SELECT node_id, count(*) AS triangles FROM (
    SELECT apex AS node_id FROM tri
    UNION ALL SELECT b AS node_id FROM tri
    UNION ALL SELECT c AS node_id FROM tri
  ) t GROUP BY node_id
)
SELECT d.node_id, d.degree,
       CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.degree >= 2
            THEN round(coalesce(p.triangles, 0) * 2.0
                       / (d.degree * (d.degree - 1)) * 1000000, 0) / 1000000
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN pern p ON d.node_id = p.node_id
"""


def q103_nb_quality_classifier(spark, sf_dir):
    """Trained document-quality classifier (operators/classify.py):
    multinomial Naive Bayes with Laplace smoothing, fit on a
    deterministic 80% md5 train split with a length-proxy label
    (n_chars >= 300), then scoring EVERY document — the
    "train a quality classifier on a seed set, score the corpus"
    stage of an LLM data pipeline, expressed entirely as joins/aggs.

    Scale notes (100 TB): training shuffles once on the word
    (Zipf-bounded vocab, map-side partials absorb stopword skew);
    scoring BROADCASTS the vocabulary-sized model into the corpus
    word stream (plan-asserted) and the only corpus-sized exchange is
    the final per-doc aggregation.  Scores are integer-ratio ln sums
    rounded at 4dp on both engines (the q54 determinism pattern).

    Round 12: the scoring subtree is the session-materialized
    ``_nb_scored_view`` shared with q106/q123 (the q87 derived-view
    move applied to this family, VERDICT r11 item 3) — values
    identical, the corpus is worded/joined/aggregated once per
    session instead of once per family member."""
    scored = _nb_scored_view(spark, sf_dir)
    return scored.select(
        "doc_id",
        "n_words",
        R("score", 4).alias("score"),
        (F.col("score") > 0).cast("int").alias("predicted"),
    )


# shared CTE chain replaying the q103 NB pipeline (normalize -> word
# stream -> deterministic split + length-proxy labels -> integer-exact
# model/totals/prior -> per-doc raw log-odds); q106 builds its eval on
# the identical `scored`/`labels` tables
_NB_CTES_SQL = r"""norm AS (
  SELECT doc_id, n_chars,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ntext
  FROM documents
),
words AS (
  SELECT doc_id, unnest(string_split(ntext, ' ')) AS word
  FROM norm
),
words_nz AS (SELECT doc_id, word FROM words WHERE length(word) > 0),
labels AS (
  SELECT doc_id,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
         (CAST('0x' || substr(md5('nbsplit' || CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 10000) < 8000 AS is_train
  FROM documents
),
model AS (
  SELECT word, sum(y) AS c_pos, sum(1 - y) AS c_neg
  FROM words_nz JOIN labels USING (doc_id)
  WHERE is_train
  GROUP BY word
),
tot AS (
  SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg, count(*) AS vocab
  FROM model
),
prior AS (
  SELECT sum(y) AS n_pos, sum(1 - y) AS n_neg FROM labels WHERE is_train
),
scored AS (
  SELECT w.doc_id,
         count(*) AS n_words,
         ln(CAST(n_pos + 1 AS DOUBLE) / (n_neg + 1))
           + sum(ln((coalesce(c_pos, 0) + 1.0) / (t_pos + vocab))
                 - ln((coalesce(c_neg, 0) + 1.0) / (t_neg + vocab))) AS raw
  FROM words_nz w LEFT JOIN model USING (word), tot, prior
  GROUP BY w.doc_id, n_pos, n_neg
)"""

Q103_SQL = f"""
WITH {_NB_CTES_SQL}
SELECT doc_id, n_words,
       round(raw * 10000, 0) / 10000 AS score,
       CAST(CASE WHEN raw > 0 THEN 1 ELSE 0 END AS INT) AS predicted
FROM scored
"""


def q106_classifier_eval(spark, sf_dir):
    """Held-out evaluation of the q103 classifier (classify.py
    ``nb_evaluate``): confusion counts + accuracy/precision/recall/F1
    on the 20% test split — the "did the quality classifier actually
    learn anything" gate before its scores drive corpus pruning, the
    eval twin of q89's ANN recall harness.

    Determinism: integer confusion counts; every metric is a SINGLE
    integer-count division (F1 = 2tp/(2tp+fp+fn)) rounded at 4dp on
    both engines.  Scale: one broadcast-sized join and a 1-row global
    agg on top of q103's scoring plan.

    Round 12: reads the shared ``_nb_scored_view`` (test-split filter
    + the same confusion aggregation ``nb_evaluate`` performs —
    per-doc scores are independent, so full-corpus-then-filter is
    value-identical to scoring the test split alone; the library
    operator keeps the standalone 5x-less-scoring shape)."""
    from defenda_data_lake_spark.operators.classify import nb_evaluate_scored

    scored = _nb_scored_view(spark, sf_dir).filter(~F.col("_nb_train"))
    ev = nb_evaluate_scored(scored)
    return ev.select(
        "n_test", "tp", "fp", "fn", "tn",
        R("accuracy", 4).alias("accuracy"),
        R("prec", 4).alias("prec"),
        R("rec", 4).alias("rec"),
        R("f1", 4).alias("f1"),
    )


Q106_SQL = f"""
WITH {_NB_CTES_SQL},
eval AS (
  SELECT CASE WHEN s.raw > 0 THEN 1 ELSE 0 END AS p, l.y
  FROM scored s JOIN labels l USING (doc_id)
  WHERE NOT l.is_train
),
cm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM eval
)
SELECT n_test, tp, fp, fn, tn,
       round(CASE WHEN n_test > 0 THEN CAST(tp + tn AS DOUBLE) / n_test END * 10000, 0) / 10000 AS accuracy,
       round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END * 10000, 0) / 10000 AS prec,
       round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END * 10000, 0) / 10000 AS rec,
       round(CASE WHEN 2 * tp + fp + fn > 0
             THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END * 10000, 0) / 10000 AS f1
FROM cm
"""


def q113_cdc_apply(spark, sf_dir):
    """CDC apply (``operators/cdc.py``): fold a Debezium-style
    insert/update/delete change log into the documents snapshot —
    MERGE with deletes and sequence collapsing, the current-state twin
    of q99's SCD-2 history.  The change stream is manufactured
    deterministically from the table itself (the q42/q94/q109 synthetic-
    drift pattern) and exercises every semantic branch: two 'U's per
    key where the later seq must win, a net delete, a delete-then-
    reinsert where the 'I' must win, and brand-new keys.  Collapsing
    plans as WindowGroupLimit (partition-local top-2 prune before the
    single key exchange — the tie guard rides the same window); the
    apply is one anti-join plus a union, snapshot scanned once."""
    from defenda_data_lake_spark.operators import cdc as C

    docs = _t(spark, sf_dir, "documents")
    snap = docs.select("doc_id", "source", "n_chars")
    base = docs.select(
        "doc_id", "source", "n_chars", (F.col("doc_id") % 10).alias("_m")
    )

    def ch(flt, op, seq, doc_id, source, n_chars):
        return base.filter(flt).select(
            F.lit(op).alias("op"),
            seq.cast("long").alias("seq"),
            doc_id.cast("long").alias("doc_id"),
            source.alias("source"),
            n_chars.cast("long").alias("n_chars"),
        )

    did, src, nch = F.col("doc_id"), F.col("source"), F.col("n_chars")
    changes = (
        # superseded update, then the winner (later seq)
        ch(F.col("_m") < 2, "U", did * 2, did, src, nch + 500)
        .unionByName(ch(F.col("_m") < 2, "U", did * 2 + 1, did, src, nch + 1000))
        # net delete
        .unionByName(ch(F.col("_m") == 2, "D", did * 2, did, src, nch))
        # delete superseded by a re-insert
        .unionByName(ch(F.col("_m") == 3, "D", did * 2, did, src, nch))
        .unionByName(
            ch(F.col("_m") == 3, "I", did * 2 + 1, did, F.lit("resync"), nch + 7)
        )
        # brand-new keys
        .unionByName(
            ch(F.lit(True), "I", F.lit(1), did + 1000000, F.lit("cdc"), did % 977)
        )
    )
    out = C.cdc_apply(snap, changes, ["doc_id"])
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


Q113_SQL = """
WITH base AS (SELECT doc_id, source, n_chars, doc_id % 10 AS m FROM documents),
changes AS (
  SELECT 'U' AS op, doc_id * 2 AS seq, doc_id, source, n_chars + 500 AS n_chars
  FROM base WHERE m < 2
  UNION ALL
  SELECT 'U', doc_id * 2 + 1, doc_id, source, n_chars + 1000 FROM base WHERE m < 2
  UNION ALL
  SELECT 'D', doc_id * 2, doc_id, source, n_chars FROM base WHERE m = 2
  UNION ALL
  SELECT 'D', doc_id * 2, doc_id, source, n_chars FROM base WHERE m = 3
  UNION ALL
  SELECT 'I', doc_id * 2 + 1, doc_id, 'resync', n_chars + 7 FROM base WHERE m = 3
  UNION ALL
  SELECT 'I', 1, doc_id + 1000000, 'cdc', doc_id % 977 FROM base
),
net AS (
  SELECT op, seq, doc_id, source, n_chars FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
    FROM changes
  ) WHERE rn = 1
),
survivors AS (
  SELECT s.doc_id, s.source, s.n_chars
  FROM documents s LEFT JOIN net n ON s.doc_id = n.doc_id
  WHERE n.doc_id IS NULL
)
SELECT doc_id, source, n_chars FROM survivors
UNION ALL
SELECT doc_id, source, n_chars FROM net WHERE op <> 'D'
"""


def q123_classifier_calibration(spark, sf_dir):
    """Reliability diagram of the q103 NB quality classifier on the
    held-out split (operators/classify.py ``nb_calibration``): decile
    score bins vs observed positive rate — "are the scores honest
    probabilities", the calibration gate next to q106's accuracy gate
    before classifier scores drive corpus pruning.

    Determinism: log-odds rounded at 4dp first (the q103 oracle
    score), logistic input clamped to ±30 (DuckDB exp() errors on
    overflow; sigmoid saturates below double noise there), ntile over
    (rounded score, doc_id), means rounded at 4dp, gap from the
    rounded pair.  Scale: the ntile window is TEST-SPLIT-sized (one
    task over ~N/5 score rows), never corpus-sized; everything before
    it reads the shared ``_nb_scored_view`` (round 12 — the same
    binning math ``nb_calibration`` computes, on the session-
    materialized scores; the library operator keeps the standalone
    shape)."""
    from defenda_data_lake_spark.operators.classify import (
        nb_calibration_scored,
    )

    scored = _nb_scored_view(spark, sf_dir).filter(~F.col("_nb_train"))
    return nb_calibration_scored(scored).orderBy("bin")


Q123_SQL = f"""
WITH {_NB_CTES_SQL},
test AS (
  SELECT s.doc_id,
         round(s.raw * 10000, 0) / 10000 AS score_r,
         l.y
  FROM scored s JOIN labels l USING (doc_id)
  WHERE NOT l.is_train
),
binned AS (
  SELECT ntile(10) OVER (ORDER BY score_r ASC, doc_id ASC) AS bin,
         1.0 / (1.0 + exp(-greatest(least(score_r, 30.0), -30.0))) AS prob,
         y
  FROM test
),
agg AS (
  SELECT bin,
         count(*) AS n,
         round(avg(prob) * 10000, 0) / 10000 AS mean_pred,
         round(avg(CAST(y AS DOUBLE)) * 10000, 0) / 10000 AS frac_pos
  FROM binned GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin, n, mean_pred, frac_pos,
       round(abs(mean_pred - frac_pos) * 10000, 0) / 10000 AS gap
FROM agg ORDER BY bin
"""


def q127_preference_pairs(spark, sf_dir):
    """Preference-pair mining from near-dup clusters — the DPO/RLHF
    data-construction step expressed as a composition of this
    catalog's own stages: MinHash-LSH pairs (q31's operator) →
    connected components (q49) → per-cluster best/worst member by the
    NB quality score (the shared ``_nb_scored_view``).  Each near-dup
    family of size ≥ 2 yields one (chosen, rejected) pair: same
    underlying content, quality-ranked — exactly the contrastive pair
    a preference tuner wants from duplicate families.

    Determinism: scores are rounded at 4dp FIRST (the engine-stable
    ordering), ties break by id — chosen is the LOWEST id among the
    top-scored, rejected the HIGHEST id among the bottom-scored (so a
    uniform-score family still yields a deterministic, distinct
    pair); margin is computed from the rounded pair (q123's gap
    convention).  Every non-singleton cluster member is shingleable
    by construction (it appeared in an LSH pair), so the score join
    is lossless.

    Scale notes (100 TB): pairs/components are the q49 plan (near-dup
    bounded, never corpus-quadratic); the scores come from the shared
    session view (built once per session); the pair construction
    itself is ONE hash aggregation on cluster_id — the best/worst
    members are struct-ordered min/max aggregates ((score, -id)
    tuples), NOT a window, so there is no sort and the single
    exchange carries only cluster-sized partials."""
    from defenda_data_lake_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    clusters = D.duplicate_clusters(docs, pairs)
    scored = _nb_scored_view(spark, sf_dir)
    r4 = lambda c: F.round(c * 10000, 0) / 10000  # noqa: E731
    j = (
        clusters.filter(F.col("cluster_size") >= 2)
        .join(
            scored.select("doc_id", r4(F.col("score")).alias("_s")),
            "doc_id",
        )
    )
    best = F.max(
        F.struct(F.col("_s").alias("s"), (-F.col("doc_id")).alias("negid"))
    )
    worst = F.min(
        F.struct(F.col("_s").alias("s"), (-F.col("doc_id")).alias("negid"))
    )
    agg = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        best.alias("_b"),
        worst.alias("_w"),
    )
    return agg.select(
        "cluster_id",
        "cluster_size",
        (-F.col("_b.negid")).alias("chosen_id"),
        (-F.col("_w.negid")).alias("rejected_id"),
        F.col("_b.s").alias("chosen_score"),
        F.col("_w.s").alias("rejected_score"),
        r4(F.col("_b.s") - F.col("_w.s")).alias("margin"),
    )


# the NB chain and the minhash chain both define a `norm` CTE (same
# normalization, different projections) — rename the NB one for this
# composed oracle (word-boundary regex so only the CTE name and its
# references rewrite)
import re as _re

_NB_CTES_RENAMED = _re.sub(r"\bnorm\b", "nbnorm", _NB_CTES_SQL)

Q127_SQL = f"""
WITH RECURSIVE {_MINHASH_CTES_SQL},
pairs AS ({_MINHASH_PAIRS_SELECT}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.dst FROM reach w JOIN edges e ON e.src = w.r
),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
{_NB_CTES_RENAMED},
members AS (
  SELECT l.cluster_id, l.doc_id,
         round(s.raw * 10000, 0) / 10000 AS score_r
  FROM lab l
  JOIN scored s ON l.doc_id = s.doc_id
  WHERE l.cluster_id IN (
    SELECT cluster_id FROM lab GROUP BY cluster_id HAVING count(*) >= 2
  )
),
ranked AS (
  SELECT cluster_id, doc_id, score_r,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY score_r DESC, doc_id ASC) AS rb,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY score_r ASC, doc_id DESC) AS rw,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM members
)
SELECT b.cluster_id,
       CAST(b.cluster_size AS BIGINT) AS cluster_size,
       b.doc_id AS chosen_id,
       w.doc_id AS rejected_id,
       b.score_r AS chosen_score,
       w.score_r AS rejected_score,
       round((b.score_r - w.score_r) * 10000, 0) / 10000 AS margin
FROM ranked b
JOIN ranked w ON b.cluster_id = w.cluster_id AND w.rw = 1
WHERE b.rb = 1
"""
