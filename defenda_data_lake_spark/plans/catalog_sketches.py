"""Sketch family: HLL distinct (+rollup), Bloom, count-min, histogram
quantiles, and theta/KMV overlap sketches."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from defenda_data_lake_spark.plans.catalog_shared import (
    R,
    _t,
)


def q79_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-word estimate per language
    (``operators/sketches.py``), joined against the exact count so the
    sketch's error is visible in the result.  The sketch is md5-based
    with string-domain bit inspection and an integer-exact register
    sum, so DuckDB replays it register-for-register — unlike the
    engines' built-in ``approx_count_distinct``, whose private hashes
    can never cross-check.  Scale: the register table is ≤256 rows per
    lang with map-side max combine; the exact branch is the expensive
    one and exists here only as the accuracy yardstick."""
    from defenda_data_lake_spark.operators.sketches import hll_distinct

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).filter(F.length("word") > 0)
    est = hll_distinct(words, "word", ["lang"])
    exact = words.groupBy("lang").agg(
        F.countDistinct("word").alias("exact_distinct")
    )
    return exact.join(est, "lang").select(
        "lang", "exact_distinct", R("hll_estimate", 4).alias("hll_estimate")
    )


# alpha_256 = 0.7213/(1 + 1.079/256), written as its shortest-roundtrip
# repr so both engines parse the identical double
Q79_SQL = r"""
WITH wds AS (
  SELECT lang, unnest(string_split(trim(text), ' ')) AS word FROM documents
),
ww AS (SELECT lang, word FROM wds WHERE len(word) > 0),
hx AS (SELECT lang, md5(word) AS h FROM ww),
rr AS (
  SELECT lang, substr(h, 1, 2) AS idx,
         max(least(4 * length(regexp_extract(substr(h, 3, 14), '^(0*)', 1))
             + CASE substr(regexp_replace(substr(h, 3, 14), '^0*', ''), 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END + 1, 55)) AS maxrho
  FROM hx GROUP BY lang, idx
),
agg AS (
  SELECT lang,
         sum(CAST(1 AS BIGINT) << (55 - maxrho)) AS isum0,
         count(*) AS nonzero
  FROM rr GROUP BY lang
),
fin AS (
  SELECT lang, (256 - nonzero) AS zeros,
         CAST(0.7182725932495458 AS DOUBLE) * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
           * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
           / CAST(isum0 + (256 - nonzero) * (CAST(1 AS BIGINT) << 55) AS DOUBLE)
           AS raw
  FROM agg
),
ex AS (SELECT lang, count(DISTINCT word) AS exact_distinct FROM ww GROUP BY lang)
SELECT ex.lang, ex.exact_distinct,
       round(CASE WHEN raw <= CAST(640 AS DOUBLE) AND zeros > 0
                  THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / zeros) ELSE raw END * 10000, 0) / 10000
         AS hll_estimate
FROM ex JOIN fin USING (lang)
"""


def q80_bloom_distinct(spark, sf_dir):
    """Bloom-filter fill-rate distinct-word estimate per language
    (``operators/sketches.bloom_cardinality``), joined against the
    exact count — the membership-sketch complement to q79's HLL.
    Positions are disjoint hex substrings of one md5 (m = 16^4 bits,
    k = 2), so DuckDB replays the filter position-for-position with
    plain ``substr``; only the final ``-(m/k)·ln(1 - X/m)`` is float,
    rounded at the boundary.  Scale: ≤65536 distinct positions per
    group reach the final combine regardless of input size."""
    from defenda_data_lake_spark.operators.sketches import bloom_cardinality

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).filter(F.length("word") > 0)
    est = bloom_cardinality(words, "word", ["lang"])
    exact = words.groupBy("lang").agg(
        F.countDistinct("word").alias("exact_distinct")
    )
    return exact.join(est, "lang").select(
        "lang", "exact_distinct", R("bloom_estimate", 4).alias("bloom_estimate")
    )


Q80_SQL = r"""
WITH wds AS (
  SELECT lang, unnest(string_split(trim(text), ' ')) AS word FROM documents
),
ww AS (SELECT lang, word FROM wds WHERE len(word) > 0),
pos AS (
  SELECT lang, substr(md5(word), 1 + 4 * (i - 1), 4) AS p
  FROM ww, unnest(range(1, 3)) AS u(i)
),
fill AS (SELECT lang, count(DISTINCT p) AS x FROM pos GROUP BY lang),
ex AS (SELECT lang, count(DISTINCT word) AS exact_distinct FROM ww GROUP BY lang)
SELECT ex.lang, ex.exact_distinct,
       round(CASE WHEN x = 0 THEN CAST(0 AS DOUBLE)
                  WHEN x = 65536 THEN NULL
                  ELSE -(CAST(65536 AS DOUBLE) / 2)
                       * ln(CAST(1 AS DOUBLE) - CAST(x AS DOUBLE) / 65536)
             END * 10000, 0) / 10000 AS bloom_estimate
FROM ex JOIN fill USING (lang)
"""


def q83_count_min_words(spark, sf_dir):
    """Count-min sketch frequency estimation
    (``operators/sketches.py::count_min_table/count_min_lookup``):
    per-language heavy-hitter words with their exact count next to
    the sketch's estimate — the FREQUENCY complement to q79's HLL and
    q80's Bloom cardinality sketches, same md5-substring determinism
    so DuckDB replays the sketch cell-for-cell, and entirely integer
    (no float anywhere).  Scale: the cell table is bounded at
    ``d·w = 3·4096`` rows per language with map-side partial sum —
    frequency estimation without shuffling every distinct word — and
    the probe join broadcasts the bounded cells.  The exact branch
    exists only as the accuracy yardstick (CMS error is one-sided:
    estimate >= truth)."""
    from defenda_data_lake_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).filter(F.length("word") > 0)
    cells = count_min_table(words, "word", ["lang"])
    exact = words.groupBy("lang", "word").agg(
        F.count("*").alias("exact_cnt")
    )
    top = (
        exact.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.desc("exact_cnt"), F.asc("word")
                )
            ),
        )
        .filter(F.col("_rk") <= 10)
        .drop("_rk")
    )
    est = count_min_lookup(cells, top, "word", ["lang"])
    return est.select("lang", "word", "exact_cnt", "cm_estimate")


Q83_SQL = r"""
WITH wds AS (
  SELECT lang, unnest(string_split(trim(text), ' ')) AS word FROM documents
),
ww AS (SELECT lang, word FROM wds WHERE len(word) > 0),
cells AS (
  SELECT lang, i, substr(md5(word), 1 + 3 * (i - 1), 3) AS pos,
         count(*) AS c
  FROM ww, unnest(range(1, 4)) AS u(i)
  GROUP BY lang, i, pos
),
exact AS (SELECT lang, word, count(*) AS exact_cnt FROM ww GROUP BY lang, word),
top AS (
  SELECT lang, word, exact_cnt FROM (
    SELECT *, row_number() OVER (
      PARTITION BY lang ORDER BY exact_cnt DESC, word ASC) AS rk
    FROM exact)
  WHERE rk <= 10
),
probe AS (
  SELECT lang, word, exact_cnt, i,
         substr(md5(word), 1 + 3 * (i - 1), 3) AS pos
  FROM top, unnest(range(1, 4)) AS u(i)
)
SELECT p.lang, p.word, p.exact_cnt,
       min(coalesce(cells.c, 0)) AS cm_estimate
FROM probe p LEFT JOIN cells ON cells.lang = p.lang AND cells.i = p.i
                             AND cells.pos = p.pos
GROUP BY p.lang, p.word, p.exact_cnt
"""


def q88_quantile_sketch(spark, sf_dir):
    """Histogram quantile sketch
    (``operators/sketches.py::histogram_quantiles``): per-event-type
    p50/p90/p99 of ``value`` from an equi-width bin table — the
    QUANTILE member of the sketch family (q79 HLL = cardinality, q80
    Bloom = membership, q83 count-min = frequency), and the
    reproducible alternative to ``approx_percentile`` (whose internal
    sketch differs per engine and can never value-match).  Scale: the
    raw rows never cross an exchange — the first groupBy map-side-
    combines to ≤ ~500 bins per type inside the scan stage; everything
    downstream (cumsum window, quantile probe) runs on the bounded bin
    table.  Error ≤ one bin width (width=1.0 over value ∈ [0, ~490])."""
    from defenda_data_lake_spark.operators.sketches import (
        histogram_quantiles,
    )

    ev = _t(spark, sf_dir, "events")
    est = histogram_quantiles(ev, "value", ["event_type"])
    return est.select(
        "event_type",
        "quantile",
        R("quantile_estimate", 4).alias("value_estimate"),
    )


Q88_SQL = """
WITH bins AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) / 1.0) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM bins
),
probe AS (
  SELECT c.*, q.quantile,
         greatest(CAST(ceil(q.quantile * CAST(n AS DOUBLE)) AS BIGINT),
                  CAST(1 AS BIGINT)) AS t
  FROM cum c, (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                              CAST(0.99 AS DOUBLE)]) AS quantile) q
)
SELECT event_type, quantile,
       round(CAST(1.0 AS DOUBLE)
             * (CAST(bin AS DOUBLE)
                + CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE))
             * 10000, 0) / 10000 AS value_estimate
FROM probe
WHERE cum >= t AND cum - cnt < t
"""


def q90_hll_rollup(spark, sf_dir):
    """Sketch ROLLUP — the property that makes the HLL family an
    incremental lake structure rather than a cheaper one-shot
    aggregate: per-(event_type, day) register tables (the shape a
    pipeline would persist per partition) max-MERGED across days, then
    estimated — distinct users per event type over the whole range
    without rescanning any day.  Merge (elementwise max) is
    associative/commutative/idempotent, so the merged table is
    REGISTER-IDENTICAL to a direct build over the union; the oracle
    replays the DIRECT sketch, so any merge defect value-mismatches.
    Scale: per-day tables are ≤2^p rows each; a 1000-day range merges
    1000 tiny tables instead of re-reading 1000 days of events."""
    from defenda_data_lake_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_merge,
        hll_register_table,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = hll_register_table(ev, "user_id", ["event_type", "day"])
    merged = hll_merge(daily.drop("day"), ["event_type"])
    est = hll_estimate_from_registers(merged, ["event_type"])
    return est.select(
        "event_type", R("hll_estimate", 4).alias("distinct_users_est")
    )


Q90_SQL = r"""
WITH hx AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events WHERE user_id IS NOT NULL
),
rr AS (
  SELECT event_type, substr(h, 1, 2) AS idx,
         max(least(4 * length(regexp_extract(substr(h, 3, 14), '^(0*)', 1))
             + CASE substr(regexp_replace(substr(h, 3, 14), '^0*', ''), 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END + 1, 55)) AS maxrho
  FROM hx GROUP BY event_type, idx
),
agg AS (
  SELECT event_type,
         sum(CAST(1 AS BIGINT) << (55 - maxrho)) AS isum0,
         count(*) AS nonzero
  FROM rr GROUP BY event_type
),
fin AS (
  SELECT event_type, (256 - nonzero) AS zeros,
         CAST(0.7182725932495458 AS DOUBLE) * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
           * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
           / CAST(isum0 + (256 - nonzero) * (CAST(1 AS BIGINT) << 55) AS DOUBLE)
           AS raw
  FROM agg
)
SELECT event_type,
       round(CASE WHEN raw <= CAST(640 AS DOUBLE) AND zeros > 0
                  THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / zeros) ELSE raw END * 10000, 0) / 10000
         AS distinct_users_est
FROM fin
"""


def q91_overlap_sketch(spark, sf_dir):
    """Set-overlap estimation via coordinated hash-sample (theta/KMV-
    style) sketches (``operators/sketches.hash_sample_sketch``): which
    distinct parts shipped BOTH before and after 1997-01-01 — the
    audience/contamination-overlap shape (train∩holdout at corpus
    scale).  HLL merges answer union only; here the intersection is a
    DIRECT coordinated sample (one hash, one threshold), not
    inclusion-exclusion over three noisy estimates.  Exact counts ride
    along as the accuracy yardstick (q79/q80 pattern).  The oracle
    replays the sketch hash-for-hash (``substr(md5(x),1,1)='0'`` +
    DISTINCT), so the sampling itself is value-checked, not just the
    estimates.  Scale: the prefix filter runs map-side in the scan, so
    only ~1/16 of DISTINCT keys ever reach an exchange; the full-outer
    join exchanges sketch rows only."""
    from defenda_data_lake_spark.operators.sketches import (
        hash_sample_overlap,
        hash_sample_sketch,
    )

    li = _t(spark, sf_dir, "lineitem")
    cut = F.to_timestamp(F.lit("1997-01-01"))
    base = li.select("l_partkey", "l_shipdate").filter(
        F.col("l_partkey").isNotNull() & F.col("l_shipdate").isNotNull()
    )
    before = base.filter(F.col("l_shipdate") < cut)
    after = base.filter(F.col("l_shipdate") >= cut)
    est = hash_sample_overlap(
        hash_sample_sketch(before, "l_partkey"),
        hash_sample_sketch(after, "l_partkey"),
    )
    flags = base.groupBy("l_partkey").agg(
        F.max(F.when(F.col("l_shipdate") < cut, 1).otherwise(0)).alias("_ia"),
        F.max(F.when(F.col("l_shipdate") >= cut, 1).otherwise(0)).alias("_ib"),
    )
    exact = flags.agg(
        F.sum("_ia").cast("long").alias("exact_a"),
        F.sum("_ib").cast("long").alias("exact_b"),
        F.sum(
            F.when((F.col("_ia") == 1) & (F.col("_ib") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("exact_intersection"),
    )
    # two one-row aggregates: the acknowledged broadcast one-row crossJoin
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_a",
        "exact_b",
        "exact_intersection",
        "est_a",
        "est_b",
        "est_union",
        "est_intersection",
        R("jaccard_estimate", 6).alias("jaccard_estimate"),
    )


Q91_SQL = r"""
WITH base AS (
  SELECT l_partkey, l_shipdate FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
),
sa AS (
  SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h FROM base
  WHERE l_shipdate < TIMESTAMP '1997-01-01'
    AND substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) = '0'
),
sb AS (
  SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h FROM base
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) = '0'
),
j AS (
  SELECT sa.h AS ha, sb.h AS hb FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
),
est AS (
  SELECT CAST(16 * count(ha) AS BIGINT) AS est_a,
         CAST(16 * count(hb) AS BIGINT) AS est_b,
         CAST(16 * count(*) AS BIGINT) AS est_union,
         CAST(16 * count(CASE WHEN ha IS NOT NULL AND hb IS NOT NULL THEN 1 END) AS BIGINT)
           AS est_intersection,
         CASE WHEN count(*) > 0 THEN
           CAST(count(CASE WHEN ha IS NOT NULL AND hb IS NOT NULL THEN 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)
         END AS jac
  FROM j
),
fl AS (
  SELECT l_partkey,
         max(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END) AS ia,
         max(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END) AS ib
  FROM base GROUP BY l_partkey
),
ex AS (
  SELECT CAST(sum(ia) AS BIGINT) AS exact_a,
         CAST(sum(ib) AS BIGINT) AS exact_b,
         CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_intersection
  FROM fl
)
SELECT exact_a, exact_b, exact_intersection,
       est_a, est_b, est_union, est_intersection,
       round(jac * 1000000, 0) / 1000000 AS jaccard_estimate
FROM ex, est
"""
