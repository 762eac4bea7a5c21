"""Deduplication / decontamination family: exact, MinHash-LSH,
Jaccard, SimHash, containment, novelty, span-level, cluster, linkage,
leakage-safe-split, and quality-survivor operators."""

from __future__ import annotations

from pyspark.sql import functions as F
from defenda_data_lake_spark.operators import dedup as D
from defenda_data_lake_spark.operators import similarity as S
from defenda_data_lake_spark.plans.catalog_shared import (
    R,
    _sql_over,
    _t,
    _NORM_SQL,
    _SHINGLES_SQL,
    _NORM_SPARK,
    _MINHASH_CTES_SQL,
    _MINHASH_PAIRS_SELECT,
    _Q31_MAX_BUCKET_DOCS,
    _Q32_MAX_SHINGLE_DOCS,
)


def q30_dedup_exact(spark, sf_dir):
    """Exact dedup groups by content digest (same plan as
    ``dedup.exact_duplicate_groups`` — one digest-keyed shuffle)."""
    return _sql_over(spark, sf_dir, f"""
SELECT md5({_NORM_SPARK}) AS content_hash,
       count(*) AS dup_count,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
""", ["documents"])


Q30_SQL = f"""
SELECT md5({_NORM_SQL}) AS content_hash,
       count(*) AS dup_count,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
"""


def q31_dedup_minhash(spark, sf_dir):
    """MinHash(8) + LSH(2 bands) candidate pairs, with the
    degenerate-bucket guard ON: a band signature shared by more than
    ``_Q31_MAX_BUCKET_DOCS`` documents (a boilerplate cluster at crawl
    scale) emits no pairs — it would contribute |bucket|² candidates
    and zero discriminating signal.  The oracle mirrors the cap with a
    HAVING over the same bucket grouping."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs, max_bucket_docs=_Q31_MAX_BUCKET_DOCS)

# q31's capped variant: buckets above _Q31_MAX_BUCKET_DOCS are skipped
# (mirrors minhash_lsh_candidates(max_bucket_docs=...)); q49/q63 keep
# the uncapped pair select.
Q31_SQL = f"""
WITH {_MINHASH_CTES_SQL},
ok_buckets AS (
  SELECT band, band_sig FROM bands
  GROUP BY band, band_sig HAVING count(*) <= {_Q31_MAX_BUCKET_DOCS}
),
capped AS (SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_sig))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a JOIN capped b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


def q77_bucket_dedupe(spark, sf_dir):
    """Claimant-based near-dedup (``dedup.minhash_bucket_dedupe``): per
    LSH bucket the string-min doc claims it, other members whose full
    minhash signature agrees on ≥ half the families are marked
    ``dup_of`` that claimant.  State-bounded verification: one
    signature per bucket."""
    docs = _t(spark, sf_dir, "documents")
    out = D.minhash_bucket_dedupe(docs)
    return out.select("doc_id", "dup_of")


_Q77_AGREE = " + ".join(f"CAST(h{i} = c_h{i} AS INT)" for i in range(8))

Q77_SQL = f"""
WITH {_MINHASH_CTES_SQL},
b2 AS (
  SELECT b.doc_id, b.band, b.band_sig,
         {", ".join(f"s.h{i}" for i in range(8))}
  FROM bands b JOIN sigs s USING (doc_id)
),
cl AS (
  SELECT doc_id, {", ".join(f"h{i}" for i in range(8))},
         first_value(CAST(doc_id AS VARCHAR)) OVER w AS first_id,
         {", ".join(f"first_value(h{i}) OVER w AS c_h{i}" for i in range(8))}
  FROM b2
  WINDOW w AS (PARTITION BY band, band_sig ORDER BY CAST(doc_id AS VARCHAR)
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
fl AS (
  SELECT doc_id, min(first_id) AS dup_of
  FROM cl
  WHERE CAST(doc_id AS VARCHAR) <> first_id
    AND CAST({_Q77_AGREE} AS DOUBLE) / 8.0 >= CAST(0.5 AS DOUBLE)
  GROUP BY doc_id
)
SELECT d.doc_id, fl.dup_of
FROM documents d LEFT JOIN fl USING (doc_id)
"""


def q78_chunk_dedupe(spark, sf_dir):
    """Paragraph-granularity dedup (``dedup.chunk_level_dedupe``):
    non-overlapping 50-word chunks, first corpus occurrence wins
    (zero-padded (doc,pos) key, plain min), documents reassembled from
    surviving chunks — the Dolma/CCNet boilerplate-paragraph step that
    document-level dedup misses.  Two uniform-keyed exchanges."""
    docs = _t(spark, sf_dir, "documents")
    out = D.chunk_level_dedupe(docs)
    return out.select(
        F.col("id").alias("doc_id"), "n_chunks", "n_dropped", "clean_text"
    )


Q78_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents
),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
ch AS (
  SELECT doc_id, s AS start, array_to_string(ws[s : s + 49], ' ') AS chunk
  FROM w, unnest(range(1, greatest(len(ws), 1) + 1, 50)) AS u(s)
),
hh AS (
  SELECT doc_id, start, chunk,
         lpad(CAST(doc_id AS VARCHAR), 20, '0') || ':' ||
         lpad(CAST(start AS VARCHAR), 9, '0') AS occ,
         md5(chunk) AS h
  FROM ch
),
fo AS (SELECT h, min(occ) AS first_occ FROM hh GROUP BY h),
fl AS (SELECT doc_id, start, chunk, (occ <> first_occ) AS is_dup
       FROM hh JOIN fo USING (h))
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       coalesce(string_agg(CASE WHEN NOT is_dup THEN chunk END, ' ' ORDER BY start), '') AS clean_text
FROM fl GROUP BY doc_id
"""


def q81_dup_span_coverage(spark, sf_dir):
    """Per-document duplicate-span coverage
    (``dedup.duplicate_span_coverage``): the fraction of each doc's
    tokens covered by corpus-repeated 5-grams — the span-granular
    duplication metric a curation pipeline thresholds on (the
    word-gram relaxation of suffix-array substring dedup).  Two
    uniform-keyed windows (gram hash, then doc), no pair expansion."""
    docs = _t(spark, sf_dir, "documents")
    out = D.duplicate_span_coverage(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("covered_words").cast("long").alias("covered_words"),
        R("dup_coverage", 4).alias("dup_coverage"),
    )


Q81_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
w AS (SELECT doc_id, string_split(t, ' ') AS ws, len(string_split(t, ' ')) AS n_words FROM norm),
occ AS (
  SELECT doc_id, n_words, s AS start,
         md5(array_to_string(ws[s : s + 4], ' ')) AS h
  FROM w, unnest(range(1, greatest(n_words - 4, 1) + 1)) AS u(s)
  WHERE n_words >= 5
),
rep AS (
  SELECT doc_id, n_words, start
  FROM (SELECT *, count(*) OVER (PARTITION BY h) AS cnt FROM occ)
  WHERE cnt > 1
),
isl AS (
  SELECT doc_id, n_words, start,
         CASE WHEN prev_max IS NULL OR start > prev_max THEN 1 ELSE 0 END AS new_island
  FROM (
    SELECT doc_id, n_words, start,
           max(start + 5) OVER (PARTITION BY doc_id ORDER BY start
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM rep
  )
),
isl2 AS (
  SELECT doc_id, n_words, start,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
per_island AS (
  SELECT doc_id, n_words, island, min(start) AS s, max(start + 5) AS e
  FROM isl2 GROUP BY doc_id, n_words, island
),
cov AS (
  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered_words
  FROM per_island GROUP BY doc_id
)
SELECT w.doc_id, w.n_words,
       CAST(coalesce(cov.covered_words, 0) AS BIGINT) AS covered_words,
       round(CASE WHEN w.n_words > 0
                  THEN CAST(coalesce(cov.covered_words, 0) AS DOUBLE)
                       / CAST(w.n_words AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END * 10000, 0) / 10000 AS dup_coverage
FROM w LEFT JOIN cov USING (doc_id)
"""


def q82_dup_span_removal(spark, sf_dir):
    """Repeated-span REMOVAL (``dedup.duplicate_span_removal``):
    tokens covered by non-first occurrences of corpus-repeated
    5-grams are dropped, the corpus-first occurrence keeps its text —
    q81's metric turned into the Lee-et-al substring-dedup transform
    at word-gram resolution.  One gram-keyed window (count + first
    choice share the exchange), covered-position anti-join, bounded
    per-doc reassembly."""
    docs = _t(spark, sf_dir, "documents")
    out = D.duplicate_span_removal(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_removed").cast("long").alias("n_removed"),
        "clean_text",
    )


Q82_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
w AS (SELECT doc_id, string_split(t, ' ') AS ws, len(string_split(t, ' ')) AS n_words FROM norm),
occ AS (
  SELECT doc_id, n_words, s AS start,
         md5(array_to_string(ws[s : s + 4], ' ')) AS h,
         lpad(CAST(doc_id AS VARCHAR), 20, '0') || ':' ||
         lpad(CAST(s AS VARCHAR), 9, '0') AS occ
  FROM w, unnest(range(1, greatest(n_words - 4, 1) + 1)) AS u(s)
  WHERE n_words >= 5
),
fl AS (
  SELECT doc_id, start,
         (count(*) OVER (PARTITION BY h) > 1) AS rep,
         (occ = min(occ) OVER (PARTITION BY h)) AS fst
  FROM occ
),
cov AS (
  SELECT DISTINCT doc_id, p AS pos
  FROM fl, unnest(range(start, start + 5)) AS u(p)
  WHERE rep AND NOT fst
),
tok AS (SELECT doc_id, n_words, s AS pos, ws[s] AS word
        FROM w, unnest(range(1, len(ws) + 1)) AS u(s)),
kept AS (
  SELECT t.doc_id, t.pos, t.word
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id, CAST(w.n_words AS BIGINT) AS n_words,
       CAST(w.n_words - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(reb.clean_text, '') AS clean_text
FROM w LEFT JOIN reb USING (doc_id)
"""


def q49_dup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: MinHash+LSH near-dup pairs →
    connected components (iterated min-label propagation with pointer
    jumping, O(log diameter) rounds) → per-doc cluster assignment with
    the min-id canonical representative.  The step between "pairs" and
    "a deduplicated corpus".

    Scale: every round is an equi-join/keyed agg on the node id; the
    only driver traffic is one scalar per round.  Exact — the oracle
    replays reachability with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    return D.duplicate_clusters(docs, pairs)


Q49_SQL = f"""
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
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM lab
"""


#: q38/q51 share this deterministic split predicate (sampling.hash_bucket)
_SPLIT_TEST_SQL = (
    "CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 10000 < 1000"
)


def q51_decontamination(spark, sf_dir):
    """Eval decontamination: 8-gram overlap between the deterministic
    10% test split and the training split — which train docs leak which
    test docs, and how much of each test doc's 8-gram set is covered.
    Composition of two first-class operators (hash split + inverted-
    index n-gram join); the oracle replays both bit-for-bit."""
    from defenda_data_lake_spark.operators.sampling import with_split

    docs = _t(spark, sf_dir, "documents")
    tagged = with_split(docs, "doc_id")
    train = tagged.filter(F.col("split") == "train")
    test = tagged.filter(F.col("split") == "test")
    out = D.ngram_contamination(train, test)
    return out.select(
        "train_doc", "test_doc", "n_shared", R("test_overlap", 4).alias("test_overlap")
    )


Q51_SQL = f"""
WITH tagged AS (
  SELECT doc_id,
         CASE WHEN {_SPLIT_TEST_SQL} THEN 'test' ELSE 'train' END AS split,
         string_split({_NORM_SQL}, ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, split,
         unnest(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
                               i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM tagged
),
sh AS (SELECT DISTINCT doc_id, split, md5_number_upper(g) AS shingle FROM grams),
sizes AS (SELECT doc_id, count(*) AS test_size FROM sh WHERE split = 'test' GROUP BY doc_id),
hits AS (
  SELECT tr.doc_id AS train_doc, te.doc_id AS test_doc, count(*) AS n_shared
  FROM sh tr JOIN sh te ON tr.shingle = te.shingle AND tr.split = 'train' AND te.split = 'test'
  GROUP BY 1, 2
)
SELECT train_doc, test_doc, n_shared,
       round(CAST(n_shared AS DOUBLE) / test_size, 4) AS test_overlap
FROM hits JOIN sizes ON hits.test_doc = sizes.doc_id
"""


def q32_dedup_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.3), with
    the hot-shingle guard ON: shingles whose posting list exceeds
    ``_Q32_MAX_SHINGLE_DOCS`` documents are dropped from the inverted
    index (a stopword-run shingle shared by 10^5 docs would contribute
    10^10 candidate pairs and zero discriminating signal).  Set sizes
    keep counting ALL shingles — only pair candidacy/intersection is
    bounded — and the oracle mirrors both choices."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, threshold=0.3, max_shingle_docs=_Q32_MAX_SHINGLE_DOCS
    )
    return pairs.select(
        "id_a", "id_b", R("jaccard", 4).alias("jaccard")
    )


Q32_SQL = f"""
WITH {_SHINGLES_SQL},
shh AS (SELECT DISTINCT doc_id, md5_number_upper(shingle) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS set_size FROM shh GROUP BY doc_id),
ok AS (SELECT shingle FROM shh GROUP BY shingle HAVING count(*) <= {_Q32_MAX_SHINGLE_DOCS}),
shf AS (SELECT shh.doc_id, shh.shingle FROM shh JOIN ok USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size), 4) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) >= CAST(0.3 AS DOUBLE)
"""


def q98_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/test split: assign the split by hash of the
    near-duplicate CLUSTER id, not the document id, so a near-dup
    family can never straddle train and test (the eval-contamination
    failure mode q51 *detects*, prevented at split time).  Composition
    of three first-class operators — MinHash+LSH candidates →
    connected components → deterministic hash split — with the split
    keyed on the component's canonical min-id representative.

    Scale: identical shape to q49 (judged sound: keyed joins per
    pointer-jumping round, scalar-only driver traffic) plus one
    shuffle-free codegen projection for the split.  The no-straddle
    invariant is pinned in test_graph_scd.py."""
    from defenda_data_lake_spark.operators.sampling import with_split

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    clusters = D.duplicate_clusters(docs, pairs)
    return with_split(clusters, "cluster_id", salt="clsplit")


Q98_SQL = f"""
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
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT) AS is_canonical,
       CASE WHEN CAST('0x' || substr(md5('clsplit' || CAST(cluster_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 10000 < 1000
            THEN 'test' ELSE 'train' END AS split
FROM lab
"""


def q42_simhash_pairs(spark, sf_dir):
    """SimHash near-duplicate candidate pairs at Hamming ≤ 3 — the
    largest radius the 4-block pigeonhole covers completely (a pair
    within 3 bits must agree on at least one of 4 blocks).  The
    Arrow-batched signature kernel uses md5-derived bit mixing that
    DuckDB's ``md5_number_upper`` reproduces exactly, so even this
    pandas-hosted operator is value-checked."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_near_duplicates(docs)


def _simhash_sql() -> str:
    """Reproduce the SimHash pipeline in DuckDB: word bigrams →
    md5_number_upper 64-bit hash → per-bit ±1 vote → sign → 16-bit
    block join → Hamming verify."""
    c_terms = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS c{b}"
        for b in range(64)
    )
    sig_terms = "\n        + ".join(
        f"(CASE WHEN c{b} > 0 THEN CAST({1 << b} AS UHUGEINT) ELSE 0 END)"
        for b in range(64)
    )
    block_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sig, {blk} AS blk, (sig // {1 << (16 * blk)}) % 65536 AS bkey FROM sigs"
        for blk in range(4)
    )
    return f"""
WITH norm AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) > 1
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE w END) AS g
  FROM norm
),
hashed AS (SELECT doc_id, md5_number_upper(g) AS h FROM grams),
bits AS (
  SELECT doc_id,
         {c_terms}
  FROM hashed GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
        {sig_terms} AS sig
  FROM bits
),
blocked AS (
{block_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(CAST(a.sig AS UBIGINT), CAST(b.sig AS UBIGINT)) AS UBIGINT)) AS INT) AS hamming
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(CAST(a.sig AS UBIGINT), CAST(b.sig AS UBIGINT)) AS UBIGINT)) <= 3
"""


Q42_SQL = _simhash_sql()


def q58_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty in doc-id order (operators/dedup.py
    ``ngram_novelty``): shingles claimed by their minimum doc id, two
    narrow long-keyed shuffles, shingle kernel runs once."""
    docs = _t(spark, sf_dir, "documents")
    out = D.ngram_novelty(docs)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        R("novelty_frac", 6).alias("novelty_frac"),
    )


Q58_SQL = f"""
WITH {_SHINGLES_SQL},
shh AS (SELECT DISTINCT doc_id, md5_number_upper(shingle) AS shingle FROM sh),
claims AS (SELECT shingle, min(doc_id) AS first_doc FROM shh GROUP BY shingle)
SELECT shh.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN shh.doc_id = c.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN shh.doc_id = c.first_doc THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_frac
FROM shh JOIN claims c USING (shingle)
GROUP BY shh.doc_id
"""


def q60_containment_pairs(spark, sf_dir):
    """Near-containment dedup pairs — |A∩B| / min(|A|,|B|) ≥ 0.8 over
    word-3-gram sets (operators/dedup.py ``ngram_containment_pairs``):
    catches a document embedded in a larger one, which Jaccard misses.
    Same postings self-join plan as q32 (the at-scale winner — see
    SCALING.md round-4 A/B), hot-shingle guard on."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_containment_pairs(
        docs, max_shingle_docs=_Q32_MAX_SHINGLE_DOCS
    )
    return pairs.select(
        "id_a", "id_b", R("containment", 4).alias("containment")
    )


Q60_SQL = f"""
WITH {_SHINGLES_SQL},
shh AS (SELECT DISTINCT doc_id, md5_number_upper(shingle) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS set_size FROM shh GROUP BY doc_id),
ok AS (SELECT shingle FROM shh GROUP BY shingle
       HAVING count(*) <= {_Q32_MAX_SHINGLE_DOCS}),
shf AS (SELECT shh.doc_id, shh.shingle FROM shh JOIN ok USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(inter_size AS DOUBLE) / least(sa.set_size, sb.set_size), 4)
         AS containment
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE CAST(inter_size AS DOUBLE) / least(sa.set_size, sb.set_size) >= 0.8
"""


def q63_candidate_verify(spark, sf_dir):
    """Pipeline composition: MinHash-LSH candidate pairs (lexical)
    verified by embedding cosine (semantic) — the two-stage near-dup
    recipe production pipelines run, assuming a shared id space
    between documents and embeddings.

    Scale shape: candidates are small by LSH construction, so the pair
    side broadcasts into both embedding joins — the (huge) embeddings
    table is scanned once per side with NO shuffle; the cosine is the
    vectorized Arrow/numpy kernel."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    pairs = D.minhash_lsh_candidates(docs)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    # candidates broadcast into the first embedding scan; the enriched
    # (still candidate-sized) result broadcasts into the second — the
    # embeddings table is never shuffled
    half = ea.join(F.broadcast(pairs), "id_a")
    joined = eb.join(F.broadcast(half), "id_b")
    return (
        S.with_cosine(joined, "_va", "_vb")
        .select("id_a", "id_b", R("cosine", 6).alias("cosine"))
    )


Q63_SQL = f"""
WITH {_MINHASH_CTES_SQL},
pairs AS ({_MINHASH_PAIRS_SELECT})
SELECT p.id_a, p.id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM pairs p
JOIN embeddings a ON p.id_a = a.vec_id
JOIN embeddings b ON p.id_b = b.vec_id
"""


def q102_edit_distance_pairs(spark, sf_dir):
    """Character-level fuzzy linkage (operators/linkage.py
    ``edit_distance_pairs``): record pairs whose normalized 64-char
    text prefixes are within 8 edits, candidates blocked on the first
    3 tokens — the record-linkage / OCR-noise dedup family that
    token-set similarity (q31/q32/q42) under-detects.

    Scale notes (100 TB): candidates come from the SORTED-NEIGHBORHOOD
    window (each row vs its 10 predecessors in the per-block
    (prefix, id) sort — lag columns, NO self-join in the plan at all),
    so total candidates are O(rows x 10), linear in corpus size:
    2.2x wall at the 32x probe vs 8.2x for the all-pairs-in-block form
    (and all-pairs stays bounded only by dropping capped blocks —
    SCALING.md round-7 "edit-distance linkage").  One
    exchange on the blocking key shared by the cap window and the
    neighborhood window; per-pair cost is the JVM *thresholded*
    Levenshtein DP (O(prefix x max_distance), early-exit).  Recall is
    bounded by blocking + neighborhood by design — the standard
    linkage trade, documented on the operator."""
    from defenda_data_lake_spark.operators import linkage as LK

    docs = _t(spark, sf_dir, "documents")
    return LK.edit_distance_pairs(docs, neighbor_window=10)


Q102_SQL = r"""
WITH side AS (
  SELECT doc_id,
         substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 64) AS pfx,
         array_to_string(
           list_slice(
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             1, 3),
           ' ') AS blk
  FROM documents
  WHERE length(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 64)) > 0
),
capped AS (
  SELECT doc_id, pfx, blk
  FROM (SELECT *, count(*) OVER (PARTITION BY blk) AS blk_n FROM side)
  WHERE blk_n <= 1000
),
ranked AS (
  SELECT doc_id, pfx, blk,
         row_number() OVER (PARTITION BY blk ORDER BY pfx, doc_id) AS pos
  FROM capped
)
SELECT least(a.doc_id, b.doc_id) AS id_a,
       greatest(a.doc_id, b.doc_id) AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS INT) AS distance
FROM ranked a JOIN ranked b
  ON a.blk = b.blk AND b.pos > a.pos AND b.pos <= a.pos + 10
WHERE levenshtein(a.pfx, b.pfx) <= 8
"""


def q104_source_overlap(spark, sf_dir):
    """Cross-source near-duplicate overlap matrix: for every unordered
    pair of corpus sources, how many LSH candidate near-dup pairs
    straddle them — the "which crawl snapshots / dumps duplicate each
    other" report a release datasheet (q97) summarizes one level up,
    and the evidence behind per-source dedup priorities.

    Scale notes (100 TB): candidate pairs come from the capped LSH
    banding (q31's operator, degenerate buckets skipped), so the pair
    set is near-dup-bounded, far smaller than the corpus; attaching
    sources is two hash joins of that small pair set against the
    2-column (doc_id, source) projection (column-pruned scan); the
    final aggregation's key space is |sources|^2 — map-side partials
    collapse it before the one tiny exchange."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs, max_bucket_docs=_Q31_MAX_BUCKET_DOCS)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")),
            "id_a",
        ).join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")),
            "id_b",
        )
    )
    return (
        labeled.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


Q104_SQL = f"""
WITH {_MINHASH_CTES_SQL},
ok_buckets AS (
  SELECT band, band_sig FROM bands
  GROUP BY band, band_sig HAVING count(*) <= {_Q31_MAX_BUCKET_DOCS}
),
capped AS (SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_sig)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs
FROM pairs p
JOIN documents da ON p.id_a = da.doc_id
JOIN documents db ON p.id_b = db.doc_id
GROUP BY 1, 2
"""


def q107_quality_survivors(spark, sf_dir):
    """Quality-aware near-dedup (dedup.py ``quality_survivor_dedupe``):
    from every near-duplicate cluster (connected component of the LSH
    pair graph, the q98 clustering) keep the HIGHEST-quality member —
    here the longest document (``n_chars``, ties to the lower id) —
    instead of the arbitrary min-id claimant every other dedup family
    keeps.  The curation question is "which copy do we train on",
    not just "how many copies are there".

    Scale notes (100 TB): clustering is the audited pointer-jumping
    shape (q49/q98); survivor choice is a per-cluster top-1 window
    that Spark plans as WindowGroupLimit — each partition prunes to
    one candidate per cluster BEFORE the exchange.  Quality here is an
    exact integer, so survivor identity is engine-stable with no
    rounding contract."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    out = D.quality_survivor_dedupe(docs, pairs, "n_chars")
    return out.select("doc_id", "cluster_id", "cluster_size", "n_chars")


Q107_SQL = f"""
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
sized AS (
  SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM lab
),
ranked AS (
  SELECT s.doc_id, s.cluster_id, s.cluster_size, d.n_chars,
         row_number() OVER (PARTITION BY s.cluster_id
                            ORDER BY d.n_chars DESC, s.doc_id ASC) AS rk
  FROM sized s JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, n_chars
FROM ranked WHERE rk = 1
"""


def q111_boilerplate_removal(spark, sf_dir):
    """C4-style boilerplate removal (``dedup.boilerplate_chunk_removal``):
    20-word chunks whose exact normalized content occurs in >= 2
    DISTINCT documents are removed from EVERY document — including the
    first occurrence, which is the semantic difference from q78's
    first-occurrence-wins chunk dedup (C4 drops the repeated span
    everywhere; CCNet keeps one copy).  min_doc_freq=2 on this corpus:
    the df>=2 chunks come from planted near-dup families sharing
    aligned spans (~50-60 chunks at the test SFs; C4's literal >=3
    rule would match only ~5).  One agg + one
    hash join, both keyed by the uniform md5 chunk hash, then one
    per-doc reassembly — no window over the corpus-wide hash
    partitioning, no first-occurrence ordering, no id sign constraint."""
    docs = _t(spark, sf_dir, "documents")
    out = D.boilerplate_chunk_removal(docs, min_doc_freq=2)
    return out.select(
        F.col("id").alias("doc_id"), "n_chunks", "n_boiler", "clean_text"
    )


Q111_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS t FROM documents
),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
ch AS (
  SELECT doc_id, s AS start, array_to_string(ws[s : s + 19], ' ') AS chunk
  FROM w, unnest(range(1, greatest(len(ws), 1) + 1, 20)) AS u(s)
),
hh AS (SELECT doc_id, start, chunk, md5(chunk) AS h FROM ch),
freq AS (SELECT h, count(DISTINCT doc_id) AS df_docs FROM hh GROUP BY h),
fl AS (SELECT doc_id, start, chunk, (df_docs >= 2) AS is_boiler
       FROM hh JOIN freq USING (h))
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' ' ORDER BY start), '') AS clean_text
FROM fl GROUP BY doc_id
"""
