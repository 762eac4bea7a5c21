"""Text-analysis family: tokens, quality, langid, fingerprints, TF-IDF,
LM scores, Gopher rules, chunking, PII redaction, perplexity buckets,
BM25, Unicode normalization, URL/domain curation."""

from __future__ import annotations

import math
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from defenda_data_lake_spark.operators import similarity as S
from defenda_data_lake_spark.operators import text as X
from defenda_data_lake_spark.plans.catalog_shared import (
    R,
    _sql_over,
    _t,
    derived_view,
    _NORM_SQL,
    _NORM_SPARK,
)


def q84_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy (bits/char) — the
    classic gibberish / boilerplate / encoding-garbage detector in
    LLM-corpus quality filtering (low entropy = repeated padding, high
    entropy = binary-in-text or key-dumps).  Identity
    ``H = (ln n - Σ cnt·ln cnt / n) / ln 2`` over per-doc character
    counts keeps everything in counts until two logs at the end.

    Scale notes (100 TB): the first aggregation map-side-combines to
    DISTINCT (doc, char) pairs — ~70 rows per document cross the
    exchange instead of every character — and the second agg reuses
    that tiny output.  No UDF, no corpus-width shuffle.  Cross-engine
    float: the Σ cnt·ln cnt summation order differs between engines;
    round-4 at the boundary absorbs it (same discipline as q54's
    summed logs).  Whitespace characters COUNT (a whitespace-only doc
    appears with entropy 0.0 — the strongest padding signal the metric
    can give); only EMPTY docs have no countable chars and are absent
    on both sides (Spark ``split('','')`` = [] vs DuckDB [''] is
    designed out by the length filter, which rejects the zero-length
    element, not whitespace)."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.length("ch") > 0)
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    ent = per_char.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars_counted"),
        F.sum(F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double"))).alias("_s"),
        F.count("*").alias("distinct_chars"),
    )
    h = (
        F.log(F.col("n_chars_counted").cast("double"))
        - F.col("_s") / F.col("n_chars_counted").cast("double")
    ) / F.lit(math.log(2.0))
    return ent.select(
        "doc_id",
        "n_chars_counted",
        "distinct_chars",
        R(h, 4).alias("char_entropy"),
    )


Q84_SQL = r"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
cc AS (
  SELECT doc_id, c, count(*) AS cnt FROM ch WHERE len(c) > 0
  GROUP BY doc_id, c
),
agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_counted,
         sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS s,
         count(*) AS distinct_chars
  FROM cc GROUP BY doc_id
)
SELECT doc_id, n_chars_counted, distinct_chars,
       round((ln(CAST(n_chars_counted AS DOUBLE))
              - s / CAST(n_chars_counted AS DOUBLE)) / ln(CAST(2 AS DOUBLE))
             * 10000, 0) / 10000 AS char_entropy
FROM agg
"""


_BM25_TERMS = ["spark", "merge", "window"]


def _bm25_base_view(spark, sf_dir):
    """The BM25 per-doc projection (doc_id, dl, tf1..tf3) as a
    :func:`derived_view` — round 11: q87's plan consumed this subtree
    TWICE (the corpus-stats aggregate and the scored join), so the
    4-HOF tokenize projection ran twice per call; materializing it
    once per session halved q87 at 32x (measured, SCALING.md round 11)
    and q124's lexical leg inherits the same cut.

    dl and the per-term tfs are HIGHER-ORDER ARRAY expressions over
    one split — a pure per-row projection: the corpus is never
    exploded and never shuffled (an explode+groupBy formulation
    measured 10.5x wall at 32x data; a regexp_count formulation
    measured 2.5x SLOWER than the HOFs at 32x — lookaround scans beat
    neither the lambda interpreter nor WSCG; probe transcript round
    11).  At 100 TB the view exceeds the pin budget and streams —
    same plan, projection fused into each consumer."""

    def build(s, d):
        docs = _t(s, d, "documents")
        arr = F.filter(
            F.split(F.trim(F.col("text")), " "), lambda w: F.length(w) > 0
        )

        def term_count(t: str):
            # a 2-arg lambda would be read by F.filter as (element, index)
            return F.size(F.filter(arr, lambda w: w == F.lit(t)))

        return docs.select(
            "doc_id",
            F.size(arr).alias("dl"),
            *[
                term_count(t).alias(f"tf{i}")
                for i, t in enumerate(_BM25_TERMS, 1)
            ],
        ).filter(F.col("dl") > 0)

    return derived_view(spark, sf_dir, "bm25_base", build, source_table="documents")


def q87_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (Robertson/Sparck-Jones, the Okapi
    formula with k1=1.2, b=0.75): top-20 documents for a fixed
    3-term query — the lexical-retrieval complement to the ANN family
    (q40/q41/q46/q48), and the scorer behind decontamination-style
    corpus search.

    Scale notes (100 TB): ONE explode pass feeds both aggregates (doc
    length and per-term tf); the tf branch filters to the query's
    terms BEFORE its aggregation, so only matching (doc, term) pairs
    shuffle; document-frequency and corpus stats are one-row/tiny
    broadcasts; the final ranking is a TakeOrderedAndProject over
    per-doc scores.  At index scale the tf table IS the inverted
    index — this query is the read path.  Cross-engine float: scoring
    expressions are written with IDENTICAL association on both sides,
    terms summed per doc (order differs → round-4 absorbs, q54
    discipline); ranking uses the ROUNDED score with a doc_id
    tie-break so the top-20 cut is engine-stable."""
    terms = _BM25_TERMS
    base = _bm25_base_view(spark, sf_dir)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(1, len(terms) + 1)
        ],
    ).select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
        *[f"df{i}" for i in range(1, len(terms) + 1)],
    )
    j = base.filter(
        (F.col("tf1") > 0) | (F.col("tf2") > 0) | (F.col("tf3") > 0)
    ).crossJoin(F.broadcast(stats))
    norm = F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * (
        F.col("dl").cast("double") / F.col("avgdl")
    )

    def term_score(i: int):
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf_d = F.col(f"tf{i}").cast("double")
        s = idf * (tf_d * F.lit(2.2)) / (tf_d + F.lit(1.2) * norm)
        return F.when(F.col(f"tf{i}") > 0, s).otherwise(F.lit(0.0))

    # fixed-order 3-term sum: identical association on both engines,
    # so unlike a grouped SUM there is no order-dependent rounding
    score = term_score(1) + term_score(2) + term_score(3)
    return (
        j.select("doc_id", R(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


#: The BM25 scoring CTE chain (base per-doc dl/tf projection ->
#: corpus stats -> per-doc Okapi score), shared verbatim by Q87_SQL
#: and Q124_SQL (the _NB_CTES_SQL pattern — one definition, two
#: composers).
_BM25_CTES_SQL = r"""base AS (
  SELECT doc_id,
         len(list_filter(string_split(trim(text), ' '), w -> len(w) > 0)) AS dl,
         len(list_filter(string_split(trim(text), ' '), w -> w = 'spark')) AS tf1,
         len(list_filter(string_split(trim(text), ' '), w -> w = 'merge')) AS tf2,
         len(list_filter(string_split(trim(text), ' '), w -> w = 'window')) AS tf3
  FROM documents
),
b AS (SELECT * FROM base WHERE dl > 0),
st AS (
  SELECT count(*) AS n_docs,
         CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
         CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
  FROM b
),
sc AS (
  SELECT doc_id,
         (CASE WHEN tf1 > 0 THEN
            ln((CAST(n_docs AS DOUBLE) - df1 + 0.5) / (df1 + 0.5) + 1.0)
            * (CAST(tf1 AS DOUBLE) * 2.2)
            / (CAST(tf1 AS DOUBLE)
               + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
          ELSE 0.0 END)
         + (CASE WHEN tf2 > 0 THEN
            ln((CAST(n_docs AS DOUBLE) - df2 + 0.5) / (df2 + 0.5) + 1.0)
            * (CAST(tf2 AS DOUBLE) * 2.2)
            / (CAST(tf2 AS DOUBLE)
               + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
          ELSE 0.0 END)
         + (CASE WHEN tf3 > 0 THEN
            ln((CAST(n_docs AS DOUBLE) - df3 + 0.5) / (df3 + 0.5) + 1.0)
            * (CAST(tf3 AS DOUBLE) * 2.2)
            / (CAST(tf3 AS DOUBLE)
               + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
          ELSE 0.0 END) AS score
  FROM b, st
  WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0
)"""

#: The BM25 top-20 cut over the CTE chain (Q87's whole body; Q124's
#: lex20 subquery)
_BM25_TOP20_SELECT = (
    "SELECT doc_id, round(score * 10000, 0) / 10000 AS bm25\n"
    "FROM sc ORDER BY bm25 DESC, doc_id ASC LIMIT 20"
)

Q87_SQL = f"""
WITH {_BM25_CTES_SQL}
{_BM25_TOP20_SELECT}
"""


def q50_tfidf(spark, sf_dir):
    """TF-IDF term scoring over the corpus: per (doc, term) weights for
    salient repeated terms (tf >= 3), with smoothed idf
    ``ln((N+1)/(df+1)) + 1``.

    Scale: two hash aggregations with map-side partial combine (tf,
    then df over the tf table) + one shuffle join keyed by term — the
    document-frequency table is vocabulary-sized, orders of magnitude
    smaller than the postings, so AQE broadcasts it when it fits.  The
    corpus-size scalar is a broadcast single-row cross join, never a
    driver round-trip inside the plan."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.filter(F.col("tf") >= 3)
        .join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            R(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                4,
            ).alias("tfidf"),
        )
    )


Q50_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words WHERE length(word) > 0 GROUP BY 1, 2
),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, word, tf, df,
       round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
FROM tf JOIN dfreq USING (word) CROSS JOIN n
WHERE tf >= 3
"""


def q53_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality filters: repeated-word and
    repeated-bigram fractions per document (operators/text.py
    ``repetition_signals`` has the scale notes — shuffle-free linear
    projection)."""
    docs = _t(spark, sf_dir, "documents")
    return X.repetition_signals(docs).select(
        "doc_id",
        "n_words",
        R("word_rep_frac", 6).alias("word_rep_frac"),
        R("bigram_rep_frac", 6).alias("bigram_rep_frac"),
    )


Q53_SQL = r"""
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / n_words, 6)
           AS word_rep_frac,
       CASE WHEN len(bg) > 0
            THEN round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
            ELSE 0.0 END AS bigram_rep_frac
FROM (
  SELECT doc_id, w, len(w) AS n_words,
         CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i + 1])
              ELSE [] END AS bg
  FROM (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
    FROM documents
  )
)
"""


def q54_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality signal: mean log probability of each
    document's words under the corpus's own unigram model
    (operators/text.py ``unigram_logprob_scores`` has the scale notes —
    map-side broadcast of the Zipf-bounded vocabulary, no corpus
    shuffle, no stopword hot keys)."""
    docs = _t(spark, sf_dir, "documents")
    scored = X.unigram_logprob_scores(docs)
    return scored.select(
        "doc_id",
        "n_words",
        R("avg_logp", 4).alias("avg_logp"),
    )


Q54_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents
),
counts AS (SELECT word, count(*) AS wc FROM words GROUP BY word),
tot AS (SELECT sum(wc) AS total_words FROM counts)
SELECT doc_id,
       count(*) AS n_words,
       round(avg(ln(CAST(wc AS DOUBLE) / total_words)), 4) AS avg_logp
FROM words JOIN counts USING (word), tot
GROUP BY doc_id
"""


def q56_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair mining over the embedding table: for
    each query vector, the hardest POSITIVE (most-similar vector with
    the same label) and a deterministic hash-sampled NEGATIVE from a
    different label — the (anchor, positive, negative) triplets a
    contrastive/embedding trainer consumes.

    Scale notes (100 TB): the query block broadcasts (bounded, like
    q40); the corpus streams map-side through both the same-label
    equi-join (positives) and the label-inequality nested-loop
    (negatives, against the 5-row broadcast).  The per-query argmax
    is a WindowGroupLimit-able rank-1 window.  For corpus-x-corpus
    mining swap the exact positive scan for the LSH/IVF candidate
    paths (q41/q46) — same downstream shape."""
    emb = _t(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("clabel"),
    )
    pos_pairs = S.with_cosine(
        q.join(
            c,
            (F.col("qlabel") == F.col("clabel"))
            & (F.col("query_id") != F.col("cand_id")),
        ),
        "qv",
        "cv",
    )
    wpos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    pos = (
        pos_pairs.withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("pos_id"),
            R("cosine", 6).alias("pos_cosine"),
        )
    )
    neg_key = F.md5(
        F.concat(
            F.lit("neg"),
            F.col("query_id").cast("string"),
            F.lit(":"),
            F.col("cand_id").cast("string"),
        )
    )
    wneg = Window.partitionBy("query_id").orderBy(neg_key.asc(), F.col("cand_id"))
    neg = (
        q.select("query_id", "qlabel")
        .join(
            c.select("cand_id", "clabel"), F.col("qlabel") != F.col("clabel")
        )
        .withColumn("rn", F.row_number().over(wneg))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("cand_id").alias("neg_id"))
    )
    return pos.join(neg, "query_id").select(
        "query_id", "pos_id", "pos_cosine", "neg_id"
    )


Q56_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         label AS qlabel
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv,
         label AS clabel
  FROM embeddings
),
pos AS (
  SELECT query_id, cand_id AS pos_id, round(cosine, 6) AS pos_cosine
  FROM (
    SELECT q.query_id, c.cand_id,
           list_cosine_similarity(qv, cv) AS cosine,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(qv, cv) DESC, c.cand_id
           ) AS rn
    FROM q JOIN c ON q.qlabel = c.clabel AND q.query_id <> c.cand_id
  ) WHERE rn = 1
),
neg AS (
  SELECT query_id, cand_id AS neg_id
  FROM (
    SELECT q.query_id, c.cand_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY md5('neg' || CAST(q.query_id AS VARCHAR) || ':'
                          || CAST(c.cand_id AS VARCHAR)), c.cand_id
           ) AS rn
    FROM q JOIN c ON q.qlabel <> c.clabel
  ) WHERE rn = 1
)
SELECT query_id, pos_id, pos_cosine, neg_id
FROM pos JOIN neg USING (query_id)
"""


def q33_text_tokens(spark, sf_dir):
    """Token counting per language (whitespace + BPE-ish regex)."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = X.token_count_col()
    n_subtokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0))
    return (
        docs.select("lang", n_tokens.alias("n_tok"), n_subtokens.alias("n_sub"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            R(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.sum("n_sub").alias("total_subtokens"),
        )
    )


Q33_SQL = r"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(n_tok), 4) AS avg_tokens,
       CAST(sum(n_sub) AS BIGINT) AS total_subtokens
FROM (
  SELECT lang,
         len(string_split(trim(text), ' ')) AS n_tok,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_sub
  FROM documents
) t
GROUP BY lang
"""


_ALL_MARKERS = sorted({m for ms in X.LANGUAGE_MARKERS.values() for m in ms})


def q34_text_quality(spark, sf_dir):
    """Quality scoring features + composite score per document."""
    docs = _t(spark, sf_dir, "documents")
    return X.quality_features(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        R("stopword_ratio", 4).alias("stopword_ratio"),
        R("punct_ratio", 4).alias("punct_ratio"),
        R("quality_score", 4).alias("quality_score"),
    )


_MARKERS_IN = ", ".join(f"'{m}'" for m in _ALL_MARKERS)
# All ratio arithmetic is forced to DOUBLE: DuckDB would otherwise use
# exact DECIMAL for literals like 0.4, diverging from Spark's doubles
# at round() boundaries.
Q34_SQL = rf"""
SELECT doc_id, n_tokens,
       round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
       round(CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n_tokens / CAST(20.0 AS DOUBLE))
           + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), (CAST(stop_hits AS DOUBLE) / n_tokens) * 5)
           + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), (CAST(n_punct AS DOUBLE) / n_chars) * 10)), 4) AS quality_score
FROM (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(trim(text), ' ')) AS n_tokens,
         len(list_filter(string_split(trim(text), ' '),
             x -> lower(x) IN ({_MARKERS_IN}))) AS stop_hits,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
  FROM documents
) t
"""


def q35_text_langid(spark, sf_dir):
    """Stopword-marker language identification."""
    docs = _t(spark, sf_dir, "documents")
    return X.detect_language(docs).select("doc_id", "lang", "detected_lang")


def _langid_sql() -> str:
    langs = sorted(X.LANGUAGE_MARKERS)
    score_cols = ",\n         ".join(
        "len(list_filter(string_split(trim(text), ' '), x -> lower(x) IN ({}))) AS score_{}".format(
            ", ".join(f"'{m}'" for m in X.LANGUAGE_MARKERS[lang]), lang
        )
        for lang in langs
    )
    best = "greatest({})".format(", ".join(f"score_{lang}" for lang in langs))
    case = "CASE WHEN {} = 0 THEN 'und' {} ELSE 'und' END".format(
        best,
        " ".join(f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs),
    )
    return f"""
SELECT doc_id, lang, {case} AS detected_lang
FROM (
  SELECT doc_id, lang,
         {score_cols}
  FROM documents
) t
"""


Q35_SQL = _langid_sql()


def q36_text_fingerprint(spark, sf_dir):
    """Order-insensitive document fingerprint groups (same expression
    chain as ``text.fingerprint`` — all codegen, one digest shuffle)."""
    return _sql_over(spark, sf_dir, f"""
SELECT md5(array_join(array_sort(array_distinct(
           split({_NORM_SPARK}, ' '))), ' ')) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
""", ["documents"])


Q36_SQL = f"""
SELECT md5(array_to_string(list_sort(list_distinct(
           string_split({_NORM_SQL}, ' '))), ' ')) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
"""


def q37_vocab_topk(spark, sf_dir):
    """Vocabulary statistics: top-20 most frequent tokens.
    Scale: explode + hash-agg with map-side partial combine; top-k is
    TakeOrderedAndProject, never a full sort."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


Q37_SQL = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
WHERE length(word) > 0
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
"""


# =============================================================== catalog

# name -> (spark_fn, oracle_sql | None)
# ------------------------------------------------- round-4 additions


def q57_gopher_filter(spark, sf_dir):
    """Gopher/C4-style rule-based corpus filter with auditable per-rule
    0/1 flags (operators/text.py ``gopher_quality_flags``): length
    band, mean-word-length band, stopword floor, repetition ceiling.
    Shuffle-free narrow projection — parquet-scan speed at any size."""
    docs = _t(spark, sf_dir, "documents")
    return X.gopher_quality_flags(docs).select(
        "doc_id",
        "n_words",
        R("mean_word_len", 4).alias("mean_word_len"),
        R("stop_frac", 4).alias("stop_frac"),
        R("word_rep_frac", 4).alias("word_rep_frac"),
        "ok_n_words",
        "ok_mean_word_len",
        "ok_stop_frac",
        "ok_word_rep",
        "keep",
    )


_GOPHER_MARKERS = X.ALL_MARKERS

Q57_SQL = f"""
WITH t AS (
  SELECT doc_id,
         string_split({_NORM_SQL}, ' ') AS w,
         len({_NORM_SQL}) AS norm_len
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(w) AS n_words,
         (norm_len - (len(w) - 1)) / len(w) AS mean_word_len,
         len(list_filter(w, x -> list_contains(
             [{", ".join(chr(39) + m + chr(39) for m in _GOPHER_MARKERS)}], x)))
           / len(w) AS stop_frac,
         1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS word_rep_frac
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mean_word_len, 4) AS mean_word_len,
       round(stop_frac, 4) AS stop_frac,
       round(word_rep_frac, 4) AS word_rep_frac,
       CAST(n_words >= 30 AND n_words <= 100000 AS INT) AS ok_n_words,
       CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT)
         AS ok_mean_word_len,
       CAST(stop_frac >= 0.02 AS INT) AS ok_stop_frac,
       CAST(word_rep_frac <= 0.6 AS INT) AS ok_word_rep,
       CAST(n_words >= 30 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND stop_frac >= 0.02 AND word_rep_frac <= 0.6 AS INT) AS keep
FROM feat
"""


def q61_length_buckets(spark, sf_dir):
    """Sequence-length histogram over fixed power-of-two bands — the
    packing/batching planning profile.  Integer band edges (no float
    log), one tiny aggregation with map-side partial combine."""
    docs = _t(spark, sf_dir, "documents")
    n = F.size(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        )
    ).cast("long")
    bucket = (
        F.when(n < 16, "lt16")
        .when(n < 32, "16-31")
        .when(n < 64, "32-63")
        .when(n < 128, "64-127")
        .otherwise("ge128")
    )
    return (
        docs.select(n.alias("n_words"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("sum_words"),
            F.min("n_words").alias("min_words"),
            F.max("n_words").alias("max_words"),
        )
    )


Q61_SQL = f"""
WITH t AS (SELECT len(string_split({_NORM_SQL}, ' ')) AS n_words FROM documents)
SELECT CASE WHEN n_words < 16 THEN 'lt16'
            WHEN n_words < 32 THEN '16-31'
            WHEN n_words < 64 THEN '32-63'
            WHEN n_words < 128 THEN '64-127'
            ELSE 'ge128' END AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(min(n_words) AS BIGINT) AS min_words,
       CAST(max(n_words) AS BIGINT) AS max_words
FROM t GROUP BY 1
"""


def q64_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality signal (operators/text.py
    ``bigram_logprob_scores``): mean ln P(w2|w1) under the corpus's own
    bigram MLE — penalizes improbable word ORDER that the unigram q54
    can't see.  Both model tables broadcast; the corpus is never
    shuffled before the per-doc aggregation."""
    docs = _t(spark, sf_dir, "documents")
    scored = X.bigram_logprob_scores(docs)
    return scored.select(
        "doc_id", "n_bigrams", R("avg_logp2", 4).alias("avg_logp2")
    )


Q64_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents
),
pos AS (
  SELECT doc_id, w, unnest(range(1, len(w))) AS i
  FROM toks WHERE len(w) >= 2
),
bg AS (SELECT doc_id, w[i] AS head, w[i] || ' ' || w[i+1] AS bigram FROM pos),
bc AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
ht AS (SELECT head, count(*) AS h FROM bg GROUP BY head)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(avg(ln(CAST(c AS DOUBLE) / h)), 4) AS avg_logp2
FROM bg JOIN bc USING (bigram) JOIN ht USING (head)
GROUP BY doc_id
"""


def q65_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate against the corpus's own top-20 word
    vocabulary (operators/text.py ``oov_rate``): the tokenizer-coverage
    / gibberish diagnostic.  Vocabulary selection is deterministic
    (count desc, word asc) and broadcasts.  (20, not a web-scale 10^5+,
    because the synthetic corpus has ~31 distinct words — a larger
    vocabulary would make every document trivially in-vocab.)"""
    docs = _t(spark, sf_dir, "documents")
    return X.oov_rate(docs, vocab_size=20).select(
        "doc_id", "n_words", "n_oov", R("oov_frac", 6).alias("oov_frac")
    )


Q65_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents
),
vocab AS (
  SELECT word FROM (
    SELECT word, count(*) AS wc FROM words GROUP BY word
    ORDER BY wc DESC, word ASC LIMIT 20
  )
)
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_frac
FROM words w LEFT JOIN vocab v ON w.word = v.word
GROUP BY doc_id
"""


def q68_doc_chunks(spark, sf_dir):
    """Context-window document chunking: split each document into
    50-word chunks with a 10-word overlap (stride 40) — the standard
    long-document preparation for embedding/training pipelines.

    Scale shape: pure JVM — split once, explode a sequence of chunk
    starts, ``slice``+``array_join`` per chunk (core functions, not
    interpreted HOF lambdas).  Shuffle-free; output volume is
    words/stride per doc."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    t = docs.select(F.col("doc_id"), w.alias("_w"), F.size(w).alias("_n"))
    # chunk starts 1, 41, 81, ... (1-based for slice), PLUS the final
    # start n-50+1 so the tail is always covered — the strided sequence
    # alone loses up to stride-1 trailing words whenever (n - 50) is
    # not a multiple of the stride.  array_distinct collapses the
    # aligned case (order preserved: the appended start is the
    # largest, or a duplicate).
    last_start = F.greatest(F.lit(1), F.col("_n") - F.lit(50) + F.lit(1))
    starts = F.array_distinct(
        F.concat(
            F.sequence(F.lit(1), last_start, F.lit(40)),
            F.array(last_start),
        )
    )
    ex = t.select(
        "doc_id",
        "_w",
        "_n",
        F.posexplode(starts).alias("chunk_index", "start_word"),
    )
    chunk = F.slice(F.col("_w"), F.col("start_word"), F.lit(50))
    return ex.select(
        "doc_id",
        "chunk_index",
        F.col("start_word").cast("long").alias("start_word"),
        F.size(chunk).cast("long").alias("n_words"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


Q68_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w,
         len(string_split({_NORM_SQL}, ' ')) AS n
  FROM documents
),
st AS (
  SELECT doc_id, w,
         unnest(list_distinct(list_concat(
             range(1, greatest(1, n - 50 + 1) + 1, 40),
             [greatest(1, n - 50 + 1)]))) AS start_word
  FROM t
),
ex AS (
  SELECT doc_id, w, start_word,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_word)
              - 1 AS INT) AS chunk_index
  FROM st
)
SELECT doc_id,
       chunk_index,
       CAST(start_word AS BIGINT) AS start_word,
       CAST(len(w[start_word:start_word + 49]) AS BIGINT) AS n_words,
       md5(array_to_string(w[start_word:start_word + 49], ' ')) AS chunk_hash
FROM ex
"""


def q71_pii_redaction(spark, sf_dir):
    """PII redaction audit over the corpus: every document with its
    redacted-text digest and per-label replacement counts
    (operators.text.redact — email, then ipv4, then phone, applied
    sequentially, each label counted on the text as already redacted by
    the labels before it).  Pure codegen regexp projection, no shuffle;
    the md5 pins the full redacted text in the oracle compare without
    shipping megabytes of text through the hash."""
    from defenda_data_lake_spark.operators.text import redact

    docs = _t(spark, sf_dir, "documents")
    out = redact(docs)
    return out.select(
        "doc_id",
        F.md5("text_redacted").alias("redacted_md5"),
        F.col("redaction_counts")["email"].alias("n_email"),
        F.col("redaction_counts")["ipv4"].alias("n_ipv4"),
        F.col("redaction_counts")["phone"].alias("n_phone"),
        "n_redactions",
    )


# mirrors operators.text.REDACTION_PATTERNS and redact()'s sequential
# label order: each stage counts on the previous stage's output
Q71_SQL = r"""
WITH s1 AS (
  SELECT doc_id,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email
  FROM documents
), s2 AS (
  SELECT doc_id, n_email,
         regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS t,
         CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4
  FROM s1
), s3 AS (
  SELECT doc_id, n_email, n_ipv4,
         regexp_replace(t, '\+?\d[\d\- ()]{5,}\d', '<PHONE>', 'g') AS t,
         CAST(len(regexp_extract_all(t, '\+?\d[\d\- ()]{5,}\d')) AS BIGINT) AS n_phone
  FROM s2
)
SELECT doc_id, md5(t) AS redacted_md5, n_email, n_ipv4, n_phone,
       n_email + n_ipv4 + n_phone AS n_redactions
FROM s3
"""


def q76_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-doc unigram-LM mean log
    probability (q54's signal), rounded, cut at the corpus terciles
    into head/middle/tail (head = most natural), summarized per
    (source, bucket).  Rounding BEFORE the tercile cut makes the
    bucket assignment engine-stable — raw double sums could differ by
    1 ulp exactly at a cut point.

    Scale: the doc scores are q54's broadcast-vocab plan (no corpus
    shuffle); the two tercile scalars reduce to one row and broadcast
    back; the summary is one small aggregation."""
    scored = X.unigram_logprob_scores(_t(spark, sf_dir, "documents"))
    # localCheckpoint: the LM scoring pipeline (word explode + vocab
    # join + per-doc agg) feeds BOTH the tercile aggregate and the
    # bucketing branch — without materialization it would run twice
    # (the q73 lesson)
    scored = scored.withColumn("r_logp", R("avg_logp", 6)).localCheckpoint()
    # the cut points are rounded like the scores: percentile
    # interpolation can differ by 1 ulp between engines, and an
    # unrounded cut exactly at a score grid value would flip that
    # doc's bucket
    cuts = F.broadcast(
        scored.agg(
            R(F.expr("percentile(r_logp, CAST(1 AS DOUBLE)/3)"), 6).alias("t1"),
            R(F.expr("percentile(r_logp, CAST(2 AS DOUBLE)/3)"), 6).alias("t2"),
        )
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    bucketed = (
        scored.crossJoin(cuts)
        .join(docs, "doc_id")
        .withColumn(
            "bucket",
            F.when(F.col("r_logp") >= F.col("t2"), F.lit("head"))
            .when(F.col("r_logp") >= F.col("t1"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count("*").alias("n_docs"),
        R(F.avg("r_logp"), 4).alias("mean_logp"),
    )


Q76_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents
),
counts AS (SELECT word, count(*) AS wc FROM words GROUP BY word),
tot AS (SELECT sum(wc) AS total_words FROM counts),
scored AS (
  SELECT doc_id,
         round(avg(ln(CAST(wc AS DOUBLE) / total_words)) * 1000000, 0)
           / 1000000 AS r_logp
  FROM words JOIN counts USING (word), tot
  GROUP BY doc_id
),
cuts AS (
  SELECT round(quantile_cont(r_logp, CAST(1 AS DOUBLE)/3) * 1000000, 0)
           / 1000000 AS t1,
         round(quantile_cont(r_logp, CAST(2 AS DOUBLE)/3) * 1000000, 0)
           / 1000000 AS t2
  FROM scored
),
bucketed AS (
  SELECT d.source,
         CASE WHEN s.r_logp >= c.t2 THEN 'head'
              WHEN s.r_logp >= c.t1 THEN 'middle'
              ELSE 'tail' END AS bucket,
         s.r_logp
  FROM scored s JOIN documents d USING (doc_id), cuts c
)
SELECT source, bucket, count(*) AS n_docs,
       round(avg(r_logp) * 10000, 0) / 10000 AS mean_logp
FROM bucketed
GROUP BY source, bucket
"""


def q108_unicode_normalize(spark, sf_dir):
    """Unicode NFC canonicalization over the corpus (text.py
    ``normalize_unicode``) — the preprocessing step that makes
    visually identical strings byte-identical before any hash-based
    dedup or tokenization.  Spark has no built-in normalizer, so this
    is the engine's sanctioned Python path: one Arrow-batched
    ``pandas_udf`` projection, shuffle-free, column-pruned.

    Oracle: DuckDB's ``nfc_normalize`` (verified equal to Python's
    ``unicodedata.normalize('NFC', ...)``); the generated corpus is
    ASCII so the catalog check pins the PLUMBING (values, NULLs,
    changed-flag logic) — the transform itself is pinned on
    synthetic composed/decomposed rows in test_text_quality.py
    (the q74 resize-plumbing precedent)."""
    docs = _t(spark, sf_dir, "documents")
    out = X.normalize_unicode(docs, out_col="text_nfc")
    return out.select(
        "doc_id",
        "text_nfc",
        (~F.col("text_nfc").eqNullSafe(F.col("text"))).cast("int").alias("changed"),
    )


Q108_SQL = """
SELECT doc_id,
       nfc_normalize(text) AS text_nfc,
       CAST(NOT (nfc_normalize(text) IS NOT DISTINCT FROM text) AS INT) AS changed
FROM documents
"""


def q110_domain_curation(spark, sf_dir):
    """URL/domain curation pipeline (operators/urls.py) — the C4/Dolma
    web-hygiene step: extract + normalize the domain from each doc's
    source URL, drop blocklisted domains INCLUDING subdomains, cap
    docs per domain, and return the curated survivor set with each
    row's within-domain rank.  The testdata ships no URL column, so
    the URLs are derived deterministically from (doc_id, source) in
    five messy shapes — uppercase WWW, ports, fragments, a blocklisted
    tracker subdomain, and an unparseable string (NULL-domain path) —
    and the oracle re-derives the same strings.

    Scale: extraction is codegen (parse_url) in the scan stage; the
    blocklist check is two BROADCAST joins over an exploded ~4-row
    suffix chain (equi-join subdomain matching — never a LIKE scan);
    the cap is ONE hash exchange planned as WindowGroupLimit
    (megadomains shed excess rows map-side; plan-pinned in
    test_urls.py)."""
    from defenda_data_lake_spark.operators import urls as U

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    url = (
        F.when(m == 0, F.concat(F.lit("https://WWW."), F.col("source"), F.lit("-news.com/a/"), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("http://cdn."), F.col("source"), F.lit("-news.com:8080/b?x=1")))
        .when(m == 2, F.concat(F.lit("https://"), F.col("source"), F.lit(".org/path/"), F.col("doc_id")))
        .when(m == 3, F.concat(F.lit("http://sub.tracker.biz/"), F.col("doc_id")))
        .otherwise(F.lit("not a url"))
    )
    with_url = docs.withColumn("url", url)
    dom = U.extract_domain(with_url)
    blocklist = spark.createDataFrame(
        [("tracker.biz",), ("ads.example.com",)], "blocked_domain string"
    )
    kept = U.blocklist_filter(dom, blocklist)
    capped = U.domain_caps(kept, max_per_domain=3)
    return capped.select("doc_id", "domain", "domain_rank")


Q110_SQL = """
WITH u AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'https://WWW.' || source || '-news.com/a/' || doc_id
           WHEN 1 THEN 'http://cdn.' || source || '-news.com:8080/b?x=1'
           WHEN 2 THEN 'https://' || source || '.org/path/' || doc_id
           WHEN 3 THEN 'http://sub.tracker.biz/' || doc_id
           ELSE 'not a url'
         END AS url
  FROM documents
),
d AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(
           lower(NULLIF(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1), '')),
           '\\.$', ''), '^www\\.', '') AS domain
  FROM u
),
f AS (
  SELECT * FROM d
  WHERE domain IS NULL
     OR NOT (domain IN ('tracker.biz', 'ads.example.com')
             OR domain LIKE '%.tracker.biz'
             OR domain LIKE '%.ads.example.com')
),
r AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
  FROM f
)
SELECT doc_id, domain,
       CASE WHEN domain IS NULL THEN NULL ELSE CAST(rn AS INT) END AS domain_rank
FROM r
WHERE domain IS NULL OR rn <= 3
"""


def q125_source_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between every pair of corpus
    sources' unigram word distributions (operators/text.py
    ``source_unigram_js``) — the dataset-MIXING diagnostic that sits
    beside q104's duplication matrix: q104 says which sources copy
    each other's documents; this says which sources are the same
    DISTRIBUTION (JS ≈ 0 → a mix ratio between them is a dedup
    question, not a diversity one; JS → ln 2 → genuinely disjoint
    vocabularies worth separate temperature weights in a q59-style
    mix).

    Determinism: word counts and totals are exact integers; js is an
    ln-sum over probability ratios rounded at 4dp on both engines
    (the q54 convention).  Zero-shared-word pairs get the exact JS
    maximum ln 2 from the closed-form remainder — no full-outer join
    (operator docstring derives it).

    Scale notes (100 TB): one corpus tokenize pass; everything after
    is VOCABULARY-bounded (|sources|·V distribution rows, the word
    self-join reuses its one exchange — q32's property), and the
    |sources|² pair frame is a tiny totals-cross
    (BroadcastNestedLoopJoin of |sources| rows against itself — the
    one sanctioned non-equi build here, never corpus-sided)."""
    docs = _t(spark, sf_dir, "documents")
    out = X.source_unigram_js(docs)
    return out.select(
        "src_a",
        "src_b",
        "n_words_a",
        "n_words_b",
        R("js", 4).alias("js"),
    )


Q125_SQL = r"""
WITH words AS (
  SELECT source AS src,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents
),
counts AS (SELECT src, word, count(*) AS wc FROM words GROUP BY src, word),
tot AS (SELECT src, CAST(sum(wc) AS BIGINT) AS tw FROM counts GROUP BY src),
dist AS (
  SELECT c.src, c.word, CAST(wc AS DOUBLE) / tw AS p
  FROM counts c JOIN tot USING (src)
),
inter AS (
  SELECT a.src AS src_a, b.src AS src_b,
         sum(a.p * ln(2 * a.p / (a.p + b.p))) AS sa,
         sum(b.p * ln(2 * b.p / (a.p + b.p))) AS sb,
         sum(a.p) AS ca, sum(b.p) AS cb
  FROM dist a JOIN dist b ON a.word = b.word AND a.src < b.src
  GROUP BY a.src, b.src
),
allpairs AS (
  SELECT ta.src AS src_a, tb.src AS src_b,
         ta.tw AS n_words_a, tb.tw AS n_words_b
  FROM tot ta JOIN tot tb ON ta.src < tb.src
)
SELECT p.src_a, p.src_b, p.n_words_a, p.n_words_b,
       round((0.5 * (coalesce(sa, 0) + (1 - coalesce(ca, 0)) * ln(2))
            + 0.5 * (coalesce(sb, 0) + (1 - coalesce(cb, 0)) * ln(2)))
             * 10000, 0) / 10000 AS js
FROM allpairs p
LEFT JOIN inter i ON p.src_a = i.src_a AND p.src_b = i.src_b
"""
