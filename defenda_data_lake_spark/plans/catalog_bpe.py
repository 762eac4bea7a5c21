"""BPE tokenizer family (round 9, VERDICT r8 item 3): learn a merge
table from the documents corpus, tokenize with it, and run the token
budget over REAL learned tokens.  The Spark side learns driver-side
from a bounded Spark aggregation (``operators/bpe.py``); the DuckDB
oracles re-learn the SAME table from scratch in SQL — an unrolled
chain of materialized CTEs (one pair-count + argmax + 5-pass replace
per merge), so the merge table itself is engine-independently
reproducible, not an opaque artifact shipped across.

Every constant here (24 merges, 5 passes, top-2000 learning words,
32-char word cap, ``[^a-z]+`` word split) is part of the algorithm
contract documented in ``operators/bpe.py`` and baked identically
into both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators import bpe as B
from defenda_data_lake_spark.plans.catalog_shared import R, _t


# --------------------------------------------------------------- SQL
# builders: the unrolled learning chain.  AS MATERIALIZED is
# load-bearing — p_i and s_i both reference s_{i-1}, so an inlining
# planner would expand the chain exponentially (2^24 scans).


def _rep5_sql(expr: str, mi: str) -> str:
    pat = f"(SELECT ' ' || pair || ' ' FROM {mi})"
    rep = f"(SELECT ' ' || replace(pair, ' ', '') || ' ' FROM {mi})"
    for _ in range(B.N_PASSES):
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


def _learn_ctes() -> str:
    parts = [
        f"""dwords AS MATERIALIZED (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents
  ) WHERE w <> '' AND length(w) <= {B.MAX_WORD_LEN} GROUP BY w
),
lw AS (SELECT w, cnt FROM dwords ORDER BY cnt DESC, w LIMIT {B.LEARN_WORDS}),
s0 AS MATERIALIZED (SELECT cnt, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS st FROM lw)"""
    ]
    for i in range(1, B.N_MERGES + 1):
        parts.append(
            f"""p{i} AS (
  SELECT pair, sum(cnt) AS c FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)), i -> sy[i] || ' ' || sy[i+1])) AS pair
    FROM (SELECT cnt, string_split(trim(st), ' ') AS sy FROM s{i-1})
  ) GROUP BY pair
),
m{i} AS MATERIALIZED (SELECT pair FROM p{i} ORDER BY c DESC, pair LIMIT 1),
s{i} AS MATERIALIZED (SELECT cnt, {_rep5_sql('st', f'm{i}')} AS st FROM s{i-1})"""
        )
    return ",\n".join(parts)


_CHARSPACED_W = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"


def _apply_ctes() -> str:
    """Application as a chain of 24 materialized CTEs (5 nested
    replaces each) rather than one 120-deep nested expression — the
    flat form trips DuckDB's binder recursion limit (128); MATERIALIZED
    also stops single-reference inlining from rebuilding the same
    depth."""
    parts = [
        f"app0 AS MATERIALIZED (SELECT w, {_CHARSPACED_W} AS st FROM dwords)"
    ]
    for i in range(1, B.N_MERGES + 1):
        parts.append(
            f"app{i} AS MATERIALIZED (SELECT w, {_rep5_sql('st', f'm{i}')} AS st FROM app{i-1})"
        )
    parts.append(
        f"app AS (SELECT w, len(string_split(trim(st), ' ')) AS n_tok FROM app{B.N_MERGES})"
    )
    return ",\n".join(parts)


def _merge_union_sql() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, pair FROM m{i}" for i in range(1, B.N_MERGES + 1)
    )


_TOK_CTES = f"""{_learn_ctes()},
{_apply_ctes()},
docw AS MATERIALIZED (
  SELECT doc_id, w, count(*) AS n_occ FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents
  ) WHERE w <> '' AND length(w) <= {B.MAX_WORD_LEN} GROUP BY doc_id, w
),
tok AS (
  SELECT doc_id,
         CAST(sum(n_occ) AS BIGINT) AS n_words,
         CAST(sum(n_occ * length(w)) AS BIGINT) AS n_chars_az,
         CAST(sum(n_occ * n_tok) AS BIGINT) AS n_tokens
  FROM docw JOIN app USING (w) GROUP BY doc_id
)"""


Q115_SQL = f"""WITH {_learn_ctes()}
SELECT CAST(rank AS BIGINT) AS rank, pair,
       replace(pair, ' ', '') AS token
FROM ({_merge_union_sql()})
"""


Q116_SQL = f"""WITH {_TOK_CTES}
SELECT doc_id, n_words, n_chars_az, n_tokens FROM tok
"""


Q117_SQL = f"""WITH {_TOK_CTES},
t AS (
  SELECT doc_id, n_tokens,
         CAST(n_chars_az AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS score
  FROM tok
),
c AS (
  SELECT doc_id, score, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens,
         CAST(sum(n_tokens) OVER () AS BIGINT) AS total
  FROM t
)
SELECT doc_id, round(score * 1000000, 0) / 1000000 AS score,
       n_tokens, cum_tokens
FROM c WHERE 4 * cum_tokens <= total
"""


Q118_SQL = f"""WITH {_TOK_CTES},
t AS (
  SELECT d.doc_id, d.lang, tok.n_tokens,
         CAST(tok.n_chars_az AS DOUBLE) / CAST(tok.n_tokens AS DOUBLE) AS score
  FROM tok JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL
),
c AS (
  SELECT doc_id, lang, n_tokens, score,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT)
           AS cum_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang) AS BIGINT) AS total
  FROM t
)
SELECT doc_id, lang, round(score * 1000000, 0) / 1000000 AS score,
       n_tokens, cum_tokens
FROM c WHERE 4 * cum_tokens <= total
"""


# shared by Q119/Q121: per-doc BPE accounting over qualifying words,
# and the fallback-mass projection over every document
_TOKF_CTE = """tokf AS (
  SELECT doc_id,
         CAST(sum(n_occ) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN n_tok = 1 THEN n_occ ELSE 0 END) AS BIGINT) AS n_vocab_words,
         CAST(sum(n_occ * n_tok) AS BIGINT) AS n_tokens_bpe
  FROM docw JOIN app USING (w) GROUP BY doc_id
)"""

_FB_CTE = f"""fb AS (
  -- coalesce(text, '') mirrors Spark's NULL-text-counts-as-empty
  -- contract: without it a NULL-text row would emit NULL (not 0)
  -- fallback bytes and the value hash would diverge
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(
             list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z]+'),
                         w -> len(w) > {B.MAX_WORD_LEN}),
             w -> len(w))), 0) AS BIGINT) AS n_long_chars,
         CAST(strlen(regexp_replace(lower(coalesce(text, '')), '[a-z \\t\\n\\r\\f]', '', 'g'))
           AS BIGINT) AS n_bytes_other
  FROM documents
)"""


Q119_SQL = f"""WITH {_TOK_CTES},
{_TOKF_CTE},
{_FB_CTE}
SELECT fb.doc_id,
       coalesce(n_words, 0) AS n_words,
       coalesce(n_vocab_words, 0) AS n_vocab_words,
       coalesce(n_tokens_bpe, 0) AS n_tokens_bpe,
       n_long_chars, n_bytes_other,
       coalesce(n_tokens_bpe, 0) + n_long_chars + n_bytes_other AS n_tokens_total
FROM fb LEFT JOIN tokf USING (doc_id)
"""


Q121_SQL = f"""WITH {_TOK_CTES},
{_TOKF_CTE},
{_FB_CTE},
acc AS (
  SELECT d.lang,
         coalesce(tokf.n_words, 0) AS nw,
         coalesce(tokf.n_vocab_words, 0) AS nv,
         coalesce(tokf.n_tokens_bpe, 0) AS nt,
         fb.n_bytes_other AS nb
  FROM documents d
  JOIN fb USING (doc_id)
  LEFT JOIN tokf USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nt) AS BIGINT) AS n_tokens_bpe,
       CAST(sum(nb) AS BIGINT) AS n_bytes_other,
       CASE WHEN sum(nw) > 0
            THEN round(CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) * 1000000, 0) / 1000000
       END AS fertility,
       CASE WHEN sum(nw) > 0
            THEN round(CAST(sum(nv) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) * 1000000, 0) / 1000000
       END AS vocab_hit_rate
FROM acc GROUP BY lang
"""


_Q120_BUDGET = 512
_Q120_BUCKETS = 16


Q120_SQL = f"""WITH {_TOK_CTES},
d AS (
  SELECT doc_id, n_tokens AS tokens, doc_id % {_Q120_BUCKETS} AS bucket
  FROM tok
),
binned AS (
  SELECT bucket, doc_id, tokens,
         CAST(floor((sum(tokens) OVER (
             PARTITION BY bucket ORDER BY tokens DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - tokens) / {_Q120_BUDGET}) AS BIGINT) AS bin
  FROM d
)
SELECT bucket, bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc
FROM binned GROUP BY bucket, bin
"""


def _merges(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    merges = B.learned_merges_cached(spark, docs, (sf_dir,))
    # corpus precondition for oracle parity: the SQL chain always
    # emits N_MERGES rows (LIMIT 1 per rank); the Python learner only
    # stops early on a corpus too small to contain a pair, where the
    # two would diverge — fail loudly instead (a real raise, not an
    # assert: python -O must not compile the guard away into a silent
    # oracle divergence)
    if len(merges) != B.N_MERGES:
        raise ValueError(
            f"corpus too small to learn {B.N_MERGES} merges "
            f"(got {len(merges)})"
        )
    return docs, merges


def q115_bpe_merges(spark, sf_dir):
    """The learned BPE merge table ``(rank, pair, token)``: Spark
    aggregates word counts, the bounded top-2000 learn driver-side
    (``operators/bpe.py::learn_bpe_spark``); the oracle re-derives the
    identical table via the unrolled SQL learning chain — proving the
    merge table is a deterministic function of the corpus, not a
    side-channel artifact."""
    _docs, merges = _merges(spark, sf_dir)
    return B.merges_to_df(spark, merges)


def q116_bpe_tokenize(spark, sf_dir):
    """Per-document token accounting under the learned merge table
    (``operators/bpe.py::tokenize_corpus``): word instances, a-z char
    mass, and BPE token total.  Plan: the 120-replace rewrite runs
    once per DISTINCT word (JVM codegen, no Python stage), then an
    equi-join back to per-doc instance counts — strategy size-decided
    by Catalyst, never a FORCED broadcast of the Heaps-unbounded
    distinct-word side (q111's lesson; plan + source pinned)."""
    docs, merges = _merges(spark, sf_dir)
    return B.tokenize_corpus(docs, merges).select(
        "doc_id", "n_words", "n_chars_az", "n_tokens"
    )


def q117_token_budget_bpe(spark, sf_dir):
    """q92's token-budget selection re-expressed over REAL learned
    tokens: fill 25% of the corpus's BPE-token total with the most
    in-vocabulary documents first (score = a-z chars per token — the
    learned table's compression ratio — doc_id tiebreak).  Same
    two-level cumsum operator as q92 (no unpartitioned window; plan
    test pins it)."""
    from defenda_data_lake_spark.operators.sampling import (
        token_budget_select,
    )

    docs, merges = _merges(spark, sf_dir)
    t = B.tokenize_corpus(docs, merges).select(
        "doc_id",
        F.col("n_tokens").alias("n_tok_b"),
        (
            F.col("n_chars_az").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("score"),
    )
    sel = token_budget_select(
        t,
        token_col="n_tok_b",
        key_col="score",
        tie_cols=["doc_id"],
        budget_ratio=(1, 4),
        buckets=32,
    )
    return sel.select(
        "doc_id",
        R("score", 6).alias("score"),
        F.col("n_tok_b").alias("n_tokens"),
        "cum_tokens",
    )


def q118_group_token_budget_bpe(spark, sf_dir):
    """q93's mix-spec selection re-expressed over REAL learned tokens:
    fill each LANGUAGE to 25% of its own BPE-token total, most
    in-vocabulary (chars/token) documents first.  This is the full
    production form of "30% code / 20% multilingual" — both the budget
    unit and the ranking come from the learned tokenizer, not
    whitespace proxies.  Scale: the tokenizer join is q116's plan; the
    selection adds ONE hash exchange on ``lang`` with every window
    group-bounded (same kernel as q93/q117 — no unpartitioned
    window)."""
    from defenda_data_lake_spark.operators.sampling import (
        group_token_budget_select,
    )

    docs, merges = _merges(spark, sf_dir)
    t = B.tokenize_corpus(docs, merges).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    t = t.select(
        "doc_id",
        "lang",
        "n_tokens",
        (
            F.col("n_chars_az").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("score"),
    )
    sel = group_token_budget_select(
        t,
        token_col="n_tokens",
        key_col="score",
        group_col="lang",
        tie_cols=["doc_id"],
        budget_ratio=(1, 4),
    )
    return sel.select(
        "doc_id", "lang", R("score", 6).alias("score"), "n_tokens",
        "cum_tokens",
    )


def q119_bpe_byte_fallback(spark, sf_dir):
    """Full-coverage token accounting with byte fallback
    (``operators/bpe.py::full_token_accounting``): qualifying a-z
    words cost their BPE tokens, oversized words and non-a-z content
    fall back to one token per UTF-8 byte, and ``n_vocab_words``
    counts instances the merge table collapses to ONE token (real-
    token OOV/fertility).  Every document appears — fallback bytes
    alone can be nonzero — so this is the accounting a
    no-char-unaccounted production pipeline meters against.  Scale:
    fallback columns are a narrow codegen projection; the BPE side is
    q116's plan; the stitch is one left join on the id.

    Oracle-parity contract (the q20 bare-int precedent): Spark and
    DuckDB must ``lower()`` the corpus identically — guaranteed on
    the generator's ASCII text; non-ASCII behavior is pinned
    Spark-vs-pure-Python in ``test_bpe.py`` instead (locale-sensitive
    case mappings like dotted-I could diverge ACROSS engines)."""
    docs, merges = _merges(spark, sf_dir)
    return B.full_token_accounting(docs, merges)


def q120_sequence_packing_bpe(spark, sf_dir):
    """q39's sequence packing re-expressed over REAL learned tokens:
    documents packed into ~512-BPE-token training bins by
    deterministic next-fit-decreasing within hash buckets.  Scale:
    per-bucket windows parallelize packing across the cluster (no
    global running state — the q39 argument), and the token counts
    come from q116's distinct-word plan, not a whitespace proxy."""
    docs, merges = _merges(spark, sf_dir)
    t = B.tokenize_corpus(docs, merges)
    d = t.select(
        "doc_id",
        F.col("n_tokens").alias("tokens"),
        (F.col("doc_id") % _Q120_BUCKETS).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("tokens").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = d.withColumn(
        "bin",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) / _Q120_BUDGET),
    )
    return binned.groupBy("bucket", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def q121_fertility_by_lang(spark, sf_dir):
    """Per-language tokenizer-fit datasheet
    (``operators/bpe.py::fertility_by_group``): BPE tokens per word
    (fertility) and the fraction of word instances the merge table
    collapses to one token (vocab_hit_rate), per ``lang`` — the signal
    a multi-corpus pipeline reads before granting a language its own
    vocabulary budget.  Every document counts (byte-fallback mass
    rides along), so a language of pure non-a-z text still reports its
    docs and byte mass with NULL ratios rather than vanishing.  Scale:
    q119's accounting plan plus ONE hash agg on the bounded language
    key; the ratios divide two exact BIGINT sums once, so the doubles
    are IEEE-identical cross-engine (the q106 precedent) and rounded
    6dp on both sides."""
    docs, merges = _merges(spark, sf_dir)
    rep = B.fertility_by_group(docs, merges, "lang")
    return rep.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens_bpe",
        "n_bytes_other",
        R("fertility", 6).alias("fertility"),
        R("vocab_hit_rate", 6).alias("vocab_hit_rate"),
    )
