"""BPE tokenizer family (operators/bpe.py + plans/catalog_bpe.py):
learner parity against the SQL oracle's unrolled re-learning chain,
Spark-expression vs pure-Python tokenizer row-for-row, the fixed-pass
fixpoint property, and the q116/q117 plan pins (no Python stage in the
rewrite, no broadcast of the Heaps-unbounded word table, no
unpartitioned corpus window)."""

import re

import duckdb
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators import bpe as B
from defenda_data_lake_spark.plans import catalog_bpe as CB

SF = "/root/testdata/sf0.001"


def _py_word_counts(con, max_word_len=B.MAX_WORD_LEN):
    wc = {}
    for (t,) in con.execute("SELECT lower(text) FROM documents").fetchall():
        for w in re.split(B.WORD_SPLIT_RE, t or ""):
            if w and len(w) <= max_word_len:
                wc[w] = wc.get(w, 0) + 1
    return wc


def test_learner_matches_duckdb_relearning_chain():
    """learn_bpe (the driver-side learner the Spark path uses) must
    equal the oracle's from-scratch SQL re-learning on the same
    corpus — the 'merge table is a pure function of the corpus'
    contract."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    sql_rows = con.execute(CB.Q115_SQL).fetchall()
    wc = _py_word_counts(con)
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[: B.LEARN_WORDS]
    merges = B.learn_bpe(top)
    assert [(r[0], r[1], r[2]) for r in sorted(sql_rows)] == [
        (i + 1, m, m.replace(" ", "")) for i, m in enumerate(merges)
    ]


def test_spark_expression_matches_python_tokenizer(spark):
    """The 120-chained-replace JVM expression and tokenize_py agree on
    every distinct corpus word — including unmerged, fully merged, and
    pathological-run words planted alongside."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = B.learn_bpe_spark(docs)
    planted = spark.createDataFrame(
        [("a" * 32,), ("erererererer",), ("z",), ("the",), ("q" * 31 + "a",)],
        "w string",
    )
    words = (
        B.corpus_words(docs).select("w").distinct().unionByName(planted).distinct()
    )
    got = {
        r["w"]: r["n"]
        for r in words.select(
            "w", B.token_count_expr(F.col("w"), merges).alias("n")
        ).collect()
    }
    for w, n in got.items():
        assert n == len(B.tokenize_py(w, merges)), w


def test_five_passes_reach_fixpoint_for_capped_words():
    """For words within MAX_WORD_LEN, N_PASSES replace passes always
    reach the true fixpoint (no occurrence of the pair remains), so
    'apply each merge to fixpoint' and 'apply exactly 5 passes' are
    the same algorithm on admissible input."""
    cases = ["a" * 32, "ab" * 16, "aab" * 10, "xyxyxyxyxyxyxyxy"]
    pairs = ["a a", "a b", "x y", "ab ab"]
    for w in cases:
        for pair in pairs:
            s = " " + " ".join(w) + " "
            pat = " " + pair + " "
            rep = " " + pair.replace(" ", "") + " "
            for _ in range(B.N_PASSES):
                s = s.replace(pat, rep)
            assert pat not in s, (w, pair)


def test_tokenize_corpus_accounting_invariants(spark):
    """Per-doc invariants: 1 <= n_tokens <= n_chars_az, n_words <=
    n_tokens' upper bound (each word >= 1 token), and char mass equals
    the raw a-z mass recomputed directly."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = B.learn_bpe_spark(docs)
    out = B.tokenize_corpus(docs, merges)
    bad = out.filter(
        (F.col("n_tokens") > F.col("n_chars_az"))
        | (F.col("n_tokens") < F.col("n_words"))
        | (F.col("n_words") < 1)
    ).count()
    assert bad == 0
    direct = (
        B.corpus_words(docs, keep=["doc_id"])
        .groupBy("doc_id")
        .agg(F.sum(F.length("w")).alias("chars"))
    )
    joined = out.join(direct, "doc_id").filter(
        F.col("n_chars_az") != F.col("chars")
    )
    assert joined.count() == 0


def test_merge_learning_deterministic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert B.learn_bpe_spark(docs) == B.learn_bpe_spark(docs)


def test_q116_plan_no_python_stage_no_forced_broadcast(spark):
    """The rewrite must be pure JVM (no Arrow/Python eval anywhere in
    the plan) and the word join an equi-join with NO nested loop /
    cartesian.  The join STRATEGY is deliberately left to Catalyst's
    size stats: at test scale the distinct-word side is provably tiny
    and broadcasting it is optimal; at 100 TB the same stats blow the
    threshold and it hash-joins (the operator never calls
    F.broadcast() — source-pinned below)."""
    import inspect

    df = CB.q116_bpe_tokenize(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    src = inspect.getsource(B._doc_word_token_join)
    assert "broadcast(" not in src


def _corpus_merges(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs, B.learn_bpe_spark(docs)


def test_full_token_accounting_matches_python_reference(spark):
    """Spark full_token_accounting row == the pure-Python reference on
    adversarial inputs: multibyte chars (fallback counts BYTES),
    oversized a-z runs, explicit-whitespace variants, digits/punct
    only, empty, and NULL text.  Chars are chosen to lower()
    identically in Python and the JVM (no locale-sensitive cases like
    dotted-I)."""
    _docs, merges = _corpus_merges(spark)
    planted = [
        (1, "Héllo wörld! café 世界 the the"),
        (2, "x" * 40 + " the end " + "y" * 33),
        (3, "  \t\nmixed   WHITESPACE\r\nhere\f ok"),
        (4, ""),
        (5, None),
        (6, "1234 !!! ??? $$$"),
        (7, "a" * 32),
    ]
    df = spark.createDataFrame(planted, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in B.full_token_accounting(df, merges).collect()
    }
    assert set(got) == {p[0] for p in planted}
    for doc_id, text in planted:
        want = B.full_token_accounting_py(text, merges)
        row = got[doc_id]
        for k, v in want.items():
            assert row[k] == v, (doc_id, k, row, want)


def test_full_accounting_consistent_with_tokenize_corpus(spark):
    """On the real corpus the BPE columns must equal tokenize_corpus's
    (same words, same merge table), and the total must be the exact
    column sum."""
    docs, merges = _corpus_merges(spark)
    full = B.full_token_accounting(docs, merges)
    tc = B.tokenize_corpus(docs, merges).select(
        "doc_id",
        F.col("n_words").alias("tw"),
        F.col("n_tokens").alias("tt"),
    )
    j = full.join(tc, "doc_id", "left")
    bad = j.filter(
        (F.coalesce(F.col("tw"), F.lit(0)) != F.col("n_words"))
        | (F.coalesce(F.col("tt"), F.lit(0)) != F.col("n_tokens_bpe"))
        | (
            F.col("n_tokens_total")
            != F.col("n_tokens_bpe") + F.col("n_long_chars") + F.col("n_bytes_other")
        )
        | (F.col("n_vocab_words") > F.col("n_words"))
    ).count()
    assert bad == 0


def test_fertility_by_group_matches_per_doc_accounting(spark):
    """The group report must be the exact per-doc accounting rolled
    up: cross-checked against full_token_accounting aggregated in
    pandas, including the NULL-ratio contract for a planted group
    with no qualifying words."""
    docs, merges = _corpus_merges(spark)
    planted = spark.createDataFrame(
        [(800001, "12345 !!!", "numeric"), (800002, "★★★", "numeric")],
        "doc_id long, text string, lang string",
    )
    corpus = docs.select("doc_id", "text", "lang").unionByName(planted)
    rep = {
        r["lang"]: r.asDict()
        for r in B.fertility_by_group(corpus, merges, "lang").collect()
    }
    acc = B.full_token_accounting(corpus, merges).toPandas().merge(
        corpus.select("doc_id", "lang").toPandas(), on="doc_id"
    )
    for lang, g in acc.groupby("lang"):
        row = rep[lang]
        assert row["n_docs"] == len(g)
        assert row["n_words"] == int(g["n_words"].sum())
        assert row["n_tokens_bpe"] == int(g["n_tokens_bpe"].sum())
        assert row["n_bytes_other"] == int(g["n_bytes_other"].sum())
        nw, nt = int(g["n_words"].sum()), int(g["n_tokens_bpe"].sum())
        if nw:
            assert abs(row["fertility"] - nt / nw) < 1e-12
            assert 1.0 <= row["fertility"]
            assert 0.0 <= row["vocab_hit_rate"] <= 1.0
        else:
            assert row["fertility"] is None
            assert row["vocab_hit_rate"] is None
    assert rep["numeric"]["fertility"] is None  # wordless group


def test_clear_table_cache_clears_merge_memo(spark):
    """After regenerating parquet under a cached sf_dir the prescribed
    clear_table_cache() must also forget learned merge tables — a
    stale table would silently diverge from the oracle's from-scratch
    re-learning."""
    from defenda_data_lake_spark.plans.catalog_shared import (
        clear_table_cache,
    )

    B._MERGES_CACHE[(id(spark), "some_dir", 24)] = ["a b"]
    clear_table_cache()
    assert B._MERGES_CACHE == {}


def test_q119_plan_pure_jvm_no_cartesian(spark):
    """Byte-fallback accounting must stay whole-stage-codegen: no
    Python/Arrow eval anywhere, no cartesian/NLJ, and the distinct-
    word join never source-forces a broadcast (q116's contract)."""
    import inspect

    df = CB.q119_bpe_byte_fallback(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "broadcast(" not in inspect.getsource(B.full_token_accounting)
    assert "broadcast(" not in inspect.getsource(B._doc_word_token_join)


def test_q118_q120_group_bounded_windows(spark):
    """The per-language budget window and the per-bucket packing
    window are both hash-partitioned by their group — no global
    single-partition window over the corpus."""
    for fn, part in (
        (CB.q118_group_token_budget_bpe, "hashpartitioning(lang"),
        (CB.q120_sequence_packing_bpe, "hashpartitioning(bucket"),
    ):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert part in plan, (fn.__name__, part)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        for seg in plan.split("Exchange SinglePartition")[1:]:
            head = seg[:600]
            assert "HashAggregate" in head or "FileScan" not in head


def test_q117_no_unpartitioned_corpus_window(spark):
    """Same pin as q92's plan test: the data-bearing cumulative-sum
    window is partitioned by the quantile bucket, and every
    SinglePartition exchange sits over the tiny bucket-sums aggregate,
    never directly over a corpus scan."""
    df = CB.q117_token_budget_bpe(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_tb_bucket" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for seg in plan.split("Exchange SinglePartition")[1:]:
        head = seg[:600]
        assert "HashAggregate" in head or "FileScan" not in head


def _no_op_pad() -> list[str]:
    """Merges of uppercase symbols, which never occur in the lowercased
    a-z word stream: twice the alphabet pushes a learned table past the
    expr ceiling without changing any token count."""
    pad = [f"Q {c}" for c in "abcdefghijklmnopqrstuvwxyz"]
    return pad + pad


def test_arrow_kernel_matches_expr_kernel(spark):
    """The Arrow token-count kernel (production-sized merge tables)
    and the codegen replace chain produce identical (w, n_tok) rows —
    same literal-replace semantics, different execution strategy.  The
    learned table runs the chain; padded with no-op merges past
    MAX_EXPR_REPLACES, the same table runs the Arrow kernel."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = B.learn_bpe_spark(docs)
    expr_rows = sorted(map(tuple, B.word_token_counts(docs, merges).collect()))
    arrow_rows = sorted(
        map(tuple, B.word_token_counts(docs, merges + _no_op_pad()).collect())
    )
    assert expr_rows == arrow_rows and len(expr_rows) > 20


def test_kernel_auto_switches_past_expr_ceiling(spark):
    """auto = expr under MAX_EXPR_REPLACES nested calls (plan has no
    Python stage), arrow past it (plan has one ArrowEvalPython) — and
    a 256-merge accounting that would StackOverflow the Column
    converter as a chain runs end-to-end on the arrow path."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    small = B.learn_bpe_spark(docs)  # 24 merges: 120 replaces
    plan_small = (
        B.word_token_counts(docs, small)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan_small

    # pad with no-op merges to push the chain past the converter
    # ceiling without depending on the corpus's vocabulary size
    big = small + _no_op_pad()
    assert len(big) * B.N_PASSES > B.MAX_EXPR_REPLACES
    wtc = B.word_token_counts(docs, big)
    plan_big = wtc._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_big
    rows = sorted(map(tuple, wtc.collect()))
    # the pad merges are no-ops, so the arrow result must equal the
    # 24-merge expr result row-for-row
    assert rows == sorted(
        map(tuple, B.word_token_counts(docs, small).collect())
    )
    # ...and the full accounting composes with the arrow path
    total = (
        B.tokenize_corpus(docs, big).agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert total > 0
