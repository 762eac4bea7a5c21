"""Deduplication operators for large-scale training-data pipelines.

All of these are Spark-first compositions of built-in expressions — no
Python UDFs in the hot path except SimHash (bit-twiddling, Arrow-batched).

Scale notes (100 TB):

* ``exact_duplicate_groups`` — one hash-shuffle on a 128-bit digest of
  the content, not the content itself; map-side partial aggregation
  kicks in automatically.
* ``minhash_signatures`` — one narrow projection (shingles exploded and
  re-aggregated per doc within a single shuffle); ``k`` min-aggregates
  over md5 digests.  Banding then joins docs on band signature, so the
  candidate join is equi (hash join), never a cross product.
* ``ngram_jaccard_pairs`` — the classic shingle-inverted-index
  self-join (one reused exchange; AQE skew splitting fans hot keys).
  The ``doc_a < doc_b`` predicate halves the pair space; hot shingles
  (stopword runs) are the skew risk — ``max_shingle_docs`` drops
  degenerate posting lists (a shingle shared by thousands of docs
  contributes no discriminating signal but quadratic pairs).
* SimHash — signatures are 64-bit ints; near-dup candidates bucket on
  rotated bit-blocks, Hamming distance verified with ``bit_count``.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: per-worker shingle-hash memo bound: n-grams repeat heavily within a
#: corpus (9.6x measured at sf0.1), so memoizing md5 turns most hash
#: calls into dict hits; the bound keeps an adversarially diverse
#: shingle stream from growing the dict past a few hundred MB.
#: The memo dicts live at MODULE scope, i.e. per Python worker process:
#: Spark reuses workers across tasks and queries
#: (spark.python.worker.reuse), so a long-lived executor amortizes the
#: hash cost of the corpus's hot vocabulary across every task it runs —
#: the same economics as a dictionary-encoded column.  Purely a cache
#: (values are content-addressed and deterministic), so task retries /
#: speculative duplicates cannot observe divergent results.
_HASH_CACHE_MAX = 4_000_000
_SHINGLE_I64_CACHE: dict[str, int] = {}
_MINHASH_HEX_CACHE: dict[tuple, dict[str, bytes]] = {}
_SIMHASH_D8_CACHE: dict[str, bytes] = {}


def normalized_text(col: Column) -> Column:
    """Canonical text form shared by all dedup operators: lowercase,
    collapse runs of whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def first_occurrence_key(op_name: str) -> Column:
    """Sortable corpus-first-occurrence key over ``(id, start)``
    columns: both zero-padded to full non-negative int64 width (lpad
    TRUNCATES longer inputs, which would corrupt the ordering; 20
    digits covers 2^63-1), so any engine's plain ``min`` replays the
    first-occurrence choice.  Ids must be non-negative AND non-null —
    a '-' prefix does not string-sort numerically and a NULL key
    silently drops out of ``min()``; the CASE raises instead of
    corrupting the order.  Same contract as the oracle replays."""
    safe_id = F.expr(
        f"CASE WHEN id >= 0 THEN CAST(id AS STRING) ELSE raise_error(CONCAT("
        f"'{op_name}: id must be a non-negative non-null integer "
        "(zero-padded first-occurrence key); got ', "
        "coalesce(CAST(id AS STRING), 'NULL'))) END"
    )
    return F.concat(
        F.lpad(safe_id, 20, "0"),
        F.lit(":"),
        F.lpad(F.col("start").cast("string"), 9, "0"),
    )


def word_shingle_postings(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles of each ``text`` with the document's
    shingle-set size carried on every row: (id, shingle, set_size),
    ``id`` the ``doc_id``.

    ``shingle`` is a 64-bit hash of the n-gram, not the string: the
    little-endian value of the first 8 md5 digest bytes — exactly
    DuckDB's ``md5_number_upper``, so SQL oracles replay it bit-for-bit
    (the same scheme the SimHash kernel uses).  Hashed postings shuffle
    ~5x fewer bytes and sort/join as fixed-width longs instead of ~40-
    byte strings — the difference between a string-keyed and an
    int-keyed inverted index at 100 TB.  Set sizes count DISTINCT
    HASHES (collisions are astronomically rare and, because the oracle
    hashes identically, never a divergence).

    Arrow-batched pandas generation, NOT a Catalyst higher-order
    function: ``transform(sequence(...), slice(...))`` is O(L²) per doc
    and HOF lambdas run interpreted (outside codegen) — measured ~10x
    slower than this narrow pandas stage.  A document's shingles are
    de-duplicated inside its own batch row, so no global ``distinct``
    shuffle is needed; the whole operator is shuffle-free.  Carrying
    ``set_size`` inline lets Jaccard avoid a separate sizes join.

    The md5 call is memoized per worker: natural-language corpora reuse
    n-grams heavily (measured 9.6x instance/distinct ratio on the sf0.1
    documents), so a shingle→hash dict turns ~90% of the md5 calls —
    the kernel's dominant CPU — into dict hits.  The cache is bounded
    (cleared at ``_HASH_CACHE_MAX`` entries, ~300 MB worst case) so a
    100 TB run with an unbounded distinct-shingle set cannot OOM the
    Python worker; eviction only costs re-hashing."""
    import hashlib
    import struct

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        unpack = struct.Struct("<q").unpack_from
        # resolve the per-process memo through a worker-side import so
        # every task in a reused worker shares ONE dict (closure capture
        # would pickle a private empty copy per task)
        from defenda_data_lake_spark.operators import dedup as _mod

        cache = _mod._SHINGLE_I64_CACHE

        def shingle_hash(g: str) -> int:
            h = cache.get(g)
            if h is None:
                if len(cache) >= _HASH_CACHE_MAX:
                    cache.clear()
                # little-endian signed view of the first 8 digest bytes
                h = cache[g] = unpack(md5(g.encode("utf-8")).digest())[0]
            return h

        for batch in batches:
            ids: list = []
            hashes: list[int] = []
            sizes: list[int] = []
            for doc_id, text in zip(batch["id"], batch["text"]):
                # .split() with no argument already collapses/trims all
                # whitespace runs, so tokens equal normalized_text's
                words = str(text).lower().split()
                if not words:
                    words = [""]
                if len(words) >= n:
                    uniq = {
                        " ".join(words[j : j + n]) for j in range(len(words) - n + 1)
                    }
                else:
                    uniq = {" ".join(words)}
                uniq.discard("")
                hs = {shingle_hash(g) for g in uniq}
                ids.extend([doc_id] * len(hs))
                hashes.extend(hs)
                sizes.extend([len(hs)] * len(hs))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "shingle": pd.Series(hashes, dtype="int64"),
                    "set_size": pd.Series(sizes, dtype="int64"),
                }
            )

    from pyspark.sql import types as T

    from defenda_data_lake_spark.utils.partitioning import (
        ensure_min_parallelism,
        kernel_parallelism,
    )

    narrow = df.select(F.col("doc_id").cast("long").alias("id"), "text")
    # single-file inputs would run this stage (and everything fed by
    # it) on one task — spread first, but only in proportion to the
    # bytes of work (kernel_parallelism): exchanging a sub-MB corpus to
    # 32 tasks costs more than the kernel itself
    return ensure_min_parallelism(narrow, kernel_parallelism(df)).mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("shingle", T.LongType()),
                T.StructField("set_size", T.LongType()),
            ]
        ),
    )


def word_shingles(df: DataFrame) -> DataFrame:
    """Distinct word trigram shingle hashes per document: (id, shingle)."""
    return word_shingle_postings(df, 3).select("id", "shingle")


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Exact dedup via content digest: one row per distinct ``text``
    with its cardinality and canonical (min ``doc_id``) representative.
    Filter ``dup_count > 1`` for the duplicate groups."""
    return (
        df.select(
            F.md5(normalized_text(F.col("text"))).alias("content_hash"),
            F.col("doc_id").alias("id"),
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("id").alias("keep_id"),
        )
    )


#: MinHash families per signature (``h0`` … ``h7``)
MINHASH_FAMILIES = 8


def minhash_signatures(df: DataFrame) -> DataFrame:
    """MinHash signature of each document's ``text`` word trigrams,
    keyed by its ``doc_id``.  A document whose text yields no shingles
    gets no row (the agg-form contract).

    Hash family i is the i-th 32-bit hex chunk of ``md5(p || shingle)``
    where p cycles through ``'' , 'x', 'xx', …`` every 4 families: one
    md5 digest yields FOUR independent-enough 32-bit families (md5's
    output bits are uniform and unbiased per chunk), so 8 families cost
    2 md5 calls per shingle instead of 8 — the hashing is the kernel's
    CPU, so this is a direct ~2.5x on the signature stage.  Chunks are
    compared as fixed-width lowercase hex, so the per-family min is
    identical under lexicographic and numeric order and any engine with
    md5 + substr replays it bit-for-bit (Q31's DuckDB oracle does).

    Fused kernel: shingling AND the per-family min-hash happen in one
    Arrow-batched pandas stage, one output row per document.  The
    unfused formulation (explode shingles → groupBy(id).agg(8 x
    min(md5))) pays a 50x-larger shuffle (every shingle row) and lands
    in SortAggregate (string agg buffers are immutable, so Spark can't
    hash-aggregate them) — measured ~2x slower end-to-end.  A doc's
    shingles never need to leave the task that read it, so the fused
    stage is shuffle-free and linearly scalable."""
    import hashlib

    import numpy as np
    from pyspark.sql import types as T

    from defenda_data_lake_spark.utils.partitioning import (
        ensure_min_parallelism,
        kernel_parallelism,
    )

    n_digests = (MINHASH_FAMILIES + 3) // 4
    prefixes = [b"x" * d for d in range(n_digests)]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        # shingle → concatenated hex of all its family digests, memoized
        # per worker process (same rationale + bound as
        # word_shingle_postings: ~90% of shingle instances are repeats,
        # and md5 is the kernel); keyed by n_digests since the hex row
        # shape depends on it
        from defenda_data_lake_spark.operators import dedup as _mod

        cache = _mod._MINHASH_HEX_CACHE.setdefault(n_digests, {})

        # the shared 4M-entry bound was sized for 8-byte values; hex
        # rows here are n_digests*32 bytes each, so scale the entry
        # cap down to keep the same ~hundreds-of-MB memory envelope
        # per worker
        cache_max = max(_HASH_CACHE_MAX // (n_digests * 4), 50_000)

        def shingle_hex(s: str) -> bytes:
            row = cache.get(s)
            if row is None:
                if len(cache) >= cache_max:
                    cache.clear()
                e = s.encode()
                row = cache[s] = b"".join(
                    md5(pre + e).hexdigest().encode("ascii") for pre in prefixes
                )
            return row

        for batch in batches:
            ids: list = []
            cols: list[list[str]] = [[] for _ in range(MINHASH_FAMILIES)]
            for doc_id, text in zip(batch["id"], batch["text"]):
                # .split() with no argument already collapses/trims all
                # whitespace runs, so tokens equal normalized_text's
                words = str(text).lower().split()
                if not words:
                    words = [""]
                if len(words) >= 3:
                    uniq = {
                        " ".join(words[j : j + 3]) for j in range(len(words) - 2)
                    }
                else:
                    uniq = {" ".join(words)}
                uniq.discard("")
                if not uniq:
                    continue  # agg-form contract: no shingles, no row
                # vectorized per-family min: fixed-width lowercase hex
                # compares identically under lexicographic and numeric
                # order, so the min of each 8-hex-char family chunk is
                # the min of its big-endian uint64 view — one numpy
                # column-min over all shingles instead of MINHASH_FAMILIES
                # Python min() passes over sliced strings
                hexcat = b"".join(shingle_hex(s) for s in uniq)
                arr = np.frombuffer(hexcat, dtype=">u8").reshape(
                    len(uniq), n_digests * 4
                )
                mins = arr[:, :MINHASH_FAMILIES].min(axis=0)
                mins = mins.astype(">u8").tobytes()
                for i in range(MINHASH_FAMILIES):
                    cols[i].append(mins[i * 8 : (i + 1) * 8].decode("ascii"))
                ids.append(doc_id)
            yield pd.DataFrame(
                {"id": ids, **{f"h{i}": col for i, col in enumerate(cols)}}
            )

    narrow = df.select(F.col("doc_id").alias("id"), "text")
    # the id keeps its input type (long doc ids and string event ids
    # both work); consumers that need a specific type cast at their end
    return ensure_min_parallelism(narrow, kernel_parallelism(df)).mapInPandas(
        gen,
        schema=T.StructType(
            [T.StructField("id", df.schema["doc_id"].dataType)]
            + [
                T.StructField(f"h{i}", T.StringType())
                for i in range(MINHASH_FAMILIES)
            ]
        ),
    )


def band_structs_expr(hs: Sequence[str], bands: int) -> Column:
    """The LSH banding expression shared by the LSH operators: an array
    of (band, band_sig) structs where ``band_sig`` is the '|'-joined hex
    minhashes of that band.  ONE definition — the q31 and q77 oracles
    depend on every formulation banding identically."""
    if len(hs) % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({len(hs)})")
    rows_per_band = len(hs) // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(h)
                        for h in hs[b * rows_per_band : (b + 1) * rows_per_band]
                    ],
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame, max_bucket_docs: int | None = None
) -> DataFrame:
    """LSH banding over the 8-family word-trigram MinHash signatures in
    2 bands: docs agreeing on all hashes of any band become a candidate
    ``doc_id`` pair (id_a < id_b).  Equi-join on the
    band signature — no cross product.

    ``max_bucket_docs`` skips buckets whose membership exceeds the
    bound — the LSH twin of ``ngram_jaccard_pairs``'s
    ``max_shingle_docs`` guard.  A degenerate bucket (a boilerplate
    cluster where millions of near-empty docs share one band
    signature — a certainty in a 100 TB crawl) would otherwise
    materialize one giant member array AND emit |bucket|² pairs; a
    capped bucket emits nothing, on the argument that a signature
    shared by more docs than the cap carries no discriminating signal
    (exact-dup handling belongs to ``exact_duplicate_groups``, which
    is linear).  The guard is a membership count over the SAME
    (band, band_sig) partitioning the bucket aggregation needs, so it
    adds no shuffle — and it runs BEFORE collect_list, so the giant
    array is never built."""
    # one row per (doc, band) via explode — NOT a union of per-band
    # selects, so the signature kernel runs once, not per band
    sigs = minhash_signatures(df)
    band_structs = band_structs_expr(
        [f"h{i}" for i in range(MINHASH_FAMILIES)], 2
    )
    banded = sigs.select("id", F.explode(band_structs).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )
    # bucket-grouped pair expansion instead of a self-join: ONE hash
    # aggregation collects each LSH bucket's member list, then pairs
    # explode JVM-side.  Versus the sort-merge self-join this drops both
    # per-side sorts, halves the exchange traffic (one write, one read),
    # and needs no exchange-reuse machinery — measured ~20% faster at
    # sf0.1 and strictly fewer shuffled bytes at scale.
    from defenda_data_lake_spark.utils.partitioning import scaled_keyed_partitions

    banded = banded.repartition(scaled_keyed_partitions(df), "band", "band_sig")
    if max_bucket_docs is not None:
        banded = (
            banded.withColumn(
                "n_", F.count("*").over(Window.partitionBy("band", "band_sig"))
            )
            .filter(F.col("n_") <= max_bucket_docs)
            .drop("n_")
        )
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_bucket_dedupe(df: DataFrame) -> DataFrame:
    """Claimant-based near-dedup over 8 MinHash families of word
    trigrams in 2 bands: per LSH bucket, the first document by
    ``doc_id``-as-string (string order deliberately, the order Q77's
    oracle replays) claims the bucket; every other member whose FULL
    minhash signature agrees with the claimant's on at least half of
    the families (the MinHash estimate of
    Jaccard similarity) is marked a duplicate of it.  A doc flagged in
    several bands resolves ``dup_of`` to the string-min claimant.

    Versus ``minhash_lsh_candidates`` + exact verify: candidate pairs
    compare all bucket members pairwise and need a second look at the
    documents; the claimant form compares each member against ONE
    representative using only the signatures already in hand.

    Returns the input rows plus ``dup_of`` (string claimant id, NULL
    for survivors/claimants).  Plan: signature kernel (shuffle-free)
    → one exchange on (band, band_sig) where a window pass picks the
    claimant → per-doc min aggregation → one join back to the input."""
    sigs = minhash_signatures(df)
    hs = [f"h{i}" for i in range(MINHASH_FAMILIES)]
    banded = sigs.select(
        F.col("id").cast("string").alias("id_s"),
        *hs,
        F.explode(band_structs_expr(hs, 2)).alias("bs"),
    ).select("id_s", *hs, "bs.band", "bs.band_sig")

    w_claim = Window.partitionBy("band", "band_sig").orderBy("id_s")
    claimed = banded.select(
        "id_s",
        *hs,
        F.first("id_s").over(w_claim).alias("first_id"),
        *[F.first(h).over(w_claim).alias(f"c_{h}") for h in hs],
    )
    agreement = sum(
        F.when(F.col(h) == F.col(f"c_{h}"), 1).otherwise(0) for h in hs
    ) / F.lit(float(len(hs)))
    flagged = claimed.filter(
        (F.col("id_s") != F.col("first_id"))
        & (agreement >= F.lit(0.5))
    )
    dup_map = flagged.groupBy("id_s").agg(F.min("first_id").alias("dup_of"))
    return df.join(
        dup_map, F.col("doc_id").cast("string") == dup_map["id_s"], "left"
    ).drop("id_s")


def _word_chunks(df: DataFrame, chunk_words: int) -> DataFrame:
    """Non-overlapping word-chunk explode shared by the chunk-granularity
    operators: ``(id, start, chunk)`` rows, one per ``chunk_words``-word
    window of the normalized ``text`` (empty docs yield one empty
    chunk), ``id`` the ``doc_id``.
    Pure JVM — split + sequence + explode + slice, no interpreted HOF
    over O(L²) substrings."""
    norm = normalized_text(F.col("text"))
    w = F.split(norm, " ")
    t = df.select(
        F.col("doc_id").alias("id"), w.alias("_w"), F.size(w).alias("_n")
    )
    starts = F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1)), F.lit(chunk_words))
    return t.select(
        "id",
        F.explode(starts).alias("start"),
        "_w",
    ).select(
        "id",
        "start",
        F.array_join(F.slice(F.col("_w"), F.col("start"), chunk_words), " ").alias(
            "chunk"
        ),
    )


def chunk_level_dedupe(df: DataFrame) -> DataFrame:
    """Paragraph-granularity dedup (the Dolma/CCNet pipeline step,
    adapted to word-chunks since this corpus has no newlines): split
    each document's ``text`` into NON-overlapping 50-word chunks,
    drop every chunk whose exact normalized content already occurred
    EARLIER in the corpus (first occurrence = min (doc, position) —
    encoded as one zero-padded sortable string so any engine's plain
    ``min`` replays the choice), and reassemble each document from its
    surviving chunks.  Catches copied boilerplate paragraphs inside
    otherwise-distinct documents — which document-level dedup misses
    entirely.

    Returns ``(id, n_chunks, n_dropped, clean_text)``.

    Plan shape (scale): chunking is pure JVM (split + explode + slice;
    no interpreted HOF over O(L²)); dedup is ONE window count over the
    chunk-hash partitioning (shuffle keyed by md5 — uniform, skew-
    free); reassembly is one groupBy(doc) with a sorted collect_list
    bounded by the document's own chunk count.  Two exchanges total,
    both on high-cardinality keys."""
    ex = _word_chunks(df, 50)
    occ = first_occurrence_key("chunk_level_dedupe")
    hashed = ex.select("id", "start", "chunk", occ.alias("occ"), F.md5("chunk").alias("h"))
    first_occ = F.min("occ").over(Window.partitionBy("h"))
    flagged = hashed.select(
        "id", "start", "chunk", (F.col("occ") != first_occ).alias("is_dup")
    )
    return flagged.groupBy("id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_dup"), F.struct("start", "chunk")
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def boilerplate_chunk_removal(df: DataFrame, min_doc_freq: int = 3) -> DataFrame:
    """C4/CCNet boilerplate-line removal, adapted to 20-word chunks
    (this corpus has no newlines): a ``text`` chunk whose exact
    normalized content occurs in at least ``min_doc_freq`` DISTINCT documents is
    boilerplate (headers, nav bars, license blurbs) and is removed from
    EVERY document — including the first occurrence, which is what
    distinguishes this from :func:`chunk_level_dedupe` (first
    occurrence wins there).  The C4 paper's rule is the three-sentence
    span seen in ≥3 documents; ``min_doc_freq`` parameterizes that.

    Returns ``(id, n_chunks, n_boiler, clean_text)``.

    Plan shape (scale): chunking is pure JVM (split + explode + slice);
    document frequency is ONE aggregation keyed by the md5 chunk hash
    (count(DISTINCT id) — two-phase under the hood, uniform skew-free
    keys); the frequency table hash-joins back on the same key (the
    chunk-frequency table is Heaps-law unbounded, so it is never
    broadcast); reassembly is one groupBy(doc) with a sorted
    collect_list bounded by the document's own chunk count.  No
    first-occurrence ordering is needed, so — unlike
    ``chunk_level_dedupe`` — ids carry no sign/NULL constraint.

    NULL text is treated as empty text (one empty chunk): a bare
    ``md5(chunk)`` would hash NULL to NULL and the inner join on the
    hash would silently DROP the document from the cleaned corpus —
    violating the no-row-lost contract every other operator here
    honors."""
    ex = _word_chunks(
        df.withColumn("text", F.coalesce(F.col("text"), F.lit(""))), 20
    )
    hashed = ex.select("id", "start", "chunk", F.md5("chunk").alias("h"))
    freq = hashed.groupBy("h").agg(F.count_distinct("id").alias("df_docs"))
    flagged = hashed.join(freq, "h").select(
        "id",
        "start",
        "chunk",
        (F.col("df_docs") >= min_doc_freq).alias("is_boiler"),
    )
    return flagged.groupBy("id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_boiler"), F.struct("start", "chunk")
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def _sharded_postings(df: DataFrame, max_shingle_docs: int | None) -> DataFrame:
    """Word-trigram shingle postings repartitioned by shingle with the
    optional hot-shingle guard applied — the shared front half of every
    inverted-index operator here.

    The keyed repartition pins parallelism: the postings shuffle is
    small in BYTES but the pair/claim work it feeds is heavy in CPU,
    so AQE's byte-based coalescing would funnel it into one task.  An
    explicit keyed repartition is user-specified — AQE leaves it
    alone — and downstream joins/aggs on the same key reuse the ONE
    exchange.  The count scales with input size (clamped to the
    cluster's parallelism band) — a flat defaultParallelism
    over-partitions small corpora.

    The guard is a document-frequency window over the SAME shingle
    partitioning the consumers need: it adds no shuffle, no broadcast
    build, and no second run of the shingle kernel.  (An aggregate +
    anti-join formulation would avoid the window's sort when the
    downstream join is a shuffled-hash build, but referencing the
    postings subtree from a second aggregation branch defeats exchange
    reuse — the shingle kernel ran twice, which costs more than the
    sort saves.)"""
    from defenda_data_lake_spark.utils.partitioning import scaled_keyed_partitions

    postings = word_shingle_postings(df, 3)
    postings = postings.repartition(scaled_keyed_partitions(df), "shingle")
    if max_shingle_docs is not None:
        postings = postings.withColumn(
            "df_", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("df_") <= max_shingle_docs).drop("df_")
    return postings


def _postings_pair_counts(
    df: DataFrame,
    max_shingle_docs: int | None,
    extra_on: Column | None = None,
) -> DataFrame:
    """Inverted-index pair intersection: self-join the sharded postings
    on shingle (both sides the identical subplan, so the exchange is
    built once and reused; ``pair_join_hint`` picks shuffled-hash vs
    streaming sort-merge by input size — never a broadcast build, which
    would materialize and ship the postings subtree a second time) and
    aggregate per (id_a, id_b).
    Returns ``(id_a, id_b, inter_size, size_a, size_b)``."""
    from defenda_data_lake_spark.utils.partitioning import pair_join_hint

    postings = _sharded_postings(df, max_shingle_docs).hint(
        pair_join_hint(df)
    )
    a = postings.alias("a")
    b = postings.alias("b")
    on = [
        F.col("a.shingle") == F.col("b.shingle"),
        F.col("a.id") < F.col("b.id"),
    ]
    if extra_on is not None:
        on.append(extra_on)
    return (
        a.join(b, on=on)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("inter_size"),
            F.min(F.col("a.set_size")).alias("size_a"),
            F.min(F.col("b.set_size")).alias("size_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Exact word-trigram Jaccard similarity of ``text`` for all
    candidate ``doc_id`` pairs sharing at least one shingle
    (inverted-index join), keeping pairs with ``jaccard >= threshold``.

    ``max_shingle_docs`` drops shingles whose posting list exceeds the
    bound — the standard guard against quadratic blowup on ubiquitous
    shingles at scale.

    Plan shape: ONE self-join over the postings (both sides the
    identical subplan, so the shuffle exchange on ``shingle`` is built
    once and reused) + one pair aggregation.  ``set_size`` rides along
    on every posting row, so no separate sizes join is needed.

    Deliberately NOT the bucket-grouped collect_list + double-explode
    formulation used by the minhash/SimHash band joins: Jaccard's
    pair-expansion volume is quadratic in real duplicate density, and
    the grouped form (a) copies the whole member array into every
    exploded row (O(L²) array-payload amplification) and (b) pins each
    hot shingle's entire L² expansion to one task, where the
    sort-merge join streams small rows and AQE's skew splitting can
    fan a hot key across tasks.  Measured at 8x-replicated sf0.1:
    grouped 20.6 s vs this join 8.6 s for identical output (the
    grouped form only wins ~25% at 1x, where fixed overhead
    dominates).  The band joins keep the grouped form because their
    buckets carry bare ids and stay small by construction."""
    # size-bound prune inside the join: jaccard <= min(|A|,|B|)/max(|A|,|B|)
    # (intersection can't exceed the smaller set), so pairs whose size
    # ratio is already below the threshold never reach the aggregation.
    # Output-identical: every pruned pair would fail the final filter.
    size_bound = F.least(
        F.col("a.set_size"), F.col("b.set_size")
    ) >= F.lit(threshold) * F.greatest(F.col("a.set_size"), F.col("b.set_size"))
    pairs = _postings_pair_counts(df, max_shingle_docs, extra_on=size_bound)
    return (
        pairs.select(
            "id_a",
            "id_b",
            (
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame, max_shingle_docs: int | None = None
) -> DataFrame:
    """Near-containment ``doc_id`` pairs: ``containment = |A ∩ B| /
    min(|A|, |B|)`` over word-trigram shingle sets of ``text``, keeping
    pairs at or above 0.8.  Catches a document embedded inside a larger one
    (quotes, concatenated crawls, page-plus-boilerplate) that Jaccard
    misses — a small doc fully contained in a big one has high
    containment but low Jaccard.

    Same postings self-join plan shape as ``ngram_jaccard_pairs`` (one
    reused exchange on shingle, streaming sort-merge pair expansion,
    one pair aggregation — see that docstring for why the
    bucket-grouped form loses at scale).  There is no size-ratio prune
    here — containment is size-asymmetric by design, so no pair can be
    excluded by sizes alone."""
    pairs = _postings_pair_counts(df, max_shingle_docs)
    return pairs.select(
        "id_a",
        "id_b",
        (
            F.col("inter_size")
            / F.least(F.col("size_a"), F.col("size_b")).cast("double")
        ).alias("containment"),
    ).filter(F.col("containment") >= 0.8)


def ngram_novelty(df: DataFrame) -> DataFrame:
    """Per-document trigram novelty: of a ``text``'s distinct shingles,
    how many appear in NO document with a smaller id — the standard
    incremental-dedup signal for ordered corpora (crawl snapshots,
    dated dumps): a document whose shingles are all already claimed by
    earlier documents adds nothing to the corpus.

    Returns ``(doc_id, n_shingles, n_novel, novelty_frac)`` for every
    document with at least one shingle.

    Scale notes (100 TB): the shingle kernel runs ONCE; the min-id
    claim per shingle is a hash aggregation whose map-side partial min
    truly absorbs hot shingles (a min is a scalar — unlike a
    collect_list, which would materialize a hot shingle's entire
    posting list in one aggregation row and OOM), and the claims join
    back to the postings over the SAME reused exchange.  Two narrow
    long-keyed shuffles total; every intermediate row is fixed-width."""
    from defenda_data_lake_spark.utils.partitioning import pair_join_hint

    postings = _sharded_postings(df, None).hint(
        pair_join_hint(df)
    )
    claims = postings.groupBy("shingle").agg(F.min("id").alias("first_doc"))
    per_doc = (
        postings.join(claims, "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("id") == F.col("first_doc")).cast("long")
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (F.col("n_novel") / F.col("n_shingles").cast("double")).alias(
            "novelty_frac"
        ),
    )


# ------------------------------------------------------- decontamination


def ngram_contamination(train: DataFrame, test: DataFrame) -> DataFrame:
    """Train/test contamination report: for every (train doc, test doc)
    pair sharing at least one word 8-gram of ``text`` (documents
    keyed by ``doc_id``), the count of shared
    distinct n-grams and the fraction of the TEST doc's n-gram set they
    cover — the standard eval-decontamination primitive (long n-grams,
    n≈8-13, so incidental phrase reuse doesn't flag).

    Returns ``(train_doc, test_doc, n_shared, test_overlap)``.

    Scale notes (100 TB): inverted-index equi-join on the 64-bit
    shingle hash — never a cross product.  The test side (an eval
    suite) is typically millions of times smaller than the training
    corpus, so its postings broadcast and the train corpus streams
    through map-side; at worst it's one hash-partitioned join keyed by
    shingle.  Long n-grams make ubiquitous shingles rare."""
    tp = word_shingle_postings(train, 8).select(
        F.col("id").alias("train_doc"), "shingle"
    )
    sp = word_shingle_postings(test, 8).select(
        F.col("id").alias("test_doc"),
        "shingle",
        F.col("set_size").alias("test_size"),
    )
    return (
        tp.join(sp, "shingle")
        .groupBy("train_doc", "test_doc")
        .agg(
            F.count("*").alias("n_shared"),
            F.min("test_size").alias("test_size"),
        )
        .select(
            "train_doc",
            "test_doc",
            "n_shared",
            (F.col("n_shared") / F.col("test_size")).alias("test_overlap"),
        )
    )


# ------------------------------------------------------ duplicate clusters


def connected_components(
    pairs: DataFrame, all_ids: DataFrame | None = None
) -> DataFrame:
    """Connected components over an ``(id_a, id_b)`` pair list: every node gets the
    MINIMUM id reachable from it as its component label — the step that
    turns near-duplicate *pairs* (MinHash/SimHash/Jaccard output) into
    duplicate *clusters* a corpus dedup can act on.

    Returns ``(id, label)``; nodes from ``all_ids`` that appear in no
    pair keep themselves as label (singleton clusters).

    Algorithm: iterated min-label propagation with pointer jumping.
    Each round runs (1) one-hop propagation — a node takes the min of
    its own and its neighbors' labels (one equi-join on ``dst`` + one
    keyed aggregation) — and (2) pointer jumping — ``label(v) :=
    label(label(v))`` (one equi-join of the label table with itself).
    Pointer jumping halves chain depth per round, so convergence is
    O(log diameter) rounds, not O(diameter) — the same doubling idea as
    the large-star/small-star MapReduce formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  The
    result is EXACT (fixed point: all neighbors share a label and every
    label is a root), so the operator is oracle-checkable.

    Scale notes (100 TB): every step is an equi-join or keyed
    aggregation on the node id — hash-partitioned, no cross product,
    no driver-side data.  The per-round driver collect is ONE scalar
    (``sum(label)``, monotone non-increasing; a fixed point is reached
    exactly when it stops falling).  Each round's label table is
    ``localCheckpoint``-ed: without truncation the lineage doubles per
    round and Catalyst re-analysis dominates.  Near-dup clusters in
    real corpora have tiny diameters (most are cliques), so typical
    round counts are 2-4; the loop stops after 50 rounds at most.

    Round 13 (the r13 CC/NB decomposition, guide §1.1/§7): the
    checkpoints are LAZY (``eager=False``) and the convergence
    ``sum(label)`` action is what materializes each round — ONE job
    per round instead of two (the eager checkpoint job plus a
    separate sum job that re-scanned the fresh blocks), and the
    edges/labels-init materializations fold into round 1's job the
    same way.  The r13 probe measured the convergence job alone at
    ~0.25 s/round at sf0.1 — pure job-submission floor on a 5k-row
    table — and the loop runs 2-4 rounds in every consumer entry
    (q49/q98/q107/q127).  The returned plan is the same truncated
    LogicalRDD either way (``eager`` only moves the materialization
    action), downstream consumers still read persisted blocks, and
    the label values are untouched — pinned by the components suite
    and the four consumers' 3-SF oracle runs."""
    e = pairs.select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
    )
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # partitioned ONCE by the per-round join key: the neighbor-min
        # join probes edges on ``dst`` every round, and the distinct's
        # hash(src, dst) layout satisfies no join distribution — the
        # pinned relation was re-exchanged |E|-sized once per round
        # (the r13 decomposition; same lesson as pagerank's
        # broadcast_ranks dst-partitioning, guide §2.4)
        .repartition("dst")
        .localCheckpoint(eager=False)  # computed once, joined every round
    )
    nodes = edges.select(F.col("src").alias("id"))
    if all_ids is not None:
        first = all_ids.columns[0]
        nodes = nodes.union(all_ids.select(F.col(first).cast("long").alias("id")))
    labels = (
        nodes.distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for _ in range(50):
        lab = labels.alias("lab")
        nbr_min = (
            edges.alias("e")
            .join(lab, F.col("e.dst") == F.col("lab.id"))
            .groupBy(F.col("e.src").alias("nid"))
            .agg(F.min("lab.label").alias("nbr_label"))
        )
        stepped = (
            labels.alias("l")
            .join(nbr_min, F.col("l.id") == F.col("nid"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.least(
                    F.col("l.label"),
                    F.coalesce(F.col("nbr_label"), F.col("l.label")),
                ).alias("label"),
            )
        )
        # pointer jump: label(v) := label(label(v)).  Labels are always
        # node ids, so the self-join key always resolves.
        parent = stepped.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        labels = (
            stepped.alias("s")
            .join(parent, F.col("s.label") == F.col("pid"), "left")
            .select(
                F.col("s.id").alias("id"),
                F.coalesce(F.col("plabel"), F.col("s.label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # this action materializes the lazy checkpoint AND returns the
        # convergence scalar — one job per round (see the docstring)
        cur = labels.agg(F.sum("label")).collect()[0][0]
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels


def duplicate_clusters(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-document duplicate-cluster assignment from an ``(id_a,
    id_b)`` near-dup pair list: ``(doc_id, cluster_id, cluster_size,
    is_canonical)`` where
    ``cluster_id`` is the component's min doc id and the canonical row
    (``is_canonical = 1``) is the one a dedup keeps.  Documents in no
    pair are their own singleton cluster.

    ``anti-join df against (is_canonical = 0)`` — or equivalently
    filter this mapping — materializes the deduplicated corpus."""
    labels = connected_components(pairs, all_ids=df.select("doc_id"))
    sized = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sized, "label")
        .select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.col("cluster_size"),
            (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
        )
    )


def quality_survivor_dedupe(
    df: DataFrame, pairs: DataFrame, quality_col: str
) -> DataFrame:
    """Quality-aware near-dedup: keep, from every duplicate CLUSTER
    (connected component of the ``(id_a, id_b)`` pair graph), the row
    with the HIGHEST ``quality_col`` (ties broken by ascending
    ``doc_id``) — the curation form
    of dedup.  Every claimant-style operator here keeps the MIN-id
    member, which is arbitrary; when a near-dup family mixes a clean
    original with truncated/noisy copies, the corpus should keep the
    best one, not the first one.

    Returns the surviving rows of ``df`` plus ``cluster_id`` and
    ``cluster_size`` (singletons survive trivially with size 1).

    Scale notes (100 TB): clustering is the pointer-jumping
    ``connected_components`` (keyed joins, scalar driver traffic; same
    shape the q49/q98 audits passed).  Survivor choice is a per-cluster
    top-1 window — Spark plans it as WindowGroupLimit, so each
    partition prunes to one candidate row per cluster BEFORE the
    exchange; ``quality_col`` should be deterministic (an integer
    signal or an ``R()``-rounded score) for cross-engine stability."""
    clusters = duplicate_clusters(df, pairs).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    joined = df.join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("_qs_rk", F.row_number().over(w))
        .filter(F.col("_qs_rk") == 1)
        .drop("_qs_rk")
    )


# ------------------------------------------------------------------ simhash


def _simhash_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    import numpy as np

    md5 = hashlib.md5
    # gram → first-8-digest-bytes memo, shared per worker process
    # (bigrams repeat across docs even more than trigrams; same bound
    # rationale as word_shingle_postings)
    from defenda_data_lake_spark.operators import dedup as _mod

    cache = _mod._SIMHASH_D8_CACHE

    def gram_digest(g: str) -> bytes:
        d = cache.get(g)
        if d is None:
            if len(cache) >= _HASH_CACHE_MAX:
                cache.clear()
            d = cache[g] = md5(g.encode("utf-8")).digest()[:8]
        return d

    def simhash64(text: str) -> int:
        text = " ".join(str(text).lower().split())
        words = text.split(" ")
        grams = (
            [" ".join(words[i : i + 2]) for i in range(len(words) - 1)]
            if len(words) > 1
            else words
        )
        # little-endian of the first 8 digest bytes == DuckDB's
        # md5_number_upper(), keeping the signature reproducible in the
        # SQL oracle.  The per-bit vote is vectorized: unpack all gram
        # digests into a (grams, 64) bit matrix and column-sum, instead
        # of a 64-iteration Python loop per gram (measured ~15x on the
        # signature stage; md5 itself stays in C either way).
        digest8 = b"".join(gram_digest(g) for g in grams)
        h = np.frombuffer(digest8, dtype="<u8")
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(grams)
        sig = int(
            np.bitwise_or.reduce(
                (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
            )
        )
        # surface as signed int64 for Spark LongType
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    for batch in batches:
        yield pd.DataFrame(
            {
                "id": batch["id"],
                "simhash": [simhash64(t) for t in batch["text"]],
            }
        )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per ``doc_id`` over the word bigrams of its
    ``text`` (Arrow-batched pandas host; md5-derived bit mixing,
    deterministic)."""
    from pyspark.sql import types as T

    from defenda_data_lake_spark.utils.partitioning import (
        ensure_min_parallelism,
        kernel_parallelism,
    )

    narrow = df.select(F.col("doc_id").alias("id"), "text")
    return ensure_min_parallelism(narrow, kernel_parallelism(df)).mapInPandas(
        _simhash_batches,
        schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("simhash", T.LongType()),
            ]
        ),
    )


def hamming_block_pairs(
    sigs: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    size_hint_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs over any 64-bit integer signature column
    (SimHash, image dHash, ...) by pigeonhole blocking: split the
    signature into 4 16-bit blocks, equi-join per block, verify
    Hamming distance <= 3 with ``bit_count(xor)``.  Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``, one row per
    qualifying pair.

    Recall is COMPLETE: two signatures within distance 3 differ in at
    most 3 of the 4 blocks, so they agree on at least one whole block
    (the pigeonhole argument).

    Scale: one keyed exchange on (block, block_key); pair expansion is
    bucket-grouped (collect_list + double explode, JVM-side — the
    measured winner over a postings self-join for id+int payloads at
    8x data, SCALING.md round 4); no cartesian anywhere, and a
    degenerate bucket costs its own membership squared only within its
    bucket group.  ``size_hint_df``: frame whose driver-visible input
    size scales the exchange's partition count (pass the source table
    when ``sigs`` is a kernel output with no file lineage)."""
    width = 16
    sigs = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("_hb_sig")
    )
    # one row per (doc, block) via explode — the signature stage runs
    # once, not once per block branch of a union
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftrightunsigned(F.col("_hb_sig"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("block_key"),
            )
            for b in range(4)
        ]
    )
    blocked = sigs.select(
        "id", "_hb_sig", F.explode(block_structs).alias("bk")
    ).select(
        "id",
        "_hb_sig",
        F.col("bk.block").alias("block"),
        F.col("bk.block_key").alias("block_key"),
    )
    # bucket-grouped pair expansion (same shape as the minhash band
    # join): one hash aggregation per block bucket, pairs explode
    # JVM-side, Hamming verified with bit_count(xor)
    from defenda_data_lake_spark.utils.partitioning import scaled_keyed_partitions

    buckets = (
        blocked.repartition(
            scaled_keyed_partitions(
                size_hint_df if size_hint_df is not None else sigs
            ),
            "block",
            "block_key",
        )
        .groupBy("block", "block_key")
        .agg(F.collect_list(F.struct("id", "_hb_sig")).alias("mem"))
        .filter(F.size("mem") >= 2)
    )
    return (
        buckets.select(F.explode("mem").alias("a"), "mem")
        .select("a", F.explode("mem").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a._hb_sig").bitwiseXOR(F.col("b._hb_sig"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def simhash_near_duplicates(df: DataFrame) -> DataFrame:
    """Near-duplicate ``doc_id`` pairs by SimHash: 64-bit ``text``
    signature + :func:`hamming_block_pairs` (pigeonhole join over 4
    blocks, Hamming distance <= 3)."""
    return hamming_block_pairs(
        simhash_signatures(df), sig_col="simhash", size_hint_df=df
    )


def duplicate_span_coverage(df: DataFrame) -> DataFrame:
    """Per-document fraction of ``text`` tokens covered by corpus-REPEATED word
    n-grams — the span-granular duplication signal behind
    suffix-array substring dedup (mark text that appears more than
    once anywhere in the corpus), computed at word-gram resolution so
    it stays a relational program: positional 5-word grams per
    doc, gram occurrence count over the whole corpus, and for each doc
    the UNION length of its repeated-gram intervals
    ``[start, start + n)`` via gaps-and-islands (running max of
    interval end; a new island starts where the next interval begins
    past everything seen).  q78's chunk dedup DROPS 50-word
    boilerplate chunks; this measures duplication at 5-word
    resolution, the number a curation pipeline thresholds on before
    paying for span REMOVAL.

    Returns ``(id, n_words, covered_words, dup_coverage)`` for every
    input document, ``id`` its ``doc_id`` (docs too short for one
    gram: coverage 0.0).

    Plan shape (scale): positional grams are pure JVM (split + slice
    transform + explode); the occurrence count is ONE window over the
    md5(gram)-keyed exchange (uniform, skew-free); the island union is
    ONE window over the doc-keyed exchange, bounded per doc by its own
    gram count.  No pair expansion anywhere — corpus-hot grams cost
    their occurrence ROWS, never occurrence PAIRS."""
    norm = normalized_text(F.col("text"))
    w = F.split(norm, " ")
    t = df.select(
        F.col("doc_id").alias("id"), w.alias("_w"), F.size(w).alias("n_words")
    )
    n = 5
    # q78's chunking pattern (explode a start sequence, slice per row —
    # codegen, no interpreted HOF lambda), at stride 1; the greatest()
    # guard keeps sequence() from going descending on short docs, and
    # the n_words filter then drops those docs' bogus start
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n_words") - n + 1, F.lit(1))
    )
    occ = (
        t.select("id", "n_words", F.explode(starts).alias("start"), "_w")
        .filter(F.col("n_words") >= n)
        .select(
            "id",
            "n_words",
            "start",
            F.md5(F.array_join(F.slice(F.col("_w"), F.col("start"), n), " ")).alias(
                "h"
            ),
        )
    )
    # corpus-wide occurrence count per gram: hash-agg + join back, NOT
    # count() OVER (PARTITION BY h) — a window sorts every occurrence
    # of one gram inside a single task, so a degenerate hot gram (a
    # stopword run shared by millions of docs) becomes an unsplittable
    # straggler; the agg gets map-side partial combine and the join
    # gets AQE skew splitting, same one exchange on h (reused)
    counts = occ.groupBy("h").agg(F.count("*").alias("_cnt"))
    repeated = occ.join(counts.filter(F.col("_cnt") > 1), "h")
    # gaps-and-islands union of [start, start+n) per doc
    wdoc = Window.partitionBy("id").orderBy("start")
    prev_max_end = F.max(F.col("start") + n).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = repeated.withColumn(
        "_new_island",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end), 1
        ).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new_island").over(
            wdoc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_island = islands.groupBy("id", "n_words", "_island").agg(
        F.min("start").alias("_s"),
        F.max(F.col("start") + n).alias("_e"),
    )
    covered = per_island.groupBy("id", "n_words").agg(
        F.sum(F.col("_e") - F.col("_s")).alias("covered_words")
    )
    base = t.select("id", "n_words")
    out = base.join(covered.drop("n_words"), "id", "left").select(
        "id",
        "n_words",
        F.coalesce(F.col("covered_words"), F.lit(0)).alias("covered_words"),
    )
    cov = F.when(
        F.col("n_words") > 0,
        F.col("covered_words").cast("double") / F.col("n_words").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.withColumn("dup_coverage", cov)


def duplicate_span_removal(df: DataFrame) -> DataFrame:
    """REMOVE corpus-repeated ``text`` spans instead of just measuring them
    (:func:`duplicate_span_coverage`): every token covered by a
    NON-FIRST occurrence of a corpus-repeated 5-word gram is
    dropped; the corpus-first occurrence (zero-padded (doc, start)
    min, the q78 scheme) keeps its text.  The word-gram relaxation of
    Lee et al.'s suffix-array exact-substring dedup, as a relational
    program: a verbatim re-post loses everything, a doc quoting a
    paragraph loses just the quote, and the quoted original keeps it.

    Returns ``(id, n_words, n_removed, clean_text)`` for every input
    document, ``id`` its ``doc_id``.

    Plan shape (scale): positional grams explode+slice (codegen);
    corpus occurrence count AND first-occurrence choice share ONE
    md5(gram)-keyed window exchange; removed spans explode to covered
    positions (bounded by each doc's own length, never pair-expanded)
    and anti-join the token stream on (id, pos); reassembly is one
    doc-keyed sorted collect bounded by the doc's own token count."""
    norm = normalized_text(F.col("text"))
    w = F.split(norm, " ")
    t = df.select(
        F.col("doc_id").alias("id"), w.alias("_w"), F.size(w).alias("n_words")
    )
    n = 5
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n_words") - n + 1, F.lit(1))
    )
    occ = (
        t.select("id", "n_words", F.explode(starts).alias("start"), "_w")
        .filter(F.col("n_words") >= n)
        .select(
            "id",
            "n_words",
            "start",
            F.md5(F.array_join(F.slice(F.col("_w"), F.col("start"), n), " ")).alias(
                "h"
            ),
            first_occurrence_key("duplicate_span_removal").alias("occ"),
        )
    )
    # occurrence count AND first-occurrence choice in ONE hash-agg
    # (map-side combine), joined back — not windows over h, which would
    # sort a hot gram's millions of occurrences in one unsplittable
    # task (see duplicate_span_coverage); the join reuses the same
    # h-keyed exchange and AQE splits skewed grams
    aggd = occ.groupBy("h").agg(
        F.count("*").alias("_cnt"), F.min("occ").alias("_first_occ")
    )
    removed = (
        occ.join(aggd.filter(F.col("_cnt") > 1), "h")
        .filter(F.col("occ") != F.col("_first_occ"))
        .select("id", "start")
    )
    covered = removed.select(
        "id",
        F.explode(
            F.sequence(F.col("start"), F.col("start") + n - 1)
        ).alias("pos"),
    ).distinct()
    tokens = t.select(
        "id", "n_words", F.posexplode("_w").alias("_p0", "word")
    ).select("id", "n_words", (F.col("_p0") + 1).alias("pos"), "word")
    kept = tokens.join(covered, ["id", "pos"], "anti")
    rebuilt = kept.groupBy("id", "n_words").agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = t.select("id", "n_words")
    return base.join(rebuilt.drop("n_words"), "id", "left").select(
        "id",
        "n_words",
        (F.col("n_words") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
