"""Input-parallelism guard for compute-heavy operators.

A small dimension table often arrives as ONE parquet file → one input
partition → one task, strangling any operator whose per-row cost is
non-trivial (shingle generation, signature hashing, vector math).  At
100 TB inputs are naturally multi-split, but medium inputs (a few
hundred MB in one file) hit exactly this; the guard buys full-cluster
parallelism for one cheap round-robin shuffle of the small input.

Only used inside operators with heavy per-row compute — plain scans and
aggregations are left to Spark's split planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


#: bytes of input per task that keep an Arrow kernel task in the
#: ~0.1-0.5 s band (measured: the shingle/signature kernels chew
#: ~5-10 MB/s/core of raw text including Arrow transfer)
KERNEL_BYTES_PER_TASK = 2 << 20


def kernel_parallelism(df: DataFrame) -> int:
    """Target partition count for a CPU-dense Arrow kernel over ``df``:
    proportional to driver-visible input bytes (one task per
    ``KERNEL_BYTES_PER_TASK``), capped at the cluster's default parallelism.
    Unknown size falls back to full parallelism — the scale-safe
    default.  The point is the SMALL side: paying a round-robin
    exchange plus ``defaultParallelism`` task schedulings to spread a
    sub-MB input is strictly slower than just running it (measured
    ~0.25 s/query at sf0.1)."""
    import os

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    size = _input_bytes(df)
    if size is None:
        return par
    return min(par, int(size // KERNEL_BYTES_PER_TASK) + 1)


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the plan's input parallelism is
    below (by default) the cluster's default parallelism.

    Checks driver-side file metadata (``df.inputFiles()``) first, so
    the common parquet-backed case never converts the plan to an RDD
    (``df.rdd.getNumPartitions()`` forces an extra plan translation per
    call — a measurable fixed cost on sub-second queries).  The RDD
    partition count is consulted only when the file check says
    "under-parallel" — at that point the alternative is paying a whole
    exchange, so a ~15-40 ms plan translation that can prove the input
    already parallel enough (cached tables, post-shuffle inputs, where
    ``inputFiles`` sees nothing) is always a good trade.  File count
    under-estimates split count for files larger than
    ``maxPartitionBytes``, but any input that large is already parallel
    enough for the guard to be a no-op by intent.

    Streaming inputs pass through untouched: both size probes throw on
    a streaming plan, so the guard would otherwise inject an
    unconditional round-robin exchange into EVERY micro-batch — the
    normal micro-batch is small, and a stream's parallelism is the
    source's partitioning (files per trigger, topic partitions), not
    something a blanket repartition should second-guess."""
    import os

    if df.isStreaming:
        return df

    try:
        target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect sessions don't expose sparkContext
        target = min_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < target <= n_files:
        return df
    try:
        if df.rdd.getNumPartitions() >= target > 0:
            return df
    except Exception:
        pass  # Spark Connect: no RDD access; fall through and spread
    return df.repartition(target)


#: attribute a producer (table reader, cache warmer) can stamp on a
#: DataFrame whose input size it knows: ``df._defenda_size_hint = n``.
#: ``inputFiles()`` returns nothing once a plan is persisted (the
#: in-memory relation hides the file leaves), so without the hint a
#: cached table looks size-unknown and every byte-proportional policy
#: falls back to worst-case parallelism.
SIZE_HINT_ATTR = "_defenda_size_hint"


def _input_bytes(df: DataFrame) -> int | None:
    """Driver-visible total size of the plan's input files, or ``None``
    when it can't be determined cheaply (non-local filesystems, virtual
    plans).  Local-path stat only — no filesystem RPCs.  A producer's
    explicit size hint (see ``SIZE_HINT_ATTR``) wins over file
    inspection."""
    import os
    from urllib.parse import unquote, urlparse

    hint = getattr(df, SIZE_HINT_ATTR, None)
    if hint is not None:
        return int(hint)
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return None
    return total


#: driver-visible input bytes below which a pair-expansion self-join
#: prefers a shuffled-hash build over sort-merge.  Well under executor
#: memory even after the ~8x postings expansion, so the per-partition
#: hash build cannot spill; above it (or size-unknown) the streaming
#: sort-merge path is the scale-safe default.
PAIR_HASH_JOIN_MAX_BYTES = 512 << 20


def pair_join_hint(df: DataFrame) -> str:
    """Join-strategy hint for the inverted-index pair self-joins:
    ``"shuffle_hash"`` when the *source* input is small enough that the
    build side trivially fits per-partition memory, else ``"merge"``.

    Sort-merge pays two 64-bit sorts over the postings per execution;
    on a small corpus those sorts cost more than the whole hash build
    (measured at sf0.1: the Jaccard pair join is ~2.3x faster with a
    shuffled-hash build).  At 100 TB the postings per partition are
    GB-scale and a hash build would spill — sort-merge (plus AQE skew
    splitting) is the right plan there, and size-unknown inputs get it
    too.  Both strategies shuffle identically on the join key, so the
    reused exchange is preserved either way; only the per-partition
    algorithm changes."""
    size = _input_bytes(df)
    if size is not None and size <= PAIR_HASH_JOIN_MAX_BYTES:
        return "shuffle_hash"
    return "merge"


def scaled_keyed_partitions(df: DataFrame) -> int:
    """Partition count for an *explicit* keyed ``repartition`` feeding a
    CPU-dense stage (pair-expansion joins, signature kernels).

    An explicit repartition is exempt from AQE coalescing — that is the
    point (AQE's byte-based view would funnel a small-in-bytes but
    CPU-heavy shuffle into one task) — but it also means a flat
    ``defaultParallelism`` count over-partitions tiny inputs, paying
    ~10-20 ms of scheduling per empty-ish task.  Scale the count with
    the driver-visible input size instead: ``input_bytes * 8 / 8 MB``
    (an 8x expansion over the input, 8 MB per task), clamped to
    [defaultParallelism / 2, 4 * defaultParallelism].  When input size
    is unknown (object stores, computed inputs), fall back to
    ``defaultParallelism`` — on a real cluster that is the sane default,
    and the clamp keeps the count proportional to the cluster
    everywhere."""
    import os

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    size = _input_bytes(df)
    if size is None:
        return par
    want = int(size * 8.0 // (8 << 20)) + 1
    return max(min(want, 4 * par), max(par // 2, 1))


def bounded_local_df(spark, rows, schema: str) -> DataFrame:
    """ONE-partition DataFrame from a bounded driver-side collection —
    the shape every small maintenance table (merge tables, centroid
    tables, arrival-fit history) wants to be written in.

    Why not ``createDataFrame(rows).coalesce(1)``: a parallelized
    local collection starts at defaultParallelism partitions, and
    ``coalesce(1)`` folds them into ONE task that drains all ~32
    Python-worker partitions SEQUENTIALLY — measured ~5 s per tiny
    write on local[32], i.e. the fixed floor of every small-table
    write in the package.  A single-slice parallelize starts (and
    stays) at one partition: same file layout, ~0.4 s."""
    if not rows:
        return spark.createDataFrame([], schema)
    template = spark.createDataFrame(rows[:1], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), template.schema
    )
