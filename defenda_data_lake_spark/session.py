"""SparkSession factory tuned for the data-lake workload.

Scale notes (the settings below are chosen for a real cluster, then
overridden down for local testing):

* AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion are the main levers that keep the
  TPC-H-ish join/agg surface efficient at 100 TB without hand-tuning
  per-query partition counts.
* ``spark.sql.shuffle.partitions`` is only the *initial* number — AQE
  coalesces.  On a 1000-executor cluster you would raise it to ~2-4x
  total cores; ``get_spark`` sets it to ``SPARK_GRAFT_CPUS`` (the
  host's core count when unset), the same count as the ``local``
  master's threads.
* Arrow enabled: every Python-side operator in this package is hosted in
  ``mapInPandas``/``pandas_udf`` (Arrow-batched), never row-at-a-time UDFs.
* Under a ``local`` master, Python workers fork from ``worker_daemon``
  (``spark.python.daemon.module``) instead of ``pyspark.daemon``.  It
  runs pyspark's own daemon, but stops the per-task
  ``importlib.invalidate_caches()`` from re-reading every unchanged zip
  archive, and freezes what survives a worker's first task so the
  daemon's ``gc.collect()`` after each task skips pandas and pyarrow.
  Measured on 4 cores: an 8-task ``mapInPandas`` job that does no work
  used about 250 ms of Python-worker CPU per task with
  ``pyspark.daemon``, 45 ms without the freeze and 3 ms with it; a
  16-event ``ingest_batch`` over 8 files used 0.8-1.0 s against
  0.01-0.05 s.  Every Python task then starts from this package, so
  ``get_spark`` also puts the package's parent directory on the workers'
  ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``; Spark appends the
  JVM's own ``PYTHONPATH``).  Other masters keep ``pyspark.daemon``: the
  daemon starts before any ``--py-files`` entry reaches ``sys.path``, so
  it would need the package installed on every executor.
* Spark caches the classes it compiles for each plan's generated code;
  ``spark.sql.codegen.cache.maxEntries`` caps that cache at 100 by
  default.  The README queries, the lookups and the six ``detections``
  rules of one long-lived session need about 136, and an LRU cycled
  over more keys than it holds keeps none: at 100 every rule
  recompiled its 12-13 classes (and the JIT recompiled them) on each
  run.  ``get_spark`` sets the cap to 1000; a repeated query then
  compiles nothing (``tests/test_codegen_reuse.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: the directory that holds this package, for the workers' PYTHONPATH
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the driver-heap ceiling for large hosts
MAX_DRIVER_MEMORY_GB = 24


def default_driver_memory() -> str:
    """Half the machine's physical RAM, capped at
    ``MAX_DRIVER_MEMORY_GB``: in local mode the driver JVM holds every
    executor, and the other half is left to its Python workers and the
    OS.  A fixed 24g heap could outgrow a smaller box under load."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return f"{MAX_DRIVER_MEMORY_GB}g"
    return f"{max(1, min(MAX_DRIVER_MEMORY_GB, ram // 2 // 2**30))}g"


def get_spark(
    app_name: str = "defenda-data-lake-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard config
    and the Presto-compatibility SQL functions registered."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles down to the advisory size instead of
        # keeping one partition per core: a sub-second query's shuffle
        # then runs 1-4 tasks instead of 32, cutting per-task scheduling
        # overhead; large shuffles are unaffected (they exceed the
        # advisory size anyway)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        # 8 MB advisory (not the 64 MB default): sub-MB shuffles still
        # collapse to one task, but a CPU-dense mid-size shuffle (e.g.
        # a 40 MB pair-aggregation) keeps ~5-way parallelism instead of
        # being funneled into one
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: spark.sql.requireAllClusterKeysForCoPartition stays at
        # Spark's default (true, a skew guard) here; warm_table_cache
        # relaxes it for sessions that opt into the co-partitioned
        # table cache, where the cache keys are known high-cardinality
        # (ADVICE r10 item 2 — don't weaken the guard for every join
        # in every session)
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.sql.session.timeZone", "UTC")
        # Presto quotes identifiers with double quotes (reference
        # README.md:95 FROM "defenda_data_lake"."events"); honor that.
        .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
        # read TIMESTAMP(NANOS) parquet columns as nanosecond longs
        # (Spark has no nanos timestamp type); converted at load, see
        # plans.catalog._t
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the compiled-class cache (a static conf; Spark's default is 100
        # entries).  The README queries, the lookups and the six
        # detections need about 136 entries; the cache is an LRU split
        # into 4 segments, and a cyclic access pattern over more keys
        # than an LRU holds evicts every key before its next use, so at
        # 100 each rule recompiled its 12-13 classes on every run
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master.startswith("local"):
        # workers on this host: they can import the package from here.
        # Spark appends the JVM's own PYTHONPATH to this value.
        builder = builder.config(
            "spark.python.daemon.module", "defenda_data_lake_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from defenda_data_lake_spark.functions.compat import register_compat_functions

    register_compat_functions(spark)
    return spark


#: below this driver-visible input size, adaptive execution is pure
#: overhead: every shuffle already coalesces to a handful of tasks and
#: every dimension already broadcasts, so runtime statistics cannot
#: change any planning decision — but AQE still materializes each
#: shuffle stage-by-stage, adding 1-2 scheduler round-trips per
#: exchange (~0.05-0.2 s/query measured at sf0.1, SCALING.md §floor).
SMALL_INPUT_BYTES = 1 << 30


def tune_for_input_scale(spark: SparkSession, data_dir: str) -> None:
    """Pick the planning profile from the workload's input size.

    Adaptivity is a bet: pay per-stage re-planning to win on large,
    skewed, or mis-estimated shuffles.  Below ``SMALL_INPUT_BYTES`` of
    total input the bet can't pay (nothing to re-plan), so interactive
    workloads run with static planning; at cluster scale AQE stays on.
    Runtime-mutable confs only — safe to call per workload on a shared
    session.  Unknown sizes (object stores, empty dirs) keep AQE on:
    the scale-safe default."""
    import glob

    total = 0
    try:
        for path in glob.glob(os.path.join(data_dir, "**", "*"), recursive=True):
            if os.path.isfile(path):
                total += os.path.getsize(path)
    except OSError:
        return
    if 0 < total < SMALL_INPUT_BYTES:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # with AQE (and so its coalescing) off, static shuffles at the
        # full core count schedule 32 near-empty tasks per exchange;
        # a quarter of the cores still saturates sub-GB shuffles
        try:
            cores = spark.sparkContext.defaultParallelism
        except Exception:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(8, cores // 4))
        )


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
