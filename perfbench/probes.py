"""Layer-probe pass and per-layer metrics of a traced run.

After the workload's own loop, a traced run calls each layer once more on
the workload's own inputs and table, so every per-layer metric is measured
on every workload: intake scan, normalize, the in-process plugin kernel,
the partitioned write and quarantine write, planning and file pruning of a
lookup, the compat and variant JSON functions, each detection rule, and a
short open-loop stream of generated files.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import time
from datetime import timedelta
from statistics import median

from gen import BASE_TIME, EventGenerator

from harness import Bench, percentile
from query import RULES

KERNEL_SAMPLE = 2000
MINI_STREAM_FILES = 8
CATALOG_DOCS = 500
#: the headline catalog queries that read only documents and embeddings
CATALOG_QUERIES = (
    "q30_dedup_exact",
    "q31_dedup_minhash",
    "q32_dedup_jaccard",
    "q36_text_fingerprint",
    "q40_knn_brute",
    "q96_knn_pq",
    "q73_semdedup",
    "q101_triangle_counts",
)
PLUGINS = ("lowercase_keys", "event_shell", "ensure_eventid", "timestamps", "ip_addresses", "gsuite_login")
LAYERS = (
    "session", "intake", "pipeline", "plugins", "lake", "compat", "variant", "detections", "streaming", "catalog", "bench",
)


def _timed(b: Bench, name: str, layer: str, fn):
    t0 = time.perf_counter()
    with b.span(name, layer, "probe"):
        out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _raw_lines(landing: str, limit: int) -> list[tuple[str, str]]:
    """Up to ``limit`` (line, intake source) pairs from the landing files."""
    from defenda_data_lake_spark.operators.intake import DEFAULT_SOURCE, is_cloudtrail

    out = []
    for path in sorted(glob.glob(os.path.join(landing, "*.json*"))):
        opener = gzip.open if path.endswith(".gz") else open
        source = "cloudtrail" if is_cloudtrail(os.path.basename(path)) else DEFAULT_SOURCE
        with opener(path, "rt") as f:
            out += [(line, source) for line in f.read().splitlines() if line.strip()]
    step = max(1, len(out) // limit)
    return out[::step][:limit]


def kernel(b: Bench, landing: str) -> None:
    """In-process plugin kernel: ``run_pipeline`` per event, then each
    plugin's ``on_event`` timed alone along the same route."""
    import copy

    from defenda_data_lake_spark.operators.pipeline import (
        default_plugins,
        event_criteria_values,
        order_plugins,
        run_pipeline,
    )

    events = []
    for line, source in _raw_lines(landing, KERNEL_SAMPLE):
        try:
            event = json.loads(line)
        except json.JSONDecodeError:
            continue
        event["source"] = source
        events.append(event)
    plugins = order_plugins(default_plugins())
    copies = copy.deepcopy(events)
    with b.span("pipeline.run_pipeline", "plugins", "probe"):
        t0 = time.perf_counter()
        for event in copies:
            run_pipeline(event, plugins, presorted=True)
        total = time.perf_counter() - t0
    b.layer["pipeline.kernel_us_per_event"] = total / len(events) * 1e6

    spent = {p.name: 0.0 for p in plugins}
    with b.span("plugins.on_event", "plugins", "probe"):
        for event in events:
            for p in plugins:
                if "*" not in p.registration and not (
                    {t.lower() for t in p.registration} & event_criteria_values(event)
                ):
                    continue
                t0 = time.perf_counter()
                event = p.on_event(event, {})
                spent[p.name] += time.perf_counter() - t0
                if event is None:
                    break
    for name in PLUGINS:
        b.layer[f"plugins.{name}.us_per_event"] = spent[name] / len(events) * 1e6


def intake_and_pipeline(b: Bench, landing: str) -> None:
    from pyspark.sql import functions as F

    from defenda_data_lake_spark.operators.intake import read_ndjson_events
    from defenda_data_lake_spark.operators.pipeline import (
        STATUS_DROPPED,
        STATUS_FAILED,
        STATUS_OK,
        add_partition_columns,
        normalize_df,
        write_events,
    )

    spark = b.spark
    read_s, _ = _timed(b, "intake.read_ndjson_events", "intake", lambda: _noop(read_ndjson_events(spark, landing)))
    b.layer["intake.read_s"] = read_s
    b.layer["intake.rows"] = read_ndjson_events(spark, landing).count()

    def normalize():
        raw = read_ndjson_events(spark, landing)
        return normalize_df(raw, raw_col="raw", source_col="source").groupBy("_status").count().collect()

    norm_s, rows = _timed(b, "pipeline.normalize_df", "pipeline", normalize)
    counts = {r["_status"]: r["count"] for r in rows}
    b.layer["pipeline.normalize_s"] = norm_s - read_s
    b.layer["pipeline.ok"] = counts.get(STATUS_OK, 0)
    b.layer["pipeline.failed"] = counts.get(STATUS_FAILED, 0)
    b.layer["pipeline.dropped"] = counts.get(STATUS_DROPPED, 0)

    normalized = normalize_df(read_ndjson_events(spark, landing), raw_col="raw", source_col="source").cache()
    try:
        normalized.count()
        out, quarantine = b.path("probe", "written"), b.path("probe", "quarantine")
        good = add_partition_columns(normalized.filter(F.col("_status") == STATUS_OK))
        write_s, _ = _timed(b, "pipeline.write_events", "lake", lambda: write_events(good, out))
        bad = normalized.filter(F.col("_status") != STATUS_OK).select("_status", "_raw")
        qwrite_s, _ = _timed(b, "lake.quarantine_write", "lake", lambda: bad.write.mode("append").json(quarantine))
    finally:
        normalized.unpersist()
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    b.layer["lake.write_s"] = write_s
    b.layer["lake.quarantine_write_s"] = qwrite_s
    b.layer["lake.files_written"] = len(files)
    b.layer["lake.bytes_per_event"] = sum(os.path.getsize(f) for f in files) / max(1, counts.get(STATUS_OK, 0))


def reads(b: Bench) -> None:
    """Planning and pruning of a README-style lookup, the JSON functions
    and every detection rule, over the workload's events table."""
    from defenda_data_lake_spark import detections
    from defenda_data_lake_spark.functions.variant import variant_get_string, with_variant_details
    from defenda_data_lake_spark.lake import EVENTS_TABLE

    spark = b.spark
    h = spark.sql(f"SELECT year, month, day, hour FROM {EVENTS_TABLE} LIMIT 1").first()
    sql = f"""SELECT utctimestamp, summary, source, details, tags FROM {EVENTS_TABLE}
        WHERE json_array_contains(json_extract(details,'$._ipaddresses'),'10.0.0.1')
        AND year='{h[0]}' AND month='{h[1]}' AND day='{h[2]}' AND hour='{h[3]}' LIMIT 100"""
    plans = []
    for _ in range(5):
        plan_s, df = _timed(b, "query.plan", "lake", lambda: _planned(spark.sql(sql)))
        plans.append(plan_s)
    b.layer["query.plan_s"] = median(plans)
    b.layer["query.files_per_lookup"] = len(df.inputFiles())

    table = spark.table(EVENTS_TABLE)
    b.layer["compat.json_extract_scalar_s"], _ = _timed(
        b, "compat.json_extract_scalar", "compat",
        lambda: _noop(spark.sql(f"SELECT json_extract_scalar(details, '$.sourceipaddress') FROM {EVENTS_TABLE}")),
    )
    b.layer["compat.json_array_contains_s"], _ = _timed(
        b, "compat.json_array_contains", "compat",
        lambda: _noop(spark.sql(
            f"SELECT json_array_contains(json_extract(details, '$._ipaddresses'), '10.0.0.1') FROM {EVENTS_TABLE}"
        )),
    )
    b.layer["variant.parse_s"], _ = _timed(
        b, "variant.with_variant_details", "variant",
        lambda: _noop(with_variant_details(table).select(variant_get_string("details_v", "$.sourceipaddress"))),
    )
    for rule in RULES:
        b.layer[f"detections.{rule}_s"], _ = _timed(
            b, f"detections.{rule}", "detections", lambda: _noop(getattr(detections, rule)(table))
        )


def _planned(df):
    df._jdf.queryExecution().executedPlan()
    return df


def mini_stream(b: Bench) -> None:
    """A short open-loop stream into the workload's table."""
    import stream

    from defenda_data_lake_spark.streaming.ingest import start_ingest

    landing, checkpoint = b.path("probe", "landing"), b.path("probe", "checkpoint")
    os.makedirs(landing)
    gen = EventGenerator(b.seed, prefix="p")
    files = [
        gen.batch(stream.EVENTS_PER_FILE, BASE_TIME + timedelta(seconds=i * stream.INTERVAL), stream.INTERVAL)
        for i in range(MINI_STREAM_FILES)
    ]
    with b.span("streaming.start_ingest", "streaming", "probe"):
        query = start_ingest(
            b.spark,
            landing_path=landing,
            checkpoint_path=checkpoint,
            quarantine_path=b.path("probe", "stream_quarantine"),
            trigger_seconds=stream.TRIGGER_S,
        )
    generator = stream.Generator(b, landing, files, time.time() + 0.1)
    generator.start()
    try:
        generator.join()
        lag_end = len(files) - len(stream.committed(checkpoint))
        deadline = time.time() + stream.DRAIN_TIMEOUT_S
        while len(stream.committed(checkpoint)) < len(files) and time.time() < deadline and query.isActive:
            time.sleep(0.1)
        progress = query.recentProgress
    finally:
        query.stop()
    if generator.error is not None:
        raise generator.error
    b.layer.update(stream.progress_metrics(progress, lag_end, generator.late))


def _catalog_tables(b: Bench, directory: str) -> None:
    """Seeded ``documents`` and ``embeddings`` tables in the shapes the
    catalog's dedup, similarity, PQ, clustering and graph queries read:
    short texts over a small vocabulary (so shingles collide, with exact
    and near copies mixed in) and 64-dim vectors with ten labels."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(b.seed)
    words = [f"w{i}" for i in range(40)]
    texts = []
    for i in range(CATALOG_DOCS):
        if texts and rng.random() < 0.1:
            base = rng.choice(texts).split()
            base[rng.randrange(len(base))] = rng.choice(words)
            texts.append(" ".join(base) if rng.random() < 0.7 else rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(words) for _ in range(rng.randrange(8, 60))))
    os.makedirs(directory)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(CATALOG_DOCS), pa.int64()),
                "text": texts,
                "lang": [rng.choice(["en", "de", "fr", "es", "zh"]) for _ in texts],
                "source": [f"src{i % 20}" for i in range(CATALOG_DOCS)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(directory, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(CATALOG_DOCS), pa.int64()),
                "embedding": pa.array(
                    [[rng.gauss(0, 1) for _ in range(64)] for _ in range(CATALOG_DOCS)], pa.list_(pa.float32())
                ),
                "label": pa.array([rng.randrange(10) for _ in range(CATALOG_DOCS)], pa.int32()),
            }
        ),
        os.path.join(directory, "embeddings.parquet"),
    )


def _canonical(frame) -> list[tuple]:
    """Order-insensitive rows with floats rounded, for engine-to-engine
    comparison."""
    import math

    def value(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
            return tuple(value(x) for x in v)
        if isinstance(v, float) or type(v).__name__.startswith("float"):
            return round(float(v), 5)
        if type(v).__name__.startswith(("int", "uint")):
            return int(v)
        return str(v)

    cols = sorted(frame.columns)
    rows = [tuple(value(v) for v in r) for r in frame[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def catalog(b: Bench) -> None:
    """The catalog's document and vector queries: each result is checked
    once against its DuckDB oracle SQL, then timed to the ``noop`` sink."""
    import duckdb

    from defenda_data_lake_spark.plans.catalog import CATALOG

    directory = b.path("catalog")
    _catalog_tables(b, directory)
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{directory}/{table}.parquet')")
        for name in CATALOG_QUERIES:
            plan, oracle = CATALOG[name]
            got = _canonical(plan(b.spark, directory).toPandas())
            want = _canonical(con.execute(oracle).df())
            b.record(got == want, f"catalog {name}: {len(got)} rows, oracle {len(want)}")
    finally:
        con.close()
    for name in CATALOG_QUERIES:
        plan = CATALOG[name][0]
        b.layer[f"catalog.{name}_s"], _ = _timed(
            b, f"catalog.{name}", "catalog", lambda: _noop(plan(b.spark, directory))
        )


def run(b: Bench) -> None:
    landing, _ = b.probe_input
    if b.workload == "ingest":
        # the loop drops each op's table; land one batch for the read probes
        from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch

        b.spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
        create_events_table(b.spark, location=b.path("probe", "table"))
        ingest_batch(b.spark, landing, mode="ndjson")
    kernel(b, landing)
    intake_and_pipeline(b, landing)
    reads(b)
    mini_stream(b)
    catalog(b)
    b.layer["trace.op_p50_s"] = percentile(b.report["op"], 50)
    b.layer["trace.op_cpu_s"] = percentile(b.report["op_cpu"], 50)


def span_cost_s() -> float:
    """Measured cost of one enabled span."""
    from harness import Tracer

    t = Tracer(True)
    n = 20000
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x", "bench"):
            pass
    return (time.perf_counter() - t0) / n


def per_layer(b: Bench, wall_s: float) -> dict:
    metrics = {}
    for name, value in sorted(b.layer.items()):
        unit = "s" if name.endswith("_s") else "us" if name.endswith("us_per_event") else (
            "B" if name.endswith("bytes_per_event") else "count"
        )
        metrics[name] = {"value": value, "unit": unit}
    self_times = b.tracer.self_times()
    for layer in LAYERS:
        metrics[f"self.{layer}_s"] = {"value": self_times.get(layer, 0.0), "unit": "s"}
    metrics["trace.span_cost_frac"] = {
        "value": len(b.tracer.spans) * span_cost_s() / wall_s,
        "unit": "ratio",
    }
    return metrics
