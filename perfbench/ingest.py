"""``ingest``: batch ``lake.ingest_batch`` of gzipped NDJSON landing files
into a fresh table location, in a closed loop.

Each op lands the same-sized batch (about two files per core) into a new
external table, then reads it back: every well-formed line generated must
be in the table exactly once, quarantine rows must equal the malformed
lines, and sampled goldens must hold.  The read-back scans the landed
``details`` column, and is timed too, as the first analyst query over
freshly landed files.

A batch is large enough that per-event work is most of it: on four cores
an op costs about 1.7 s of fixed per-job wall time plus about 130 us per
event, so at 16,000 events the per-event part (JSON decoding, the Arrow
transfer, the plugin kernel and the partitioned parquet write) is about
55% of the op's wall time.
"""

from __future__ import annotations

import shutil
import time
from statistics import median

from gen import BASE_TIME, EventGenerator, write_landing

from harness import Bench, nproc

EVENTS_PER_OP = 16000
INPUT_SETS = 2
#: the first op of a fresh JVM takes about twice as long as later ones,
#: mostly for the Python workers' first imports, and the JIT keeps adding
#: CPU time for two more full ops: warm up with a small op, then two full
#: ones
WARMUP_EVENTS = 2000
WARMUP_FULL_OPS = 2
#: about how long an op and its checks take on four cores.  The measured
#: phase is the number of ops that fills ``--seconds`` at that pace, fixed
#: in advance, so a slow run measures the same ops as a fast one rather than
#: fewer, less warm ones.
OP_S = 4.5
GOLDEN_SAMPLE = 40
READ_BACKS = 2


def build_inputs(b: Bench) -> tuple[tuple, list, float]:
    """A small landing directory for the first warm-up op and
    ``INPUT_SETS`` directories of one full op each; returns them with the
    set-up time: the small build plus the median full build."""
    gen = EventGenerator(b.seed)

    def build(name: str, n: int) -> tuple[tuple, float]:
        t0 = time.perf_counter()
        with b.span("gen.landing", "bench"):
            events = gen.batch(n, BASE_TIME, 3600.0)
            landing = b.path("landing", name)
            write_landing(landing, events, files=2 * nproc())
        return (landing, [t for _, t in events]), time.perf_counter() - t0

    small, small_s = build("warmup", max(100, int(WARMUP_EVENTS * b.scale)))
    full = [build(f"set{k}", max(200, int(EVENTS_PER_OP * b.scale))) for k in range(INPUT_SETS)]
    return small, [s for s, _ in full], small_s + median(t for _, t in full)


def _golden_check(b: Bench, truths: list) -> bool:
    from defenda_data_lake_spark.lake import EVENTS_TABLE

    sample = [t for t in truths if t.ok][:: max(1, len(truths) // GOLDEN_SAMPLE)]
    ids = ",".join(f"'{t.bench_id}'" for t in sample)
    rows = b.spark.sql(
        f"""SELECT get_json_object(details, '$.bench_id') AS bid, utctimestamp,
                   get_json_object(details, '$.sourceipaddress') AS ip, summary, category
            FROM {EVENTS_TABLE} WHERE get_json_object(details, '$.bench_id') IN ({ids})"""
    ).collect()
    got = {r["bid"]: r for r in rows}
    for t in sample:
        r = got.get(t.bench_id)
        if r is None or r["utctimestamp"] != t.utctimestamp or r["ip"] != t.sourceip:
            return False
        if t.summary is not None and (r["summary"] != t.summary or r["category"] != t.category):
            return False
    return len(rows) == len(sample)


def _read_back(b: Bench) -> tuple[int, int, int]:
    """Rows, distinct ``bench_id`` values and the sum of their numbers, over
    the whole landed table."""
    from defenda_data_lake_spark.lake import EVENTS_TABLE

    r = b.spark.sql(
        f"""SELECT count(*) AS n, count(DISTINCT bid) AS d, sum(CAST(substr(bid, 2) AS BIGINT)) AS s
            FROM (SELECT get_json_object(details, '$.bench_id') AS bid FROM {EVENTS_TABLE})"""
    ).first()
    return r["n"], r["d"], r["s"]


def ingest_op(b: Bench, op: int, landing: str, truths: list, goldens: bool) -> dict:
    """One op: fresh table, ``ingest_batch``, read-back check.  Returns the
    wall and CPU time of the ingest and of each read-back, and the rows
    landed."""
    from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch

    spark = b.spark
    location = b.path("tables", f"t{op}")
    quarantine = b.path("quarantine", f"q{op}")
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=location)

    b.collect_garbage()
    c0, t0 = b.cpu_s(), time.perf_counter()
    with b.span("lake.ingest_batch", "lake", op):
        ingest_batch(spark, landing, mode="ndjson", quarantine_path=quarantine)
    out = {"ingest_s": time.perf_counter() - t0, "ingest_cpu_s": b.cpu_s() - c0, "read_s": [], "read_cpu_s": []}

    ids = [int(t.bench_id[1:]) for t in truths if t.ok]
    want = (len(ids), len(ids), sum(ids))
    answers = set()
    b.collect_garbage()
    for _ in range(READ_BACKS):
        c0, t0 = b.cpu_s(), time.perf_counter()
        with b.span("lake.read_back", "lake", op):
            answers.add(_read_back(b))
        out["read_s"].append(time.perf_counter() - t0)
        out["read_cpu_s"].append(b.cpu_s() - c0)
    # every well-formed event exactly once: as many rows as distinct ids,
    # and the ids' sum is the generator's
    landed = len(ids)
    bad = spark.read.text(quarantine).count()
    ok = answers == {want} and bad == len(truths) - landed
    if ok and goldens:
        ok = _golden_check(b, truths)
    b.record(ok, f"ingest op {op}: (rows, ids, id sum) {list(answers)}, want {want}; "
             f"quarantined {bad}/{len(truths) - landed}")
    shutil.rmtree(location, ignore_errors=True)
    shutil.rmtree(quarantine, ignore_errors=True)
    out["landed"] = landed
    return out


def run(b: Bench) -> None:
    start_s = b.start_session()
    warm_s = b.warm_python()
    small, sets, build_s = build_inputs(b)
    b.layer.update({"session.start_s": start_s, "session.python_warm_s": warm_s})
    b.report["setup_s"] = start_s + warm_s + build_s

    warmup = [ingest_op(b, 0, *small, goldens=True)["ingest_s"]]
    for op in range(1, 1 + WARMUP_FULL_OPS):
        warmup.append(ingest_op(b, op, *sets[op % len(sets)], goldens=False)["ingest_s"])

    ingest_times, ingest_cpu, read_times, read_cpu, rates = [], [], [], [], []
    first = 1 + WARMUP_FULL_OPS
    for op in range(first, first + max(2, round(b.seconds / OP_S))):
        landing, truths = sets[op % len(sets)]
        r = ingest_op(b, op, landing, truths, goldens=False)
        ingest_times.append(r["ingest_s"])
        ingest_cpu.append(r["ingest_cpu_s"])
        read_times += r["read_s"]
        read_cpu += r["read_cpu_s"]
        rates.append(r["landed"] / r["ingest_s"])
    b.measured()

    b.report.update(op=ingest_times, aux=read_times, op_cpu=ingest_cpu, aux_cpu=read_cpu)
    b.report["named"] = {
        "ingest_events_per_s": {"value": median(rates), "unit": "ev/s", "n": len(rates)},
        "ingest_batch_s": {"value": median(ingest_times), "unit": "s", "n": len(ingest_times)},
        "read_after_ingest_s": {"value": median(read_times), "unit": "s", "n": len(read_times)},
        "warmup_batch_s": {"values": warmup, "unit": "s", "n": len(warmup)},
    }
    b.probe_input = sets[0]
