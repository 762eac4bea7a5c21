"""``query``: one analyst client over a 48-hour lake, in a closed loop.

Set-up lands the hours the way the reference's Firehose-plus-cron does:
events pass intake and the plugin pipeline, are written under bare
``<base>/Y/M/D/H`` directories, and each hour is registered with
``lake.register_hour_partition``.  The loop then runs cycles of six rounds;
a round is one lookup of each of the five kinds, then one detection rule,
so a cycle times every rule once and every lookup kind six times (83%
lookups, 17% detections).  Each lookup's row count is checked against
what the generator knows.

The lake holds 24,000 events.  On four cores each query's fixed cost
(planning, job scheduling, opening the hour's files) dominates at this
size: growing the lake from 9,600 to 96,000 events moved the 24-hour IP
hunt from 0.35 s to 0.62 s and the detection rules by about 10%, and left
the point lookup at 0.63 s.
"""

from __future__ import annotations

import os
import random
import time
from datetime import timedelta
from statistics import mean

from gen import BASE_TIME, EventGenerator, write_landing

from harness import Bench, nproc, percentile

HOURS = 48
EVENTS_PER_HOUR = 500
#: the last 24 generated hours are exactly the second day
LAST_DAY = "year='2026' AND month='08' AND day='02'"
RULES = (
    "failed_login_bursts",
    "password_spray",
    "beaconing_candidates",
    "first_seen_ips",
    "account_activity_profiles",
    "rare_event_scores",
)
KINDS = ("readme_login", "readme_ip", "eventid", "ip_hunt", "source_category")
#: about how long a cycle takes on four cores.  The measured phase is the
#: number of whole cycles that fills ``--seconds`` at that pace, fixed in
#: advance: a faster system then measures the same ops, not more of them,
#: and every rule and lookup kind weighs the same in the medians.
CYCLE_S = 16.0
WARMUP_PASSES = 3


def _hour_pred(h: tuple[str, str, str, str]) -> str:
    return f"year='{h[0]}' AND month='{h[1]}' AND day='{h[2]}' AND hour='{h[3]}'"


def _batch_source(t) -> str:
    """``source`` after batch intake: the CloudTrail filename tag, the gsuite
    plugin's override, else the intake default."""
    return {"cloudtrail": "cloudtrail", "gsuite": "gsuite"}.get(t.shape, "s3json")


def build_lake(b: Bench) -> list:
    """Generate, normalize and land the hours; register each one.  Returns
    the generator's truths of the well-formed events."""
    from pyspark.sql import functions as F

    from defenda_data_lake_spark.lake import create_events_table, register_hour_partition
    from defenda_data_lake_spark.operators.intake import read_ndjson_events
    from defenda_data_lake_spark.operators.pipeline import STATUS_OK, normalize_df

    spark = b.spark
    gen = EventGenerator(b.seed)
    per_hour = max(20, int(EVENTS_PER_HOUR * b.scale))
    events = []
    with b.span("gen.landing", "bench"):
        for h in range(HOURS):
            events += gen.batch(per_hour, BASE_TIME + timedelta(hours=h), 3600.0)
        landing = b.path("landing")
        write_landing(landing, events, files=2 * nproc())
    b.probe_input = (landing, [t for _, t in events])

    staging, base = b.path("staging"), b.path("lake")
    with b.span("pipeline.normalize_write", "lake"):
        raw = read_ndjson_events(spark, landing)
        good = normalize_df(raw, raw_col="raw", source_col="source").filter(F.col("_status") == STATUS_OK)
        ts = F.col("utctimestamp")
        good.drop("_status", "_raw").select(
            "*",
            F.substring(ts, 1, 4).alias("year"),
            F.substring(ts, 6, 2).alias("month"),
            F.substring(ts, 9, 2).alias("day"),
            F.substring(ts, 12, 2).alias("hour"),
        ).write.partitionBy("year", "month", "day", "hour").parquet(staging)

    hours = sorted({t.hour for _, t in events})
    for h in hours:
        src = os.path.join(staging, f"year={h[0]}", f"month={h[1]}", f"day={h[2]}", f"hour={h[3]}")
        os.makedirs(os.path.join(base, *h[:3]), exist_ok=True)
        os.rename(src, os.path.join(base, *h))
    create_events_table(spark, location=base)
    with b.span("lake.register_hour_partition", "lake"):
        for h in hours:
            register_hour_partition(spark, base, h)
    return [t for _, t in events if t.ok]


class Lookups:
    """Seeded lookup parameters and the answers the generator knows."""

    def __init__(self, b: Bench, truths: list):
        from defenda_data_lake_spark.lake import EVENTS_TABLE

        self.rng = random.Random(b.seed * 7919 + 1)
        self.by_hour: dict[tuple, list] = {}
        for t in truths:
            self.by_hour.setdefault(t.hour, []).append(t)
        self.hours = sorted(self.by_hour)
        last_day = [t for t in truths if t.hour[2] == "02"]
        self.last_day_ips = sorted({ip for t in last_day for ip in t.ips})
        self.ip_count: dict[str, int] = {}
        for t in last_day:
            for ip in set(t.ips):
                self.ip_count[ip] = self.ip_count.get(ip, 0) + 1
        rows = b.spark.sql(
            f"SELECT eventid FROM {EVENTS_TABLE} WHERE pmod(hash(eventid), 101) = 0"
        ).collect()
        self.eventids = sorted(r["eventid"] for r in rows)

    def make(self, kind: str) -> tuple[str, int]:
        """SQL text for one lookup of ``kind`` and its expected row count."""
        rng = self.rng
        h = rng.choice(self.hours)
        in_hour = self.by_hour[h]
        if kind == "readme_login":
            # reference README.md:89-109, verbatim but for the hour
            n = sum(t.shape == "cloudtrail" and t.eventname == "ConsoleLogin" for t in in_hour)
            return (
                f"""SELECT utctimestamp, summary, source, details
                FROM "defenda_data_lake"."events"
                where source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin'
                AND ({_hour_pred(h)})
                limit 100""",
                min(n, 100),
            )
        if kind == "readme_ip":
            # reference README.md:120-136, verbatim but for the hour and address
            cands = sorted({ip for t in in_hour if _batch_source(t) == "s3json" for ip in t.ips})
            ip = rng.choice(cands)
            n = sum(_batch_source(t) == "s3json" and ip in t.ips for t in in_hour)
            return (
                f"""SELECT utctimestamp, summary, source, details, tags
                FROM defenda_data_lake.events
                where source ='s3json'
                AND json_array_contains(json_extract(details,'$._ipaddresses'),'{ip}')
                AND {_hour_pred(h)}
                LIMIT 100""",
                min(n, 100),
            )
        if kind == "eventid":
            eid = rng.choice(self.eventids)
            return f"SELECT * FROM defenda_data_lake.events WHERE eventid = '{eid}'", 1
        if kind == "ip_hunt":
            ip = rng.choice(self.last_day_ips)
            return (
                f"""SELECT utctimestamp, source, summary FROM defenda_data_lake.events
                WHERE json_array_contains(json_extract(details,'$._ipaddresses'),'{ip}')
                AND {LAST_DAY}""",
                self.ip_count[ip],
            )
        n = sum(t.shape == "gsuite" for t in in_hour)
        return (
            f"""SELECT utctimestamp, summary FROM defenda_data_lake.events
            WHERE source='gsuite' AND category='authentication' AND {_hour_pred(h)}
            LIMIT 50""",
            min(n, 50),
        )


def lookup(b: Bench, q: Lookups, kind: str, op: int) -> float:
    sql, expected = q.make(kind)
    t0 = time.perf_counter()
    with b.span(f"lookup.{kind}", "lake", op):
        got = len(b.spark.sql(sql).collect())
    took = time.perf_counter() - t0
    b.record(got == expected, f"lookup {kind}: {got} rows, expected {expected}")
    return took


def detect(b: Bench, rule: str, op: int) -> float:
    from defenda_data_lake_spark import detections
    from defenda_data_lake_spark.lake import EVENTS_TABLE

    t0 = time.perf_counter()
    try:
        with b.span(f"detections.{rule}", "detections", op):
            events = b.spark.table(EVENTS_TABLE).where(LAST_DAY)
            getattr(detections, rule)(events).write.format("noop").mode("overwrite").save()
        b.record(True, rule)
    except Exception as e:  # a failing rule is a failed op, the loop goes on
        b.record(False, f"detection {rule}: {e!r}"[:300])
    return time.perf_counter() - t0


def cycle(b: Bench, q: Lookups, order: list[str], lookups: dict, detects: dict, cpu: dict, op: int) -> int:
    """Six rounds, one per rule in ``order``: a lookup of each kind, then
    the rule.  Appends each latency under its kind or rule, and the CPU
    time per lookup of each round and of the cycle's rules under
    ``cpu``; returns the next op id."""
    rules_cpu = 0.0
    for rule in order:
        b.collect_garbage()
        c0 = b.cpu_s()
        for kind in KINDS:
            lookups[kind].append(lookup(b, q, kind, op))
            op += 1
        b.collect_garbage()
        c1 = b.cpu_s()
        detects[rule].append(detect(b, rule, op))
        op += 1
        rules_cpu += b.cpu_s() - c1
        cpu["round"].append((c1 - c0) / len(KINDS))
    cpu["sweep"].append(rules_cpu / len(order))
    return op


def run(b: Bench) -> None:
    start_s = b.start_session()
    warm_s = b.warm_python()
    t0 = time.perf_counter()
    truths = build_lake(b)
    build_s = time.perf_counter() - t0
    b.layer.update({"session.start_s": start_s, "session.python_warm_s": warm_s})
    b.report["setup_s"] = start_s + warm_s + build_s
    q = Lookups(b, truths)

    order = random.Random(b.seed).sample(RULES, len(RULES))
    lookups: dict[str, list[float]] = {k: [] for k in KINDS}
    detects: dict[str, list[float]] = {r: [] for r in RULES}
    # warm-up: three lookups of each kind, then each rule once.  With one
    # lookup of each kind, a lookup's CPU time still fell by a third over
    # the measured cycle, as the JIT caught up.
    for i, kind in enumerate(KINDS * WARMUP_PASSES):
        lookup(b, q, kind, -1 - i)
    for i, rule in enumerate(order):
        detect(b, rule, -100 - i)
    cpu: dict[str, list[float]] = {"round": [], "sweep": []}
    op, cycles = 0, max(1, round(b.seconds / CYCLE_S))
    for _ in range(cycles):
        op = cycle(b, q, order, lookups, detects, cpu, op)
    b.measured()

    all_lookups = [x for xs in lookups.values() for x in xs]
    all_detects = [x for xs in detects.values() for x in xs]
    # an op sample per round, the mean latency of its five lookups, and an
    # aux sample per cycle, the mean of its six rules: each sample weighs
    # every kind and rule the same.  A median over single lookups falls
    # between kinds whose latencies differ up to fourfold.
    round_means = [mean(xs) for xs in zip(*lookups.values())]
    sweeps = [mean(xs) for xs in zip(*detects.values())]
    b.report.update(op=round_means, aux=sweeps, op_cpu=cpu["round"], aux_cpu=cpu["sweep"])
    b.report["named"] = {
        "lookup_s": {"p50": percentile(all_lookups, 50), "p90": percentile(all_lookups, 90), "unit": "s", "n": len(all_lookups)},
        "lookup_round_mean_s": {"p50": percentile(round_means, 50), "unit": "s", "n": len(round_means)},
        "detect_s": {"p50": percentile(all_detects, 50), "unit": "s", "n": len(all_detects)},
        "detect_sweep_mean_s": {"p50": percentile(sweeps, 50), "unit": "s", "n": len(sweeps)},
        **{f"lookup.{k}_s": {"p50": percentile(v, 50), "unit": "s", "n": len(v)} for k, v in lookups.items()},
        **{f"detections.{k}_s": {"p50": percentile(v, 50), "unit": "s", "n": len(v)} for k, v in detects.items()},
    }
