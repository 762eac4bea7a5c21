#!/usr/bin/env python
"""Round-10 (VERDICT r9 item 2): retire the fixed-floor waiver
EMPIRICALLY.  The waiver's load-bearing claim is "the >2x ratios on
q03/q05/q20/q40 are session-floor costs that amortize at scale" —
previously supported only by Spark-side 32x probes.  This script runs
the FULL 11-query headline pairing — BOTH engines — on the same
Nx-replicated sf0.1 parquet, same box, same hour, bench protocol
(consecutive best-of-4 x 2 sweeps, untimed warm pass first).

Usage: python scripts/scale_pairing_r10.py [factor] [keep_dir]
Replication = key-offset replicas (every key column shifted per replica) PLUS a per-replica
word salt on documents.text: offsetting doc_id alone keeps the text
identical, which turns every document into an N-copy near-dup cluster
— the dedup queries (q31/q32) then grow QUADRATICALLY in N (measured:
the un-salted 32x sweep did not finish q31/q32 in 35 minutes).  Real
32x data is mostly NEW documents, so each replica suffixes every word
with a replica tag — shingle sets across replicas are disjoint and the
dedup work scales linearly, like a real corpus.  Both engines read the
same salted parquet, so ratios stay symmetric.  Output: one JSON line
with per-query walls for both engines and ratios.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("TZ", "UTC")
time.tzset()

REPLICATED = ["lineitem", "orders", "events", "documents", "embeddings"]
SMALL = ["region", "nation", "customer", "supplier", "part"]
KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build(spark, base: str, tmp: str, factor: int) -> None:
    from pyspark.sql import functions as F

    # never write a replica over the source data: mode("overwrite")
    # deletes the target before the job can read it (an interrupted
    # round-13 probe invoked with tmp=/root/testdata/sf0.1 destroyed
    # the source lineitem.parquet this exact way; restored row-exact
    # from a surviving replica-0 partition — see OPTIMIZATION_r13.md)
    base_real = os.path.realpath(base)
    tmp_real = os.path.realpath(tmp)
    if tmp_real == base_real or tmp_real.startswith("/root/testdata"):
        raise ValueError(
            f"refusing to build a replica into the source data dir: {tmp!r}"
        )

    for t in REPLICATED:
        df = spark.read.parquet(f"{base}/{t}.parquet")
        copies = []
        for r in range(factor):
            c = df
            for k in KEYS[t]:
                c = c.withColumn(k, F.col(k) + F.lit(r * 100_000_000))
            if t == "documents" and r > 0:
                # replica r's vocabulary is disjoint from every other
                # replica's: suffix each whitespace-separated word with
                # _r<r>.  Exact-dup groups stay within-replica,
                # cross-replica shingle overlap is zero — dedup cost
                # scales linearly like real new data.
                # one lookahead pass salts every word INCLUDING the
                # last, without the replace-then-concat stray-token
                # corner on whitespace-trailing text (ADVICE r10
                # item 4; symmetric across engines either way)
                c = c.withColumn(
                    "text",
                    F.regexp_replace(
                        F.col("text"), r"(\S)(?=\s|$)", f"$1_r{r}"
                    ),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionAll(c)
        out.write.mode("overwrite").parquet(f"{tmp}/{t}.parquet")
    for t in SMALL:
        src, dst = f"{base}/{t}.parquet", f"{tmp}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    keep = sys.argv[2] if len(sys.argv) > 2 else None
    base = "/root/testdata/sf0.1"

    import duckdb

    from defenda_data_lake_spark.plans.catalog import (
        CATALOG,
        clear_table_cache,
        headline_queries,
        headline_queries_legacy12,
        warm_table_cache,
    )
    from defenda_data_lake_spark.session import get_spark

    spark = get_spark(app_name="scale-pairing")
    tmp = keep or tempfile.mkdtemp(prefix=f"scale_pairing_{factor}x_")
    try:
        if not os.path.isdir(f"{tmp}/lineitem.parquet"):
            t0 = time.time()
            build(spark, base, tmp, factor)
            print(
                json.dumps({"built": tmp, "factor": factor,
                            "build_sec": round(time.time() - t0, 1)}),
                flush=True,
            )
        # SPARK_GRAFT_PAIR_SET=legacy12 restricts the pairing to the
        # r1-12 surface: the round-13 heavy group's DuckDB oracles
        # replay full Lloyd/pagerank chains in SQL with quadratic
        # within-cluster pair joins — fine at the correctness SFs,
        # infeasible at Nx replica scale.  The heavy group's at-scale
        # evidence is Spark-side noop probes (SCALING.md).
        names = (
            headline_queries_legacy12()
            if os.environ.get("SPARK_GRAFT_PAIR_SET") == "legacy12"
            else headline_queries()
        )
        loadavg = tuple(round(x, 2) for x in os.getloadavg())

        # ---- Spark side (bench.py protocol, incl. its table cache:
        # same per-table 2 GiB budget; DuckDB symmetrically reruns
        # over OS-page-cached parquet) ----
        clear_table_cache()
        cached = warm_table_cache(spark, tmp)
        print(json.dumps({"table_cache": {k: v for k, v in cached.items()}}),
              flush=True)
        for name in names:  # untimed warm pass (HotSpot C2 + cache)
            CATALOG[name][0](spark, tmp).write.format("noop").mode(
                "overwrite"
            ).save()
        # best-of-2 x 2 interleaved sweeps (4 timed runs/query): at 32x
        # each run is seconds, so the sub-second-floor rationale for
        # bench.py's best-of-4 x 2 doesn't apply; min-of-4 suffices.
        sbest = {n: float("inf") for n in names}
        for _ in range(2):
            for name in names:
                fn, _sql = CATALOG[name]
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(spark, tmp).write.format("noop").mode("overwrite").save()
                    sbest[name] = min(sbest[name], time.perf_counter() - t0)

        # ---- DuckDB side, immediately after, same protocol ----
        con = duckdb.connect()
        for t in REPLICATED:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tmp}/{t}.parquet/*.parquet')"
            )
        for t in SMALL:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tmp}/{t}.parquet')"
            )
        con.execute("SELECT count(*) FROM lineitem").fetchall()
        dbest = {n: float("inf") for n in names}
        for name in names:
            con.execute(CATALOG[name][1]).fetchall()  # warm
        for _ in range(2):
            for name in names:
                sql = CATALOG[name][1]
                for _ in range(2):
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    dbest[name] = min(dbest[name], time.perf_counter() - t0)

        out = {
            "factor": factor,
            "protocol": "consecutive best-of-2 x 2 sweeps, both engines back-to-back, documents word-salted per replica",
            "loadavg_start": loadavg,
            "loadavg_end": tuple(round(x, 2) for x in os.getloadavg()),
            "spark": {n: round(v, 3) for n, v in sbest.items()},
            "duckdb": {n: round(v, 3) for n, v in dbest.items()},
            "ratio": {
                n: round(sbest[n] / dbest[n], 2) for n in names
            },
            "spark_total": round(sum(sbest.values()), 3),
            "duckdb_total": round(sum(dbest.values()), 3),
            "total_ratio": round(
                sum(sbest.values()) / sum(dbest.values()), 2
            ),
        }
        print(json.dumps(out), flush=True)
    finally:
        if keep is None:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
