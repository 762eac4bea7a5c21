"""Lake benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1} [--scale F]

Run from the root of a checkout.  With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics of a traced run (spans on, plus a layer-probe pass over the
workload's own inputs).  The line before it is a report with the
workload's own metric names, sample counts and the run environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from harness import ROOT, Bench, percentile, prepare_environment

WORKLOADS = ("ingest", "query")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input-size factor (the smoke test shrinks it)")
    return p.parse_args(argv)


def end_to_end(b: Bench) -> dict:
    r = b.report
    return {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "op_cpu_s": {"value": percentile(r["op_cpu"], 50), "unit": "s"},
        "aux_cpu_s": {"value": percentile(r["aux_cpu"], 50), "unit": "s"},
        "heap_mb": {"value": r["heap_mb"], "unit": "MB"},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = prepare_environment(args.workload)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.scale, work)
    module = __import__(args.workload)
    t0 = time.perf_counter()
    try:
        module.run(b)
        if args.trace:
            import probes

            probes.run(b)
    except Exception:
        traceback.print_exc()
        b.record(False, "workload raised")
    finally:
        b.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if "op" not in b.report:
        return 1
    wall = time.perf_counter() - t0

    if args.trace:
        metrics = probes.per_layer(b, wall)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        b.tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = end_to_end(b)
    report = {
        "workload": args.workload,
        "metrics": b.report.get("named", {}),
        "samples": {k: b.report[k] for k in ("op", "aux", "op_cpu", "aux_cpu")},
        "wall_s": wall,
        "errors": b.errors,
        "env": b.environment(),
    }
    print(json.dumps(report))
    result = {
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
