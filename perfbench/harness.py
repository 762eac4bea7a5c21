"""Run environment, Spark session, statistics, retained memory and spans.

Everything here is owned by one ``Bench`` object that ``run.py`` creates
per process; nothing runs at import time.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "defenda_data_lake_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap well below machine RAM: a quarter of it, at most 4 GB
    (``session.get_spark`` would otherwise ask for 24 GB)."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def prepare_environment(workload: str) -> str:
    """Pin the environment the system runs in, and make a private work
    directory inside the checkout that becomes the cwd (Spark drops
    ``metastore_db``/``spark-warehouse`` in the cwd).  Exits non-zero when
    the package under test is absent."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"perfbench: package {PACKAGE!r} not found under {ROOT}\n")
        raise SystemExit(2)
    work = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        # mapInPandas workers import the package from any cwd
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(work)
    return work


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    """Spans around the benchmark's calls into the system's layers.

    Disabled, ``span`` costs one attribute test.  Enabled, each span keeps
    ``(id, parent, name, layer, op, start, end)`` in memory; parents come
    from a per-thread stack, so spans of the stream generator thread are
    roots of their own."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, layer, op, start, end))

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        its child spans cover, summed by layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sid, parent, _, _, _, start, end in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out: dict[str, float] = {}
        for sid, _, _, layer, _, start, end in self.spans:
            covered, reach = 0.0, start
            for cs, ce in sorted(children.get(sid, [])):
                cs, ce = max(cs, reach), min(ce, end)
                if ce > cs:
                    covered += ce - cs
                    reach = ce
            out[layer] = out.get(layer, 0.0) + (end - start) - covered
        return out

    def dump(self, path: str) -> None:
        keys = ("id", "parent", "name", "layer", "op", "start", "end")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _tree_ticks(root: int) -> dict[int, int]:
    """Own CPU ticks, user and system, of process ``root`` and of every
    live descendant, by pid."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = int(fields[11]) + int(fields[12])
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in ticks:
            out[pid] = ticks[pid]
        todo += children.get(pid, [])
    return out


def _cpu_times() -> list[int]:
    """Machine-wide CPU tick counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Bench:
    """Per-run state: the session, the tracer, op accounting and the report."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: float, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.work = work
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self._ticks: dict[int, int] = {}
        self.loadavg_start = os.getloadavg()
        self.cpu_start = _cpu_times()

    def span(self, name: str, layer: str, op: int | None = None):
        return self.tracer.span(name, layer, op)

    def measured(self) -> None:
        """Mark the end of the measured phase: record the JVM heap in use
        after a full collection, the memory the run retains.  (Resident
        sizes are unsteady: the JVM's follows GC timing, and Spark reaps
        Python workers idle for a minute, so theirs depends on pacing.)"""
        jvm = self.spark.sparkContext._jvm
        self.collect_garbage()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        self.report["heap_mb"] = heap / 2**20

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the Spark JVM and the
        Python workers it forked.  This grows much less than wall time when
        other guests of the host take CPU time.  It includes the JIT
        compiler's threads: Spark generates new classes for each query, so
        compiling them is part of what an op costs.  A process that ended
        keeps the ticks it had when last seen, since Spark stops idle Python
        workers and their time must not leave the total."""
        from pyspark import SparkContext

        self._ticks.update(_tree_ticks(SparkContext._gateway.proc.pid))
        return sum(self._ticks.values()) / os.sysconf("SC_CLK_TCK") + time.process_time()

    def collect_garbage(self) -> None:
        """Full JVM collection before a timed op, so that no op pays for
        garbage the one before it left."""
        self.spark.sparkContext._jvm.System.gc()

    def record(self, ok: bool, what: str) -> None:
        """Count one attempted op; ``ok`` False counts it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        """Start the session through the system's own factory; returns the
        wall time of ``get_spark``."""
        from defenda_data_lake_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark", "session"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    # no hsperfdata file under /tmp: the JVM writes only in the work dir
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                },
            )
        return time.perf_counter() - t0

    def warm_python(self) -> float:
        """First Arrow-batched Python job: starts the Python worker daemon."""
        import pandas as pd

        def ident(batches):
            for b in batches:
                yield pd.DataFrame({"id": b["id"] * 2})

        t0 = time.perf_counter()
        with self.span("session.python_warm", "session"):
            n = self.spark.range(0, 4096, numPartitions=nproc()).mapInPandas(ident, "id long").count()
        self.record(n == 4096, "python warm-up count")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def environment(self) -> dict:
        import pyspark

        ticks = [b - a for a, b in zip(self.cpu_start, _cpu_times())]
        return {
            "seed": self.seed,
            "nproc": nproc(),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "loadavg_start": self.loadavg_start,
            "loadavg_end": os.getloadavg(),
            # CPU time the hypervisor gave to other guests while this run
            # ran, as a share of all CPU time: a co-loaded host shows here
            "cpu_steal_frac": ticks[7] / max(1, sum(ticks)),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }
