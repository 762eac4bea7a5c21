"""Helpers for the traced run's short stream through
``streaming.ingest.start_ingest``.

A ``Generator`` thread drops one NDJSON file every ``INTERVAL`` seconds on
a fixed schedule, whether or not the stream keeps up, and records how late
each drop ran.  Which files a micro-batch committed, and when, is read
from the stream's checkpoint.
"""

from __future__ import annotations

import json
import os
import threading
import time
from statistics import median

from gen import write_file

from harness import Bench

INTERVAL = 0.25
EVENTS_PER_FILE = 250
TRIGGER_S = 1
DRAIN_TIMEOUT_S = 60.0


def batch_of_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log, name)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:  # being compacted; the next poll sees it
            continue
        for line in lines:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit was written."""
    out = {}
    commits = os.path.join(checkpoint, "commits")
    if os.path.isdir(commits):
        for name in os.listdir(commits):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(commits, name)).st_mtime
    return out


def committed(checkpoint: str) -> dict[str, float]:
    """File name -> commit time, for files whose micro-batch committed."""
    batches, commits = batch_of_files(checkpoint), commit_times(checkpoint)
    return {f: commits[bid] for f, bid in batches.items() if bid in commits}


def progress_metrics(progress: list, lag_end: int, late: list[float]) -> dict:
    """Per-layer stream metrics from ``StreamingQuery.recentProgress``."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    return {
        "stream.batch_s": median([p["durationMs"]["triggerExecution"] / 1e3 for p in batches]),
        "stream.add_batch_s": median([p["durationMs"]["addBatch"] / 1e3 for p in batches]),
        "stream.batch_rows": median([p["numInputRows"] for p in batches]),
        "stream.batches": len(batches),
        "stream.lag_files_end": lag_end,
        "stream.gen_late_s": max(late),
    }


class Generator(threading.Thread):
    """Writes ``files`` on a fixed schedule starting at ``t0`` (wall time)."""

    def __init__(self, b: Bench, landing: str, files: list, t0: float):
        super().__init__(name="generator", daemon=True)
        self.b, self.landing, self.files, self.t0 = b, landing, files, t0
        self.names = [f"part-{i:05d}.json" for i in range(len(files))]
        self.due = [t0 + i * INTERVAL for i in range(len(files))]
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, (name, events) in enumerate(zip(self.names, self.files)):
                delay = self.due[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
                with self.b.span("gen.drop", "bench", i):
                    write_file(self.landing, name, [line for line, _ in events], gz=False)
                self.late.append(time.time() - self.due[i])
        except BaseException as e:  # surfaced by the main thread
            self.error = e
