"""The Python worker daemon (``worker_daemon``): the archive check and
the freeze after a worker's first task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from defenda_data_lake_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importlib.invalidate_caches()  # never seen: read once
        first = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == first  # unchanged: not read again

        _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == first + 1
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        worker_daemon._stamps.pop(archive, None)


def test_worker_freezes_once_after_its_first_task(monkeypatch):
    calls: list[str] = []

    class FakeGc:
        collect = staticmethod(lambda: calls.append("collect"))
        freeze = staticmethod(lambda: calls.append("freeze"))

    monkeypatch.setattr(worker_daemon, "gc", FakeGc)

    def main(infile, outfile):
        calls.append("task")
        if infile == "fail":
            raise SystemExit(1)
        return 0

    worker_main = worker_daemon.freeze_after_first_task(main)
    with pytest.raises(SystemExit):
        worker_main("fail", None)
    assert worker_main(None, None) == 0
    assert calls == ["task", "collect", "freeze", "task"]


def test_session_workers_run_the_daemon(spark):
    import pandas as pd

    def installed(batches):
        import gc
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        for batch in batches:
            yield pd.DataFrame(
                {
                    "m": [f"{method.__module__}.{method.__qualname__}"] * len(batch),
                    "frozen": [gc.get_freeze_count()] * len(batch),
                }
            )

    df = spark.range(4, numPartitions=2).mapInPandas(installed, "m string, frozen long")
    df.collect()  # every worker the next job uses has finished a task
    rows = df.collect()
    assert {r.m for r in rows} == {
        "defenda_data_lake_spark.worker_daemon.invalidate_caches"
    }
    assert min(r.frozen for r in rows) > 0
