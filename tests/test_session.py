"""The session factory's machine-sized defaults."""

import os

import pytest

from defenda_data_lake_spark.session import default_driver_memory


@pytest.mark.parametrize("ram_gb, want", [(15, "7g"), (64, "24g"), (1, "1g")])
def test_default_driver_memory_is_half_of_ram_capped(monkeypatch, ram_gb, want):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gb * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert default_driver_memory() == want


_OUTSIDE_CHECKOUT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
# the caller's own PYTHONPATH, set before the JVM starts, without the package
os.makedirs("mods", exist_ok=True)
with open("mods/caller_mod.py", "w") as f:
    f.write("VALUE = 7")
os.environ["PYTHONPATH"] = os.path.abspath("mods")
from defenda_data_lake_spark import get_spark
from defenda_data_lake_spark.operators.pipeline import normalize_df
spark = get_spark(extra_conf={"spark.sql.warehouse.dir": os.path.abspath("wh")})
raw = spark.createDataFrame([('{"srcaddr": "1.2.3.4"}',), ('{"a": 1}',)], "raw string")
print("STATUSES", sorted(r._status for r in normalize_df(raw).collect()))
def caller_value(batches):
    import caller_mod
    for b in batches:
        yield b.assign(id=caller_mod.VALUE)
print("CALLER", spark.range(1).mapInPandas(caller_value, "id long").first().id)
spark.stop()
"""


def test_workers_import_the_package_from_outside_the_checkout(tmp_path):
    """The workers start from ``worker_daemon``, so they must find the
    package when neither ``PYTHONPATH`` nor the working directory points
    at the checkout, and still see the caller's ``PYTHONPATH``."""
    import subprocess
    import sys

    from defenda_data_lake_spark.session import PACKAGE_PARENT

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT, PACKAGE_PARENT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "STATUSES ['Ok', 'Ok']" in out.stdout, out.stderr[-3000:]
    assert "CALLER 7" in out.stdout, out.stderr[-3000:]
