import os
import time

import pytest

# Pin the process timezone to UTC before any date handling — the
# reference pins TZ=UTC in its test suite too (naive timestamps
# localize to the local zone; tests assume UTC).
os.environ["TZ"] = "UTC"
time.tzset()

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from defenda_data_lake_spark.session import get_spark

    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(
        app_name="defenda-tests",
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
