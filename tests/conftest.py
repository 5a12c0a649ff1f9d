from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azure_databricks_lakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions="4",
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            # Interpreted expression/operator mode for the TEST session
            # only (round 13): the suite runs thousands of unique tiny
            # plans, so Janino whole-stage/expression compilation
            # dominates per-query latency (A-B-A on test_dvs.py:
            # 153s/121s with codegen vs 87s without — ~1.5-1.75x).
            # Production/bench sessions keep codegen on; the oracle
            # gate runs the 50 declared queries under a bare codegen-on
            # session, so a codegen-specific regression still surfaces
            # there.
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.codegen.factoryMode": "NO_CODEGEN",
            # no stage progress bars: the suite runs tens of thousands of
            # stages, and the bars only add a polling thread and carriage
            # return noise to the captured log
            "spark.ui.showConsoleProgress": "false",
            # list a read's files on the driver instead of a Spark job
            # when it names more than 32 paths (Spark's default): the
            # test tables are local and small, so the listing job is
            # pure scheduling overhead on every many-file read
            "spark.sql.sources.parallelPartitionDiscovery.threshold": "100000",
        },
    )
    yield s


@pytest.fixture()
def codegen_on(spark):
    """Spark's default codegen settings for one test: the suite's session
    (``spark`` above) runs interpreted, production sessions do not."""
    keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.unset(k)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
