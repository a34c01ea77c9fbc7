import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "soak: multi-micro-batch streaming soak at sf0.1 (state/wall "
        "flatness across >=20 triggers)",
    )


@pytest.fixture(scope="session")
def spark():
    from ankaflow_spark.session import get_spark, scratch_root

    # Catalog tables (write_bucketed) go under this process's scratch
    # root, not the cwd ``spark-warehouse/`` that every run from this
    # checkout shares: tools/oracle_check.py may run alongside.
    spark = get_spark(
        "tests",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(scratch_root(), "warehouse")},
    )
    yield spark


@pytest.fixture(scope="session")
def engine(spark):
    from ankaflow_spark.session import SparkEngine

    return SparkEngine(spark)


@pytest.fixture()
def sf_dir():
    return SF_DIR
