from __future__ import annotations

import pytest

from airflow_etl_pyspark_inmet_spark.session import get_spark
from tests.inmet_fixture import write_inmet_fixture

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def inmet_glob(tmp_path_factory):
    """Glob of the three station CSVs of ``tests/inmet_fixture.py``."""
    return write_inmet_fixture(str(tmp_path_factory.mktemp("inmet")))
