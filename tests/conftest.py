import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from a5pg_spark import functions as A
    from a5pg_spark.session import get_spark, host_cpus

    s = get_spark(app_name="a5pg_spark_tests", shuffle_partitions=host_cpus())
    s.sparkContext.setLogLevel("ERROR")
    A.register(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
