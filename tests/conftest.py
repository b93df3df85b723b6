import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# session.py's 24g JVM heap default is sized for large benchmark hosts;
# the test corpus is tiny, and a 24g heap on a 16 GB machine gets the
# test workers OOM-killed. Set before the session starts.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from tilemaker_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck(spark):
    from oracle_compare import duck_connection

    return duck_connection(SF_DIR)
