import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from spark_shp.session import get_spark
    s = get_spark(app="spark_shp_tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
