import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="session")
def spark():
    from etl_based_real_time_air_quality_monitoring_system_spark.session import get_session

    s = get_session("perfbench-tests", cpus=2, shuffle_partitions=2)
    yield s
    s.stop()
