import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from georasters_spark.session import get_spark

    s = get_spark(app_name="pytest")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_t1(spark):
    from georasters_spark import queries as Q
    from georasters_spark.sources import synth

    return Q.images_for(spark, synth.T1)
