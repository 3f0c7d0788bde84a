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


@pytest.fixture(scope="session")
def images_t1_mixed(spark, images_t1):
    """The T1 tiles table with tile (1, 1) re-encoded as 32x48: a
    tiles table that breaks the uniform-tile contract."""
    from pyspark.sql import functions as F

    from georasters_spark.sources import codec

    is_t = (F.col("tile_row") == 1) & (F.col("tile_col") == 1)
    t = images_t1.filter(is_t).first().asDict()
    arr = codec.decode_tile(bytes(t["bytes"]), t["fmt"], t["w"], t["h"], t["ndv"])
    t.update(bytes=codec.encode_tile(arr[:32, :48], t["fmt"], t["ndv"]),
             w=48, h=32)
    return images_t1.filter(~is_t).unionByName(
        spark.createDataFrame([t], images_t1.schema))
