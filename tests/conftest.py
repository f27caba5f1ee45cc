import pytest

from frontier_engine.config import EngineConfig
from frontier_engine.fixtures import WorldSpec, generate_world
from frontier_engine.parse import CrawlArgs
from frontier_engine.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="frontier-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spec():
    return WorldSpec()


@pytest.fixture(scope="session")
def world(spec):
    return generate_world(spec)


@pytest.fixture(scope="session")
def args(spec):
    return CrawlArgs(spec.checkin, spec.checkout, spec.price_max)


@pytest.fixture(scope="session")
def cfg():
    return EngineConfig(n_seen_shards=8, bloom_bits_per_shard=1 << 16, salt_partitions=4)


@pytest.fixture(scope="session")
def pages_df(spark, world):
    df = spark.createDataFrame(world["pages"])
    from frontier_engine.canon import with_canon_columns

    df = with_canon_columns(df).cache()
    df.count()
    return df
