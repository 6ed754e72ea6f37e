import os
import time

import pytest

# Pin the PYTHON process timezone, not just the Spark session one:
# collect() renders TimestampType as naive datetimes in the driver's
# local zone (TimestampType.fromInternal), and the streaming parity
# tests convert those back to epoch micros assuming UTC — on a
# non-UTC host every expected *_us value would shift by the UTC
# offset while unix_micros() stays true epoch.
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "sf01: DuckDB-twin checks at sf0.1 for the trig-sum keys")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from geohash_dotnet_spark.session import apply_recommended

    builder = (SparkSession.builder.master("local[8]")
               .appName("geohash-dotnet-spark-tests")
               .config("spark.ui.enabled", "false")
               .config("spark.driver.memory", "4g"))
    s = apply_recommended(builder, shuffle_partitions=8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED
