from __future__ import annotations

import pytest

from dedup_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dedup_spark_tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def no_aqe(spark):
    # an un-finalized adaptive plan hides its Exchanges and codegen
    # markers until it runs
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)
