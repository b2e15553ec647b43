from __future__ import annotations

import pytest
from hypothesis import settings

# This host has multi-second latency episodes (see BASELINE.md "Scaling notes");
# hypothesis' default 200 ms deadline turns them into spurious flakes.
settings.register_profile("rlv", deadline=None)
settings.load_profile("rlv")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from rlv.session import python_socket_confs

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("rlv-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        # the engine's Python-worker transport (rlv.session.make_session)
        .config(map=python_socket_confs())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
