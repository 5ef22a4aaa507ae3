from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from wasaffi_spark.conf import recommended_builder  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


@pytest.fixture(scope="session")
def spark():
    # the engine's codegen cache size: a static conf, so it has to be
    # set here, where the session's JVM starts
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("wasaffi-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config(CODEGEN_CACHE, recommended_builder()._options[CODEGEN_CACHE])
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def recommended_sql_confs() -> dict[str, str]:
    """The ``spark.sql.*`` options ``conf.recommended_builder`` sets."""
    options = recommended_builder()._options
    return {k: v for k, v in options.items() if k.startswith("spark.sql.")}


@pytest.fixture()
def recommended_posture(spark, recommended_sql_confs):
    """Run one test under the recommended session's runtime
    ``spark.sql.*`` options, restoring the session's own values
    afterwards. The static ones take effect only when the JVM's first
    session starts; the ``spark`` fixture sets those it needs."""
    confs = {k: v for k, v in recommended_sql_confs.items() if spark.conf.isModifiable(k)}
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield confs
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture()
def engine(spark):
    from wasaffi_spark import Engine

    return Engine(spark)
