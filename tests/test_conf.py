"""The recommended session posture (``wasaffi_spark.conf``) against the
running Spark."""

from __future__ import annotations


def test_recommended_sql_confs_are_accepted(spark, recommended_sql_confs):
    # Every spark.sql.* option of recommended_builder is a runtime conf
    # this Spark accepts at its value (Spark checks a value's range when
    # it is set): set, read back, unset; the session's own value is
    # restored afterwards.
    confs = recommended_sql_confs
    assert "spark.sql.execution.arrow.maxBytesPerBatch" in confs
    for key, value in confs.items():
        saved = spark.conf.get(key, None)
        try:
            assert spark.conf.isModifiable(key), key
            spark.conf.set(key, value)
            assert spark.conf.get(key) == value, key
            spark.conf.unset(key)
        finally:
            if saved is not None:
                spark.conf.set(key, saved)
