import pytest
from pyspark.sql import functions as F

from asterlake.session import pinned_conf


def test_session_smoke(spark):
    assert spark.range(10).agg(F.sum("id").alias("s")).collect()[0]["s"] == 45


def test_session_utc_timezone(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_reads_testdata(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert df.count() == 6000
    assert "l_orderkey" in df.columns


def test_pinned_conf_restores_after_normal_exit(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pinned_conf(spark, {key: "3"}):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before


def test_pinned_conf_restores_after_exception(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError, match="body failed"):
        with pinned_conf(spark, {key: "3"}):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == before


def test_pinned_conf_unsets_a_key_that_was_unset(spark):
    """Restoring an unset key must not write Spark's default into the
    session: the key reads as unset again, and the default comes back."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        with pytest.raises(RuntimeError):
            with pinned_conf(spark, {key: "false"}):
                assert spark.conf.get(key) == "false"
                raise RuntimeError
        assert spark.conf.get(key, None) is None
        with pinned_conf(spark, {key: "false"}):
            pass
        assert spark.conf.get(key, None) is None
        assert spark.conf.get(key) == "true"
    finally:
        if prior is not None:
            spark.conf.set(key, prior)
