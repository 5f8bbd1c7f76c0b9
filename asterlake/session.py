"""SparkSession construction for asterlake.

Replaces the per-script session builders of the reference
(``src/etl/bronze_to_silver.py:21-29`` and ``src/etl/silver_to_gold.py:21-29``
build one session each, hard-wired to a MinIO S3A endpoint). Here one builder
serves every entry point and the storage layer is config-driven: local
filesystem paths by default, S3A when an ``ObjectStoreConfig`` is supplied.

Scale notes
-----------
The defaults are tuned for correctness at any scale and speed on local[N]:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast) so the
  same code re-plans itself on a 1000-executor cluster at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to max(cores, 32) locally; on a
  real cluster AQE's ``coalescePartitions`` makes the initial number a ceiling
  rather than a constant, so a large value is safe.
- Session timezone pinned to UTC and the Java default locale left at en_US so
  ``date_format(..., 'E')`` / ``to_timestamp(..., 'yyyy-MMM-dd HH:mm')``
  (reference ``src/etl/bronze_to_silver.py:66``) parse identically everywhere.
- Arrow enabled for every Python<->JVM batch boundary (pandas_udf,
  toPandas, createDataFrame from pandas).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class ObjectStoreConfig:
    """S3-compatible object-store settings (reference .env.example)."""

    endpoint: str
    access_key: str
    secret_key: str
    path_style_access: bool = True
    ssl_enabled: bool = False


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def build_session(
    app_name: str = "asterlake",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    object_store: ObjectStoreConfig | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the asterlake SparkSession.

    Parameters mirror what the reference hard-codes: S3A wiring
    (``src/etl/bronze_to_silver.py:23-28``) becomes ``object_store``;
    everything else is Catalyst/AQE tuning the reference leaves at defaults.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # TIMESTAMP(NANOS) parquet columns (the testdata events table) read
        # as long; set HERE, once, not per-read in loaders (see tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    )

    # In local[N] mode the ONE JVM holds driver + all N executor threads'
    # shuffle/aggregation buffers; Spark's 1g default heap is sized for a
    # thin cluster driver and intermittently OOMs a 32-thread bench run.
    # Default to a heap sized for the local workload, env-overridable.
    driver_mem = os.environ.get("ASTERLAKE_DRIVER_MEMORY", "16g")
    builder = builder.config("spark.driver.memory", driver_mem)

    if object_store is not None:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", object_store.endpoint)
            .config("spark.hadoop.fs.s3a.access.key", object_store.access_key)
            .config("spark.hadoop.fs.s3a.secret.key", object_store.secret_key)
            .config(
                "spark.hadoop.fs.s3a.path.style.access",
                str(object_store.path_style_access).lower(),
            )
            .config(
                "spark.hadoop.fs.s3a.connection.ssl.enabled",
                str(object_store.ssl_enabled).lower(),
            )
        )

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_parquet_nanos_conf(spark: SparkSession) -> None:
    """Idempotently enable the TIMESTAMP(NANOS)-as-long parquet read conf.

    Sessions built by :func:`build_session` already carry it; this shim
    exists for *externally-owned* sessions (the correctness driver passes
    its own SparkSession into every query) where the builder config never
    ran. It checks before setting so an already-configured session is
    never mutated — the one place this runtime conf write lives.
    """
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


@contextmanager
def pinned_conf(spark: SparkSession, pins: dict[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for the body, then put the session back.

    On exit, normal or by exception, each key gets its prior value back,
    or is unset again if the session never set it (which restores
    Spark's default rather than writing that default in). The pins are
    session-global: a query planned on the same session from another
    thread while the body runs sees them, so callers assume one planner
    per session at a time.
    """
    prior = {key: spark.conf.get(key, None) for key in pins}
    try:
        for key, value in pins.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
