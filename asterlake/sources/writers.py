"""Parquet writers with sane lakehouse semantics.

Reference behaviors and their fixes (SURVEY.md §4, §7):

- Silver: the reference writes ``mode("overwrite").partitionBy(...)``
  (``src/etl/bronze_to_silver.py:94-98``) which with static overwrite wipes
  EVERY partition, i.e. each daily run destroys all history. We write with
  ``partitionOverwriteMode=dynamic`` so only the partitions present in the
  batch are replaced — idempotent re-runs of one day, history intact.
- Gold: the reference appends blindly (``src/etl/silver_to_gold.py:82-96``)
  so dims accumulate duplicate natural keys across days. ``write_gold``
  keeps append as the parity default; ``merge_dimension`` provides the
  fixed upsert (anti-join + union rewrite — Delta MERGE semantics without
  needing the Delta jars, which aren't in this image).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asterlake.schemas import SILVER_SCHEMA


def write_silver(df: DataFrame, path: str) -> None:
    """Partitioned silver write; replaces only the partitions in this batch."""
    (
        df.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_processing_date")
        .save(path)
    )


def read_silver(spark: SparkSession, path: str, processing_date=None) -> DataFrame:
    """Read silver with its declared schema; optional filter on the
    partition column.

    The reference reads the partition by literal path
    (``.../_processing_date={today}/``, src/etl/silver_to_gold.py:32) which
    silently drops the partition column from the schema. Filtering on the
    column instead gets identical I/O via Catalyst partition pruning and
    keeps the schema complete. The declared ``SILVER_SCHEMA`` spares the
    parquet footer-inference job an inferring read would launch.
    """
    df = spark.read.schema(SILVER_SCHEMA).parquet(path)
    if processing_date is not None:
        df = df.filter(F.col("_processing_date") == F.lit(processing_date))
    return df


def write_gold(tables: dict[str, DataFrame], root: str, mode: str = "append") -> None:
    """Write the four gold tables (parity default: append, like reference
    src/etl/silver_to_gold.py:82-96)."""
    for name, df in tables.items():
        df.write.mode(mode).parquet(os.path.join(root, name))


def merge_dimension(
    spark: SparkSession, incoming: DataFrame, path: str, natural_key: str
) -> None:
    """Idempotent dim upsert without Delta: existing-if-absent + incoming.

    Keeps the existing row on key conflict (dims are slowly changing type 1
    "ignore updates" here — same survivor semantics as the reference's
    first-write-wins read patterns). Rewrite is atomic-enough for a local
    lakehouse: write to a temp dir then swap would be the production move;
    at 100 TB the real answer is Delta/Iceberg MERGE (jars not in this
    image — gated out, SURVEY §7.4).
    """
    tmp = tempfile.mkdtemp(prefix="asterlake_merge_")
    try:
        # only a missing dim starts from `incoming`: a read or merge error on
        # an existing one (e.g. a schema mismatch) must raise, not overwrite
        # the dim's history with the incoming batch alone
        if path_exists(spark, path):
            existing = spark.read.parquet(path)
            merged = existing.unionByName(
                incoming.join(existing, on=natural_key, how="left_anti")
            )
        else:
            merged = incoming
        out = os.path.join(tmp, "data")
        merged.write.mode("overwrite").parquet(out)
        spark.read.parquet(out).write.mode("overwrite").parquet(path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists, on the local filesystem or an object store."""
    if "://" not in path:
        return os.path.isdir(path) or os.path.isfile(path)
    # object-store paths: let Hadoop answer
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sort-within-bucket) catalog table.

    Bucketing pre-shuffles the data ONCE at write time: two tables bucketed
    the same way on the join key then join with ZERO exchanges (verified in
    tests/test_skew_bucketing.py), and aggregations on the bucket key skip
    their shuffle too. This is the physical design lever for a fact table
    that joins on the same key in every query — at 100 TB it converts every
    downstream join from "shuffle 100 TB" to "local merge".

    Parquet + native catalog (no Hive needed); Spark records bucket spec in
    the table metadata, so readers must go through ``spark.table(...)``.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
