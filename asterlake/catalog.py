"""Spark SQL catalog over the gold layer — replaces the reference's DuckDB
serving stack (``src/gold_catalog.py``) with the same engine that built the
data: one system, no second optimizer, no per-file view binding.

Reference quirks fixed:
- ``src/gold_catalog.py:39-61`` globs ``gold/*/*.parquet`` and binds each view
  to a SINGLE parquet file; with multiple batch files per table the last one
  discovered wins. Spark reads the table *directory*, so views always see
  every batch.
- ``SHOW TABLES`` / ``DESCRIBE`` / ad-hoc SQL (:66-84) map 1:1 onto Spark SQL.

Views read with the declared ``GOLD_SCHEMAS``: registering a view runs no
Spark job (no parquet footer inference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from asterlake.schemas import GOLD_SCHEMAS, GOLD_TABLES
from asterlake.sources.writers import path_exists


def register_gold(spark: SparkSession, gold_root: str, tables=GOLD_TABLES) -> list[str]:
    """CREATE OR REPLACE TEMP VIEW per gold table directory
    (reference src/gold_catalog.py:52-61)."""
    registered = []
    for name in tables:
        path = os.path.join(gold_root, name)
        if not path_exists(spark, path):
            continue
        spark.read.schema(GOLD_SCHEMAS[name]).parquet(path).createOrReplaceTempView(name)
        registered.append(name)
    return registered


def show_tables(spark: SparkSession) -> DataFrame:
    """Reference src/gold_catalog.py:68 (`SHOW TABLES`)."""
    return spark.sql("SHOW TABLES")


def describe(spark: SparkSession, table: str) -> DataFrame:
    """Reference src/gold_catalog.py:75 (`DESCRIBE <table>`)."""
    return spark.sql(f"DESCRIBE {table}")


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Ad-hoc SQL over the registered views (reference :80-84)."""
    return spark.sql(query)
