"""End-to-end medallion pipeline: bronze JSON -> silver parquet -> gold star.

Replaces the reference's three separately-orchestrated scripts
(``src/etl/bronze_ingest.py`` -> ``bronze_to_silver.py`` -> ``silver_to_gold.py``,
wired by the Airflow DAG ``airflow/dags/nasa_asteroids_pipeline_venv.py:36-51``)
with one callable; orchestration stays external (cron/Airflow calls ``run``).

Performance notes vs the reference:
- The silver DataFrame is persisted once before the four gold writes; the
  reference recomputes the full silver scan + joins per write (four actions,
  SURVEY §3.1 note 3).
- The fact derives its foreign keys inline with the dims' own key
  expressions (operators/star.py): no joins, no fact shuffle, and the fact
  write never recomputes a dim aggregate.
- Silver and gold are read back with declared schemas (schemas.py), so no
  read runs a parquet schema-inference job.
- Every returned row count comes from ONE aggregation over a union of the
  persisted silver and the registered gold views — one count per table
  would launch a Spark job each.
"""

from __future__ import annotations

from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from asterlake.catalog import register_gold
from asterlake.operators.flatten import flatten_feed
from asterlake.operators.star import build_star
from asterlake.sources.bronze import read_bronze
from asterlake.sources.writers import read_silver, write_gold, write_silver


def run(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    gold_root: str,
    *,
    all_approaches: bool = False,
    batch_id: int | None = None,
    processing_time: datetime | None = None,
    register_views: bool = True,
) -> dict[str, int]:
    """Run bronze -> silver -> gold for every document under `bronze_path`.

    Returns row counts: ``silver`` is this batch's silver partition and,
    when `register_views`, each gold table's count is its whole registered
    view (every batch appended so far). All come from one counting job over
    the persisted silver and the written parquet, not plan re-execution.
    """
    bronze = read_bronze(spark, bronze_path)
    silver = flatten_feed(
        bronze,
        all_approaches=all_approaches,
        batch_id=batch_id,
        processing_time=processing_time,
    )
    write_silver(silver, silver_path)

    # Read the written silver back (column-pruned parquet scans beat
    # re-flattening JSON), pruned to THIS batch's partition — the reference
    # builds gold from today's partition only (src/etl/silver_to_gold.py:32,
    # by literal path; here via a partition-pruned filter) — and persist
    # across the four gold actions.
    # The partition filter must use the SAME clock that stamped
    # _processing_date: flatten_feed uses the session's current_date()
    # (UTC-pinned) when no processing_time is injected, so a driver-local
    # datetime.now() on a non-UTC host (or across midnight) would prune to
    # a partition that was never written (ADVICE r1).
    if processing_time is not None:
        batch_date = processing_time.date()
    else:
        batch_date = spark.sql("SELECT current_date() AS d").collect()[0].d
    silver_back = read_silver(spark, silver_path, processing_date=batch_date).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        tables = build_star(silver_back)
        write_gold(tables, gold_root)
        frames = {"silver": silver_back}
        if register_views:
            register_gold(spark, gold_root)
            frames.update((name, spark.table(name)) for name in tables)
        counts = _count_rows(frames)
    finally:
        silver_back.unpersist()
    return counts


def _count_rows(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of every frame from one union-all ``groupBy().count()``
    and one ``collect``; a frame with no rows counts 0."""
    tagged = [df.select(F.lit(name).alias("_t")) for name, df in frames.items()]
    got = dict(reduce(DataFrame.unionAll, tagged).groupBy("_t").count().collect())
    return {name: got.get(name, 0) for name in frames}
