"""Bronze -> silver flatten: nested NeoWs feed -> flat typed table.

Re-expresses reference ``src/etl/bronze_to_silver.py:38-90`` Spark-first:

- The reference hardcodes today's date into the column path
  (``F.explode(F.col(f"near_earth_objects.{today_str}"))``, :39). With the
  map-typed bronze schema we ``explode`` the MAP itself — one plan covers a
  single day, a backfill range, or a multi-date feed document.
- The reference keeps only the FIRST close approach
  (``close_approach_data[0]``, :61). That stays the default for parity;
  ``all_approaches=True`` explodes every approach (grain: asteroid x approach).
- String->double casts are tolerant (``try_cast``) matching the pandas twin's
  ``to_numeric(errors="coerce")`` (``src/etl/pandas/bronze_to_silver.py:75-79``).
- Audit columns (:82-90) take an injectable batch id / clock so golden tests
  are deterministic; runtime defaults match the reference
  (``current_timestamp``/``current_date``/``unix_timestamp``).

Scale: everything here is a narrow map-side projection — no shuffle, no UDF,
fully whole-stage-codegen'd. The only wide operation in bronze->silver is the
writer's partitionBy.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from asterlake.functions.casts import try_date, try_double, try_timestamp

APPROACH_DATETIME_FORMAT = "yyyy-MMM-dd HH:mm"
SOURCE_SYSTEM = "NeoWs API"


def _approach_columns(approach: Column) -> list[Column]:
    return [
        try_date(approach["close_approach_date"]).alias("approach_date"),
        try_timestamp(
            approach["close_approach_date_full"], APPROACH_DATETIME_FORMAT
        ).alias("approach_datetime"),
        approach["orbiting_body"].alias("approaching_body"),
        try_double(approach["relative_velocity"]["kilometers_per_second"]).alias(
            "velocity_km_s"
        ),
        try_double(approach["relative_velocity"]["kilometers_per_hour"]).alias(
            "velocity_km_h"
        ),
        try_double(approach["miss_distance"]["kilometers"]).alias("miss_distance_km"),
        try_double(approach["miss_distance"]["astronomical"]).alias("miss_distance_au"),
        try_double(approach["miss_distance"]["lunar"]).alias("miss_distance_lunar"),
    ]


def flatten_feed(
    bronze: DataFrame,
    *,
    all_approaches: bool = False,
    batch_id: int | None = None,
    processing_time: datetime | None = None,
) -> DataFrame:
    """Flatten a bronze feed DataFrame (BRONZE_FEED_SCHEMA) to the silver table.

    Parameters
    ----------
    all_approaches:
        False (default, reference parity): keep only close_approach_data[0]
        — one row per (asteroid, feed-date). True: one row per approach.
    batch_id / processing_time:
        Injectable determinism for tests; None = reference runtime behavior
        (plan-evaluation-time clock, src/etl/bronze_to_silver.py:82-90).
    """
    # explode the date-keyed map: one row per (feed_date, asteroid-array),
    # then one row per asteroid (reference :39 does this for ONE hardcoded date)
    exploded = bronze.select(
        F.explode("near_earth_objects").alias("feed_date", "asteroids")
    ).select(F.explode("asteroids").alias("asteroid"))

    if all_approaches:
        # outer: an asteroid with no approaches still yields one (null) row,
        # matching the [0]-on-empty-array -> null behavior of the default path
        exploded = exploded.select(
            "asteroid",
            F.explode_outer("asteroid.close_approach_data").alias("approach"),
        )
        approach = F.col("approach")
    else:
        # reference uses close_approach_data[0] (bronze_to_silver.py:61);
        # under Spark 4 ANSI mode a bare [0] on an empty array THROWS, so
        # use get() — null row on no-approach, same as the pandas twin's
        # .str[0] which yields NaN
        approach = F.get(F.col("asteroid.close_approach_data"), 0)

    if processing_time is None:
        ts = F.current_timestamp()
        date = F.current_date()
    else:
        ts = F.lit(processing_time).cast("timestamp")
        date = F.lit(processing_time.date()).cast("date")
    bid = F.unix_timestamp() if batch_id is None else F.lit(batch_id).cast("long")

    return exploded.select(
        F.col("asteroid.id").alias("asteroid_id"),
        F.col("asteroid.neo_reference_id").alias("neo_id"),
        F.col("asteroid.name").alias("asteroid_name"),
        F.col("asteroid.absolute_magnitude_h").alias("magnitude"),
        F.col("asteroid.is_potentially_hazardous_asteroid").alias("is_hazardous"),
        F.col("asteroid.is_sentry_object").alias("is_sentry"),
        F.col("asteroid.estimated_diameter.kilometers.estimated_diameter_min").alias(
            "diameter_min_km"
        ),
        F.col("asteroid.estimated_diameter.kilometers.estimated_diameter_max").alias(
            "diameter_max_km"
        ),
        F.col("asteroid.estimated_diameter.meters.estimated_diameter_min").alias(
            "diameter_min_m"
        ),
        F.col("asteroid.estimated_diameter.meters.estimated_diameter_max").alias(
            "diameter_max_m"
        ),
        F.col("asteroid.nasa_jpl_url").alias("jpl_url"),
        *_approach_columns(approach),
        ts.alias("_processing_timestamp"),
        date.alias("_processing_date"),
        F.lit(SOURCE_SYSTEM).alias("_source_system"),
        bid.alias("_etl_batch_id"),
    )
