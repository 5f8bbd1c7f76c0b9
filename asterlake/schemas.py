"""Explicit schemas for the medallion layers.

The reference infers the bronze schema at read time
(``spark.read.option("multiline","true").json``, reference
``src/etl/bronze_to_silver.py:34``), which makes ``near_earth_objects`` a
struct whose field names are the feed's dates — forcing the date-interpolated
column path ``near_earth_objects.{today_str}`` (``bronze_to_silver.py:39``).

Here the schema is explicit and ``near_earth_objects`` is a
``MapType(date-string -> array<asteroid struct>)``, so one plan handles any
date range, schema inference (an eager driver-side scan — bad at 100 TB) is
eliminated, and the JSON reader can prune to exactly the fields the silver
projection needs.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _diameter_range() -> T.StructType:
    return T.StructType(
        [
            T.StructField("estimated_diameter_min", T.DoubleType()),
            T.StructField("estimated_diameter_max", T.DoubleType()),
        ]
    )


# Velocities and miss distances arrive as JSON *strings* in the NeoWs feed
# (see reference src/etl/bronze_to_silver.py:70-76, which casts them).
CLOSE_APPROACH_SCHEMA = T.StructType(
    [
        T.StructField("close_approach_date", T.StringType()),          # yyyy-MM-dd
        T.StructField("close_approach_date_full", T.StringType()),     # yyyy-MMM-dd HH:mm
        T.StructField("epoch_date_close_approach", T.LongType()),
        T.StructField("orbiting_body", T.StringType()),
        T.StructField(
            "relative_velocity",
            T.StructType(
                [
                    T.StructField("kilometers_per_second", T.StringType()),
                    T.StructField("kilometers_per_hour", T.StringType()),
                    T.StructField("miles_per_hour", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "miss_distance",
            T.StructType(
                [
                    T.StructField("astronomical", T.StringType()),
                    T.StructField("lunar", T.StringType()),
                    T.StructField("kilometers", T.StringType()),
                    T.StructField("miles", T.StringType()),
                ]
            ),
        ),
    ]
)

ASTEROID_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("neo_reference_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("nasa_jpl_url", T.StringType()),
        T.StructField("absolute_magnitude_h", T.DoubleType()),
        T.StructField(
            "estimated_diameter",
            T.StructType(
                [
                    T.StructField("kilometers", _diameter_range()),
                    T.StructField("meters", _diameter_range()),
                    T.StructField("miles", _diameter_range()),
                    T.StructField("feet", _diameter_range()),
                ]
            ),
        ),
        T.StructField("is_potentially_hazardous_asteroid", T.BooleanType()),
        T.StructField("is_sentry_object", T.BooleanType()),
        T.StructField("close_approach_data", T.ArrayType(CLOSE_APPROACH_SCHEMA)),
    ]
)

# The feed document. `near_earth_objects` as a MAP (not a date-named struct)
# is the one deliberate divergence from the inferred shape — see module doc.
BRONZE_FEED_SCHEMA = T.StructType(
    [
        T.StructField("element_count", T.LongType()),
        T.StructField(
            "links",
            T.StructType(
                [
                    T.StructField("next", T.StringType()),
                    T.StructField("prev", T.StringType()),
                    T.StructField("self", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "near_earth_objects",
            T.MapType(T.StringType(), T.ArrayType(ASTEROID_SCHEMA)),
        ),
    ]
)

# Silver: flat, typed, hive-partitioned by _processing_date
# (reference src/etl/bronze_to_silver.py:38-98; FIXTURES.md A2).
SILVER_SCHEMA = T.StructType(
    [
        T.StructField("asteroid_id", T.StringType()),
        T.StructField("neo_id", T.StringType()),
        T.StructField("asteroid_name", T.StringType()),
        T.StructField("magnitude", T.DoubleType()),
        T.StructField("is_hazardous", T.BooleanType()),
        T.StructField("is_sentry", T.BooleanType()),
        T.StructField("diameter_min_km", T.DoubleType()),
        T.StructField("diameter_max_km", T.DoubleType()),
        T.StructField("diameter_min_m", T.DoubleType()),
        T.StructField("diameter_max_m", T.DoubleType()),
        T.StructField("jpl_url", T.StringType()),
        T.StructField("approach_date", T.DateType()),
        T.StructField("approach_datetime", T.TimestampType()),
        T.StructField("approaching_body", T.StringType()),
        T.StructField("velocity_km_s", T.DoubleType()),
        T.StructField("velocity_km_h", T.DoubleType()),
        T.StructField("miss_distance_km", T.DoubleType()),
        T.StructField("miss_distance_au", T.DoubleType()),
        T.StructField("miss_distance_lunar", T.DoubleType()),
        T.StructField("_processing_timestamp", T.TimestampType()),
        T.StructField("_processing_date", T.DateType()),
        T.StructField("_source_system", T.StringType()),
        T.StructField("_etl_batch_id", T.LongType()),
    ]
)


def _silver(*names: str) -> list[T.StructField]:
    return [SILVER_SCHEMA[n] for n in names]


# Gold: the star schema operators/star.py writes (FIXTURES.md A3). Declared,
# like silver, so reading a table back needs no parquet footer-inference job.
GOLD_SCHEMAS = {
    "dim_asteroid": T.StructType(
        _silver(
            "asteroid_id",
            "neo_id",
            "asteroid_name",
            "magnitude",
            "is_hazardous",
            "is_sentry",
            "diameter_min_km",
            "diameter_max_km",
            "diameter_min_m",
            "diameter_max_m",
            "jpl_url",
        )
    ),
    "dim_date": T.StructType(
        [
            T.StructField("date_id", T.IntegerType()),
            *_silver("approach_date"),
            T.StructField("year", T.IntegerType()),
            T.StructField("month", T.IntegerType()),
            T.StructField("day", T.IntegerType()),
            T.StructField("weekday", T.StringType()),
        ]
    ),
    "dim_celestial_body": T.StructType(
        [T.StructField("celestial_body_id", T.LongType()), *_silver("approaching_body")]
    ),
    "fact_asteroid_approach": T.StructType(
        [
            T.StructField("approach_event_id", T.LongType()),
            *_silver("asteroid_id"),
            T.StructField("date_id", T.IntegerType()),
            T.StructField("celestial_body_id", T.LongType()),
            *_silver(
                "approach_datetime",
                "velocity_km_s",
                "velocity_km_h",
                "miss_distance_km",
                "miss_distance_au",
                "miss_distance_lunar",
                "_etl_batch_id",
                "_processing_timestamp",
            ),
        ]
    ),
}

GOLD_TABLES = tuple(GOLD_SCHEMAS)
