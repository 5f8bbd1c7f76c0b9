"""Silver -> gold star schema (Kimball: 3 dims + 1 fact).

Re-expresses reference ``src/etl/silver_to_gold.py:35-79`` with the fixes
SURVEY.md §7 calls for, preserving the shapes in FIXTURES.md A3:

- **dim_asteroid** — 11 descriptive columns, one row per ``asteroid_id``.
  Reference dedups with ``dropDuplicates(["asteroid_id"])`` (:148), an
  *arbitrary*-survivor hash aggregate; we pick the survivor deterministically
  (max over the full ordering) so results are stable run-to-run — same
  contract (one arbitrary-but-valid row per key), reproducible outcome.
- **dim_date** — smart key ``date_id = int(yyyyMMdd)`` (:151) + calendar
  parts (:154-157). Deduping on date_id is inherently deterministic (all
  survivors identical).
- **dim_celestial_body** — reference assigns ``monotonically_increasing_id``
  *before* deduping (:159-162), keeping an arbitrary id per body; we use
  ``xxhash64(approaching_body)`` — deterministic, no window, no shuffle.
- **fact_asteroid_approach** — the reference left joins silver to
  dim_date/dim_celestial_body (:164-166; nulls preserved for unknown
  dates/bodies). Here both foreign keys are computed inline from the fact's
  own natural keys with the SAME helper the dim uses (``date_key``,
  ``celestial_body_key``), which is exactly what those joins return: each
  dim has one row per key, ``yyyyMMdd`` is injective on dates, and a null
  natural key never matches a join, so its FK is null. Surrogate
  ``approach_event_id`` is a hash of the event's natural identity instead
  of ``monotonically_increasing_id`` (:168).

Scale: the fact is a narrow projection over silver — no join, no broadcast,
no shuffle at any scale, and its plan never recomputes a dim aggregate. The
dim aggregations shuffle only the dim projections (partial aggregation
map-side first). Callers building all four tables should ``.persist()`` the
silver DataFrame before the fan-out (see pipeline.py) — the reference
recomputes the silver scan and joins four times, once per write (SURVEY §3.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from asterlake.functions.keys import surrogate_key

_DIM_ASTEROID_COLS = [
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
]


def date_key() -> Column:
    """``date_id`` smart key, int(yyyyMMdd) of ``approach_date`` (reference
    :151); null for a null date."""
    return F.date_format("approach_date", "yyyyMMdd").cast("int")


def celestial_body_key() -> Column:
    """``celestial_body_id``: deterministic hash of ``approaching_body``."""
    return surrogate_key("approaching_body")


def build_dim_asteroid(silver: DataFrame) -> DataFrame:
    """One row per asteroid_id (reference src/etl/silver_to_gold.py:35-47).

    Deterministic survivor: max_by over the remaining columns packed as a
    struct — a single hash aggregate (same physical shape as dropDuplicates'
    first-per-key), no window, no sort.
    """
    rest = [c for c in _DIM_ASTEROID_COLS if c != "asteroid_id"]
    packed = F.struct(*[F.col(c) for c in rest])
    agg = silver.groupBy("asteroid_id").agg(F.max(packed).alias("_row"))
    return agg.select("asteroid_id", *[F.col(f"_row.{c}").alias(c) for c in rest])


def build_dim_date(silver: DataFrame) -> DataFrame:
    """date_id smart key + calendar parts (reference :150-157).

    The reference keeps the null-date row (date_id null) produced by silver
    rows whose close_approach_date failed to parse; we preserve that.
    """
    keys = silver.select(date_key().alias("date_id"), "approach_date")
    return keys.dropDuplicates(["date_id"]).select(
        "date_id",
        "approach_date",
        F.year("approach_date").alias("year"),
        F.month("approach_date").alias("month"),
        F.dayofmonth("approach_date").alias("day"),
        F.date_format("approach_date", "E").alias("weekday"),
    )


def build_dim_celestial_body(silver: DataFrame) -> DataFrame:
    """One row per approaching_body with a deterministic hash id
    (reference :159-162 uses monotonically_increasing_id pre-dedup)."""
    return silver.select("approaching_body").distinct().select(
        celestial_body_key().alias("celestial_body_id"),
        "approaching_body",
    )


def build_fact(silver: DataFrame) -> DataFrame:
    """Fact at (asteroid, approach-event) grain (reference :164-180).

    Every silver row is kept. The foreign keys are the dims' own key
    expressions, so they equal what a left join to each dim returns: a
    null date or body gives a null FK (a null join key never matches, even
    though dim_celestial_body keys its null-body row). No join, so no
    broadcast and no shuffle of the fact side.
    """
    return silver.select(
        # full natural identity of the event: byte-identical duplicate
        # reports hash to the same id (idempotent), distinct events never
        # collide in practice (64-bit space)
        surrogate_key(
            "asteroid_id",
            "approach_datetime",
            "approaching_body",
            "velocity_km_s",
            "miss_distance_km",
            "_etl_batch_id",
        ).alias("approach_event_id"),
        "asteroid_id",
        date_key().alias("date_id"),
        F.when(F.col("approaching_body").isNotNull(), celestial_body_key()).alias(
            "celestial_body_id"
        ),
        "approach_datetime",
        "velocity_km_s",
        "velocity_km_h",
        "miss_distance_km",
        "miss_distance_au",
        "miss_distance_lunar",
        "_etl_batch_id",
        "_processing_timestamp",
    )


def build_star(silver: DataFrame) -> dict[str, DataFrame]:
    """All four gold tables from one silver DataFrame.

    Caller owns persisting `silver` across the four downstream actions
    (pipeline.py does); building the plans is lazy and free.
    """
    return {
        "dim_asteroid": build_dim_asteroid(silver),
        "dim_date": build_dim_date(silver),
        "dim_celestial_body": build_dim_celestial_body(silver),
        "fact_asteroid_approach": build_fact(silver),
    }
