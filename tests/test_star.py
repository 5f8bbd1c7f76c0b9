"""Golden tests for the gold star builder (reference parity:
src/etl/silver_to_gold.py:136-180; FIXTURES.md A3 + invariants)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from asterlake.functions.keys import surrogate_key
from asterlake.operators.flatten import flatten_feed
from asterlake.operators.star import (
    build_dim_celestial_body,
    build_dim_date,
    build_fact,
    build_star,
)
from asterlake.schemas import GOLD_SCHEMAS, SILVER_SCHEMA
from asterlake.sources.bronze import read_bronze, write_bronze_document
from tests.fixtures_neows import N_ASTEROID_ROWS, N_DISTINCT_ASTEROIDS, feed_document

BATCH_ID = 1760000000
PROC_TIME = dt.datetime(2025, 10, 10, 1, 30, 0)


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze_star")
    write_bronze_document(str(root), "2025-10-10", feed_document())
    return read_bronze(spark, str(root))


@pytest.fixture(scope="module")
def star(bronze):
    silver = flatten_feed(bronze, batch_id=BATCH_ID, processing_time=PROC_TIME).cache()
    tables = build_star(silver)
    return {"silver": silver, **{k: v.cache() for k, v in tables.items()}}


@pytest.fixture(scope="module", params=[False, True], ids=["parity", "all_approaches"])
def silver_at_grain(bronze, request):
    return flatten_feed(
        bronze, all_approaches=request.param, batch_id=BATCH_ID, processing_time=PROC_TIME
    )


def test_dim_asteroid_unique_natural_key(star):
    dim = star["dim_asteroid"]
    assert dim.count() == N_DISTINCT_ASTEROIDS
    assert dim.select("asteroid_id").distinct().count() == N_DISTINCT_ASTEROIDS


def test_dim_asteroid_is_deterministic(star, spark):
    a = sorted(map(tuple, star["dim_asteroid"].collect()))
    b = sorted(map(tuple, star["dim_asteroid"].repartition(7).collect()))
    assert a == b  # reference's dropDuplicates survivor is partition-dependent


def test_dim_date_smart_key_and_parts(star):
    rows = {r.date_id: r for r in star["dim_date"].collect()}
    # parity grain keeps only each asteroid's FIRST approach, so the
    # 2025-12-01 second approach of 54016476 is absent
    assert set(rows) == {20251010, 20251011, None}
    r = rows[20251010]
    assert (r.year, r.month, r.day, r.weekday) == (2025, 10, 10, "Fri")
    assert rows[None].approach_date is None  # null-date group preserved


def test_dim_celestial_body(star):
    rows = {r.approaching_body: r.celestial_body_id for r in star["dim_celestial_body"].collect()}
    assert set(rows) == {"Earth", "Merc", None}
    ids = [v for v in rows.values() if v is not None]
    assert len(set(ids)) == len(ids)  # hash ids distinct


def test_fact_preserves_every_silver_row(star):
    # left joins never drop (FIXTURES.md invariant)
    assert star["fact_asteroid_approach"].count() == N_ASTEROID_ROWS


def test_fact_fk_integrity(star):
    fact = star["fact_asteroid_approach"]
    dim_date_ids = {r.date_id for r in star["dim_date"].collect()}
    for r in fact.collect():
        assert r.date_id in dim_date_ids  # includes the None group
    # rows with null approach date get null FKs, not dropped
    nulls = fact.filter("date_id IS NULL").count()
    assert nulls == 2  # empty-approach asteroid + null-date asteroid


def test_fact_event_ids_unique_and_deterministic(star):
    fact = star["fact_asteroid_approach"]
    n = fact.count()
    assert fact.select("approach_event_id").distinct().count() == n
    again = build_star(star["silver"])["fact_asteroid_approach"]
    assert sorted(r.approach_event_id for r in again.collect()) == sorted(
        r.approach_event_id for r in fact.collect()
    )


def test_fact_is_a_narrow_projection(star):
    # stricter than "the fact never shuffles": no exchange of any kind and
    # no join, so the fact's plan is the silver scan plus one projection
    plan = build_fact(star["silver"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # also matches BroadcastExchange
    assert "Join" not in plan and "CartesianProduct" not in plan


def _left_join_fact(silver):
    """The fact as the reference builds it (src/etl/silver_to_gold.py:164-180):
    left joins to dim_date and dim_celestial_body for the foreign keys."""
    dd = build_dim_date(silver).select("date_id", "approach_date")
    joined = silver.join(dd, on="approach_date", how="left").join(
        build_dim_celestial_body(silver), on="approaching_body", how="left"
    )
    return joined.select(
        surrogate_key(
            "asteroid_id",
            "approach_datetime",
            "approaching_body",
            "velocity_km_s",
            "miss_distance_km",
            "_etl_batch_id",
        ).alias("approach_event_id"),
        "asteroid_id",
        "date_id",
        "celestial_body_id",
        "approach_datetime",
        "velocity_km_s",
        "velocity_km_h",
        "miss_distance_km",
        "miss_distance_au",
        "miss_distance_lunar",
        "_etl_batch_id",
        "_processing_timestamp",
    )


def test_inline_fact_keys_equal_left_join_form(silver_at_grain):
    inline = build_fact(silver_at_grain)
    joined = _left_join_fact(silver_at_grain)
    assert inline.columns == joined.columns
    assert inline.exceptAll(joined).count() == 0
    assert joined.exceptAll(inline).count() == 0
    # the fixture exercises both null-key paths
    assert inline.filter(F.col("date_id").isNull()).count() > 0
    assert inline.filter(F.col("celestial_body_id").isNull()).count() > 0


def test_declared_schemas_match_builders(silver_at_grain):
    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    assert fields(silver_at_grain.schema) == fields(SILVER_SCHEMA)
    tables = build_star(silver_at_grain)
    assert list(tables) == list(GOLD_SCHEMAS)
    for name, df in tables.items():
        assert fields(df.schema) == fields(GOLD_SCHEMAS[name]), name
