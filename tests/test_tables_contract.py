"""Loader contract: load_table must return stable Spark types for every
testdata table regardless of the parquet physical encoding the driver used.

Round-2 regression this pins: events.ts shipped as TIMESTAMP(NANOS)-as-long
in one driver version and plain timestamp[us] (TIMESTAMP_NTZ to Spark) in
the next; the loader assumed one encoding and broke 12 queries. Now it
branches on the observed dtype (asterlake/tables.py) — this test feeds it
every encoding and asserts the post-load logical schema never changes.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from asterlake.tables import TABLE_NAMES, load_table, normalize_events_ts

SF_DIR = "/root/testdata/sf0.001"

EXPECTED_EVENT_TYPES = {
    "event_id": T.LongType(),
    "ts": T.TimestampType(),
    "user_id": T.LongType(),
    "event_type": T.StringType(),
    "value": T.DoubleType(),
}


def test_every_table_loads(spark):
    for name in TABLE_NAMES:
        df = load_table(spark, SF_DIR, name)
        assert len(df.columns) > 0, name
        # events is the one table whose ts feeds arithmetic (div, window,
        # as-of, streaming watermark) — no TIMESTAMP_NTZ may leak from it.
        # Other tables' date columns only face comparisons, where Spark
        # coerces NTZ vs TIMESTAMP literals; their raw encoding may pass
        # through unchanged.
        if name == "events":
            for field in df.schema.fields:
                assert not isinstance(field.dataType, T.TimestampNTZType), (
                    f"events.{field.name} leaked TIMESTAMP_NTZ through loader"
                )


def test_events_ts_is_session_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    for col, want in EXPECTED_EVENT_TYPES.items():
        assert df.schema[col].dataType == want, col
    # the column must actually evaluate (the r2 bug threw at analysis time)
    row = df.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    assert row["lo"] is not None and row["hi"] > row["lo"]


@pytest.mark.parametrize("encoding", ["micros_ntz", "nanos_long", "timestamp"])
def test_normalize_events_ts_all_encodings(spark, tmp_path, encoding):
    """Same wall-clock instants through every physical encoding the driver
    has ever shipped -> identical post-normalization values."""
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    instants = [base + datetime.timedelta(seconds=s, microseconds=7) for s in range(5)]

    if encoding == "nanos_long":
        df = spark.createDataFrame(
            [(i, int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000)
             for i, t in enumerate(instants)],
            T.StructType([
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),
            ]),
        )
    elif encoding == "micros_ntz":
        df = (
            spark.createDataFrame(
                [(i, t) for i, t in enumerate(instants)],
                T.StructType([
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.TimestampType()),
                ]),
            )
            .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        )
    else:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(instants)],
            T.StructType([
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]),
        )

    out = normalize_events_ts(df)
    assert out.schema["ts"].dataType == T.TimestampType()
    got = {r["event_id"]: r["ts"] for r in out.collect()}
    assert got == {i: t for i, t in enumerate(instants)}


def test_normalize_roundtrip_through_parquet(spark, tmp_path):
    """Write micros-encoded parquet (what the driver ships today), read it
    back through the loader path, and check values survive bit-exact."""
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(i, base + datetime.timedelta(minutes=i)) for i in range(10)]
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    path = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    back = normalize_events_ts(spark.read.parquet(path))
    assert back.schema["ts"].dataType == T.TimestampType()
    got = sorted((r["event_id"], r["ts"]) for r in back.collect())
    assert got == rows


def test_fan_out_small_scan_spreads_and_noops(spark, tmp_path):
    """fan_out_small_scan (r14): a single-row-group scan is spread to the
    session parallelism for CPU-heavy row-local work; an input already at
    or above that parallelism is returned UNCHANGED (the no-op that makes
    the helper scale-honest); values are identical either way."""
    from asterlake.tables import fan_out_small_scan

    cores = spark.sparkContext.defaultParallelism
    path = os.path.join(str(tmp_path), "small.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    small = spark.read.parquet(path)
    assert small.rdd.getNumPartitions() < cores
    spread = fan_out_small_scan(small)
    assert spread.rdd.getNumPartitions() == cores
    assert sorted(r.id for r in spread.collect()) == list(range(100))

    wide = spark.range(1000).repartition(cores)
    assert fan_out_small_scan(wide) is wide

    # the determinism argument depends on sortBeforeRepartition (r15,
    # r14 ADVICE): with it disabled the helper declines to spread
    key = "spark.sql.execution.sortBeforeRepartition"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        assert fan_out_small_scan(small) is small
    finally:
        spark.conf.set(key, prev)


def test_engine_writes_never_touch_sf_dir_tables(spark, tmp_path):
    """load_table caches handles and never invalidates them, which is
    sound only while no engine write lands in an sf_dir table. Run the
    queries that write — q_stream_cdc_apply stages its change waves with
    ``.write.parquet``, the memory-sink drains write checkpoints beside
    symlinked sources — over a private copy of sf0.001: the copy's files
    are unchanged, and the cached handles still read the same rows as a
    fresh uncached read."""
    import shutil

    from asterlake.queries import QUERIES

    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)

    def files():
        return {
            (str(p.relative_to(sf)), p.stat().st_size, p.stat().st_mtime_ns)
            for p in sf.rglob("*")
        }

    before = files()
    handles = {t: load_table(spark, str(sf), t) for t in ("orders", "events")}
    for name in (
        "q_stream_cdc_apply",
        "q_stream_quarantine",
        "q_stream_windowed_counts",
    ):
        QUERIES[name].spark(spark, str(sf)).write.format("noop").mode(
            "overwrite"
        ).save()
    assert files() == before
    for table, cached in handles.items():
        assert load_table(spark, str(sf), table) is cached
        fresh = spark.read.parquet(str(sf / f"{table}.parquet"))
        if table == "events":
            fresh = normalize_events_ts(fresh)
        assert cached.exceptAll(fresh).count() == 0
        assert fresh.exceptAll(cached).count() == 0
