"""End-to-end pipeline + catalog tests (reference parity for the full DAG
bronze_ingest >> bronze_to_silver >> silver_to_gold + gold_catalog serving)."""

from __future__ import annotations

import datetime as dt

import pytest

from asterlake import catalog, pipeline
from asterlake.schemas import GOLD_TABLES
from asterlake.sources.bronze import write_bronze_document
from asterlake.sources.neows import date_windows, fetch_feed, ingest_range
from tests.fixtures_neows import N_ASTEROID_ROWS, N_DISTINCT_ASTEROIDS, feed_document

BATCH_ID = 1760000000
PROC_TIME = dt.datetime(2025, 10, 10, 1, 30, 0)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    bronze = root / "bronze"
    write_bronze_document(str(bronze), "2025-10-10", feed_document())
    counts = pipeline.run(
        spark,
        str(bronze),
        str(root / "silver"),
        str(root / "gold"),
        batch_id=BATCH_ID,
        processing_time=PROC_TIME,
    )
    return root, counts


def test_counts(lake):
    _, counts = lake
    assert counts["silver"] == N_ASTEROID_ROWS
    assert counts["fact_asteroid_approach"] == N_ASTEROID_ROWS
    assert counts["dim_asteroid"] == N_DISTINCT_ASTEROIDS


def test_silver_partitioned_layout(lake):
    root, _ = lake
    parts = [p.name for p in (root / "silver").iterdir() if p.is_dir()]
    assert parts == ["_processing_date=2025-10-10"]


def test_catalog_serving_query(lake, spark):
    # the reference's demo query (src/gold_catalog.py:80-84)
    df = catalog.sql(
        spark,
        "SELECT asteroid_id, velocity_km_s, miss_distance_km "
        "FROM fact_asteroid_approach LIMIT 5",
    )
    rows = df.collect()
    assert len(rows) == 5
    assert df.columns == ["asteroid_id", "velocity_km_s", "miss_distance_km"]


def test_catalog_introspection(lake, spark):
    tables = {r.tableName for r in catalog.show_tables(spark).collect()}
    assert {
        "dim_asteroid",
        "dim_date",
        "dim_celestial_body",
        "fact_asteroid_approach",
    } <= tables
    desc = catalog.describe(spark, "fact_asteroid_approach").collect()
    cols = {r.col_name for r in desc}
    assert "approach_event_id" in cols and "velocity_km_s" in cols


def test_rerun_same_day_does_not_duplicate_silver(lake, spark):
    # dynamic partition overwrite: re-running a day replaces that day only
    root, _ = lake
    pipeline.run(
        spark,
        str(root / "bronze"),
        str(root / "silver"),
        str(root / "gold2"),
        batch_id=BATCH_ID,
        processing_time=PROC_TIME,
    )
    silver = spark.read.parquet(str(root / "silver"))
    assert silver.count() == N_ASTEROID_ROWS


def test_neows_date_windows():
    w = date_windows(dt.date(2025, 1, 1), dt.date(2025, 1, 20))
    assert w[0] == (dt.date(2025, 1, 1), dt.date(2025, 1, 7))
    assert w[-1] == (dt.date(2025, 1, 15), dt.date(2025, 1, 20))
    assert sum((e - s).days + 1 for s, e in w) == 20


def test_neows_ingest_with_fake_fetcher(tmp_path):
    urls = []

    def fake(url):
        urls.append(url)
        return feed_document()

    paths = ingest_range(
        dt.date(2025, 10, 1), dt.date(2025, 10, 10), "KEY", str(tmp_path), fetcher=fake
    )
    assert len(paths) == 2  # two 7-day windows
    assert "api_key=KEY" in urls[0] and "start_date=2025-10-01" in urls[0]


def test_neows_window_limit():
    with pytest.raises(ValueError):
        fetch_feed(dt.date(2025, 1, 1), dt.date(2025, 1, 9), "K", fetcher=lambda u: {})


def test_neows_python_datasource_offline(spark, tmp_path):
    """Drive the PySpark 4 Python Data Source end-to-end offline: window
    partitioning -> executor-side read (fixture_dir hook) -> from_json with
    the bronze schema -> flatten; row grain matches the batch path."""
    from pyspark.sql import functions as F

    from asterlake.operators.flatten import flatten_feed
    from asterlake.schemas import BRONZE_FEED_SCHEMA
    from asterlake.sources.bronze import write_bronze_document
    from asterlake.sources.neows import register_neows_source

    assert register_neows_source(spark)  # pyspark 4 in this image

    fixtures = str(tmp_path / "bronze")
    # 10-day range -> two 7-day-window partitions starting 10-10 and 10-17
    write_bronze_document(fixtures, "2025-10-10", feed_document())
    write_bronze_document(fixtures, "2025-10-17", feed_document())

    raw = (
        spark.read.format("neows")
        .option("start_date", "2025-10-10")
        .option("end_date", "2025-10-19")
        .option("fixture_dir", fixtures)
        .load()
    )
    assert raw.count() == 2  # one row per window partition

    bronze = raw.select(
        F.from_json("document", BRONZE_FEED_SCHEMA).alias("doc")
    ).select("doc.*")
    silver = flatten_feed(bronze, batch_id=1)
    assert silver.count() == 2 * N_ASTEROID_ROWS


def test_gold_builds_read_silver_from_cache_not_parquet(lake, spark):
    """Round-4 verdict #5: the four gold writes must share ONE silver
    materialization. pipeline.run persists the silver read-back; this
    pins that every gold table's plan over a persisted silver reads the
    InMemoryTableScan, never a second parquet scan of the silver files."""
    from pyspark.storagelevel import StorageLevel

    from asterlake.operators.star import build_star
    from asterlake.plans.inspect import plan_string
    from asterlake.sources.writers import read_silver

    root, _ = lake
    silver_back = read_silver(
        spark, str(root / "silver"), processing_date=PROC_TIME.date()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tables = build_star(silver_back)
        assert len(tables) == 4
        for name, df in tables.items():
            # tree section of the formatted plan (before the node details)
            tree = plan_string(df).split("\n\n")[0].splitlines()
            im_scans = [i for i, l in enumerate(tree) if "InMemoryTableScan" in l]
            relations = [i for i, l in enumerate(tree) if "InMemoryRelation" in l]
            pq_scans = [i for i, l in enumerate(tree) if "Scan parquet" in l]
            assert im_scans, name
            # every parquet scan in the tree is the cache-BUILD child of
            # an InMemoryRelation (rendered directly beneath it), never a
            # live re-scan of the silver files by a gold branch
            assert len(pq_scans) == len(relations), (name, tree)
            for p in pq_scans:
                assert any(r < p for r in relations), (name, tree)
    finally:
        silver_back.unpersist()


def test_neows_streaming_datasource_offline(spark, tmp_path):
    """Drive the Spark 4 SimpleDataSourceStreamReader variant offline:
    date-cursor offsets, availableNow catch-up, and exactly-once advance
    across a checkpoint restart (new days only on the second run)."""
    from asterlake.sources.bronze import write_bronze_document
    from asterlake.sources.neows import register_neows_source

    assert register_neows_source(spark)
    fixtures = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    for d in ("2025-10-10", "2025-10-11", "2025-10-12"):
        write_bronze_document(fixtures, d, feed_document())

    def run(end_date: str) -> None:
        (
            spark.readStream.format("neows")
            .option("start_date", "2025-10-10")
            .option("end_date", end_date)
            .option("fixture_dir", fixtures)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    run("2025-10-11")  # days 10-10 and 10-11
    assert spark.read.parquet(out).count() == 2

    run("2025-10-12")  # restart from checkpoint: only 10-12 is new
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    # each row is the verbatim document for its day
    import json as _json

    docs = [_json.loads(r.document) for r in rows]
    assert all(d == feed_document() for d in docs)


# Spark jobs one fixture day run launches, as measured on this code: 1 for
# the silver write, 8 for the four gold writes, 2 for the one counting
# aggregation (its shuffle-map job and the collect).
DAY_RUN_JOBS = 11


def test_consecutive_days_count_cumulative_gold(spark, tmp_path):
    """Two days into one lake: the returned counts are the batch's silver
    partition and every gold table's cumulative rows, from one counting job."""
    from pyspark.sql import functions as F

    gold = tmp_path / "gold"
    silver = tmp_path / "silver"
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    for day in range(2):
        at = PROC_TIME + dt.timedelta(days=day)
        bronze = tmp_path / f"bronze-{day}"
        write_bronze_document(str(bronze), at.date().isoformat(), feed_document())
        first_job = next_job()
        counts = pipeline.run(
            spark,
            str(bronze),
            str(silver),
            str(gold),
            batch_id=BATCH_ID + day,
            processing_time=at,
        )
        if day == 0:
            assert next_job() - first_job == DAY_RUN_JOBS
        batch = spark.read.parquet(str(silver)).filter(
            F.col("_processing_date") == F.lit(at.date())
        )
        want = {"silver": batch.count()}
        for t in GOLD_TABLES:
            want[t] = spark.read.parquet(str(gold / t)).count()
        assert counts == want
        assert counts["silver"] == N_ASTEROID_ROWS
        assert counts["fact_asteroid_approach"] == (day + 1) * N_ASTEROID_ROWS


def test_merge_dimension_refuses_incompatible_incoming(spark, tmp_path, monkeypatch):
    """A merge that cannot read or union the existing dim raises and leaves
    its files as they were, instead of overwriting history with the batch."""
    import tempfile

    from pyspark.errors import AnalysisException

    from asterlake.sources.writers import merge_dimension

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    path = str(tmp_path / "dim")
    merge_dimension(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"), path, "id"
    )
    before = sorted(spark.read.parquet(path).collect())
    files = sorted(p.name for p in (tmp_path / "dim").iterdir())
    incompatible = spark.createDataFrame([(3, 1.5)], "id long, score double")
    with pytest.raises(AnalysisException):
        merge_dimension(spark, incompatible, path, "id")
    assert sorted(p.name for p in (tmp_path / "dim").iterdir()) == files
    assert sorted(spark.read.parquet(path).collect()) == before
    assert list(scratch.iterdir()) == []  # the merge's temp dirs are removed
