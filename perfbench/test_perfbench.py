"""Tests of the benchmark itself (not collected by the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import run as bench  # noqa: E402
import tpch_gen  # noqa: E402
from neows_gen import NeoWsGenerator  # noqa: E402


def test_benchmark_json_lists_exactly_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == bench.per_layer_names()
    assert all(m["unit"] == bench._unit(m["name"]) for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == ["lake", "query_suite"]


def test_generators_are_pure_functions_of_the_seed(tmp_path):
    a = NeoWsGenerator(7, 30).write_range(str(tmp_path / "a"), dt.date(2020, 1, 1), 9, 4)
    b = NeoWsGenerator(7, 30).write_range(str(tmp_path / "b"), dt.date(2020, 1, 1), 9, 4)
    assert [os.path.basename(p) for p in a.paths] == [os.path.basename(p) for p in b.paths]
    assert all(open(p).read() == open(q).read() for p, q in zip(a.paths, b.paths))
    t1, t2 = tpch_gen.tables(3, 0.0005), tpch_gen.tables(3, 0.0005)
    assert all(t1[n].equals(t2[n]) for n in t1)
    assert not tpch_gen.tables(4, 0.0005)["lineitem"].equals(t1["lineitem"])


def test_seven_day_windows_like_ingest_range(tmp_path):
    batch = NeoWsGenerator(1, 20).write_range(str(tmp_path), dt.date(2020, 1, 1), 16, 3)
    docs = [json.load(open(p)) for p in batch.paths]
    assert [len(d["near_earth_objects"]) for d in docs] == [7, 7, 2]
    assert os.path.basename(batch.paths[1]) == "nasa-asteroid-data-2020-01-08.json"


def test_serving_compare():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                "('earth', 0.1 + 0.2, 3), ('mars', 1.0, 1)) v(body, total, n)")
    sql = "SELECT body, total, n FROM t"
    cols = ["n", "body", "total"]  # another column order, as Spark may give
    assert checks.same_rows(cols, [(1, "mars", 1.0), (3, "earth", 0.3)], con, sql)
    assert not checks.same_rows(cols, [(1, "mars", 1.0)], con, sql)
    assert not checks.same_rows(cols, [(1, "mars", 1.001), (3, "earth", 0.3)], con, sql)
    assert checks.same_rows(cols, [], con, sql + " WHERE n > 5")


@pytest.fixture(scope="module")
def lake_run(tmp_path_factory):
    from common import Run
    from lake import LakeRun
    from spans import Tracer

    work = str(tmp_path_factory.mktemp("work"))
    run = Run("lake", 3, True, work)
    run.build_session()
    lr = LakeRun(run)
    lr.tracer = Tracer(run.spark)
    yield lr
    run.stop()


def test_expected_counts_and_traced_stages_match_pipeline_run(lake_run, tmp_path):
    """The generator's expected counts equal what ``pipeline.run`` returns,
    and the stage-by-stage traced composition writes the same gold rows."""
    from lake import Lake, _processing_time

    batch = NeoWsGenerator(3, 60).write_range(str(tmp_path / "bronze"),
                                             dt.date(2020, 1, 1), 56, 10)
    assert all(batch.edge_cases[k] > 0 for k in (
        "empty_approaches", "bad_velocity", "null_date", "duplicate_id",
        "other_body", "multi_approach"))
    assert len(batch.asteroids) < batch.silver  # asteroids recur across days
    run = lake_run.run
    lake = Lake(str(tmp_path / "lake"), traced=True)
    lake_run.ingest("backfill", lake, str(tmp_path / "bronze"), batch, 1,
                    _processing_time(dt.date(2020, 2, 25)))
    lake_run.guard_gold(lake)
    assert run.failures == []
    assert run.attempted == 2
    layers = {(s.layer, s.phase) for s in lake_run.tracer.spans}
    assert ("sources.writers.write_gold", "execute") in layers
    write = next(s for s in lake_run.tracer.spans
                 if s.layer == "sources.writers.write_silver")
    assert write.counters["jobs"] >= 1 and write.counters["tasks"] >= 1


def test_guard_fails_loudly_on_different_gold(lake_run, tmp_path):
    from lake import Lake, _processing_time, run_pipeline

    gen = NeoWsGenerator(5, 30)
    first = gen.write_range(str(tmp_path / "a"), dt.date(2021, 1, 1), 7, 5)
    gen.write_range(str(tmp_path / "b"), dt.date(2021, 1, 8), 7, 5)
    lake = Lake(str(tmp_path / "lake"), traced=True)
    at = _processing_time(dt.date(2021, 1, 7))
    lake_run.ingest("backfill", lake, str(tmp_path / "a"), first, 1, at)
    run_pipeline(lake_run.run.spark, lake.shadow, str(tmp_path / "b"), 2, at)
    before = len(lake_run.run.failures)
    lake_run.guard_gold(lake)
    assert len(lake_run.run.failures) == before + 1
