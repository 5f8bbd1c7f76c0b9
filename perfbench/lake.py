"""The ``lake`` workload: the paper's medallion pipeline and its serving path.

One client in a closed loop, the way an Airflow task and then an analyst
each wait for the reply before sending the next request:

1. backfill -- ``pipeline.run`` over a seeded multi-year bronze backfill in
   the 7-day-window layout of ``sources.neows.ingest_range``, BACKFILLS
   times into fresh lakes.  Bulk path: JSON parse, flatten, partitioned
   silver write, silver persist, star aggregations, broadcast joins and the
   gold write.
2. daily -- on the last backfilled lake, DAYS consecutive single-day
   documents, each through ``pipeline.run`` with its own batch id and
   processing time, each followed by SERVE_REPS rounds of the serving mix
   through ``catalog.sql(...).collect()``.  Fixed costs: job launch,
   planning, partition discovery over a growing silver and listing of an
   append-grown gold, with writes beside reads.

The traced run (``--trace 1``) calls ``pipeline.run``'s public stages one by
one, in its order, inside spans, and guards that composition against
``pipeline.run`` itself on a shadow lake fed the same inputs.
"""

from __future__ import annotations

import os
import random
from datetime import date, datetime, time, timedelta
from statistics import median
from time import perf_counter

import duckdb

from checks import same_rows
from common import Run, tail, timed
from neows_gen import NeoWsGenerator
from spans import Tracer, op_totals, plan

BACKFILL_DAYS = 3650
PER_DAY = 25            # asteroid entries per feed day, before duplicates
POOL = 400              # asteroids that recur across days
WARMUP_DAYS = 365       # the cold first warm-up backfill runs over one year
BACKFILLS = 2
DAYS = 4
SERVE_REPS = 2
START = date(2015, 1, 1)
RUN_AT = time(1, 30)    # the reference DAG's daily schedule
GOLD = ("dim_asteroid", "dim_date", "dim_celestial_body", "fact_asteroid_approach")

# The serving mix: name -> SQL that Spark and DuckDB both run unchanged.
SERVING = {
    "demo_limit": "SELECT asteroid_id, velocity_km_s, miss_distance_km "
                  "FROM fact_asteroid_approach LIMIT 5",
    "point_lookup": "SELECT approach_event_id, asteroid_id, date_id, velocity_km_s, "
                    "miss_distance_km FROM fact_asteroid_approach "
                    "WHERE asteroid_id = '{asteroid_id}'",
    "hazardous_by_month":
        "SELECT d.year, d.month, count(*) AS approaches FROM fact_asteroid_approach f "
        "JOIN (SELECT DISTINCT date_id, year, month FROM dim_date) d "
        "ON f.date_id = d.date_id "
        "JOIN (SELECT DISTINCT asteroid_id FROM dim_asteroid WHERE is_hazardous) a "
        "ON f.asteroid_id = a.asteroid_id GROUP BY d.year, d.month",
    "closest_top10": "SELECT approach_event_id, asteroid_id, miss_distance_km "
                     "FROM fact_asteroid_approach WHERE miss_distance_km IS NOT NULL "
                     "ORDER BY miss_distance_km, approach_event_id LIMIT 10",
    "body_velocity":
        "SELECT b.approaching_body, count(*) AS approaches, "
        "avg(f.velocity_km_s) AS avg_kms, max(f.velocity_km_s) AS max_kms "
        "FROM fact_asteroid_approach f "
        "JOIN (SELECT DISTINCT celestial_body_id, approaching_body "
        "FROM dim_celestial_body) b ON f.celestial_body_id = b.celestial_body_id "
        "GROUP BY b.approaching_body",
    "show_tables": "SHOW TABLES",
    "describe_fact": "DESCRIBE fact_asteroid_approach",
}

# Per-layer metrics: (operation kind, layer, quantities).  Each is the median
# over the operations of that kind in the traced run.
LAYER_METRICS = (
    ("backfill", "sources.writers.write_silver",
     ("execute_s", "executor_run_s", "tasks", "input_mb", "output_mb")),
    ("backfill", "sources.writers.write_gold",
     ("execute_s", "stages", "tasks", "shuffle_write_mb", "spill_mb")),
    ("backfill", "operators.star.build_star", ("construct_s", "plan_s")),
    ("backfill", "pipeline.run", ("backfill_gap_s",)),
    ("day", "sources.bronze.read_bronze", ("construct_s",)),
    ("day", "operators.flatten.flatten_feed", ("construct_s",)),
    ("day", "sources.writers.read_silver", ("construct_s",)),
    ("day", "sources.writers.write_silver", ("jobs",)),
    ("day", "sources.writers.write_gold", ("jobs",)),
    ("day", "catalog.register_gold", ("s", "jobs")),
    ("day", "pipeline.counts", ("execute_s", "jobs")),
    ("day", "pipeline.run", ("day_gap_s",)),
    ("serve", "catalog.sql",
     ("construct_s", "plan_s", "execute_s", "jobs", "tasks", "input_mb")),
)


class Inputs:
    """Bronze documents for every phase, written before any timing starts."""

    def __init__(self, run: Run):
        gen = NeoWsGenerator(run.seed, pool_size=POOL)
        self.ids = [a["id"] for a in gen.pool]
        root = os.path.join(run.work, "bronze")
        self.backfill_dir = f"{root}/backfill"
        self.backfill = gen.write_range(self.backfill_dir, START, BACKFILL_DAYS, PER_DAY)
        self.warmup_dir = f"{root}/warmup"
        self.warmup = gen.write_range(self.warmup_dir, START, WARMUP_DAYS, PER_DAY)
        self.days = []
        for i in range(DAYS):
            day = START + timedelta(days=BACKFILL_DAYS + i)
            path = f"{root}/day-{day}"
            self.days.append((day, path, gen.write_range(path, day, 1, PER_DAY)))


class Lake:
    """One lake root, the gold row counts it must hold, and in a traced run
    a shadow lake that ``pipeline.run`` itself feeds for the guard."""

    def __init__(self, root: str, traced: bool):
        self.root = root
        self.silver = os.path.join(root, "silver")
        self.gold = os.path.join(root, "gold")
        self.gold_rows = dict.fromkeys(GOLD, 0)
        self.shadow = Lake(root + "-shadow", False) if traced else None

    def expect(self, batch) -> dict[str, int]:
        for name, n in batch.gold_rows().items():
            self.gold_rows[name] += n
        return {"silver": batch.silver, **self.gold_rows}


def _processing_time(feed_day: date) -> datetime:
    return datetime.combine(feed_day + timedelta(days=1), RUN_AT)


def run_pipeline(spark, lake: Lake, bronze: str, batch_id: int, at: datetime):
    from asterlake import pipeline

    return pipeline.run(spark, bronze, lake.silver, lake.gold,
                        batch_id=batch_id, processing_time=at)


def traced_pipeline(tracer: Tracer, spark, lake: Lake, bronze: str, batch_id: int,
                    at: datetime) -> dict[str, int]:
    """``pipeline.run``'s public stages in its order, one span per stage."""
    from pyspark.storagelevel import StorageLevel

    from asterlake.catalog import register_gold
    from asterlake.operators.flatten import flatten_feed
    from asterlake.operators.star import build_star
    from asterlake.sources.bronze import read_bronze
    from asterlake.sources.writers import read_silver, write_gold, write_silver

    with tracer.span("sources.bronze.read_bronze", "construct"):
        bronze_df = read_bronze(spark, bronze)
    with tracer.span("operators.flatten.flatten_feed", "construct"):
        silver = flatten_feed(bronze_df, batch_id=batch_id, processing_time=at)
    with tracer.span("sources.writers.write_silver", "execute"):
        write_silver(silver, lake.silver)
    with tracer.span("sources.writers.read_silver", "construct"):
        back = read_silver(spark, lake.silver, processing_date=at.date()).persist(
            StorageLevel.MEMORY_AND_DISK)
    try:
        with tracer.span("operators.star.build_star", "construct"):
            tables = build_star(back)
        with tracer.span("operators.star.build_star", "plan"):
            for df in tables.values():
                plan(df)
        with tracer.span("sources.writers.write_gold", "execute"):
            write_gold(tables, lake.gold)
        with tracer.span("pipeline.counts", "execute"):
            counts = {"silver": back.count()}
        with tracer.span("catalog.register_gold", "call"):
            register_gold(spark, lake.gold)
        with tracer.span("pipeline.counts", "execute"):
            for name in tables:
                counts[name] = spark.table(name).count()
    finally:
        back.unpersist()
    return counts


class LakeRun:
    """The lake workload's operations and their output checks."""

    def __init__(self, run: Run):
        self.run = run
        self.duck = duckdb.connect(config={
            "temp_directory": os.path.join(run.work, "duckdb"), "threads": 2})
        self.tracer: Tracer | None = None
        self.traces: dict[str, list[int]] = {"backfill": [], "day": [], "serve": []}
        self.shadow_s: list[float] = []   # untraced pipeline.run, paired
        self.traced_s: list[float] = []   # with the traced run of the same op

    # -- operations ---------------------------------------------------------

    def ingest(self, kind: str, lake: Lake, bronze: str, batch, batch_id: int,
               at: datetime) -> float:
        """One pipeline run, timed; its counts and silver are checked after."""
        spark = self.run.spark
        problems = []
        if self.tracer is None:
            seconds, counts = timed(run_pipeline, spark, lake, bronze, batch_id, at)
        else:
            # the untraced shadow goes first on every other operation, so
            # neither side always meets the cache and JIT the other warmed
            shadow_first = len(self.shadow_s) % 2 == 0
            if shadow_first:
                s, shadow_counts = timed(run_pipeline, spark, lake.shadow, bronze,
                                         batch_id, at)
            t = perf_counter()
            with self.tracer.operation("pipeline.run") as op:
                counts = traced_pipeline(self.tracer, spark, lake, bronze, batch_id, at)
            seconds = perf_counter() - t
            if not shadow_first:
                s, shadow_counts = timed(run_pipeline, spark, lake.shadow, bronze,
                                         batch_id, at)
            self.shadow_s.append(s)
            self.traced_s.append(seconds)
            self.traces[kind].append(op.trace_id)
            if counts != shadow_counts:
                problems.append(f"traced stages {counts} != pipeline.run {shadow_counts}")
        want = lake.expect(batch)
        if counts != want:
            problems.append(f"counts {counts} != expected {want}")
        nulls = self.duck.execute(
            "SELECT count(*) FROM read_parquet(?, hive_partitioning = true) "
            "WHERE _processing_date = ? AND velocity_km_s IS NULL",
            [os.path.join(lake.silver, "*", "*.parquet"), at.date()]).fetchone()[0]
        if nulls != batch.null_velocity:
            problems.append(f"null-cast silver rows {nulls} != {batch.null_velocity}")
        self.run.check(f"{kind} pipeline run", not problems, "; ".join(problems))
        return seconds

    def serve(self, sql: str):
        """One serving query, ``catalog.sql`` to ``collect()``; (ms, df, rows)."""
        from asterlake import catalog

        spark = self.run.spark
        t = perf_counter()
        if self.tracer is None:
            df = catalog.sql(spark, sql)
            rows = df.collect()
        else:
            with self.tracer.operation("catalog.sql") as op:
                with self.tracer.span("catalog.sql", "construct"):
                    df = catalog.sql(spark, sql)
                with self.tracer.span("catalog.sql", "plan"):
                    plan(df)
                with self.tracer.span("catalog.sql", "execute"):
                    rows = df.collect()
            self.traces["serve"].append(op.trace_id)
        return (perf_counter() - t) * 1000, df, rows

    # -- checks (never inside a timed region) ---------------------------------

    def point_at(self, lake: Lake) -> None:
        for t in GOLD:
            path = os.path.join(lake.gold, t, "*.parquet")
            self.duck.execute(f"CREATE OR REPLACE VIEW {t} AS "
                              f"SELECT * FROM read_parquet('{path}')")

    def check_serving(self, name: str, sql: str, columns: list[str], rows) -> None:
        try:
            ok = self._serving_ok(name, sql, columns, rows)
        except Exception as e:  # a check that raises fails its operation
            self.run.check(f"serve {name}", False, repr(e))
            return
        self.run.check(f"serve {name}", ok)

    def _serving_ok(self, name: str, sql: str, columns: list[str], rows) -> bool:
        if name == "show_tables":
            return sorted(r.tableName for r in rows) == sorted(GOLD)
        if name == "describe_fact":
            want = [r[0] for r in self.duck.execute(
                "DESCRIBE SELECT * FROM fact_asteroid_approach").fetchall()]
            return [r.col_name for r in rows] == want
        if name == "demo_limit":
            # LIMIT without ORDER BY: any five rows of the table are right
            return len(rows) == 5 and all(self.duck.execute(
                "SELECT count(*) > 0 FROM fact_asteroid_approach WHERE asteroid_id = ? "
                "AND velocity_km_s IS NOT DISTINCT FROM ? "
                "AND miss_distance_km IS NOT DISTINCT FROM ?", list(r)).fetchone()[0]
                for r in rows)
        return same_rows(columns, rows, self.duck, sql)

    def guard_gold(self, lake: Lake) -> None:
        """Traced stages and ``pipeline.run`` wrote the same gold rows."""
        def digest(root: str):
            return [self.duck.execute(
                "SELECT count(*), sum(hash(x)::HUGEINT) FROM (SELECT * FROM "
                f"read_parquet('{os.path.join(root, 'gold', t, '*.parquet')}')) x"
            ).fetchone() for t in GOLD]
        self.run.check("traced stages vs pipeline.run gold digest",
                       digest(lake.root) == digest(lake.shadow.root))


def workload(run: Run) -> dict:
    """Run the lake workload; returns per-layer metrics when traced."""
    from asterlake import catalog

    inputs = Inputs(run)  # input generation is not set-up
    lr = LakeRun(run)
    traced = run.trace

    t0 = perf_counter()
    spark = run.build_session()
    session_s = perf_counter() - t0
    if traced:
        lr.tracer = run.tracer = Tracer(spark)
    # warm-up, so that every timed backfill runs on a warm JVM: a cold
    # one-year backfill, a round of the serving mix on it, then one full
    # backfill, which goes last because serving slows the next backfill
    backfill_at = _processing_time(START + timedelta(days=BACKFILL_DAYS - 1))
    warm = [Lake(os.path.join(run.work, f"lake-warmup-{k}"), False) for k in (0, 1)]
    warm_counts = [run_pipeline(spark, warm[0], inputs.warmup_dir, 1,
                                _processing_time(START + timedelta(days=WARMUP_DAYS - 1)))]
    for sql in SERVING.values():
        catalog.sql(spark, sql.format(asteroid_id=inputs.ids[0])).collect()
    warm_counts.append(run_pipeline(spark, warm[1], inputs.backfill_dir, 1, backfill_at))
    setup_s = perf_counter() - t0
    for lake, batch, counts in zip(warm, (inputs.warmup, inputs.backfill), warm_counts):
        want = lake.expect(batch)
        run.check("warm-up counts", counts == want, f"{counts} != {want}")

    backfill_s = []
    for k in range(BACKFILLS):
        lake = Lake(os.path.join(run.work, f"lake-{k}"), traced)
        backfill_s.append(lr.ingest("backfill", lake, inputs.backfill_dir,
                                    inputs.backfill, 1, backfill_at))
        if traced:
            lr.guard_gold(lake)

    rng = random.Random(run.seed)
    day_s, serve_ms = [], []
    for i, (day, path, batch) in enumerate(inputs.days):
        day_s.append(lr.ingest("day", lake, path, batch, 100 + i, _processing_time(day)))
        lr.point_at(lake)
        served = []
        for _ in range(SERVE_REPS):
            names = list(SERVING)
            rng.shuffle(names)
            for name in names:
                sql = SERVING[name].format(asteroid_id=rng.choice(inputs.ids))
                try:
                    ms, df, rows = lr.serve(sql)
                except Exception as e:  # a query that raises is a failed operation
                    run.check(f"serve {name}", False, repr(e))
                    continue
                serve_ms.append(ms)
                served.append((name, sql, df.columns, rows))
        for name, sql, columns, rows in served:
            lr.check_serving(name, sql, columns, rows)
    if traced:
        lr.guard_gold(lake)

    run.metrics = {"setup_s": setup_s, "batch_s": median(backfill_s),
                   "step_s": median(day_s), "op_ms": median(serve_ms),
                   "peak_rss_mb": run.peak_rss_mb()}
    run.report.update({
        "backfill_s": median(backfill_s), "ingest_day_p50_s": median(day_s),
        "backfill_runs_s": backfill_s, "day_runs_s": day_s,
        "serve_p50_ms": median(serve_ms), "serve_tail_ms": tail(serve_ms),
        "samples": {"backfill": len(backfill_s), "day": len(day_s),
                    "serve": len(serve_ms)},
        "backfill_silver_rows": inputs.backfill.silver,
    })
    if not traced:
        return {}
    tr = lr.tracer
    run.report["untraced_backfill_s"] = median(lr.shadow_s[:BACKFILLS])
    run.report["untraced_day_p50_s"] = median(lr.shadow_s[BACKFILLS:])
    # paired per operation, so host drift between operations cancels
    overhead = [t - s for t, s in zip(lr.traced_s, lr.shadow_s)]
    run.report["trace_overhead_backfill_s"] = median(overhead[:BACKFILLS])
    run.report["trace_overhead_day_s"] = median(overhead[BACKFILLS:])
    layers = {"session.build_s": session_s, "trace.batch_s": median(backfill_s),
              "trace.bookkeeping_s": tr.bookkeeping_s}
    ops = {kind: op_totals(tr.spans, ids) for kind, ids in lr.traces.items()}
    for kind, layer, quantities in LAYER_METRICS:
        for q in quantities:
            key = "gap_s" if q.endswith("gap_s") else f"{layer}.{q}"
            layers[f"{layer}.{q}"] = median(op.get(key, 0.0) for op in ops[kind])
    run.report["gap_share"] = {
        kind: median(op["gap_s"] / op["op_s"] for op in ops[kind])
        for kind in ("backfill", "day")}
    # execution (the actions) against construction and planning
    run.report["execute_share"] = {
        kind: median(sum(v for k, v in op.items() if k.endswith(".execute_s")) / op["op_s"]
                     for op in ops[kind])
        for kind in ("backfill", "day")}
    return layers


def layer_names() -> list[str]:
    return [f"{layer}.{q}" for _, layer, qs in LAYER_METRICS for q in qs]
