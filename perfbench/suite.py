"""The ``query_suite`` workload: a fixed slice of the engine's query inventory.

One client in a closed loop runs each query of FAMILIES once, in an order the
seed fixes, over generated TPC-H-ish tables: ``QUERIES[name].spark(spark, dir)``
builds it (construction runs real jobs for the iterative operators) and the
``noop`` sink executes it.  The list holds the iterative graph loops, the
dedup/closure and percentile families, the streaming drains and relational
queries -- where job fusion, the per-query construction floor, the drain
and memo helpers and conf pinning land.  It never touches the lake modules.

Each result is checked outside the timed region against the query's DuckDB
oracle (``QueryDef.oracle``) run over the same parquet files, with the repo's
own exact comparison (``tests.oracle_utils.assert_matches_oracle``).
"""

from __future__ import annotations

import os
import random
from statistics import geometric_mean, median
from time import perf_counter

from common import Run
from spans import Tracer, op_totals, plan
import tpch_gen

SCALE = 0.001           # lineitem rows = 6e6 x SCALE
# The tables are the same for every seed: graph loops iterate to convergence,
# so other data would change the work done, not just the order.
DATA_SEED = 42
FAMILIES = {
    "graph": ("q_pagerank_copurchase", "q_kcore_exact", "q_label_propagation",
              "q_bfs_distances"),
    "dedup": ("q_dedup_clusters",),
    "stats": ("q_percentiles_exact",),
    "stream": ("q_stream_linkage", "q_stream_windowed_counts", "q_stream_quarantine"),
    "relational": ("flagship_revenue_by_nation", "q_pricing_summary", "q_fact_star_join",
                   "q_topk_orders"),
}
FAMILY_OF = {q: family for family, names in FAMILIES.items() for q in names}
LAYER_QUANTITIES = ("construct_s", "construct_jobs", "plan_s", "execute_s",
                    "execute_jobs", "tasks", "shuffle_write_mb", "spill_mb")


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_query(query, spark, data, tracer, name, wall, traces):
    """Build and execute one query, recording its wall time; returns the DataFrame."""
    if tracer is None:
        t = perf_counter()
        df = query.spark(spark, data)
        _execute(df)
        wall[name] = perf_counter() - t
        return df
    layer = f"queries.{FAMILY_OF[name]}"
    with tracer.operation(layer) as op:
        with tracer.span(layer, "construct"):
            df = query.spark(spark, data)
        with tracer.span(layer, "plan"):
            plan(df)
        with tracer.span(layer, "execute"):
            _execute(df)
    wall[name] = op.seconds
    traces[FAMILY_OF[name]].append(op.trace_id)
    return df


def workload(run: Run) -> dict:
    """Run the query suite; returns per-layer metrics when traced."""
    from asterlake.queries import QUERIES
    from tests.oracle_utils import assert_matches_oracle, duck_connection

    data = tpch_gen.write(os.path.join(run.work, "tpch"), DATA_SEED, SCALE)
    duck = duck_connection(data)
    duck.execute(f"SET temp_directory = '{os.path.join(run.work, 'duckdb')}'")

    t0 = perf_counter()
    spark = run.build_session()
    setup_s = session_s = perf_counter() - t0

    tracer = run.tracer = Tracer(spark) if run.trace else None
    # families in a fixed order, so cold-start costs land alike for every
    # seed; the seed orders the queries within each family
    rng = random.Random(run.seed)
    order = []
    for names in FAMILIES.values():
        order += rng.sample(names, len(names))
    wall = {}
    traces = {family: [] for family in FAMILIES}
    for name in order:
        query = QUERIES[name]
        try:
            df = _run_query(query, spark, data, tracer, name, wall, traces)
            assert_matches_oracle(df, duck, query.oracle, name)
        except Exception as e:  # a query that raises or differs is a failed operation
            run.check(name, False, repr(e))
        else:
            run.check(name, True)

    times = list(wall.values())
    # Per-query times cluster by family, so their median jumps between
    # clusters from run to run; the geometric mean weighs every query alike.
    # The suite has one kind of operation, so step and op read the same figure.
    typical = geometric_mean(times)
    run.metrics = {"setup_s": setup_s, "batch_s": sum(times), "step_s": typical,
                   "op_ms": typical * 1000, "peak_rss_mb": run.peak_rss_mb()}
    run.report.update({
        "suite_total_s": sum(times), "suite_query_p50_s": median(times),
        "suite_query_geomean_s": typical,
        "samples": {"queries": len(times)}, "scale": SCALE,
        "per_query_s": {q: round(s, 4) for q, s in wall.items()},
    })
    if tracer is None:
        return {}
    layers = {"session.build_s": session_s, "trace.batch_s": sum(times),
              "trace.bookkeeping_s": tracer.bookkeeping_s}
    for family, ids in traces.items():
        ops = op_totals(tracer.spans, ids)
        layer = f"queries.{family}"
        for q in LAYER_QUANTITIES:
            layers[f"{layer}.{q}"] = sum(op.get(f"{layer}.{q}", 0.0) for op in ops)
    return layers


def layer_names() -> list[str]:
    return [f"queries.{f}.{q}" for f in FAMILIES for q in LAYER_QUANTITIES]
