"""Both paths of every iterative graph loop return the same rows.

Below ``graph.SMALL_GRAPH_EDGES`` edges a loop runs its whole recurrence
in one task (a numpy kernel behind ``mapInPandas``); at or above it the
distributed loop runs. Each test forces both paths on one graph by
patching the threshold and requires identical rows (``exceptAll`` both
ways), identical column types, identical ``rounds_run`` where the loop
returns one, and identical warnings.
"""

from __future__ import annotations

import warnings
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from asterlake.operators import graph
from asterlake.plans.inspect import has_node, plan_string

DISTRIBUTED, ONE_TASK = 0, 10**12
BIG = 2**53 + 1  # BIG and BIG + 1 collapse to one value as float64

EDGES = "src long, dst long"


def _handmade(spark):
    """A 4-clique, a bridge path, a triangle and a pendant."""
    clique = list(combinations([1, 2, 3, 4], 2))
    rest = [(4, 5), (5, 6), (6, 7), (7, 8), (8, 9), (7, 9), (9, 10)]
    return spark.createDataFrame(clique + rest, EDGES), [1, 8, 999]


def _corpus(spark):
    """The sf0.001 bulk co-purchase graph (the q_kcore_exact graph)."""
    from asterlake.queries import _copurchase_pairs

    pairs = _copurchase_pairs(spark, "/root/testdata/sf0.001", min_qty=45)
    edges = pairs.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    seeds = [r.src for r in edges.filter(F.col("src") % 13 == 0).collect()]
    return edges, seeds + [999_999_999]


def _edge_cases(spark):
    """Duplicate and reversed edges, self-loops, ids above 2^53, a
    destination that is never a source, and null endpoints."""
    rows = [
        (1, 2), (1, 2), (2, 1), (2, 3), (3, 4), (4, 2), (3, 3),
        (BIG, BIG + 1), (BIG + 1, 1), (BIG + 2, BIG + 2), (4, 77),
        (5, None), (None, 6), (None, None), (BIG, None),
    ]
    return spark.createDataFrame(rows, EDGES), [BIG + 1, 424242, None]


def _empty(spark):
    return spark.createDataFrame([], EDGES), [7, None]


GRAPHS = {
    "handmade": _handmade,
    "corpus": _corpus,
    "edge_cases": _edge_cases,
    "empty": _empty,
}

# loop name -> (edges, seeds frame) -> (frame, rounds_run or None)
LOOPS = {
    "pagerank_fixed_point": lambda e, s: (
        graph.pagerank_fixed_point(e, iters=5), None
    ),
    "pagerank_converged": lambda e, s: graph.pagerank_converged(
        e, max_iter=8, tol_fp=10**8
    ),
    "kcore_decomposition": lambda e, s: (
        graph.kcore_decomposition(e, rounds=3), None
    ),
    "kcore_converged": lambda e, s: graph.kcore_converged(e, min_rounds=2),
    "label_propagation": lambda e, s: (
        graph.label_propagation(e, iters=3), None
    ),
    "bfs_distances": lambda e, s: (graph.bfs_distances(e, s, rounds=3), None),
}


def _run(monkeypatch, limit, loop, edges, seeds):
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", limit)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        frame, rounds = LOOPS[loop](edges, seeds)
    loop_warnings = (UserWarning, RuntimeWarning)  # not py4j's ResourceWarning
    return frame, rounds, sorted(
        str(w.message) for w in caught if issubclass(w.category, loop_warnings)
    )


@pytest.mark.parametrize("graph_name", list(GRAPHS))
@pytest.mark.parametrize("loop", list(LOOPS))
def test_one_task_equals_distributed(spark, monkeypatch, loop, graph_name):
    edges, seed_ids = GRAPHS[graph_name](spark)
    seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
    dist, dist_rounds, dist_warn = _run(
        monkeypatch, DISTRIBUTED, loop, edges, seeds
    )
    small, small_rounds, small_warn = _run(
        monkeypatch, ONE_TASK, loop, edges, seeds
    )
    assert not has_node(plan_string(dist), "MapInPandas")
    if dist_rounds is None:  # lazy loops show their path in the plan
        assert has_node(plan_string(small), "MapInPandas")
    assert [(f.name, f.dataType) for f in small.schema] == [
        (f.name, f.dataType) for f in dist.schema
    ]
    assert small.exceptAll(dist).count() == 0
    assert dist.exceptAll(small).count() == 0
    assert small_rounds == dist_rounds
    assert small_warn == dist_warn
