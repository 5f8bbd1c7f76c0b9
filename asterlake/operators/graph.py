"""Graph operators over edge DataFrames: connected components (duplicate
clustering), PageRank, triangle counts, label propagation, k-core and BFS.

Every dedup family in this engine (exact digests, MinHash/SimHash LSH,
n-gram Jaccard — operators/dedup.py) stops at *pairs*; connected
components turns them into duplicate clusters. The other operators are
the graph analytics a curation or recommender pipeline runs next to it.
Spark has no built-in operator for any of them (GraphFrames is an
external package), so each is written here over DataFrames, with
integer arithmetic throughout so every result is hash-gateable against
the DuckDB oracles.

Two paths for the iterative loops. PageRank, label propagation, k-core
(fixed-round and converged) and BFS first land their edge set with
``localCheckpoint`` and count it in the same job. Then:

- Below ``SMALL_GRAPH_EDGES`` edges the whole recurrence runs in ONE task:
  ``coalesce(1).mapInPandas`` hands every edge to a numpy kernel that
  replays the distributed recurrence bit for bit (int64 only, floor
  division at the same points, the same tie rules and node sets). On a
  small graph the distributed loop's cost is Spark job launch, not data:
  every round is a landing plus one job per AQE shuffle stage.
- At or above it the distributed loop runs: per round one shuffle join
  plus one map-side-combinable aggregate, key-partitioned on the node id,
  with lineage truncated by ``localCheckpoint``.

Every co-purchase graph the query suite builds at sf0.001, sf0.01 and
sf0.1 (at most 2.4M edges) takes the one-task path, and each loop's
docstring gives its alternating A/B. The threshold's own measurement is
at ``SMALL_GRAPH_EDGES``.

Connected components stays distributed at every size: its dedup graphs
are near-cliques that converge in 2-3 rounds, so a one-task path has
few round jobs to remove.

Every distributed loop except the star connected-components variant is
a step function run by one round driver, :func:`_drive`. The driver
pins ``spark.sql.shuffle.partitions`` to the count its caller sizes for
the loop. It lands the state every ``_LAND_EVERY`` rounds and after the
last, so every round runs under the pin. A convergence-gated loop
probes its rounds: the step adds the columns a probe aggregate reads,
the aggregate rides that round's landing job as an ``Observation``, and
the loop stops once it is at most the tolerance. Every probed round
lands, and a probed round costs one action.

Connected components algorithm: min-label propagation. Every vertex
starts labeled with its own id; each round every vertex takes the min of
its label and its neighbors' labels; converged when no label changes.
Rounds = graph diameter.

- Each round is ONE shuffle join (labels ⋈ edges on the vertex id) + ONE
  partial-aggregated groupBy min, both key-partitioned on the vertex id.
  Nothing driver-side except the convergence counter, which rides the
  round's checkpoint job as an ``Observation``.
- Diameter bound: duplicate-cluster graphs are near-cliques, so
  propagation converges in 2-3 rounds regardless of corpus size. For
  adversarial long-path graphs pass ``method="star"``: the alternating
  large-star/small-star algorithm (Kiveris et al., "Connected Components
  in MapReduce and Beyond", SOCC'14) converges in O(log^2 n) rounds
  independent of diameter. Both methods are exact.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from asterlake.session import pinned_conf

# Edge count below which an iterative loop runs in one task (see the
# module docstring). Set by alternating A/B on 4 cores, distributed ->
# one task, medians: at sf0.1 PageRank on 2.4M edges 7.90 -> 4.14 s;
# on a random 4M-edge graph (40k nodes) PageRank 11.2 -> 5.0 s, label
# propagation 15.3 -> 6.0 s, k-core 15.9 -> 5.6 s, converged k-core
# 34.0 -> 8.5 s and BFS 6.9 -> 5.8 s, BFS nearest its crossover. The
# kernels peak at about 80 MB of Python worker memory per million
# edges, so the bound also keeps the one worker near 320 MB.
SMALL_GRAPH_EDGES = 4_000_000

# The H-index of a node's (value h, count c) neighbour histogram: walk
# the distinct values descending and keep max(min(h, running count)),
# which equals the H-index at distinct-value group boundaries.
_HINDEX = (
    "aggregate(sort_array(collect_list(struct(h, c)), false), "
    "struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS best), "
    "(acc, x) -> struct(acc.cum + x.c, "
    "greatest(acc.best, least(x.h, acc.cum + x.c))), "
    "acc -> acc.best)"
)

# Rounds a fixed-round distributed loop runs between landings. Un-landed
# rounds dedup through ReusedExchange; a landing bounds the plan depth.
_LAND_EVERY = 3


def _land(df: DataFrame) -> tuple[DataFrame, int]:
    """``localCheckpoint`` ``df`` and count its rows in the same job."""
    obs = Observation()
    landed = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return landed, obs.get["n"]


def _parallel_parts(spark) -> int:
    """Shuffle partitions for a node-keyed loop, sized to the parallelism."""
    return max(4, min(256, spark.sparkContext.defaultParallelism))


def _drive(state, step, rounds, parts, probe=None, tol=0, first_probe=1):
    """Run up to ``rounds`` rounds of ``step`` with
    ``spark.sql.shuffle.partitions`` pinned to ``parts``.

    ``step(state, probed)`` returns the next state. With a ``probe``
    aggregate, rounds from ``first_probe`` on are probed: the step adds
    the columns ``probe`` reads, the value rides the round's landing job
    as an ``Observation``, those columns are dropped, and the loop stops
    once the value is at most ``tol`` (a null never stops it). The state
    lands on probed rounds, every ``_LAND_EVERY`` rounds and after the
    last. Returns ``(state, rounds_run, converged)``."""
    cols = state.columns
    rounds_run, converged = 0, False
    pin = {"spark.sql.shuffle.partitions": str(parts)}
    with pinned_conf(state.sparkSession, pin):
        while rounds_run < rounds and not converged:
            rounds_run += 1
            probed = probe is not None and rounds_run >= first_probe
            state = step(state, probed)
            if probed:
                obs = Observation()
                state = state.observe(obs, probe.alias("probe")).select(*cols)
            if probed or rounds_run % _LAND_EVERY == 0 or rounds_run == rounds:
                state = state.localCheckpoint()
            if probed:
                value = obs.get["probe"]
                converged = value is not None and value <= tol
    return state, rounds_run, converged


def _one_task(df: DataFrame, schema: StructType, kernel) -> DataFrame:
    """Run ``kernel`` over ALL rows of ``df`` in one task.

    ``coalesce(1)`` is narrow, so no exchange; it also yields exactly one
    partition when ``df`` has none, so the kernel always runs.
    ``kernel`` takes one numpy array per column of ``df`` and returns a
    dict of output arrays keyed by the field names of ``schema``."""
    cols = df.columns

    def run(batches):
        frames = list(batches)
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            arrays = [pdf[c].to_numpy() for c in cols]
        else:
            arrays = [np.empty(0, np.int64) for _ in cols]
        yield pd.DataFrame(kernel(*arrays))

    return df.coalesce(1).mapInPandas(run, schema)


def _one_task_converged(
    df: DataFrame, schema: StructType, kernel
) -> tuple[DataFrame, int, bool]:
    """:func:`_one_task` for a convergence-gated kernel, landed eagerly.

    ``kernel`` returns ``(columns, rounds_run, converged)``. Both scalars
    travel in a trailer row (first column null) and come back to the
    driver through an ``Observation`` on the landing job, so the caller
    can return ``rounds_run`` and warn on the driver."""
    node = schema.names[0]
    meta = [StructField("_rounds", LongType()), StructField("_conv", BooleanType())]

    def with_trailer(*arrays):
        out, rounds, converged = kernel(*arrays)
        n = len(out[node])
        cols = {**out, "_rounds": np.zeros(n, np.int64), "_conv": np.zeros(n, bool)}
        cols[node] = cols[node].astype(object)
        trailer = {**dict.fromkeys(cols, 0), node: None,
                   "_rounds": rounds, "_conv": converged}
        return {k: np.append(v, trailer[k]) for k, v in cols.items()}

    obs = Observation()
    landed = (
        _one_task(df, StructType(schema.fields + meta), with_trailer)
        .observe(obs, F.max("_rounds").alias("r"), F.max("_conv").alias("c"))
        .where(F.col(node).isNotNull())
        .select(*schema.names)
        .localCheckpoint()
    )
    return landed, obs.get["r"], obs.get["c"]


def _groups(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start and length of each run of equal values in a sorted array."""
    new = np.ones(len(key), bool)
    new[1:] = key[1:] != key[:-1]
    start = np.flatnonzero(new)
    return start, np.diff(np.append(start, len(key)))


def _symmetrized(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge in ONE pass over the input (r15).

    The former ``select(s,d) unionByName select(d,s)`` executed the
    caller's edge-GENERATION subtree once per union branch —
    ReuseExchange dedups only up to the last exchange, so everything
    above it (the co-purchase pair expansion, the n-gram Jaccard join
    + filter of the dedup closure, ...) ran twice.
    ``explode(array(struct(s,d), struct(d,s)))`` emits exactly the same
    multiset from a single pass (guide §2.4: don't recompute what one
    scan can emit)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("_s"), F.col(dst).alias("_d")),
                F.struct(F.col(dst).alias("_s"), F.col(src).alias("_d")),
            )
        ).alias("_e")
    ).select("_e._s", "_e._d")


def _warn_not_converged(method: str, max_iter: int) -> None:
    """Exhausting max_iter without reaching the fixpoint means labels
    can silently span a component not fully merged (e.g. a chain longer
    than max_iter under propagation). Loud, not silent."""
    warnings.warn(
        f"connected_components({method=}) stopped at max_iter={max_iter} "
        "WITHOUT converging — component labels may be incomplete. Raise "
        "max_iter (propagation needs >= graph diameter rounds; star needs "
        "O(log^2 n)) or switch method='star' for long chains.",
        RuntimeWarning,
        stacklevel=3,
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 25,
    method: str = "propagation",
) -> DataFrame:
    """Label every vertex with the min vertex id reachable from it.

    ``edges`` is undirected input (each pair listed once is enough).
    ``vertices`` optionally supplies the full vertex set — pass it so
    isolated vertices (no edges) appear as their own singleton components;
    otherwise the vertex set is inferred from the edges alone.

    ``method``: ``"propagation"`` (default, rounds = diameter — right for
    near-clique dedup graphs) or ``"star"`` (large-star/small-star,
    O(log^2 n) rounds — right for adversarial long chains).

    Returns ``(id_col, component)`` with component = min id in the
    component. Deterministic for any input partitioning; both methods
    produce identical output.
    """
    und = _symmetrized(edges, src, dst)
    if vertices is None:
        vertices = und.select(F.col("_s").alias(id_col)).distinct()
    if method == "star":
        return _cc_star(und, vertices, id_col, max_iter)
    if method != "propagation":
        raise ValueError(f"unknown method {method!r}")

    # Land both iteration inputs and size the loop's shuffle partitions
    # to the edge count, independent of the session conf: the
    # dup-candidate graph is tiny relative to the corpus, and without
    # the loop-scoped `parts` each round pays (conf partitions x stages)
    # of task overhead in sessions tuned for the full-corpus scans. No
    # repartition(parts, key) before landing: localCheckpoint does not
    # preserve outputPartitioning under AQE, so every per-round join
    # re-exchanges its inputs regardless.
    und, n_edges = _land(und)
    parts = max(4, min(256, n_edges // 50_000 + 4))
    labels = (
        vertices.select(F.col(id_col), F.col(id_col).alias("component"))
        .localCheckpoint()
    )

    def step(labels, probed):
        # each vertex's best neighbor label this round; the groupBy is
        # the round's single exchange
        nbr_min = (
            und.join(labels, und["_d"] == labels[id_col])
            .groupBy("_s")
            .agg(F.min("component").alias("_nbr"))
        )
        nbr = F.coalesce(F.col("_nbr"), F.col("component"))
        return labels.join(
            nbr_min, labels[id_col] == nbr_min["_s"], "left"
        ).select(
            F.col(id_col),
            F.least(F.col("component"), nbr).alias("component"),
            (nbr < F.col("component")).alias("_changed"),
        )

    changed = F.coalesce(F.sum(F.col("_changed").cast("long")), F.lit(0))
    labels, _, converged = _drive(labels, step, max_iter, parts, changed)
    if not converged:
        _warn_not_converged("propagation", max_iter)
    return labels


def _cc_star(und: DataFrame, vertices: DataFrame, id_col: str, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al. SOCC'14).

    Works on a canonical directed edge set ``(_c, _p)`` with ``_c > _p``
    (child points at the smaller endpoint). Each round:

    - large-star: per node u over its full neighborhood, attach every
      neighbor LARGER than u to min(neighborhood + u) — long chains halve.
    - small-star: per node u over its smaller-or-equal neighbors, attach
      all of them (and u) to the minimum — flattens local stars.

    Both are one groupBy(min) + one re-emission join, key-partitioned on
    the node id; the edge set never grows beyond the input size (emissions
    are distinct-ed per round). Converged when a round changes nothing —
    the edge set is then exactly (vertex -> its component min). O(log^2 n)
    rounds for any graph, independent of diameter.
    """
    # canonical child>parent pairs; self-loops dropped
    star = (
        und.filter(F.col("_s") != F.col("_d"))
        .select(
            F.greatest("_s", "_d").alias("_c"), F.least("_s", "_d").alias("_p")
        )
        .distinct()
        .localCheckpoint()
    )

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.select("_c", "_p").unionByName(
            e.select(F.col("_p").alias("_c"), F.col("_c").alias("_p"))
        )
        m = nbrs.groupBy("_c").agg(
            F.least(F.min("_p"), F.first("_c")).alias("_m")
        )
        return (
            nbrs.join(m, "_c")
            .filter(F.col("_p") > F.col("_c"))
            .select(F.col("_p").alias("_c"), F.col("_m").alias("_p"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is already child>parent oriented; per child, link all its
        # parents AND itself to the overall min parent
        m = e.groupBy("_c").agg(F.min("_p").alias("_m"))
        linked = (
            e.join(m, "_c")
            .filter(F.col("_p") != F.col("_m"))
            .select(F.col("_p").alias("_c"), F.col("_m").alias("_p"))
        )
        self_links = m.select(F.col("_c"), F.col("_m").alias("_p"))
        return linked.unionByName(self_links).distinct()

    for _ in range(max_iter):
        nxt = small_star(large_star(star)).localCheckpoint()
        # converged when the canonical edge set is a fixpoint; subtract is
        # one extra shuffle per round — the price of a sound stopping rule
        if nxt.subtract(star).count() == 0 and star.subtract(nxt).count() == 0:
            star = nxt
            break
        star = nxt
    else:
        _warn_not_converged("star", max_iter)

    labels = star.select(F.col("_c").alias(id_col), F.col("_p").alias("component"))
    roots = vertices.select(id_col).join(
        star.select(F.col("_c").alias(id_col)), id_col, "left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("component"))
    return labels.unionByName(roots)


def duplicate_clusters(
    doc_pairs: DataFrame,
    documents: DataFrame,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    doc_id: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pairs -> one cluster id per document (singletons included).

    The survivor policy downstream is then trivial: keep
    ``doc_id == cluster`` (the min-id member) and drop the rest.
    """
    return connected_components(
        doc_pairs,
        vertices=documents.select(doc_id),
        src=pair_a,
        dst=pair_b,
        id_col=doc_id,
        max_iter=max_iter,
    ).withColumnRenamed("component", "cluster")


def pagerank_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    tol_fp: int = 1_000_000,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000_000_000,
) -> tuple[DataFrame, int]:
    """Convergence-gated twin of :func:`pagerank_fixed_point`: the same
    exact BIGINT recursion, but the loop stops as soon as
    ``max_node |pr' - pr| <= tol_fp`` (fixed-point units, i.e.
    tol_fp/scale in rank mass) instead of running a fixed count.
    Returns ``(ranks, rounds_run)``.

    Because the arithmetic is exact integers, the gate is deterministic —
    no float-noise flapping around the threshold; ``tol_fp=0`` stops
    exactly at the integer fixpoint. The result is landed before
    returning on both paths: the distributed loop's max-|delta| and the
    one-task path's rounds and converged flag come back with the landing
    job. A run that hits ``max_iter`` without converging warns on the
    driver, as does an empty graph (its delta is undefined)."""
    return _pagerank_loop(
        edges, src, dst, max_iter, damping_num, damping_den, scale,
        tol_fp=tol_fp,
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """PageRank with a FIXED iteration count in pure BIGINT fixed-point —
    deterministic across engines and partition orders, so the result is
    hash-gateable (double-accumulated PR depends on partial-sum order).

    All arithmetic is exact: ranks live in units of ``1/scale``, each
    step is ``pr' = base + (damping_num * SUM(pr_in // deg)) DIV
    damping_den`` with integer division at exactly the same points in
    every engine. Precision loss from the floor divisions is identical
    everywhere, bounded by iters * (deg truncation) — fine for ranking.

    Nodes are the non-null sources (dangling-free by construction when
    the caller symmetrizes an undirected graph, as the co-purchase query
    does); multi-edges count with multiplicity; an edge with a null or
    non-source destination counts toward its source's degree but its
    share of rank is dropped.

    The edge set lands once (``localCheckpoint``, counted in the same
    job). Below ``SMALL_GRAPH_EDGES`` edges the ``iters`` rounds run in
    one task inside the caller's action. Above it each round is one join
    of ranks to the degree-attached edges on the source key and one sum
    keyed on the destination.
    Measured for q_pagerank_copurchase on 4 cores (alternating
    in-session A/B, medians, distributed -> one task): 2.19 -> 0.55 s
    at sf0.001, 7.90 -> 4.14 s at sf0.1 (2.4M edges).
    """
    pr, _ = _pagerank_loop(
        edges, src, dst, iters, damping_num, damping_den, scale, tol_fp=None
    )
    return pr


def _positions(nodes: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Index of each ``x`` in the sorted ``nodes``; -1 where absent."""
    if len(nodes) == 0:
        return np.full(len(x), -1)
    pos = np.minimum(np.searchsorted(nodes, x), len(nodes) - 1)
    return np.where(nodes[pos] == x, pos, -1)


def _pagerank_kernel(s, d, lost, iters, damping_num, damping_den, scale, tol_fp):
    """The distributed PageRank recurrence over edge arrays, in int64.

    ``lost`` marks edges whose destination was null. Returns
    ``(columns, rounds_run, converged)``."""
    nodes, si = np.unique(s, return_inverse=True)
    n = len(nodes)
    deg = np.bincount(si, minlength=n)
    di = _positions(nodes, d)
    to = (di >= 0) & ~lost
    pr = np.full(n, scale // max(n, 1), np.int64)
    base = (damping_den - damping_num) * scale // damping_den // max(n, 1)
    for rounds in range(1, iters + 1):
        sums = np.zeros(n, np.int64)
        np.add.at(sums, di[to], (pr[si] // deg[si])[to])
        new = base + damping_num * sums // damping_den
        delta = np.abs(new - pr).max(initial=0)
        pr = new
        if tol_fp is not None and n and delta <= tol_fp:
            return {"node": nodes, "pagerank_fp": pr}, rounds, True
    return {"node": nodes, "pagerank_fp": pr}, iters, False


def _pagerank_loop(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int,
    damping_num: int,
    damping_den: int,
    scale: int,
    tol_fp: int | None,
) -> tuple[DataFrame, int]:
    e, n_edges = _land(edges.select(src, dst))
    loop = _pagerank_one_task if n_edges < SMALL_GRAPH_EDGES else _pagerank_rounds
    pr, rounds, converged = loop(
        e, src, dst, iters, damping_num, damping_den, scale, tol_fp
    )
    if tol_fp is not None and not converged:
        warnings.warn(
            f"pagerank_converged: max_iter={iters} reached with "
            f"max |delta| still above tol_fp={tol_fp}; returning "
            "the un-converged ranks",
            stacklevel=3,
        )
    return pr, rounds


def _pagerank_one_task(e, src, dst, iters, damping_num, damping_den, scale, tol_fp):
    # null sources never join their degree in the distributed loop; a
    # null destination becomes a flag, since a nullable long column
    # would reach pandas as float64
    inputs = e.where(F.col(src).isNotNull()).select(
        F.col(src).alias("_s"),
        F.coalesce(F.col(dst), F.col(src)).alias("_d"),
        F.col(dst).isNull().alias("_lost"),
    )
    schema = StructType([
        StructField("node", e.schema[src].dataType),
        StructField("pagerank_fp", LongType()),
    ])

    def kernel(s, d, lost):
        return _pagerank_kernel(
            s, d, lost, iters, damping_num, damping_den, scale, tol_fp
        )

    if tol_fp is None:
        return _one_task(inputs, schema, lambda *a: kernel(*a)[0]), iters, False
    return _one_task_converged(inputs, schema, kernel)


def _pagerank_rounds(edges, src, dst, iters, damping_num, damping_den, scale, tol_fp):
    # Pin both iteration inputs to one explicit hash partitioning sized
    # to the parallelism: edges on the probe key and ranks on the node
    # key at the SAME count make the per-round join exchange-free; each
    # round's only shuffle is the destination-keyed sum.
    parts = _parallel_parts(edges.sparkSession)
    # Degree via aggregate + shuffle-hash join, NOT a window: the window
    # form sorts the full edge set within partitions (measured 6.0s of a
    # 6.6s sf0.1 run on 2.4M edges); the aggregate is map-side
    # combinable and both join sides share the hash(src) partitioning.
    edges_parted = edges.repartition(parts, src)
    degrees = edges_parted.groupBy(src).agg(
        F.count("*").cast("bigint").alias("_deg")
    )
    working = edges_parted.join(
        degrees.hint("shuffle_hash"), src
    ).localCheckpoint()
    # node list + degrees straight off the materialized blocks; the
    # groupBy's required partitioning is already satisfied (hash(src))
    deg = working.groupBy(src).agg(F.min("_deg").alias("_deg"))
    # the 1-row node count rides a broadcast into every round's rank
    # rebuild — checkpoint it once so each round reads one cached row
    n_nodes = deg.agg(
        F.count("*").cast("bigint").alias("_n")
    ).localCheckpoint()
    pr = (
        deg.crossJoin(F.broadcast(n_nodes))
        .select(
            F.col(src).alias("node"),
            F.expr(f"CAST({scale} AS BIGINT) DIV _n").alias("pr"),
        )
        .repartition(parts, "node")
        .localCheckpoint()
    )
    new_pr = (
        F.expr(
            f"(CAST({(damping_den - damping_num) * scale} AS BIGINT) "
            f"DIV {damping_den}) DIV _n"
        )
        + F.expr(
            f"({damping_num} * coalesce(_s, CAST(0 AS BIGINT))) DIV {damping_den}"
        )
    ).cast("bigint")

    def step(pr, probed):
        # shuffle-hash hint: co-partitioned inputs make the join
        # exchange-free and skip re-sorting the edge blocks
        contrib = working.join(
            pr.hint("shuffle_hash"), working[src] == pr["node"]
        ).select(
            working[dst].alias("_to"),
            F.expr("pr DIV _deg").alias("_c"),
        )
        sums = contrib.groupBy("_to").agg(
            F.sum("_c").cast("bigint").alias("_s")
        )
        cols = [F.col("node"), new_pr.alias("pr")]
        if probed:  # the old rank is in scope: exact integer |delta|
            cols.append(F.abs(new_pr - F.col("pr")).alias("_delta"))
        return (
            pr.join(sums, pr["node"] == sums["_to"], "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(*cols)
        )

    probe = None if tol_fp is None else F.max("_delta")
    pr, rounds, converged = _drive(pr, step, iters, parts, probe, tol_fp)
    return (
        pr.select(F.col("node"), F.col("pr").alias("pagerank_fp")),
        rounds,
        converged,
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and degrees over an undirected graph.

    ``edges`` lists each undirected edge in either (or both) directions;
    duplicates and self-loops are tolerated — the first step canonicalizes
    to a distinct ``u < v`` set. Returns ``(node, degree, triangles)``
    for every node that has at least one edge (BIGINT counts).

    Scale (the "curse of the last reducer", Suri & Vassilvitskii WWW'11):
    the naive neighbor self-join explodes on hub nodes — a node of degree
    d contributes d^2 wedge candidates, so one celebrity vertex with 10^6
    neighbors emits 10^12 pairs into a single reducer. Degree-ordered
    orientation fixes the skew exactly: direct every undirected edge from
    its lower-``(degree, id)`` endpoint to the higher one. The resulting
    out-degrees are bounded by O(sqrt(m)) REGARDLESS of the input degree
    distribution, every triangle {a,b,c} with rank a < b < c appears
    exactly once (as the wedge (b,c) at a, closed by the oriented edge
    b->c), and the wedge stream carries only (long, long) node-id pairs —
    never payloads. All joins/groupBys here are key-partitioned shuffles
    with map-side partial aggregation; nothing is collected to the driver.

    The canonical edge set and the oriented adjacency are materialized
    with ``localCheckpoint`` (the engine's landing-zone discipline, same
    as the closure loop and the curation pipeline): the algorithm
    references the edge list three times (two wedge sides + the closing
    probe) and the degree table twice, and WITHOUT the pin Catalyst
    re-derives the whole upstream once per reference — measured 47
    parquet scans and zero exchange reuse for the co-purchase query.
    Checkpoint size is the edge list itself (two longs per edge), the
    same thing any multi-pass graph algorithm keeps resident.
    """
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(u.alias("_u"), v.alias("_v"))
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint()  # landing zone: scanned by deg + orientation
    )
    deg = (
        und.select(F.col("_u").alias("node"))
        .unionByName(und.select(F.col("_v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    # Orientation rank is the (degree, id) pair — a total order, so ties
    # in degree break deterministically by node id.
    ranked = (
        und.join(deg.select(F.col("node"), F.col("degree").alias("_du")), F.col("_u") == F.col("node"))
        .drop("node")
        .join(deg.select(F.col("node"), F.col("degree").alias("_dv")), F.col("_v") == F.col("node"))
        .drop("node")
    )
    lower_first = F.struct(F.col("_du"), F.col("_u")) < F.struct(F.col("_dv"), F.col("_v"))
    oriented = ranked.select(
        F.when(lower_first, F.col("_u")).otherwise(F.col("_v")).alias("s"),
        F.when(lower_first, F.col("_v")).otherwise(F.col("_u")).alias("d"),
        # the destination's rank rides along so wedge pairs can be
        # ordered WITHOUT another degree join
        F.when(lower_first, F.col("_dv")).otherwise(F.col("_du")).alias("d_deg"),
    ).localCheckpoint()  # referenced 3x: two wedge sides + closing probe
    o1 = oriented.select(
        F.col("s"), F.col("d").alias("b"), F.col("d_deg").alias("b_deg")
    )
    o2 = oriented.select(
        F.col("s"), F.col("d").alias("c"), F.col("d_deg").alias("c_deg")
    )
    wedges = o1.join(o2, "s").filter(
        F.struct(F.col("b_deg"), F.col("b")) < F.struct(F.col("c_deg"), F.col("c"))
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("s", "b", "c")
    corners = (
        tri.select(F.col("s").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0).cast("bigint")).alias(
                "triangles"
            ),
        )
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, int]:
    """Both directions of every edge, self-loops and null endpoints
    dropped, deduplicated, landed, with its row count."""
    return _land(
        _symmetrized(edges, src, dst)
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )


def _lpa_kernel(s, d, iters):
    """Synchronous label propagation over the symmetric edge arrays."""
    nodes, si = np.unique(s, return_inverse=True)
    di = np.searchsorted(nodes, d)
    n = len(nodes)
    lab = np.arange(n)  # labels as indices into the sorted node ids
    for _ in range(iters):
        # (node, label) message counts: one int64 key sorts by node,
        # then label
        key, count = np.unique(di * n + lab[si], return_counts=True)
        start, size = _groups(key // n)
        top = np.repeat(np.maximum.reduceat(count, start), size)
        # per node: count DESC, then label ASC; every node has a neighbour
        best = np.flatnonzero(count == top)
        first, _ = _groups(key[best] // n)
        lab = key[best[first]] % n
    return {"node": nodes, "community": nodes[lab]}


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007), made deterministic.

    Every node starts labeled with its own id; each round every node
    adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label (the classic algorithm breaks ties randomly —
    useless under a cross-engine hash gate, so the tie rule is pinned).
    Exactly ``iters`` synchronous rounds run — no convergence test:
    synchronous LPA can 2-cycle on bipartite structures, and a fixed
    round count is what two engines can replay bit-for-bit.

    Returns ``(node, community)`` for every node with at least one edge
    (self-loops and null endpoints dropped).

    The undirected edge set lands once and is counted in the same job.
    Below ``SMALL_GRAPH_EDGES`` edges the rounds run in one task inside
    the caller's action (q_label_propagation on 4 cores, alternating
    A/B medians, distributed -> one task: 0.76 -> 0.40 s at sf0.001,
    3.19 -> 1.94 s at sf0.1 on 650k edges).
    Above it each round is a hinted SHUFFLED-HASH join (AQE would
    otherwise broadcast-convert the node-sized label table every round,
    and at 100 TB it cannot broadcast) and the (node, label) count and
    the argmax (max over struct(count, -label) — never a per-node window)
    stack on ONE explicit node-keyed exchange. Labels are node ids
    (longs); no payloads in any shuffle.
    """
    und, n_edges = _undirected(edges, src, dst)
    if n_edges < SMALL_GRAPH_EDGES:
        node = und.schema["_s"].dataType
        schema = StructType(
            [StructField("node", node), StructField("community", node)]
        )
        return _one_task(und, schema, lambda s, d: _lpa_kernel(s, d, iters))
    parts = _parallel_parts(edges.sparkSession)
    labels = (
        und.select(F.col("_s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
    )

    def step(labels, probed):
        msgs = und.join(
            labels.withColumnRenamed("node", "_s").hint("shuffle_hash"),
            "_s",
        ).select(F.col("_d").alias("node"), "lab")
        # one node-keyed exchange serves BOTH aggregates below it
        counts = (
            msgs.repartition(parts, "node")
            .groupBy("node", "lab")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        # argmax (count DESC, label ASC) as a combinable max over
        # struct(count, -label): ids are non-negative longs, so the
        # negation order is exactly label-ascending on count ties
        return (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("lab")).alias("_nl"))
                ).alias("_m")
            )
            .select("node", (-F.col("_m._nl")).alias("lab"))
        )

    labels, _, _ = _drive(labels, step, iters, parts)
    return labels.select("node", F.col("lab").alias("community"))


def _kcore_kernel(s, d, max_rounds, min_rounds):
    """Synchronous H-index rounds over the symmetric edge arrays,
    stopping at the first stationary round at or after ``min_rounds``.
    Returns ``(columns, rounds_run, converged)``."""
    nodes, si = np.unique(s, return_inverse=True)
    di = np.searchsorted(nodes, d)
    h = np.bincount(si, minlength=len(nodes))
    for rounds in range(1, max_rounds + 1):
        # each node's neighbour values, descending, under one int64 key;
        # the H-index is the max over ranks i of min(i-th value, i)
        top = h.max(initial=0)
        key = np.sort(di * (top + 1) + (top - h[si]))
        val = top - key % (top + 1)
        start, size = _groups(key // (top + 1))
        rank = np.arange(1, len(key) + 1) - np.repeat(start, size)
        new = np.maximum.reduceat(np.minimum(val, rank), start)
        stationary = rounds >= min_rounds and np.array_equal(new, h)
        h = new
        if stationary:
            return {"node": nodes, "coreness": h}, rounds, True
    return {"node": nodes, "coreness": h}, max_rounds, False


def _kcore_schema(und: DataFrame) -> StructType:
    return StructType([
        StructField("node", und.schema["_s"].dataType),
        StructField("coreness", LongType()),
    ])


def _kcore_rounds(und: DataFrame, max_rounds: int, min_rounds: int):
    """The distributed twin of :func:`_kcore_kernel`: the same rounds and
    stop, returning ``(frame, rounds_run, converged)``.

    Each round is ONE hinted shuffled-hash join (values x edges on the
    source id; AQE would otherwise broadcast-convert the value table
    every round, and at 100 TB it cannot broadcast) + ONE node-keyed
    exchange under which the (node, value) histogram and the H-index
    fold ``_HINDEX`` stack — no window, and after round one a hub's
    histogram is bounded by the coreness range, not its degree. Probed
    rounds also join the previous values and count the changed nodes."""
    parts = _parallel_parts(und.sparkSession)
    vals = und.groupBy(F.col("_s").alias("node")).agg(
        F.count("*").cast("bigint").alias("h")
    )

    def step(vals, probed):
        msgs = und.join(
            vals.withColumnRenamed("node", "_s").hint("shuffle_hash"),
            "_s",
        ).select(F.col("_d").alias("node"), "h")
        # one node-keyed exchange serves BOTH aggregates below it
        hist = (
            msgs.repartition(parts, "node")
            .groupBy("node", "h")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        new_vals = hist.groupBy("node").agg(F.expr(_HINDEX).alias("h"))
        if probed:
            return new_vals.join(vals.withColumnRenamed("h", "_h0"), "node")
        return new_vals

    changed = F.count_if(F.col("h") != F.col("_h0"))
    vals, rounds_run, converged = _drive(
        vals, step, max_rounds, parts, changed, first_probe=min_rounds
    )
    return vals.select("node", F.col("h").alias("coreness")), rounds_run, converged


def kcore_decomposition(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Coreness (k-core number) per node by synchronous H-index
    iteration — Lu, Zhou, Zhang & Stanley, "The H-index of a network
    node and its relation to degree and coreness" (Nature
    Communications 7:10168, 2016): start every node at its degree and
    repeatedly replace each node's value with the H-index of its
    neighbors' values. The sequence decreases monotonically and its
    fixpoint IS the coreness, so at any finite ``rounds`` the returned
    ``coreness`` column is a MONOTONE UPPER BOUND on the true core
    number — exact only once ``rounds`` reaches the graph's convergence
    depth (tests/test_winnow_triangles.py measures the gap against an
    exact Batagelj-Zaversnik peel twin: at the default 6 rounds the
    bound is within +1 at sf0.001, +2 at sf0.1; exactness there needs
    ~18 rounds). Callers needing exact coreness raise ``rounds`` or use
    :func:`kcore_converged`.

    Exactly ``rounds`` synchronous rounds run — no convergence test —
    so the operator is a fixed, engine-replayable recurrence: an
    unrolled SQL oracle replays it bit-for-bit, and extra rounds past
    the fixpoint are stationary.

    Returns ``(node, coreness)`` for every node with at least one edge
    (self-loops and null endpoints dropped; coreness is an exact BIGINT).

    The undirected edge set lands once and is counted in the same job.
    Below ``SMALL_GRAPH_EDGES`` edges the rounds run in one task inside
    the caller's action (q_kcore_decompose on 4 cores, alternating A/B
    medians, distributed -> one task: 0.88 -> 0.39 s at sf0.001, 4.29 ->
    1.91 s at sf0.1). Both paths are :func:`kcore_converged`'s loop with
    probing off: the shared kernel and :func:`_kcore_rounds`."""
    und, n_edges = _undirected(edges, src, dst)
    if n_edges < SMALL_GRAPH_EDGES:
        return _one_task(
            und,
            _kcore_schema(und),
            lambda s, d: _kcore_kernel(s, d, rounds, rounds + 1)[0],
        )
    return _kcore_rounds(und, rounds, rounds + 1)[0]


def kcore_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
    min_rounds: int = 1,
) -> "tuple[DataFrame, int]":
    """Convergence-EXACT twin of :func:`kcore_decomposition`: the same
    synchronous H-index recurrence (Lu et al., Nature Communications
    2016), but the loop stops the first round NO node's value changes —
    and because the per-node sequence is monotone decreasing over
    integers, a stationary round IS the fixpoint, and the fixpoint IS
    the coreness (not an upper bound). Returns ``(frame, rounds_run)``
    where ``rounds_run`` counts executed rounds including the final
    stationary one; exactness is pinned against the Batagelj-Zaversnik
    peel in tests/test_winnow_triangles.py. The gate is deterministic —
    exact BIGINT values, no float flapping. A run that hits
    ``max_rounds`` without converging warns on the driver
    (``RuntimeWarning``).

    ``min_rounds``: rounds below it are not probed — for callers that
    KNOW a lower bound on the depth. Values are identical either way
    (extra rounds past the fixpoint are stationary); if the graph
    converges below ``min_rounds``, ``rounds_run`` reports the first
    PROBED stationary round, an upper bound on the true depth.

    The result is landed before returning. Below ``SMALL_GRAPH_EDGES``
    undirected edges the whole loop runs in one task (q_kcore_exact on
    4 cores, alternating A/B medians, distributed -> one task: 1.22 ->
    0.54 s at sf0.001, 4.72 -> 1.00 s at sf0.1),
    and its rounds and converged flag come back with the landing job.
    Above it each round has the fixed-round variant's shape; a probed
    round also joins the previous values, and its changed-node count
    rides the round's landing job."""
    und, n_edges = _undirected(edges, src, dst)
    if n_edges < SMALL_GRAPH_EDGES:
        out, rounds_run, converged = _one_task_converged(
            und,
            _kcore_schema(und),
            lambda s, d: _kcore_kernel(s, d, max_rounds, min_rounds),
        )
    else:
        out, rounds_run, converged = _kcore_rounds(und, max_rounds, min_rounds)
    if not converged:
        warnings.warn(
            f"kcore_converged (h-index) stopped at max_rounds={max_rounds} "
            "WITHOUT converging — coreness values are upper bounds, not "
            "exact. Raise max_rounds.",
            RuntimeWarning,
            stacklevel=2,
        )
    return out, rounds_run


def _bfs_kernel(s, d, kind, rounds):
    """Synchronous multi-source BFS over the tagged union of symmetric
    edges (kind 0), seeds (kind 1) and null seeds (kind 2)."""
    edge = kind == 0
    seeds = s[kind == 1]
    nodes = np.unique(np.concatenate([s[edge], seeds]))
    si, di = np.searchsorted(nodes, s[edge]), np.searchsorted(nodes, d[edge])
    far = np.iinfo(np.int64).max
    hops = np.full(len(nodes), far)
    hops[np.searchsorted(nodes, seeds)] = 0
    for _ in range(rounds):
        reached = hops[si] != far
        offers = hops[si][reached] + 1
        np.minimum.at(hops, di[reached], offers)
    keep = hops != far
    node, hops = nodes[keep], hops[keep]
    if (kind == 2).any():
        # the distributed min-fold keeps a null seed's (null, 0) row
        node, hops = np.append(node.astype(object), None), np.append(hops, 0)
    return {"node": node, "hops": hops}


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distances: for every node reachable from
    ``sources`` within ``rounds`` hops, the exact minimum hop count —
    the neighborhood/reachability primitive (influence radius, blast-
    radius audits, seed-expansion sampling) next to closure, PageRank,
    triangles, LPA and k-core.

    Exactly ``rounds`` synchronous frontier expansions run (the
    label_propagation / kcore_decomposition fixed-round discipline —
    an unrolled SQL oracle replays the recurrence bit-for-bit, and a
    node at distance d is final once d <= rounds: later rounds can
    only re-offer larger values, which the min rejects). Nodes farther
    than ``rounds`` are absent from the result — the contract is
    "distances within the horizon". Every seed reports 0, including a
    seed outside the graph and a null seed.

    Returns ``(node, hops)`` — BIGINT, hash-gateable.

    The undirected edge set lands once and is counted in the same job.
    Below ``SMALL_GRAPH_EDGES`` edges the edges and the seeds travel as
    one tagged union into one task inside the caller's action
    (q_bfs_distances on 4 cores, alternating A/B medians, distributed ->
    one task: 0.89 -> 0.57 s at sf0.001, 1.59 -> 1.11 s at sf0.1). Above
    it each round is ONE shuffle join (current distances x edges on the
    source endpoint) + ONE map-side-combinable min per node over
    (long, long) pairs; the frontier is not delta-tracked (at fixed
    small ``rounds`` the full-table join is at most ``rounds`` x the
    delta version's work).
    """
    und, n_edges = _undirected(edges, src, dst)
    if n_edges < SMALL_GRAPH_EDGES:
        seed = F.col(id_col)
        tagged = und.select("_s", "_d", F.lit(0).alias("_k")).unionByName(
            sources.select(
                F.coalesce(seed, F.lit(0)).alias("_s"),
                F.coalesce(seed, F.lit(0)).alias("_d"),
                F.when(seed.isNull(), 2).otherwise(1).alias("_k"),
            )
        )
        schema = StructType([
            StructField("node", tagged.schema["_s"].dataType),
            StructField("hops", LongType()),
        ])
        return _one_task(
            tagged, schema, lambda s, d, k: _bfs_kernel(s, d, k, rounds)
        )
    dist = sources.select(
        F.col(id_col).alias("node"), F.lit(0).cast("bigint").alias("hops")
    ).distinct()

    def step(dist, probed):
        offers = und.join(
            dist.withColumnRenamed("node", "_s"), "_s"
        ).select(
            F.col("_d").alias("node"),
            (F.col("hops") + F.lit(1).cast("bigint")).alias("hops"),
        )
        return (
            dist.unionByName(offers)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )

    return _drive(dist, step, rounds, _parallel_parts(edges.sparkSession))[0]
