"""Connected components over candidate-pair edges (duplicate clustering).

Every dedup family in this engine (exact digests, MinHash/SimHash LSH,
n-gram Jaccard — operators/dedup.py) stops at *pairs*. A training-data
pipeline needs the transitive closure: if A~B and B~C, all three are one
duplicate *cluster* and one survivor should represent it. That closure is
connected components — the canonical iterative algorithm Spark has no
built-in operator for (GraphFrames is an external package), so it is
implemented here as a driver-coordinated fixpoint of DataFrame joins.

Algorithm: min-label propagation. Every vertex starts labeled with its own
id; each round every vertex takes the min of its label and its neighbors'
labels; converged when no label changes. Rounds = graph diameter.

Scale (100 TB corpus, billions of candidate edges):

- Each round is ONE shuffle join (labels ⋈ edges on the vertex id) + ONE
  partial-aggregated groupBy min — both key-partitioned on the vertex id,
  so AQE coalesces/splits per-round. Nothing driver-side except the
  convergence counter (a count() action per round — the unavoidable
  driver decision every iterative dataflow makes, same as GraphFrames/
  GraphX supersteps).
- Lineage is truncated every round with ``localCheckpoint`` — without it
  the plan doubles per iteration and round k replays rounds 1..k-1.
- Diameter bound: duplicate-cluster graphs are near-cliques (every member
  pairs with most others), so propagation converges in 2-3 rounds
  regardless of corpus size. For adversarial long-path graphs pass
  ``method="star"``: the alternating large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SOCC'14) converges in O(log^2 n) rounds independent of diameter. Both
  methods are exact; propagation stays the default because a dedup
  round is one join + one partial-agg min (star rounds are two
  grouped emissions + a distinct), and near-clique inputs finish in
  fewer total shuffles.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from asterlake.session import pinned_conf


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
    """Round-3 advice: exhausting max_iter without reaching the fixpoint
    means labels can silently span a component not fully merged (e.g. a
    chain longer than max_iter under propagation). Loud, not silent."""
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

    # Pin both iteration inputs (landing zones) and size the loop's
    # shuffle-partition conf to the edge count, independent of the
    # session conf: the dup-candidate graph is tiny relative to the
    # corpus, and without the loop-scoped `parts` each round pays
    # (conf partitions x stages) of task overhead in sessions tuned for
    # the full-corpus scans. r14: the former repartition(parts, key) +
    # SECOND localCheckpoint on each input is gone — localCheckpoint
    # does not preserve outputPartitioning under AQE (the checkpointed
    # scan reports UnknownPartitioning and every per-round join
    # re-exchanges its inputs regardless, measured in the r14 plan
    # capture), so those repartitions bought nothing and cost one full
    # extra landing job + exchange per input. Values are partitioning-
    # independent either way.
    und = und.localCheckpoint()
    n_edges = und.count()
    parts = max(4, min(256, n_edges // 50_000 + 4))
    labels = (
        vertices.select(F.col(id_col), F.col(id_col).alias("component"))
        .localCheckpoint()
    )

    spark = edges.sparkSession
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": str(parts)}):
        for _ in range(max_iter):
            # each vertex's best neighbor label this round; the groupBy is
            # the round's single exchange (at `parts`, matching the pinned
            # inputs, so both joins are co-partitioned)
            nbr_min = (
                und.join(labels, und["_d"] == labels[id_col])
                .groupBy("_s")
                .agg(F.min("component").alias("_nbr"))
            )
            # the convergence check RIDES the checkpoint job via an
            # Observation (the versioned.py write-action pattern): one
            # job per round instead of checkpoint + a second changed-
            # count job — iteration overhead is the dominant cost of
            # this loop on dedup-sized graphs (r11; measured ~2 jobs ->
            # 1 per round across the whole closure family)
            obs = Observation()
            labels = (
                labels.join(nbr_min, labels[id_col] == nbr_min["_s"], "left")
                .select(
                    F.col(id_col),
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_nbr"), F.col("component")),
                    ).alias("component"),
                    (
                        F.coalesce(F.col("_nbr"), F.col("component"))
                        < F.col("component")
                    ).alias("_changed"),
                )
                .observe(
                    obs,
                    F.coalesce(
                        F.sum(F.col("_changed").cast("long")), F.lit(0)
                    ).alias("n_changed"),
                )
                .drop("_changed")
                .localCheckpoint()
            )
            if obs.get["n_changed"] == 0:
                break
        else:
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
    """Convergence-gated twin of :func:`pagerank_fixed_point` (round-4
    verdict stretch): identical exact BIGINT recursion, but the loop
    stops as soon as ``max_node |pr' - pr| <= tol_fp`` (fixed-point
    units, i.e. tol_fp/scale in rank mass) instead of running a fixed
    count — so a 100x graph neither over-iterates past its stationary
    point nor under-iterates before it. Returns ``(ranks, rounds_run)``.

    The gate costs one node-sized max-|delta| aggregate per round (old
    and new ranks are co-partitioned on the node key, so the diff join
    is exchange-free); because the arithmetic is exact integers, the
    check is deterministic — no float-noise flapping around the
    threshold. With ``tol_fp=0`` it stops exactly at the integer
    fixpoint. A run that hits ``max_iter`` without converging warns,
    same contract as connected_components."""
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
    ckpt_every: int = 3,
) -> DataFrame:
    """PageRank with a FIXED iteration count in pure BIGINT fixed-point —
    deterministic across engines and partition orders, so the result is
    hash-gateable (double-accumulated PR depends on partial-sum order).

    All arithmetic is exact: ranks live in units of ``1/scale``, each
    step is ``pr' = base + (damping_num * SUM(pr_in // deg)) DIV
    damping_den`` with integer division at exactly the same points in
    every engine. Precision loss from the floor divisions is identical
    everywhere, bounded by iters * (deg truncation) — fine for ranking.

    Scale shape: the edge list (with its per-source degree attached) is
    localCheckpoint-materialized, and the rank table lands every
    ``ckpt_every`` rounds (plus the final round) — the kcore_decomposition
    lineage-truncation cadence (guide §2.4). Without any landing every
    round's LAZY plan re-derives the whole edge-generation subtree and
    the join tree deepens exponentially (measured 14s -> 3.4s at sf0.1
    for the co-purchase gate); landing EVERY round pays one eager
    materialization job per round the fixed-count loop doesn't need
    (r15: ckpt_every=3 measured 6.8 -> 5.2 s same-session min at sf0.1,
    values bit-identical — un-landed rounds dedup through
    ReusedExchange). Per round: one join of ranks to the pinned edges on
    the source key and one sum keyed on the destination — 2 exchanges
    over (node, long) pairs. ``iters`` is fixed (the
    standard production choice: ~O(log n) rounds approximate the
    stationary point well before convergence detection pays for
    itself); for convergence-gated variants reuse the
    connected_components loop skeleton.

    Nodes are taken from the edge endpoints (dangling-free by
    construction when the caller symmetrizes an undirected graph, as the
    co-purchase query does); multi-edges are honored with multiplicity.
    """
    pr, _ = _pagerank_loop(
        edges, src, dst, iters, damping_num, damping_den, scale,
        tol_fp=None, ckpt_every=ckpt_every,
    )
    return pr


def _pagerank_loop(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int,
    damping_num: int,
    damping_den: int,
    scale: int,
    tol_fp: int | None,
    ckpt_every: int = 1,
) -> tuple[DataFrame, int]:
    # Materialize the edge set ONCE (deg and the joined working set both
    # derive from these blocks, not from a re-run of the caller's edge-
    # generation subtree), then pin BOTH iteration inputs to one explicit
    # hash partitioning sized to the edge count — the connected_components
    # discipline: edges on the probe key and ranks on the node key at the
    # SAME count make the per-round join exchange-free; each round's only
    # shuffle is the destination-keyed sum.
    spark = edges.sparkSession
    parts = max(4, min(256, spark.sparkContext.defaultParallelism))
    # Degree via aggregate + shuffle-hash join, NOT a window: the window
    # form sorts the full edge set within partitions (the dominant cost
    # of the whole operator — measured 6.0s of a 6.6s sf0.1 run on 2.4M
    # edges); the aggregate is map-side combinable and both join sides
    # share the hash(src) partitioning, so the attach is sort-free and
    # exchange-free at any node cardinality (no broadcast assumption).
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
    # the 1-row node count rides a broadcast into EVERY round's rank
    # rebuild — checkpoint it once so each round reads one cached row
    # instead of re-aggregating the full edge set
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
    base_expr = (
        f"(CAST({(damping_den - damping_num) * scale} AS BIGINT) "
        f"DIV {damping_den}) DIV _n"
    )
    rounds = 0
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": str(parts)}):
        for _i in range(iters):
            # shuffle-hash hint: build a hash map of the node-sized rank
            # table per partition instead of sort-merge — co-partitioned
            # inputs make it exchange-free AND skip re-sorting the edge
            # blocks every round (the dominant per-round cost otherwise)
            contrib = working.join(
                pr.hint("shuffle_hash"), working[src] == pr["node"]
            ).select(
                working[dst].alias("_to"),
                F.expr("pr DIV _deg").alias("_c"),
            )
            sums = contrib.groupBy("_to").agg(
                F.sum("_c").cast("bigint").alias("_s")
            )
            prev_pr = pr
            pr = (
                pr.join(sums, pr["node"] == sums["_to"], "left")
                .crossJoin(F.broadcast(n_nodes))
                .select(
                    F.col("node"),
                    (
                        F.expr(base_expr)
                        + F.expr(
                            f"({damping_num} * coalesce(_s,"
                            f" CAST(0 AS BIGINT))) DIV {damping_den}"
                        )
                    )
                    .cast("bigint")
                    .alias("pr"),
                )
            )
            rounds += 1
            # Landing cadence (guide §2.4 lineage truncation, the kcore
            # ckpt_every discipline): the fixed-point variant runs NO
            # mid-loop action, so a per-round localCheckpoint pays one
            # eager materialization job per round for nothing — land
            # every ``ckpt_every`` rounds instead. The un-landed round's
            # duplicated pr subtree dedups through ReusedExchange (pure
            # SQL subplans canonicalize); checkpointing is semantics-
            # free, values identical. The FINAL round always lands so
            # the returned frame is materialized while the loop's
            # shuffle-partition pin is still in force (an un-landed
            # tail would execute later at the ambient conf). The
            # convergence-gated variant
            # (tol_fp set) keeps per-round landings: its delta probe
            # is an action over BOTH pr and prev_pr every round.
            if (
                tol_fp is not None
                or rounds % max(ckpt_every, 1) == 0
                or rounds == iters
            ):
                pr = pr.localCheckpoint()
            if tol_fp is not None:
                # exact integer max-|delta| over co-partitioned ranks:
                # exchange-free shuffle-hash join + scalar aggregate
                delta = (
                    prev_pr.withColumnRenamed("pr", "_pr_old")
                    .join(pr.hint("shuffle_hash"), "node")
                    .agg(F.max(F.abs(F.col("pr") - F.col("_pr_old"))))
                    .collect()[0][0]  # driver-ok: one scalar per round
                )
                if delta is not None and delta <= tol_fp:
                    break
        else:
            if tol_fp is not None:
                warnings.warn(
                    f"pagerank_converged: max_iter={iters} reached with "
                    f"max |delta| still above tol_fp={tol_fp}; returning "
                    "the un-converged ranks",
                    stacklevel=3,
                )
    return pr.select(F.col("node"), F.col("pr").alias("pagerank_fp")), rounds


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

    Returns ``(node, community)`` for every node with at least one edge.

    Scale / r14 round shape (guide §2.4/§3.1, same as
    kcore_decomposition): the per-round join is a hinted SHUFFLED-HASH
    join — AQE otherwise broadcast-converts the node-sized label table
    every round (a per-round driver collect + broadcast build) at
    bench scale, and at 100 TB the label table cannot broadcast, so
    the hinted shape is both the faster local one and the only
    scale-honest one (and never sorts the edge side). The (node,
    label) count and the argmax (max over struct(count, -label) —
    never a per-node window) STACK on ONE explicit node-keyed
    REPARTITION_BY_NUM exchange (hash(node) satisfies the (node, lab)
    clustering) — was one (node, lab) exchange plus one (node)
    exchange. ``localCheckpoint`` truncates lineage between rounds
    (the connected_components discipline); the loop pins
    ``spark.sql.shuffle.partitions`` to the parallelism-derived
    ``parts``. Labels are node ids (longs); no text, no payloads in
    any shuffle. A/B at sf0.1 (alternating in-session, results
    bit-identical): 4.51 -> 3.39s / 5.01 -> 4.40s / 3.96 -> 2.89s
    across three sessions; dropping a speculative edge-side
    pre-repartition (localCheckpoint loses partitioning under AQE)
    measured a further 6.57 -> 3.96s at the session median.
    """
    spark = edges.sparkSession
    parts = max(4, min(256, spark.sparkContext.defaultParallelism))
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": str(parts)}):
        und = (
            _symmetrized(edges, src, dst)
            .filter(F.col("_s") != F.col("_d"))
            .distinct()
            .localCheckpoint()
        )
        labels = (
            und.select(F.col("_s").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("lab"))
            .localCheckpoint()
        )
        for _ in range(iters):
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
            labels = (
                counts.groupBy("node")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("lab")).alias("_nl"))
                    ).alias("_m")
                )
                .select("node", (-F.col("_m._nl")).alias("lab"))
                .localCheckpoint()
            )
    return labels.select("node", F.col("lab").alias("community"))


def kcore_decomposition(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    ckpt_every: int = 3,
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
    ~18 rounds). Callers needing exact coreness raise ``rounds``; the
    default favors the fixed-cost screening shape — the standard
    community-quality / graph-degeneracy filter next to closure,
    PageRank, triangles and label propagation.

    Exactly ``rounds`` synchronous rounds run — no convergence test —
    so the operator is a fixed, engine-replayable recurrence (the
    label_propagation discipline): an unrolled SQL oracle replays it
    bit-for-bit, and extra rounds past the fixpoint are stationary
    (the H-index of converged values reproduces them).

    Returns ``(node, coreness)`` for every node with at least one edge
    (coreness is a BIGINT — every step is integer-exact, hash-gateable).

    Scale: per round, ONE shuffle join (values x edges on the source
    id) + ONE map-side-combinable (node, value) count; the per-node
    H-index folds over the (value, count) HISTOGRAM — sorted desc, the
    running count tracks ``max(min(value, cum))``, which equals the
    H-index at distinct-value group boundaries — as a single JVM-side
    expression: no window, and the collected histogram is bounded by
    the node's DISTINCT neighbor-value count, which the iteration
    itself crushes toward the (tiny) coreness range after round one —
    a hub's histogram is at most max-coreness entries, not its degree.

    Unlike the convergence-checked loops (connected_components), the
    fixed-round recurrence runs NO mid-loop action, so per-round
    ``localCheckpoint`` would pay an eager materialization job per
    round for nothing; lineage is instead truncated every
    ``ckpt_every`` rounds — enough to keep the optimizer's plan depth
    bounded while the whole recurrence executes as ~rounds/ckpt_every
    jobs (measured at sf0.1: cold 16.3s with per-round landings vs
    7-9.5s at every-3 in the same session positions; checkpointing is
    semantics-free, values identical).

    r14 round shape (guide §2.4/§3.1): (a) the per-round join carries a
    ``shuffle_hash`` hint — without it AQE broadcast-converts the
    node-sized value table every round at bench scale (a per-round
    driver collect + broadcast build), and at 100 TB the value table
    cannot broadcast at all, so the hinted shuffled-hash is both the
    faster local shape and the only scale-honest one (and it never
    sorts the edge side the way sort-merge would); (b) the message
    aggregate is keyed to ``node`` ONLY via an explicit
    REPARTITION_BY_NUM exchange — hash(node) satisfies the (node, h)
    clustering, so histogram + H-index fold STACK on that single
    exchange (was: one (node, h) exchange + one (node) exchange);
    (c) the loop pins ``spark.sql.shuffle.partitions`` to the
    parallelism-derived ``parts`` so low-core runs don't pay 32-way
    task overhead per round (``pinned_conf``), and every round
    (including the last — the final round always lands, r15) executes
    under the pin. NOTE an explicit pre-partitioning of the
    edge landing is NOT kept: ``localCheckpoint`` does not preserve
    outputPartitioning under AQE (measured: the join re-exchanges a
    repartition(parts, _s).localCheckpoint() edge side anyway), and
    the persist()-pinned alternative that does preserve it measured
    slower (deserialized cache reads; 5.0 -> 9.0s on the convergence
    twin). A/B at sf0.1 (alternating in-session, results
    bit-identical): 5.30 -> 4.80 / 6.26 -> 6.22 (this fixed-round
    variant), 4.51 -> 3.39 / 3.96 -> 2.89 (label_propagation, same
    round shape, where the shared exchange repeats 3x)."""
    spark = edges.sparkSession
    parts = max(4, min(256, spark.sparkContext.defaultParallelism))
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": str(parts)}):
        und = (
            _symmetrized(edges, src, dst)
            .filter(F.col("_s") != F.col("_d"))
            .distinct()
            .localCheckpoint()
        )
        vals = und.groupBy(F.col("_s").alias("node")).agg(
            F.count("*").cast("bigint").alias("h")
        )
        hindex = F.expr(
            "aggregate(sort_array(collect_list(struct(h, c)), false), "
            "struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS best), "
            "(acc, x) -> struct(acc.cum + x.c, "
            "greatest(acc.best, least(x.h, acc.cum + x.c))), "
            "acc -> acc.best)"
        )
        for r in range(rounds):
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
            vals = hist.groupBy("node").agg(hindex.alias("h"))
            # The FINAL round lands too (r15, r14 ADVICE): the returned
            # frame must materialize while the loop's shuffle-partition
            # pin is still in force — an un-landed tail would execute
            # after the pin is lifted, running the last rounds at the
            # ambient partition count the pin exists to avoid (the
            # pagerank_fixed_point discipline).
            if ckpt_every and (
                (r + 1) % ckpt_every == 0 or r + 1 == rounds
            ):
                vals = vals.localCheckpoint()
    return vals.select("node", F.col("h").alias("coreness"))


def kcore_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
    min_rounds: int = 1,
    ckpt_every: int = 3,
) -> "tuple[DataFrame, int]":
    """Convergence-EXACT twin of :func:`kcore_decomposition` (the
    :func:`pagerank_converged` discipline, r13 verdict stretch #6):
    the same synchronous H-index recurrence (Lu et al., Nature
    Communications 2016), but the loop stops the first round NO node's
    value changes — and because the per-node sequence is monotone
    decreasing over integers, a stationary round IS the fixpoint, and
    the fixpoint IS the coreness (not an upper bound). Returns
    ``(frame, rounds_run)`` where ``rounds_run`` counts executed
    rounds including the final stationary one; exactness is pinned
    against the Batagelj-Zaversnik peel in
    tests/test_winnow_triangles.py.

    The convergence gate is deterministic — exact BIGINT values, no
    float flapping — and costs one co-partitioned anti-equality probe
    per round (both value tables come off ``groupBy(node)`` at the
    same shuffle partitioning; ``limit(1)`` lets the probe
    short-circuit at the first changed node). Unlike the fixed-round
    variant, a probed round runs an ACTION, so its values are
    ``localCheckpoint``-landed (the connected_components shape) — the
    price of knowing when to stop; callers screening at a fixed budget
    keep :func:`kcore_decomposition`. A run that hits ``max_rounds``
    without converging warns, same contract as connected_components.

    ``min_rounds``: rounds below it skip the probe and run in the
    CHEAP fixed-round shape (no action, lineage truncated every
    ``ckpt_every`` rounds) — the convergence-tax amortization for
    callers that KNOW a lower bound on the depth (a graph family whose
    measured depth never dips below k pays k-1 landings for nothing).
    Values are identical either way — skipping a probe can only run
    extra rounds, and extra rounds past the fixpoint are stationary;
    if the graph does converge below ``min_rounds``, ``rounds_run``
    reports the first PROBED stationary round (an upper bound on the
    true depth), which the caller accepted by raising ``min_rounds``.

    Scale shape per round: identical to the fixed-round variant (ONE
    shuffle join + ONE combinable histogram + the JVM-side H-index
    fold), plus the node-sized change probe on probed rounds."""
    und = (
        _symmetrized(edges, src, dst)
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint()
    )
    vals = (
        und.groupBy(F.col("_s").alias("node"))
        .agg(F.count("*").cast("bigint").alias("h"))
        .localCheckpoint()
    )
    hindex = F.expr(
        "aggregate(sort_array(collect_list(struct(h, c)), false), "
        "struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS best), "
        "(acc, x) -> struct(acc.cum + x.c, "
        "greatest(acc.best, least(x.h, acc.cum + x.c))), "
        "acc -> acc.best)"
    )
    rounds_run = 0
    for _ in range(max_rounds):
        msgs = und.join(
            vals.withColumnRenamed("node", "_s"), "_s"
        ).select(F.col("_d").alias("node"), "h")
        hist = msgs.groupBy("node", "h").agg(
            F.count("*").cast("bigint").alias("c")
        )
        new_vals = hist.groupBy("node").agg(hindex.alias("h"))
        rounds_run += 1
        if rounds_run < min_rounds:
            # probe-free prefix: fixed-round shape. The LAST skip round
            # still lands so the first probe joins checkpointed inputs
            # instead of re-deriving the prefix lineage.
            if rounds_run == min_rounds - 1 or (
                ckpt_every and rounds_run % ckpt_every == 0
            ):
                new_vals = new_vals.localCheckpoint()
            vals = new_vals
            continue
        new_vals = new_vals.localCheckpoint()
        changed = (
            new_vals.withColumnRenamed("h", "_hn")
            .join(vals, "node")
            .filter(F.col("_hn") != F.col("h"))
            .limit(1)
            .count()
        )
        vals = new_vals
        if changed == 0:
            return vals.select("node", F.col("h").alias("coreness")), (
                rounds_run
            )
    _warn_not_converged("h-index", max_rounds)
    return vals.select("node", F.col("h").alias("coreness")), rounds_run


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
    ckpt_every: int = 3,
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
    "distances within the horizon", the shape reachability audits
    actually query.

    Returns ``(node, hops)`` — BIGINT, hash-gateable.

    Scale: per round ONE shuffle join (current distances x edges on
    the source endpoint) + ONE map-side-combinable min per node;
    distances carry (long, long) pairs only. The frontier is not
    delta-tracked (a production BSP engine would expand only last
    round's new nodes); at fixed small ``rounds`` the full-table join
    is at most ``rounds`` x the delta version's work and keeps the
    recurrence engine-replayable. Lineage truncates every
    ``ckpt_every`` rounds (no mid-loop action — the kcore rationale).
    """
    und = (
        _symmetrized(edges, src, dst)
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint()
    )
    dist = sources.select(
        F.col(id_col).alias("node"), F.lit(0).cast("bigint").alias("hops")
    ).distinct()
    for r in range(rounds):
        offers = und.join(
            dist.withColumnRenamed("node", "_s"), "_s"
        ).select(
            F.col("_d").alias("node"),
            (F.col("hops") + F.lit(1).cast("bigint")).alias("hops"),
        )
        dist = (
            dist.unionByName(offers)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        if ckpt_every and (r + 1) % ckpt_every == 0 and r + 1 < rounds:
            dist = dist.localCheckpoint()
    return dist
