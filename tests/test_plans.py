"""Physical-plan regression tests: pin the plan shapes that make the engine
viable at 100 TB (broadcast dims, pushdown, pruning, top-k, digest-keyed
shuffles). Oracles pin WHAT is computed; these pin HOW."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asterlake.plans.inspect import (
    has_node,
    node_count,
    plan_string,
    scan_for,
    shuffle_keys,
)
from asterlake.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _no_cached_relations(spark):
    # plan-shape assertions must see the real scans: a table cached by an
    # earlier test module would substitute an InMemoryRelation (full-width
    # columns, no pushdown) into exactly the plans under inspection
    spark.catalog.clearCache()
    yield


def _plan(spark, name: str) -> str:
    return plan_string(QUERIES[name].spark(spark, SF))


def test_flagship_star_join_all_broadcast(spark):
    plan = _plan(spark, "flagship_revenue_by_nation")
    # every join in the 5-table star is a broadcast hash join of the small
    # side — the fact table never shuffles for a join
    assert node_count(plan, "BroadcastHashJoin") == 4
    assert not has_node(plan, "SortMergeJoin")
    # the only shuffles are the two-phase aggregation + final sort
    # (\bExchange\b does not match inside BroadcastExchange)
    assert node_count(plan, "Exchange") <= 2


def test_flagship_scans_are_pruned(spark):
    plan = _plan(spark, "flagship_revenue_by_nation")
    li = scan_for(plan, "lineitem")
    # 16-column table, 3-column read
    assert set(li.read_columns) == {"l_orderkey", "l_extendedprice", "l_discount"}
    assert set(scan_for(plan, "orders").read_columns) == {"o_orderkey", "o_custkey"}


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "q_filter_predicates")
    li = scan_for(plan, "lineitem")
    got = " ".join(li.pushed_filters)
    for frag in ["l_shipdate", "l_discount", "l_quantity", "In(l_returnflag"]:
        assert frag in got, f"{frag} not pushed: {li.pushed_filters}"


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "q_topk_orders")
    assert has_node(plan, "TakeOrderedAndProject")
    # no global sort materialization, no shuffle at all
    assert not has_node(plan, "Exchange")


def test_exact_dedup_shuffles_digest_not_body(spark):
    plan = _plan(spark, "q_dedup_exact")
    keys = shuffle_keys(plan)
    # Catalyst names the map-side md5 projection _groupingexpression; the
    # shuffle hashes that 32-char digest
    assert any("_groupingexpression" in k or "_digest" in k for k in keys), keys
    # the document body never appears in a shuffle key
    assert not any("text#" in k for k in keys), keys
    # and aggregation is partial (map-side combine) before the exchange
    assert "partial_min" in plan


def test_ann_topk_is_shuffle_free(spark):
    plan = _plan(spark, "q_ann_topk_bruteforce")
    assert has_node(plan, "TakeOrderedAndProject")
    # \bExchange\b does not match inside BroadcastExchange: zero shuffles
    assert node_count(plan, "Exchange") == 0
    assert has_node(plan, "BroadcastExchange") or has_node(
        plan, "BroadcastNestedLoopJoin"
    )


def test_partition_pruning_on_silver(spark, tmp_path):
    from datetime import date, datetime

    from asterlake.operators.flatten import flatten_feed
    from asterlake.sources.bronze import read_bronze, write_bronze_document
    from asterlake.sources.writers import read_silver, write_silver
    from tests.fixtures_neows import feed_document

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    write_bronze_document(bronze, "2025-10-10", feed_document())
    write_silver(
        flatten_feed(
            read_bronze(spark, bronze),
            batch_id=1,
            processing_time=datetime(2025, 10, 10, 1, 30),
        ),
        silver,
    )
    df = read_silver(spark, silver, processing_date=date(2025, 10, 10))
    plan = plan_string(df)
    scan = scan_for(plan, "silver")
    assert any("_processing_date" in f for f in scan.partition_filters), (
        scan.partition_filters
    )
    # and the non-matching partition reads zero files on a different date
    none = read_silver(spark, silver, processing_date=date(1999, 1, 1))
    assert none.count() == 0


def test_broadcast_profiles_in_langid(spark):
    plan = _plan(spark, "q_text_langid")
    # the tiny profile table broadcasts into the scoring join; the corpus
    # side never sort-merge-joins
    assert has_node(plan, "BroadcastHashJoin")


def test_ivf_search_broadcasts_probes_single_shuffle(spark):
    plan = _plan(spark, "q_ann_ivf_search")
    # candidate generation = broadcast hash join on centroid_id (the query
    # side is always the small side); never a cartesian product
    assert has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    # the only shuffle is the per-query top-k window
    keys = shuffle_keys(plan)
    assert all("query_id" in k for k in keys), keys


def test_simhash_pairs_shuffle_ints_never_text(spark):
    plan = _plan(spark, "q_dedup_simhash_pairs")
    # no all-pairs join shapes
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    # the document body never travels: only doc_id/fingerprint/band ints
    # appear in shuffle or broadcast keys, and the text column is pruned
    # right after fingerprinting (each self-join side scans doc_id + text)
    from asterlake.plans.inspect import scans

    doc_scans = [s for s in scans(plan) if "documents" in s.location]
    assert doc_scans
    for sc in doc_scans:
        assert set(sc.read_columns) == {"doc_id", "text"}
    for k in shuffle_keys(plan):
        assert "text" not in k, k


def test_stream_windowed_counts_matches_batch_shape(spark):
    # the streaming variant is gated by the batch oracle; here just pin
    # that the BATCH twin of the same window agg keeps partial aggregation
    # (map-side combine) before its single shuffle
    from asterlake.tables import load_table

    ev = load_table(spark, SF, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    plan = plan_string(agg)
    assert node_count(plan, "HashAggregate") >= 2  # partial + final
    assert node_count(plan, "Exchange") == 1


def test_no_driver_side_actions_in_operator_code():
    """Operators must never launch jobs from plan-construction code: no
    .collect()/.first()/.toPandas()/... under asterlake/operators/
    (VERDICT r1 flagged srp_bucket's dim-inferring .first()). The
    negative lookbehind keeps plan-side aggregate expressions like
    F.first(...) legal — those build columns, not jobs. Iterative
    algorithms whose CONTRACT is bounded driver-side model state (e.g.
    kmeans_fit collecting k x dim centroids per round, never data-sized)
    may opt out with an explicit `# driver-ok: <reason>` pragma on the
    line — the pragma documents the bound and keeps accidental collects
    failing loudly."""
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parents[1] / "asterlake" / "operators"
    pattern = re.compile(r"(?<!F)\.(collect|first|toPandas|head|take|show)\(")
    offenders = []
    pragmas = 0
    for py in sorted(ops.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pattern.search(line):
                if "# driver-ok:" in line:
                    pragmas += 1
                    continue
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
    # the pragma is an exception mechanism, not a loophole — keep it
    # rare. The ten: graph.py convergence scalar, similarity.py
    # kmeans/PCA model partials, pq.py codebook training (r8), bpe.py
    # one-argmax-pair-per-round (r8), classifier.py one-row d+2-scalar
    # gradient collect (r8), unigram.py seed-vocab + per-EM-round model
    # collects (r9; both bounded by seed_size — the vocab IS the model),
    # ngramlm.py vocab + bigram-model collects (r9; vocab_size and
    # (V+2)^2 bounded — the collect IS the trained model), dsir.py
    # target+raw hashed-count collects (r10; <= buckets rows each —
    # the collect IS the importance-ratio model), wordpiece.py
    # alphabet collect + one-argmax-pair-per-round (r11; alphabet-sized
    # and ONE row respectively — the bpe.py trainer discipline with the
    # likelihood argmax), pq.py moments-init pre-pass (r12; m x dsub =
    # dim first/second-moment rows — the init IS model state, and
    # matching the seeded centroids to the data's location/scale is
    # what keeps Lloyd from freezing dead centroids on rotated-space
    # training: measured SSE 339.7 -> 251.5 on the same data)
    # — every one a bounded-model-state training loop, never data-sized.
    assert pragmas <= 15, f"too many driver-ok pragmas: {pragmas}"


def test_srp_blocked_neighbors_no_quadratic_shape(spark):
    """q_embedding_srp_neighbors: candidate generation must be an equi-join
    on the SRP bucket key (hash/sort-merge exchange on _blk), never a
    cartesian/nested-loop product, and the block-size cap's rank runs on
    the same key — no extra exchange beyond the join's own."""
    plan = _plan(spark, "q_embedding_srp_neighbors")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    # the join keys are the bucket signature, not raw vectors
    keys = shuffle_keys(plan)
    assert keys, "expected a shuffle on the block key"
    for k in keys:
        assert "_blk" in k, k


def test_shipping_priority_q3_shape(spark):
    """TPC-H Q3 shape: both dims broadcast (never a fact shuffle for a
    join), every filter pushed to its scan, top-k via TakeOrderedAndProject
    with the only exchange being the aggregation's."""
    plan = _plan(spark, "q_shipping_priority")
    assert node_count(plan, "BroadcastHashJoin") == 2
    assert not has_node(plan, "SortMergeJoin")
    assert has_node(plan, "TakeOrderedAndProject")
    assert node_count(plan, "Exchange") == 1
    li = scan_for(plan, "lineitem")
    assert any("l_shipdate" in f for f in li.pushed_filters), li.pushed_filters
    assert any(
        "c_mktsegment" in f for f in scan_for(plan, "customer").pushed_filters
    )


def test_gapfill_single_scan_two_exchanges(spark):
    """gap_fill_locf must be one pass: ONE events scan (the grid-then-join
    formulation scanned twice), exchanges only on (key, slot) for the slot
    winner and on key for the lead window, and a partial (map-side)
    max_by before the first shuffle."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_gapfill_locf")
    ev_scans = [s for s in scans(plan) if "events" in s.location]
    assert len(ev_scans) == 1, [s.location for s in scans(plan)]
    assert node_count(plan, "Exchange") == 2
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "BroadcastHashJoin")
    assert "partial_max_by" in plan  # map-side combine of the slot winner


def test_histogram_and_sample_scans_minimal(spark):
    """Profiling scans stay thin: the histogram reads ONE column of
    lineitem with one partial-agg exchange; the stratified sample reads
    only the key/stratum/measure columns and aggregates in one exchange
    (sampling itself is a pure filter, no shuffle)."""
    plan = _plan(spark, "q_histogram_prices")
    assert set(scan_for(plan, "lineitem").read_columns) == {"l_extendedprice"}
    assert node_count(plan, "Exchange") == 1

    plan = _plan(spark, "q_sample_stratified")
    assert set(scan_for(plan, "orders").read_columns) == {
        "o_orderkey", "o_orderstatus", "o_totalprice"
    }
    assert node_count(plan, "Exchange") == 1


def test_waiting_supplier_single_fact_scan(spark):
    """The Q21 shape reads lineitem ONCE: both correlated existence
    predicates fold into one window over l_orderkey (round-2 verdict #6 —
    the EXISTS/NOT-EXISTS form cost two extra full fact scans)."""
    plan = _plan(spark, "q_waiting_supplier_orders")
    assert plan.count("lineitem.parquet") == 1
    assert has_node(plan, "Window")
    # pruned fact scan: only the three columns the window/filter need
    assert set(scan_for(plan, "lineitem").read_columns) == {
        "l_orderkey", "l_suppkey", "l_shipdate"
    }


def test_cdc_apply_one_shuffle_no_join(spark):
    """CDC application must not join base with changes: both union into
    one keyed stream, so the only wide op is the per-key window shuffle —
    a 100 TB base is shuffled once, no matter the changelog size."""
    plan = _plan(spark, "q_cdc_apply")
    assert has_node(plan, "Window")
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "BroadcastHashJoin")
    assert node_count(plan, "Exchange") == 1


def test_trimmed_stats_band_broadcast(spark):
    """Percentile bands join back over the fact via BROADCAST: the fact is
    scanned for bands and for the trimmed aggregation but never shuffled
    by value; the only exchanges are the two aggregations' own."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_trimmed_stats")
    assert has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "SortMergeJoin")
    # lineitem scans in the FINAL plan: the percentile machinery's
    # distinct-value counts are persist()-cached (its many consumers
    # read the InMemoryTableScan, not the parquet — without that the
    # branch diamonds re-scan the fact ~10x), so only the trimmed
    # aggregation itself reads the table here — 2-column pruned, and
    # nothing feeds a value-buffering Percentile aggregate (the scale
    # contract)
    li_scans = [s for s in scans(plan) if "lineitem" in s.location]
    assert 1 <= len(li_scans) <= 2
    for s in li_scans:
        assert set(s.read_columns) == {"l_returnflag", "l_extendedprice"}
    assert "percentile" not in plan.lower()


def test_funnel_single_scan_single_sort_shuffle(spark):
    """k funnel steps must NOT become k self-joins: one events scan, one
    shuffle (the user-keyed window sort; the groupBy rides the same
    partitioning), window nodes for the running step anchors."""
    plan = _plan(spark, "q_funnel_conversion")
    assert plan.count("events.parquet") == 1
    assert has_node(plan, "Window")
    assert not has_node(plan, "SortMergeJoin")
    assert node_count(plan, "Exchange") == 1


def test_fuzzy_pairs_no_cartesian(spark):
    """The edit-distance kernel only runs inside block-equi-join buckets —
    never a cross product of the full table."""
    plan = _plan(spark, "q_fuzzy_name_pairs")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    assert "levenshtein" in plan


def test_hybrid_search_broadcast_topk(spark):
    """Hybrid retrieval: BM25 leg and cosine leg fuse via hash join with a
    broadcast somewhere (both sides are small/filtered), and the top-20 is
    TakeOrderedAndProject — no global sort of the fused scores."""
    plan = _plan(spark, "q_hybrid_search")
    assert has_node(plan, "TakeOrderedAndProject")
    assert not has_node(plan, "CartesianProduct")


def test_chunking_is_shuffle_free_generator(spark):
    plan = _plan(spark, "q_chunk_documents")
    assert not has_node(plan, "Exchange")
    assert has_node(plan, "Generate")  # posexplode
    # only the two used columns are read
    scan = scan_for(plan, "documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_min_cost_supplier_decorrelates_scalar_min(spark):
    plan = _plan(spark, "q_min_cost_supplier")
    # the correlated MIN becomes an aggregate joined back, not a per-row
    # subquery: physical plan has hash aggregates + joins only
    assert has_node(plan, "HashAggregate")
    assert not has_node(plan, "CartesianProduct")


def test_zorder_stats_broadcast_bounds_no_value_shuffle(spark):
    """The min/max bounds table broadcasts back over the fact; the only
    other exchanges belong to the two aggregations (bounds + per-bucket
    stats) — the fact is never shuffled by value, and the z-value is a
    pure expression (no UDF, no Python)."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_zorder_stats")
    assert has_node(plan, "BroadcastExchange")
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "BatchEvalPython")
    li_scans = [s for s in scans(plan) if "lineitem" in s.location]
    for s in li_scans:
        assert set(s.read_columns) == {"l_partkey", "l_suppkey"}


def test_containment_shuffle_hash_inverted_index(spark):
    """Same scale contract as the Jaccard twin: the exploded posting lists
    meet in a ShuffledHashJoin (never a broadcast of an unboundedly large
    exploded table, never a cartesian)."""
    plan = _plan(spark, "q_dedup_containment")
    assert has_node(plan, "ShuffledHashJoin")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")


def test_training_mix_broadcast_membership_probes(spark):
    """The composed pipeline keeps every membership test map-side: the
    benchmark n-gram set and the contaminated/survivor ID sets ride
    broadcast semi/anti joins; no sort-merge join of the corpus."""
    plan = _plan(spark, "q_training_mix")
    assert has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "CartesianProduct")


def test_dedup_normalized_fingerprint_shuffle_only(spark):
    """The dedup groupBy shuffles the 32-hex fingerprint, never the text
    body: the exchange's hash partitioning must key on the fingerprint."""
    plan = _plan(spark, "q_dedup_normalized")
    assert has_node(plan, "Exchange")
    assert "hashpartitioning(fingerprint" in plan


def test_doc_rarity_never_shuffles_text(spark):
    """q_doc_rarity: the corpus-frequency join shuffles tokens and doc ids;
    the document body must stay out of every exchange and the scan must
    read only (doc_id, text)."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_doc_rarity")
    doc_scans = [s for s in scans(plan) if "documents" in s.location]
    assert doc_scans
    for sc in doc_scans:
        # the term-frequency branch prunes even doc_id: text-only scan
        assert set(sc.read_columns) <= {"doc_id", "text"}
    for k in shuffle_keys(plan):
        assert "text" not in k, k


def test_schema_drift_union_no_shuffle(spark):
    plan = _plan(spark, "q_schema_drift_union")
    assert not has_node(plan, "Exchange")
    # both snapshot filters push to the scan
    assert node_count(plan, "Scan parquet") == 2


def test_sketch_distinct_has_no_value_buffer_percentile(spark):
    """The sketches' exact reference values must come from the bounded-
    state two-pass percentile, not the value-buffering built-in — the
    buffer the sketches exist to avoid must not verify them."""
    plan = _plan(spark, "q_sketch_distinct")
    import re

    mentions = set(re.findall(r"\w*[Pp]ercentile\w*", plan))
    assert mentions <= {"percentile_approx", "partial_percentile_approx"}, (
        mentions
    )


def test_int8_topk_is_shuffle_free(spark):
    plan = _plan(spark, "q_ann_int8_topk")
    assert has_node(plan, "TakeOrderedAndProject")
    assert node_count(plan, "Exchange") == 0


def test_checksum_and_twap_single_exchange_pruned_scan(spark):
    """Round-5 operators: the checksum is a projection + ONE grouped
    aggregate over exactly the signature columns; TWAP is one
    key-partitioned window+agg — the groupBy reuses the window's hash
    partitioning, so ONE exchange total, no join, no value shuffle."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_table_checksum")
    assert node_count(plan, "Exchange") == 1
    assert not has_node(plan, "Join")
    (scan,) = scans(plan)
    assert set(scan.read_columns) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    }

    plan = _plan(spark, "q_twap_value")
    assert node_count(plan, "Exchange") == 1
    assert not has_node(plan, "Join")


def test_drift_queries_scan_facts_only_into_cached_counts(spark):
    """tvd_drift / numeric_drift persist their category-count (and
    bounds) tables: every parquet scan in the final plan tree is the
    cache-BUILD child of an InMemoryRelation — no downstream branch
    re-scans a fact snapshot (8/16 live re-scans before the fix)."""
    for name in ("q_drift_tvd", "q_drift_numeric"):
        tree = _plan(spark, name).split("\n\n")[0].splitlines()
        relations = [i for i, l in enumerate(tree) if "InMemoryRelation" in l]
        pq = [i for i, l in enumerate(tree) if "Scan parquet" in l]
        assert relations, name
        for p in pq:
            assert any(r < p for r in relations), (name, tree[p])


def test_exact_percentiles_bucket_pruned(spark, monkeypatch):
    """The rank machinery must never sort the full distinct-value set:
    each requested rank locates its bucket from the subtotal table and
    the within-bucket window's input is LeftSemi-pruned to just those
    buckets (r6 rewrite). The prune shows up as a LeftSemi join in the
    plan; the value-buffering Percentile aggregate must stay absent."""
    from asterlake.operators import stats

    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", 0)  # distributed
    plan = _plan(spark, "q_percentiles_exact")
    assert "LeftSemi" in plan
    assert "percentile" not in plan.lower()
    assert not has_node(plan, "SortMergeJoin")


def test_no_query_plans_cartesian_or_row_python(spark):
    """Fleet-wide scale guard: NO declared query may plan a
    CartesianProduct (an unbroadcastable cross join is quadratic data
    motion at any scale — every legitimate cross join here broadcasts a
    bounds/model-sized side, which plans as BroadcastNestedLoopJoin) or
    a BatchEvalPython node (row-at-a-time Python UDF — the Arrow-batched
    forms are the only sanctioned Python in the hot path)."""
    from asterlake.plans.inspect import plan_string

    bad: list[str] = []
    for name, qd in QUERIES.items():
        plan = plan_string(qd.spark(spark, SF))
        for node in ("CartesianProduct", "BatchEvalPython"):
            if has_node(plan, node):
                bad.append(f"{name}: {node}")
    assert not bad, "\n".join(bad)


def test_sketch_rollup_merge_all_broadcast_and_partial_merged(spark):
    """q_sketch_rollup_merge at 100 TB: the month-key joins broadcast
    (~84 rows — the fact never shuffles for a join), both sketch builds
    are two-phase ObjectHashAggregates (map-side partial, the exchange
    carries sketches not keys), and Catalyst prunes the sketch column
    entirely out of the n_day_sketches subtree (it degenerates to a
    two-phase distinct count — no wasted sketch build)."""
    plan = _plan(spark, "q_sketch_rollup_merge")
    tree = plan.split("\n\n", 1)[0]
    assert node_count(plan, "BroadcastHashJoin") == 3
    assert not has_node(plan, "SortMergeJoin")
    # exactly the two sketch subtrees carry object aggregates: each is
    # build (partial+final) then rollup union (partial+final) = 4 per
    # side; the exchanges between them move sketches, never raw keys
    assert tree.count("ObjectHashAggregate") == 8
    assert plan.count("partial_hll_sketch_agg") >= 2
    assert plan.count("partial_hll_union_agg") >= 2


def test_bigram_loglik_is_shuffle_free_projection(spark):
    """q_bigram_loglik at 100 TB: the pinned-model scorer is ONE
    map-only pass — the literal map lookup + BIGINT fold must plan as
    a pure projection over the parquet scan (no Exchange, no join, no
    Python), reading only the two columns the score needs."""
    plan = _plan(spark, "q_bigram_loglik")
    # r14: the one allowed exchange is fan_out_small_scan's round-robin
    # spread (no-op at scale); still no value-keyed shuffle, no join
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    scan = scan_for(plan, "documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_domain_caps_single_exchange_on_domain(spark):
    """q_domain_caps: the per-domain rank is ONE hash exchange on the
    domain key feeding a streaming window — no join, no second
    shuffle, and the scan reads only the projected columns."""
    plan = _plan(spark, "q_domain_caps")
    assert node_count(plan, "Exchange") == 1
    keys = shuffle_keys(plan)
    assert keys and all("source" in k for k in keys), keys
    assert not has_node(plan, "SortMergeJoin")
    scan = scan_for(plan, "documents")
    assert set(scan.read_columns) == {"doc_id", "source", "lang"}


def test_mixture_apply_broadcasts_factors_never_sorts_fact(spark):
    """q_mixture_apply: the factor table (one row per domain) must
    reach the corpus as a broadcast — the fact never shuffles for the
    join; the only exchanges are the domain-sized aggregations (token
    budget + final count), never a SortMergeJoin of the corpus."""
    plan = _plan(spark, "q_mixture_apply")
    assert has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "CartesianProduct")
    assert has_node(plan, "Generate")  # the copy_id explode


def test_dedup_substrings_digest_shuffle_never_text(spark):
    """q_dedup_substrings at 100 TB: the duplicate flag is a map-side-
    combinable groupBy-count + semi-join (ADVICE r10 — a hot
    boilerplate digest contributes ONE combined partial row per map
    partition to the count shuffle, and the probe-side join skew is
    AQE-splittable, which the previous count-over-dig-window partition
    never was). Exactly TWO shuffle exchanges at this SF — the digest
    count partials and the doc-keyed island merge (the dup-digest
    table broadcasts into the semi-join; at SMJ scale the probe
    repartition is the AQE-splittable third) — the final groupBy
    reuses the doc partitioning, no Python, the scan reads only
    (doc_id, text), and window TEXT is never a shuffle key (the
    non-starter a suffix array exists to avoid)."""
    plan = _plan(spark, "q_dedup_substrings")
    # r14: 2 value-keyed exchanges + fan_out_small_scan's round-robin
    # spread of the single-row-group scan (one per scan reference in the
    # static plan — ReuseExchange/AQE collapses them at runtime; a no-op
    # at scale either way)
    rr = plan.count("RoundRobinPartitioning")
    assert rr >= 1
    assert node_count(plan, "Exchange") - rr == 2
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    # no count-over-digest window survives anywhere: the only Window
    # nodes are the doc-keyed island lag/sum pair
    assert "windowspecdefinition(dig" not in plan
    keys = shuffle_keys(plan)
    assert len(keys) == 2, keys
    assert any("dig" in k for k in keys), keys
    assert any("doc_id" in k for k in keys), keys
    assert not any("win" in k or "text" in k for k in keys), keys
    # the dup-digest aggregate is a second (equally pruned) documents
    # scan — the deliberate trade for map-side combine: two column-
    # pruned passes beat one pass that floods a window partition
    from asterlake.plans.inspect import scans

    doc_scans = [s for s in scans(plan) if "documents" in s.location]
    assert len(doc_scans) == 2, [s.location for s in scans(plan)]
    # probe side reads (doc_id, text); the count side prunes further,
    # to text alone — neither ever reads a third column
    for s in doc_scans:
        assert set(s.read_columns) <= {"doc_id", "text"}, s
    assert any(set(s.read_columns) == {"text"} for s in doc_scans)


def test_scrub_substrings_no_python_and_pruned_scans(spark):
    """q_scrub_substrings: pure built-ins (rank windows + anti-join +
    rebuild agg) — no Python evaluation anywhere, and every one of the
    three documents scans (windows, token positions, n_tokens) reads
    only (doc_id, text)."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_scrub_substrings")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    assert not has_node(plan, "CartesianProduct")
    doc_scans = [s for s in scans(plan) if "documents" in s.location]
    assert doc_scans
    for s in doc_scans:
        assert set(s.read_columns) == {"doc_id", "text"}, s


def test_curation_pipeline_packs_from_pinned_units(spark):
    """q_curation_pipeline: the curated-units landing zone is pinned
    (localCheckpoint) before packing, so the packing plan's two
    consumers read the checkpointed rows — the gate + caps + mixture
    upstream runs ONCE, never once per pack_sequences branch (without
    the pin the plan held two full documents scans, each with its own
    gate/cap window chain)."""
    plan = _plan(spark, "q_curation_pipeline")
    # upstream pinned: no parquet scan survives into the packed plan
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:400]
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "CartesianProduct")


def test_dsir_select_is_shuffle_free_projection(spark):
    """q_dsir_select at 100 TB: the pinned-table scorer is ONE map-only
    pass — gram hashing + the literal-map fold plan as a pure
    projection over the parquet scan (no Exchange, no join, no
    Python), reading only (doc_id, text)."""
    plan = _plan(spark, "q_dsir_select")
    # r14: the one allowed exchange is fan_out_small_scan's round-robin
    # spread (no-op at scale); still no value-keyed shuffle, no join
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    scan = scan_for(plan, "documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_quality_ensemble_single_projection_no_shuffle(spark):
    """q_quality_ensemble at 100 TB: the whole multi-signal vote
    (bigram ppl + DSIR weight + lexical diversity + length) is ONE
    shuffle-free projection over one pruned scan — signals compose in
    the projection, never as joins of per-signal tables."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_quality_ensemble")
    # r14: the ONLY allowed exchange is fan_out_small_scan's round-robin
    # spread of the tiny single-row-group scan (a no-op at scale) — the
    # contract stays "no VALUE-keyed shuffle, signals never join"
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "RoundRobinPartitioning" in plan  # the fan-out spread itself
    assert not has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    doc_scans = [s for s in scans(plan) if "documents" in s.location]
    assert len(doc_scans) == 1
    assert set(doc_scans[0].read_columns) == {"doc_id", "text"}


def test_dedup_semantic_cell_blocked_never_all_pairs(spark):
    """q_dedup_semantic at 100 TB: pair generation is an equi-join on
    the k-means CELL key (the codebook argmax is a plan literal — a
    pure projection, no assignment join), never a cartesian or a
    nested-loop product; cell keys are the only pair-stage shuffle
    keys, raw embeddings never key a shuffle; no Python anywhere. The
    min-label closure's iterations land as a checkpointed RDD."""
    plan = _plan(spark, "q_dedup_semantic")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    keys = shuffle_keys(plan)
    assert not any("embedding" in k for k in keys), keys


def test_dedup_substrings_incremental_digest_join_never_text(spark):
    """q_dedup_substrings_incremental at 100 TB: the batch screens
    against the digest INDEX via a semi-join on dig (never text, never
    positions from the index side), no Python, scans pruned to
    (doc_id, text); island merge + rollup key only on the doc id."""
    plan = _plan(spark, "q_dedup_substrings_incremental")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    keys = shuffle_keys(plan)
    assert not any("win" in k or "text" in k for k in keys), keys
    from asterlake.plans.inspect import scans

    for s in scans(plan):
        if "documents" in s.location:
            assert set(s.read_columns) <= {"doc_id", "text"}, s


def test_dedup_semantic_incremental_cell_join_shape(spark):
    """q_dedup_semantic_incremental at 100 TB: ONE cell equi-join
    (assignment is the literal-codebook projection on both sides — no
    assignment join), no cartesian/nested-loop, no Python, and the
    best-match pick is a map-side-combinable max(struct) aggregate —
    never a per-vector window over the hit table."""
    plan = _plan(spark, "q_dedup_semantic_incremental")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    assert not has_node(plan, "Window")
    assert "partial_max" in plan and "partial_count" in plan
    keys = shuffle_keys(plan)
    assert not any("embedding" in k for k in keys), keys


def test_segment_quality_scrub_single_projection_no_shuffle(spark):
    """q_segment_quality_scrub at 100 TB: the whole segment pipeline —
    tokenize, 32-token blocks, per-block LM fold, gate, reassembly —
    is ONE shuffle-free row-local projection over one (doc_id, text)
    pruned scan: no Exchange, no Generate, no join, no Python (the
    q_quality_ensemble discipline applied to PARTIAL-document
    filtering)."""
    from asterlake.plans.inspect import scans

    plan = _plan(spark, "q_segment_quality_scrub")
    # r14: the ONLY allowed exchange is fan_out_small_scan's round-robin
    # spread of the tiny single-row-group scan (a no-op at scale) — the
    # contract stays "no VALUE-keyed shuffle, no join"
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "RoundRobinPartitioning" in plan  # the fan-out spread itself
    assert not has_node(plan, "Generate")
    assert not has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "SortMergeJoin")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    doc_scans = [s for s in scans(plan) if "documents" in s.location]
    assert len(doc_scans) == 1
    assert set(doc_scans[0].read_columns) == {"doc_id", "text"}


def test_winnow_fingerprints_single_scan_no_exchange(spark):
    """q_winnow_fingerprints at 100 TB: extraction is ONE shuffle-free
    map-only pass — token fold, k-gram fold, and window argmin are all
    row-local JVM expressions, so the plan is scan -> project ->
    explode with NO Exchange, no join, no Python, reading only
    (doc_id, text)."""
    plan = _plan(spark, "q_winnow_fingerprints")
    assert not has_node(plan, "Exchange")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    assert not has_node(plan, "BroadcastHashJoin")
    assert not has_node(plan, "SortMergeJoin")
    scan = scan_for(plan, "documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_dedup_winnow_shuffles_ints_never_text(spark):
    """q_dedup_winnow at 100 TB: the overlap join shuffles only
    (fp, doc_id) longs — document text never enters a shuffle key; the
    boilerplate cap is a map-side-combinable groupBy-count + semi-join
    (no count-over window on the hot fingerprint); no cartesian, no
    Python; the documents scan reads only (doc_id, text)."""
    plan = _plan(spark, "q_dedup_winnow")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    assert not has_node(plan, "Window")
    assert "LeftSemi" in plan
    keys = shuffle_keys(plan)
    assert keys and not any("text" in k for k in keys), keys
    from asterlake.plans.inspect import scans

    for s in scans(plan):
        if "documents" in s.location:
            assert set(s.read_columns) <= {"doc_id", "text"}, s


def test_graph_triangles_oriented_join_shape(spark):
    """q_graph_triangles at 100 TB: degree-ordered orientation bounds
    every wedge fan-out at O(sqrt(m)); all joins are equi-joins on
    node-id keys (never a cartesian/nested-loop), the wedge stream
    carries only long pairs, no Python anywhere. The canonical edge set
    and oriented adjacency are localCheckpoint landing zones (the
    operator references them 3x — without the pin Catalyst re-derived
    the upstream 47 times), so the final plan reads ExistingRDDs, not
    parquet."""
    plan = _plan(spark, "q_graph_triangles")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    assert has_node(plan, "ExistingRDD")
    assert "Scan parquet" not in plan


def test_graph_triangles_edge_stage_scan_pruned(spark):
    """The pre-landing-zone edge stage of q_graph_triangles: the
    quantity predicate reaches the parquet reader and the scan reads
    ONLY the filter + two edge columns — verified on the same pair
    expansion the query builds before triangle_counts checkpoints it."""
    from asterlake.tables import load_table

    li = (
        load_table(spark, SF, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_partkey")
    )
    plan = plan_string(li)
    scan = scan_for(plan, "lineitem")
    assert set(scan.read_columns) == {
        "l_orderkey",
        "l_partkey",
        "l_quantity",
    }
    assert any("25" in f for f in scan.pushed_filters), scan.pushed_filters


def test_record_linkage_single_block_join_no_cartesian(spark):
    """q_record_linkage at 100 TB: blocking is ONE equi-join on the
    block keys — never a cartesian/nested-loop — and scoring is a
    row-local projection on the joined pair (no second shuffle, no
    Python); both customer scans read only the five compared/blocked
    columns."""
    plan = _plan(spark, "q_record_linkage")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "ArrowEvalPython")
    assert (
        node_count(plan, "BroadcastHashJoin")
        + node_count(plan, "SortMergeJoin")
        + node_count(plan, "ShuffledHashJoin")
        == 1
    )
    from asterlake.plans.inspect import scans

    for s in scans(plan):
        if "customer" in s.location:
            assert set(s.read_columns) == {
                "c_custkey",
                "c_name",
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            }, s


def test_wordpiece_segment_rowlocal_arrow_no_shuffle(spark):
    """q_wordpiece_segment at 100 TB: segmentation is the sanctioned
    Arrow-batched pandas UDF (never row-at-a-time BatchEvalPython) with
    the vocabulary broadcast by closure — the plan is scan -> Arrow
    eval -> explode with NO Exchange and a (doc_id, text) pruned
    scan."""
    plan = _plan(spark, "q_wordpiece_segment")
    assert has_node(plan, "ArrowEvalPython")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "Exchange")
    scan = scan_for(plan, "documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_k_anonymous_release_semi_join_no_window(spark):
    """q_k_anonymous_release at 100 TB: the passing-class filter is a
    map-side-combinable aggregate + LEFT-SEMI join on the quasi key —
    never a count-over window on the class key (hot classes are exactly
    the safe ones); no Python, pruned customer scans."""
    plan = _plan(spark, "q_k_anonymous_release")
    assert "LeftSemi" in plan
    assert not has_node(plan, "Window")
    assert not has_node(plan, "BatchEvalPython")
    assert "partial_count" in plan
    from asterlake.plans.inspect import scans

    for s in scans(plan):
        if "customer" in s.location:
            assert set(s.read_columns) <= {
                "c_custkey",
                "c_nationkey",
                "c_mktsegment",
                "c_acctbal",
            }, s


def test_ohlc_bars_single_exchange_no_window(spark):
    """q_ohlc_bars at 100 TB: the whole bar is ONE map-side-combinable
    aggregate (open/close ride min/max over struct(ts, id, value)) —
    a single hash exchange on (user, bar), no Window, no sort, no
    second scan."""
    plan = _plan(spark, "q_ohlc_bars")
    assert node_count(plan, "Exchange") == 1
    assert not has_node(plan, "Window")
    assert "partial_min" in plan and "partial_max" in plan
    scan = scan_for(plan, "events")
    assert set(scan.read_columns) == {"user_id", "event_id", "ts", "value"}


def test_label_propagation_combinable_argmax_no_window(spark, monkeypatch):
    """q_label_propagation at 100 TB: the per-node label argmax is a
    map-side-combinable max over struct(count, -label) — no Window node
    anywhere; rounds land as checkpointed RDDs; no cartesian, no
    Python; shuffles carry only (long, long) pairs. sf0.001 is below
    the one-task threshold, so the distributed path is forced."""
    from asterlake.operators import graph

    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    plan = _plan(spark, "q_label_propagation")
    assert not has_node(plan, "Window")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BatchEvalPython")
    assert has_node(plan, "ExistingRDD")


def test_label_propagation_small_graph_one_task(spark):
    """q_label_propagation below the one-task threshold (sf0.001): the
    landed edges feed exactly one MapInPandas through a narrow
    coalesce — no Exchange anywhere above the checkpointed RDD."""
    plan = _plan(spark, "q_label_propagation")
    assert node_count(plan, "MapInPandas") == 1
    assert has_node(plan, "ExistingRDD")
    assert not has_node(plan, "Exchange")


def test_golden_record_combinable_survivorship_no_window(spark):
    """q_golden_record at 100 TB: survivorship is ONE map-side-
    combinable aggregate on the entity id (struct-min / max rules —
    never a window over the entity); the closure rounds land as
    checkpointed RDDs; no cartesian, no Python."""
    plan = _plan(spark, "q_golden_record")
    assert not has_node(plan, "Window")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BatchEvalPython")
    assert "partial_min" in plan and "partial_max" in plan
    assert has_node(plan, "ExistingRDD")


def test_srp_multiprobe_equijoin_no_cartesian(spark):
    """q_ann_srp_multiprobe at 100 TB: candidates come from a hash
    EQUI-join on the signature string (never a cartesian/nested-loop);
    the only window is the per-query top-k on query_id; no Python."""
    plan = _plan(spark, "q_ann_srp_multiprobe")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "BroadcastNestedLoopJoin")
    assert not has_node(plan, "BatchEvalPython")
    keys = shuffle_keys(plan)
    assert all("query_id" in k or "bucket" in k for k in keys), keys
