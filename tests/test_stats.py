"""operators/stats.py — scale-safe exact percentiles.

Pins (a) bit-for-bit equality with Spark's built-in exact ``percentile``
aggregate across grouped / global / many-distinct-value shapes, and (b) the
scale contract: the physical plan contains NO value-buffering Percentile
aggregate — only hash aggregates over distinct (group, value) pairs.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from asterlake.operators.stats import exact_percentiles


def _bits(x: float) -> bytes:
    return struct.pack("d", x)


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def test_grouped_matches_builtin_bit_for_bit(spark, lineitem):
    probs = [0.0, 0.25, 0.5, 0.75, 0.95, 1.0]
    names = [f"c{i}" for i in range(len(probs))]
    builtin = (
        lineitem.groupBy("l_returnflag")
        .agg(
            *[
                F.expr(
                    f"percentile(CAST(l_quantity AS DOUBLE), {p})"
                ).alias(n)
                for p, n in zip(probs, names)
            ]
        )
        .orderBy("l_returnflag")
        .collect()
    )
    mine = (
        exact_percentiles(
            lineitem,
            ["l_returnflag"],
            F.col("l_quantity").cast("double"),
            probs,
            out_names=names,
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert len(builtin) == len(mine) > 0
    for b, m in zip(builtin, mine):
        for n in names:
            assert _bits(b[n]) == _bits(m[n]), (b["l_returnflag"], n, b[n], m[n])


def test_global_many_distinct_matches_builtin(spark, lineitem):
    builtin = lineitem.agg(
        F.expr("percentile(l_extendedprice, array(0.1, 0.5, 0.9))").alias("qs")
    ).collect()[0]["qs"]
    mine = exact_percentiles(
        lineitem, [], "l_extendedprice", [0.1, 0.5, 0.9]
    ).collect()[0]
    for b, n in zip(builtin, ["p10", "p50", "p90"]):
        assert _bits(b) == _bits(mine[n])


def test_nulls_single_value_and_tiny_groups(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 7.5), ("c", 2.0), ("c", 4.0)],
        "g string, v double",
    )
    builtin = {
        r["g"]: (r["lo"], r["hi"])
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("lo"),
            F.expr("percentile(v, 0.99)").alias("hi"),
        )
        .collect()
    }
    mine = {
        r["g"]: (r["lo"], r["hi"])
        for r in exact_percentiles(
            df, ["g"], "v", [0.25, 0.99], out_names=["lo", "hi"]
        ).collect()
    }
    assert builtin == mine
    assert mine["b"] == (7.5, 7.5)  # single-value group, any p


@pytest.mark.parametrize("limit", [0, 10**12], ids=["distributed", "one_task"])
def test_null_key_group_matches_builtin(spark, monkeypatch, limit):
    """A group whose key is null is a group (GROUP BY semantics): both
    paths return it with the built-in's values."""
    from asterlake.operators import stats

    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", limit)
    df = spark.createDataFrame(
        [(None, 1.0), (None, 4.0), (None, 2.0), ("a", 3.0)],
        "g string, v double",
    )
    builtin = {
        r["g"]: _bits(r["p"])
        for r in df.groupBy("g").agg(F.expr("percentile(v, 0.4)").alias("p"))
        .collect()
    }
    mine = {
        r["g"]: _bits(r["p"])
        for r in exact_percentiles(df, ["g"], "v", [0.4], out_names=["p"])
        .collect()
    }
    assert None in builtin
    assert mine == builtin


def test_plan_has_no_value_buffer_aggregate(spark, lineitem):
    plan = exact_percentiles(
        lineitem, ["l_returnflag"], "l_extendedprice", [0.05, 0.95]
    )._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_out_names_validation(spark, lineitem):
    with pytest.raises(ValueError):
        exact_percentiles(
            lineitem, [], "l_extendedprice", [0.5], out_names=["a", "b"]
        )


# ---------------------------------------------------------------------------
# exact_outlier_counts + data-quality expectations (round 4b)
# ---------------------------------------------------------------------------


def test_exact_outlier_counts_matches_float_reference(spark):
    import math

    from asterlake.operators.stats import exact_outlier_counts

    rows = [("a", float(v)) for v in [1, 2, 3, 4, 100]] + [
        ("b", float(v)) for v in [10, 10, 10, 10]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.g: (r.n_events, r.n_outliers)
        for r in exact_outlier_counts(df, ["g"], "v", z=2).collect()
    }
    # float reference for group a: mean 22, stddev_pop ~ 39.05 -> only 100
    vals = [1, 2, 3, 4, 100]
    mu = sum(vals) / len(vals)
    sd = math.sqrt(sum((x - mu) ** 2 for x in vals) / len(vals))
    expect_a = sum(1 for x in vals if abs(x - mu) > 2 * sd)
    assert got["a"] == (5, expect_a)
    assert got["b"] == (4, 0)  # zero variance -> no outliers


def test_exact_outlier_counts_single_exchange(spark):
    from asterlake.operators.stats import exact_outlier_counts
    from asterlake.plans.inspect import node_count, plan_string

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = plan_string(exact_outlier_counts(ev, ["event_type"], "value"))
    # the window's hash partitioning satisfies the downstream aggregate:
    # exactly one exchange end to end
    assert node_count(plan, "Exchange") == 1


def test_expectation_stats_and_quarantine_split(spark):
    from pyspark.sql import functions as F

    from asterlake.operators.quality import (
        expectation_stats,
        quarantine_split,
        with_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 99.0)], "id int, amt double"
    )
    rules = {
        "amt_positive": F.col("amt") > 0,
        "amt_under_50": F.col("amt") < 50,
    }
    stats = {
        r.rule: (r.n_pass, r.n_fail)
        for r in expectation_stats(df, rules).collect()
    }
    # NULL amt fails both rules (unevaluable expectation is unmet)
    assert stats == {"amt_positive": (2, 2), "amt_under_50": (2, 2)}

    clean, bad = quarantine_split(df, rules)
    assert {r.id for r in clean.collect()} == {1}
    viol = {r.id: list(r._violations) for r in bad.collect()}
    assert viol == {
        2: ["amt_positive"],
        3: ["amt_positive", "amt_under_50"],
        4: ["amt_under_50"],
    }
    # annotation preserves rows and sorts rule names deterministically
    assert with_expectations(df, rules).count() == 4


def test_expectation_stats_partial_aggregates(spark):
    from pyspark.sql import functions as F

    from asterlake.operators.quality import expectation_stats
    from asterlake.plans.inspect import node_count, plan_string

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = plan_string(
        expectation_stats(li, {"q": F.col("l_quantity") <= 45})
    )
    assert node_count(plan, "HashAggregate") >= 2  # map-side partial
    assert node_count(plan, "Exchange") == 1


def test_cascade_plan_reaches_transitive_rows(spark):
    from pyspark.sql import functions as F

    from asterlake.operators.lifecycle import cascade_plan

    cust = spark.createDataFrame([(1,), (2,), (3,)], "c int")
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o int, oc int"
    )
    items = spark.createDataFrame(
        [(100, 10), (101, 11), (102, 12)], "i int, io int"
    )
    tomb = cust.filter(F.col("c") == 1).select("c")
    deleted = cascade_plan(
        {"cust": cust, "orders": orders, "items": items},
        tomb,
        "c",
        [
            ("cust", "c", "__root__", ""),
            ("orders", "oc", "__root__", ""),
            ("items", "io", "orders", "o"),
        ],
    )
    assert {r.c for r in deleted["cust"].collect()} == {1}
    assert {r.o for r in deleted["orders"].collect()} == {10, 11}
    assert {r.i for r in deleted["items"].collect()} == {100, 101}
    # survivors = anti-join against the manifest
    survivors = items.join(deleted["items"], "i", "left_anti")
    assert {r.i for r in survivors.collect()} == {102}


def test_forget_cascade_uses_broadcast_semi_joins(spark):
    from asterlake.plans.inspect import has_node, plan_string
    from asterlake.queries import QUERIES

    plan = plan_string(
        QUERIES["q_forget_cascade"].spark(spark, "/root/testdata/sf0.001")
    )
    assert "LeftSemi" in plan
    assert has_node(plan, "BroadcastHashJoin")


def test_cascade_plan_broadcasts_only_the_root_hop(spark):
    """Round-4 advice: only the root tombstone set carries an explicit
    broadcast hint; transitive key sets are data-sized and must stay
    unhinted so AQE sizes them at runtime."""
    from asterlake.operators.lifecycle import cascade_plan

    cust = spark.createDataFrame([(i,) for i in range(100)], "c int")
    orders = spark.createDataFrame(
        [(i, i % 100) for i in range(1000)], "o int, oc int"
    )
    items = spark.createDataFrame(
        [(i, i % 1000) for i in range(5000)], "li int, lo int"
    )
    ts = spark.createDataFrame([(1,), (2,)], "c int")
    deleted = cascade_plan(
        {"cust": cust, "orders": orders, "items": items},
        ts,
        "c",
        [
            ("cust", "c", "__root__", "c"),
            ("orders", "oc", "cust", "c"),
            ("items", "lo", "orders", "o"),
        ],
    )
    # root hop: exactly one ResolvedHint in the analyzed plan per
    # root-joined table; transitive hops add none
    def n_hints(df):
        return str(
            df._jdf.queryExecution().analyzed()
        ).count("ResolvedHint")

    assert n_hints(deleted["cust"]) == 1
    assert n_hints(deleted["orders"]) == 1  # only the inherited root hint
    assert n_hints(deleted["items"]) == 1
    # semantics unchanged: transitive rows still reached (2 tombstoned
    # customers -> 20 orders -> 5 items per order = 100)
    assert deleted["items"].count() == 100


def test_snapshot_diff_labels_and_null_transitions(spark):
    from asterlake.operators.lifecycle import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, "e")], "k int, v string"
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",  # NULL -> value is a change (null-safe compare)
        4: "deleted",
        5: "added",
    }


def test_snapshot_diff_null_key_rows_label_by_presence(spark):
    """Round-4 advice: a NULL key never joins, so each side's NULL-key
    row must label from its own presence marker — old-only is 'deleted',
    new-only is 'added' — not from key-null-ness (which mislabeled
    old-side NULL keys as 'added')."""
    from asterlake.operators.lifecycle import snapshot_diff

    old = spark.createDataFrame([(None, "x"), (1, "a")], "k int, v string")
    new = spark.createDataFrame([(None, "y"), (1, "a")], "k int, v string")
    rows = snapshot_diff(old, new, ["k"]).collect()
    got = [(r.k, r.change_type) for r in rows]
    key = lambda t: (t[0] is None, t[0] or 0, t[1])  # noqa: E731
    assert sorted(got, key=key) == sorted(
        [(1, "unchanged"), (None, "added"), (None, "deleted")], key=key
    )


def test_table_profile_single_job_and_values(spark):
    from asterlake.operators.stats import table_profile
    from asterlake.plans.inspect import node_count, plan_string

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None), (3, None)], "a int, b string"
    )
    got = {
        r.column_name: (r.n_rows, r.n_nulls, r.n_distinct)
        for r in table_profile(df).collect()
    }
    assert got == {"a": (4, 0, 3), "b": (4, 2, 1)}
    # one scan: a single aggregation subtree (Expand shares it), not one
    # plan branch per column
    plan = plan_string(
        table_profile(
            spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
            ["o_orderkey", "o_custkey"],
        )
    )
    assert node_count(plan, "Scan parquet") == 1


def test_two_level_ranks_invariant_to_bucket_count(spark, lineitem, monkeypatch):
    from asterlake.operators import stats
    from asterlake.operators.stats import exact_percentiles

    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", 0)  # distributed

    probs = [0.25, 0.5, 0.9]
    a = exact_percentiles(
        lineitem, ["l_returnflag"], "l_extendedprice", probs, n_buckets=4
    ).collect()
    b = exact_percentiles(
        lineitem, ["l_returnflag"], "l_extendedprice", probs, n_buckets=1024
    ).collect()
    av = {r.l_returnflag: (r.p25, r.p50, r.p90) for r in a}
    bv = {r.l_returnflag: (r.p25, r.p50, r.p90) for r in b}
    for k in av:
        for x, y in zip(av[k], bv[k]):
            assert _bits(x) == _bits(y)


def test_percentile_call_state_is_released_by_next_call(
    spark, lineitem, monkeypatch
):
    """Each exact_percentiles call persists its counts (+ offsets on
    the distributed path, nothing more on the one-task path); a session
    issuing many percentile queries must not accumulate those blocks
    (ADVICE r6). The next call releases the previous call's state, and
    release_percentile_state() empties it on demand — verified against
    the JVM's persistent-RDD registry, on both paths. The registry is
    compared by RDD id: the async ContextCleaner may drop other tests'
    dead blocks mid-test, and RDD ids are never reused."""
    from asterlake.operators import stats
    from asterlake.operators.stats import (
        exact_percentiles,
        release_percentile_state,
    )

    def persistent() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for limit, n_state in ((0, 2), (10**12, 1)):  # distributed, one task
        monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", limit)
        release_percentile_state()  # drop leftovers from earlier tests
        before = persistent()
        exact_percentiles(
            lineitem, ["l_returnflag"], "l_extendedprice", [0.5]
        ).collect()
        first = persistent() - before
        assert len(first) == n_state  # live for the output
        exact_percentiles(
            lineitem, ["l_returnflag"], "l_quantity", [0.25, 0.9]
        ).collect()
        # the second call released the first call's frames: no growth
        second = persistent() - before
        assert not first & second
        assert len(second) == n_state
        release_percentile_state()
        assert not persistent() - before


def test_memoized_counts_survive_the_release_cycle(spark, lineitem):
    """The memo pattern's load-bearing contract: counts passed in via
    ``counts=`` are CALLER-owned — neither the next call's automatic
    release nor an explicit release_percentile_state() may unpersist
    them (only locally-built state is registered). _flag_price_counts /
    _global_price_counts riders depend on this."""
    from asterlake.operators.stats import (
        distinct_value_counts,
        exact_percentiles,
        release_percentile_state,
    )

    memo = distinct_value_counts(
        lineitem, ["l_returnflag"], "l_extendedprice"
    )
    try:
        exact_percentiles(
            lineitem, ["l_returnflag"], "l_extendedprice", [0.5],
            counts=memo,
        ).collect()
        assert memo.storageLevel.useMemory or memo.storageLevel.useDisk
        # a following call (locally-built counts) releases the previous
        # generation — the memo must not be in it
        exact_percentiles(
            lineitem, ["l_returnflag"], "l_quantity", [0.9]
        ).collect()
        assert memo.storageLevel.useMemory or memo.storageLevel.useDisk
        release_percentile_state()
        assert memo.storageLevel.useMemory or memo.storageLevel.useDisk
    finally:
        memo.unpersist()


def test_rank_window_is_bucket_partitioned(spark, lineitem, monkeypatch):
    """The within-bucket cumsum must partition by (group, bucket) — no
    window over a group's FULL distinct-value set (the single-reducer
    cliff this two-level design removes)."""
    from asterlake.operators import stats
    from asterlake.operators.stats import exact_percentiles
    from asterlake.plans.inspect import plan_string

    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", 0)  # distributed

    plan = plan_string(
        exact_percentiles(lineitem, ["l_returnflag"], "l_extendedprice", [0.5])
    )
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    value_sorted = [s for s in specs if "_v#" in s]
    assert value_sorted, specs
    for s in value_sorted:
        assert "_b#" in s, s  # partitioned by bucket, not group-only


def test_small_input_ranks_in_one_task(spark, lineitem, monkeypatch):
    """Below SMALL_PERCENTILE_PAIRS the ranks come from one numpy kernel:
    the plan holds exactly one MapInPandas and no Window."""
    from asterlake.operators import stats
    from asterlake.operators.stats import exact_percentiles
    from asterlake.plans.inspect import has_node, node_count, plan_string

    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", 10**12)
    plan = plan_string(
        exact_percentiles(lineitem, ["l_returnflag"], "l_extendedprice", [0.5])
    )
    assert node_count(plan, "MapInPandas") == 1
    assert not has_node(plan, "Window")


def test_weighted_percentiles_match_builtin_frequency_form(spark, lineitem):
    from pyspark.sql import functions as F

    from asterlake.operators.stats import exact_percentiles

    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    ours = {
        r.l_returnflag: (r.wp25, r.wp50, r.wp90)
        for r in exact_percentiles(
            lineitem,
            ["l_returnflag"],
            "l_quantity",
            [0.25, 0.5, 0.9],
            out_names=["wp25", "wp50", "wp90"],
            weight=cents,
        ).collect()
    }
    builtin = {
        r.l_returnflag: tuple(r.ps)
        for r in lineitem.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_quantity, array(0.25D, 0.5D, 0.9D), "
                "CAST(ROUND(l_extendedprice * 100) AS BIGINT))"
            ).alias("ps")
        )
        .collect()
    }
    for g, want in builtin.items():
        for a, b in zip(ours[g], want):
            assert _bits(a) == _bits(b), (g, ours[g], want)


def test_weighted_percentiles_filter_invalid_weights(spark):
    """Round-4 advice: NULL weights must not NULL a distinct value's
    count (corrupting every later cumulative rank), and zero/negative
    weights must not create ambiguous rank intervals — such rows are
    filtered before aggregation, matching the built-in's w=0 behavior."""
    from pyspark.sql import functions as F

    from asterlake.operators.stats import exact_percentiles

    df = spark.createDataFrame(
        [
            (1.0, 1),
            (2.0, 3),
            (3.0, None),  # must not corrupt ranks
            (4.0, 0),     # zero weight: contributes nothing
            (5.0, -2),    # invalid: dropped
        ],
        "v double, w int",
    )
    got = exact_percentiles(
        df, [], "v", [0.5], out_names=["p50"], weight="w"
    ).collect()[0]
    # surviving multiset: [1, 2, 2, 2] -> median = 2.0
    want = spark.createDataFrame(
        [(1.0, 1), (2.0, 3)], "v double, w int"
    ).agg(F.expr("percentile(v, 0.5D, w)").alias("p")).collect()[0].p
    assert got.p50 == want == 2.0


def test_observed_metrics_single_pass(spark, tmp_path):
    from pyspark.sql import functions as F

    from asterlake.operators.quality import observed

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    watched, obs = observed(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_qty": F.sum(
                F.when(F.col("l_quantity").isNull(), 1).otherwise(0)
            ),
            "sum_qty_cents": F.sum(
                F.round(F.col("l_quantity") * 100).cast("bigint")
            ),
        },
    )
    # metrics ride the write action itself — one pass
    watched.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    expect = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("s"),
    ).collect()[0]
    assert got["n_rows"] == expect.n
    assert got["n_null_qty"] == 0
    assert got["sum_qty_cents"] == expect.s


def test_exact_percentiles_nan_matches_builtin(spark):
    """NaN values sort greatest in Spark's double order; the bucket-pruned
    machinery pins NaN to the last bucket explicitly. Mixed and all-NaN
    groups must match the builtin (interpolation with a NaN endpoint is
    NaN, all-NaN medians are NaN)."""
    import math

    vals = [
        ("x", 1.0),
        ("x", float("nan")),
        ("x", 2.0),
        ("x", 3.0),
        ("y", float("nan")),
        ("y", float("nan")),
    ]
    df = spark.createDataFrame(vals, "g string, v double")
    ours = {
        r.g: (r.p0, r.p50, r.p100)
        for r in exact_percentiles(
            df, ["g"], "v", [0.0, 0.5, 1.0], out_names=["p0", "p50", "p100"]
        ).collect()
    }
    builtin = {
        r.g: tuple(r.ps)
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.0D, 0.5D, 1.0D))").alias("ps"))
        .collect()
    }

    def eq(a, b):
        return a == b or (math.isnan(a) and math.isnan(b))

    for g, want in builtin.items():
        assert all(eq(a, b) for a, b in zip(ours[g], want)), (g, ours[g], want)


def test_clear_query_memos_forces_rebuild(spark):
    """r13 verdict ask #2 (the bench memo-hit fix): clearing the
    explicit memo caches empties them, and the next builder call
    repopulates with a FRESH frame — so a bench retime taken after the
    clear re-executes the build instead of recording a memo hit."""
    from asterlake import queries as q

    first = q._flag_price_counts(spark, "/root/testdata/sf0.001")
    key = (spark.sparkContext.applicationId, "/root/testdata/sf0.001")
    assert q._FLAG_PRICE_COUNTS_CACHE[key] is first
    assert q._flag_price_counts(spark, "/root/testdata/sf0.001") is first

    q.clear_query_memos()
    for cache in (
        q._CLUSTERS_CACHE,
        q._FLAG_PRICE_COUNTS_CACHE,
        q._GLOBAL_PRICE_COUNTS_CACHE,
        q._FLAG_QTY_COUNTS_CACHE,
    ):
        assert cache == {}
    rebuilt = q._flag_price_counts(spark, "/root/testdata/sf0.001")
    assert rebuilt is not first
    assert rebuilt.count() == first.count()
