"""Both paths of ``stats.exact_percentiles`` return the same bits.

Below ``stats.SMALL_PERCENTILE_PAIRS`` distinct (group, value) pairs the
ranks come from one numpy kernel in one task; at or above it the
bucket-pruned distributed plan runs. Each test forces both paths on one
input by patching the threshold and requires identical column types and
identical rows, every double compared by its bit pattern.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from asterlake.operators import stats
from asterlake.plans.inspect import has_node, plan_string
from tests.conftest import SF_DIR

DISTRIBUTED, ONE_TASK = 0, 10**12
NAN, INF = float("nan"), float("inf")
BIG = 2**53 + 1  # BIG and BIG + 1 collapse to one value as float64

ROWS = "g string, v double, w long"
# the last six put ranks on the bucket edges of _bucket_edges' groups
PROBS = [0.0, 0.1, 0.2, 1 / 3, 0.5, 0.75, 0.95, 0.999, 1.0] + [
    3 / 15, 4 / 15, 7 / 15, 8 / 15, 11 / 15, 12 / 15
]
NAMES = [f"q{i}" for i in range(len(PROBS))]


def _special(spark):
    """NaN, +-0.0, infinities, subnormals, a single value, an all-null
    group, a null key, and null / zero / negative weights."""
    rows = [
        ("nan", 1.0, 1), ("nan", NAN, 2), ("nan", 2.0, 1), ("nan", 3.0, 3),
        ("all_nan", NAN, 1), ("all_nan", NAN, 4),
        ("zeros", -0.0, 1), ("zeros", 0.0, 2), ("zeros", -0.0, 1),
        ("zeros", 1.0, 1), ("zeros", -1.0, 1),
        ("sub", 5e-324, 1), ("sub", 5e-324, 2), ("sub", 1e-323, 1),
        ("sub", 2.2250738585072e-308, 1), ("sub", 0.0, 1), ("sub", -5e-324, 1),
        ("inf", -INF, 1), ("inf", INF, 1), ("inf", 0.5, 1),
        ("single", 7.5, 3),
        ("all_null", None, 1), ("all_null", None, 2),
        (None, 3.0, 1), (None, 4.0, 2), (None, None, 1),
        ("weights", 1.0, 1), ("weights", 2.0, 3), ("weights", 3.0, None),
        ("weights", 4.0, 0), ("weights", 5.0, -2),
        ("no_weight", 6.0, 0), ("no_weight", 7.0, None),
    ]
    return spark.createDataFrame(rows, ROWS), 1024


def _bucket_edges(spark):
    """Evenly spread values in 4 buckets, so ranks fall on bucket edges."""
    rows = [("e", float(i), 1) for i in range(16)]
    rows += [("f", float(i % 8), 1 + i % 3) for i in range(32)]
    return spark.createDataFrame(rows, ROWS), 4


def _lineitem(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    ), 1024


def _empty(spark):
    return spark.createDataFrame([], ROWS), 1024


INPUTS = {
    "special": _special,
    "bucket_edges": _bucket_edges,
    "lineitem": _lineitem,
    "empty": _empty,
}
FORMS = ["grouped", "global", "weighted", "memo_counts"]


def _form(form, df, n_buckets, memo):
    """One caller form of exact_percentiles over ``df``."""
    kw = dict(out_names=NAMES, n_buckets=n_buckets)
    if form == "global":
        return stats.exact_percentiles(df, [], "v", PROBS, **kw)
    if form == "weighted":
        kw["weight"] = "w"
    elif form == "memo_counts":
        kw["counts"] = memo
    return stats.exact_percentiles(df, ["g"], "v", PROBS, **kw)


def _bits(row) -> tuple:
    return tuple(
        struct.pack("d", x) if isinstance(x, float) else x for x in row
    )


def _rows(df) -> list[tuple]:
    return sorted((_bits(r) for r in df.collect()), key=repr)


def _types(df) -> list:
    return [(f.name, f.dataType) for f in df.schema]


def _run(monkeypatch, limit, build):
    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", limit)
    out = build()
    return out, plan_string(out), _types(out), _rows(out)


def _assert_same(monkeypatch, build):
    _, dist_plan, dist_types, dist_rows = _run(monkeypatch, DISTRIBUTED, build)
    _, small_plan, small_types, small_rows = _run(monkeypatch, ONE_TASK, build)
    assert not has_node(dist_plan, "MapInPandas")
    assert has_node(small_plan, "MapInPandas")
    assert small_types == dist_types
    assert small_rows == dist_rows
    return dist_rows


@pytest.mark.parametrize("input_name", list(INPUTS))
@pytest.mark.parametrize("form", FORMS)
def test_one_task_equals_distributed(spark, monkeypatch, form, input_name):
    df, n_buckets = INPUTS[input_name](spark)
    memo = stats.distinct_value_counts(df, ["g"], "v")
    try:
        rows = _assert_same(
            monkeypatch, lambda: _form(form, df, n_buckets, memo)
        )
    finally:
        memo.unpersist()
    if input_name == "empty":
        assert rows == []
    if input_name == "special" and form != "global":
        # a null-keyed group survives; an all-null group, and a group
        # whose weights are all null or non-positive, have nothing to rank
        keys = {r[0] for r in rows}
        assert None in keys and "all_null" not in keys
        assert ("no_weight" in keys) == (form != "weighted")


def test_key_types_survive_the_one_task_path(spark, monkeypatch):
    """Integral keys above 2**53 next to a null, and null string keys,
    come back exactly as the distributed path groups and returns them."""
    rows = [
        (BIG, "a", 1.0), (BIG + 1, "a", 2.0), (BIG, None, 3.0),
        (None, "b", 4.0), (None, "b", 5.0), (BIG, "b", 6.0),
        (BIG + 1, None, 7.0), (None, None, 8.0),
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double")
    rows = _assert_same(
        monkeypatch,
        lambda: stats.exact_percentiles(df, ["k", "s"], "v", [0.25, 0.5]),
    )
    assert {r[:2] for r in rows} == {
        (BIG, "a"), (BIG + 1, "a"), (BIG, None), (None, "b"), (BIG, "b"),
        (BIG + 1, None), (None, None),
    }
    # a key of any other type (here a double) ranks distributed
    monkeypatch.setattr(stats, "SMALL_PERCENTILE_PAIRS", ONE_TASK)
    by_double = stats.exact_percentiles(df, ["v"], "v", [0.5])
    assert not has_node(plan_string(by_double), "MapInPandas")
