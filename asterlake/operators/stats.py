"""Scale-safe exact order statistics.

Spark's built-in exact ``percentile`` aggregate keeps, per group, an
``OpenHashMap`` from each distinct value to its count inside ONE object
aggregation buffer. A group's map is one in-memory object, and its final
merge runs on one reducer, so a hot ``l_returnflag`` group with billions
of distinct values at 100 TB is the thing that dies — not the shuffle.
:func:`exact_percentiles` computes the *same bits* from the distinct
``(group, value)`` counts held as rows:

1. ``groupBy(keys, value).count()`` shuffles only **distinct**
   ``(group, value)`` pairs, with map-side partial aggregation, into a
   persisted counts table. One ``count()`` of it decides the path and
   fills the cache both paths read.
2. Below ``SMALL_PERCENTILE_PAIRS`` distinct pairs every pair goes to
   one numpy kernel in one task (``_kernels.one_task``): per group, sort
   by value with NaN last, cumsum the counts and ``searchsorted`` ranks
   ``k`` and ``k + 1``. On a small input the distributed plan's cost is
   Spark job launch, not data. The kernel holds at most
   ``SMALL_PERCENTILE_PAIRS`` pairs.
3. At or above it the distributed plan ranks two-level and
   bucket-pruned: values bucketize per group, bucket subtotals prefix-sum
   in a tiny window, and only the buckets that hold ranks ``k`` and
   ``k + 1`` are ever sorted (see :func:`exact_percentiles`).

Each requested probability ``p`` maps to the fractional rank
``pos = p * (n - 1)``, and both paths interpolate the two bracketing
values with the exact double expression Spark's ``percentile`` evaluates
(``(ceil(pos) - pos) * v[k] + (pos - floor(pos)) * v[k+1]``,
Percentile.getPercentile), so results are bit-for-bit equal to the
built-in and to DuckDB's ``quantile_cont``. The threshold's A/B is at
``SMALL_PERCENTILE_PAIRS``.
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from asterlake.operators._kernels import groups, one_task

# Distinct (group, value) pairs below which exact_percentiles ranks in one
# task (see the module docstring). Set by alternating A/B on 4 cores,
# distributed -> one task, medians of 3 warm calls with 5 probs over 3
# string groups of synthetic doubles: 0.6M pairs 4.84 -> 2.20 s, 1.33M
# pairs 5.54 -> 4.75 s, 4.0M pairs 8.96 -> 9.46 s. The kernel peaks at
# about 170 MB of Python worker memory per million pairs (tracemalloc,
# input frame included), so the bound keeps the one worker near 340 MB.
SMALL_PERCENTILE_PAIRS = 2_000_000

# Group-key types the one-task path returns exactly: every caller's keys.
# Integral keys travel null-coalesced with a null flag (a nullable long
# would otherwise detour through float64). Keys of any other type rank on
# the distributed path.
_KERNEL_KEY_TYPES = (StringType, IntegralType)


def _prob_col_name(p: float) -> str:
    return f"p{int(round(p * 100)):02d}"


# Persisted frames built by the PREVIOUS exact_percentiles call (its
# locally-built counts, plus the distributed path's offsets), released
# when the NEXT call starts. Lifetime contract (ADVICE r6): the output of
# one exact_percentiles call is materialized before the next call is
# issued — true of every caller (each driver/bench query materializes
# independently). A caller composing several percentile outputs into ONE
# lazy plan should pass prebuilt ``counts=`` (memoized outside this
# registry and never touched by it) or materialize between calls. Without
# this, a session issuing many percentile-backed queries accumulates
# cached blocks until ContextCleaner happens to reclaim the dropped plans.
_PREV_CALL_STATE: list[DataFrame] = []


def release_percentile_state() -> None:
    """Unpersist the cached state left by the last exact_percentiles
    call. Called automatically at the start of each new call; exposed
    for sessions that want the blocks back immediately."""
    while _PREV_CALL_STATE:
        _PREV_CALL_STATE.pop().unpersist(blocking=False)


def distinct_value_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column | str,
    weight: Column | str | None = None,
) -> DataFrame:
    """The persisted ``(group_cols..., _v double, _cnt bigint)`` distinct-
    value count table :func:`exact_percentiles` ranks over — exposed so
    queries that need percentiles of the SAME (table, group, value) more
    than once can build the counts once and pass them back in via
    ``counts=`` (the counts are independent of the requested probs). See
    exact_percentiles for the weight contract and persist rationale."""
    value_col = F.col(value) if isinstance(value, str) else value
    gcols = list(group_cols)
    if not gcols:
        raise ValueError(
            "distinct_value_counts requires group columns; the global "
            "form injects its own key inside exact_percentiles"
        )
    if weight is None:
        cnt_agg = F.count("*").alias("_cnt")
        base = df.select(*gcols, value_col.cast("double").alias("_v"))
    else:
        w_col = F.col(weight) if isinstance(weight, str) else weight
        cnt_agg = F.sum(F.col("_w").cast("bigint")).alias("_cnt")
        base = df.select(
            *gcols,
            value_col.cast("double").alias("_v"),
            w_col.alias("_w"),
        ).where(F.col("_w").isNotNull() & (F.col("_w") > 0))
    return (
        base.where(F.col("_v").isNotNull())
        .groupBy(*gcols, "_v")
        .agg(cnt_agg)
        .persist()
    )


def exact_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column | str,
    probs: Sequence[float],
    *,
    out_names: Sequence[str] | None = None,
    n_buckets: int = 1024,
    weight: Column | str | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per group without per-group value
    buffers.

    Returns one row per group with one double column per probability
    (named ``out_names`` or ``p05``/``p50``/... by default). Matches
    ``F.expr("percentile(value, p)")`` bit-for-bit.

    With ``group_cols=[]`` computes global percentiles (single group).

    With ``weight`` (a positive INTEGER column), each row counts as
    that many copies — Spark's ``percentile(value, p, frequency)``
    semantics, bit-for-bit (the rank machinery is identical; per-value
    counts become weight sums). Weighted medians (e.g. the quantity at
    50% of REVENUE) fall out of the same bounded-state plan.

    Weight contract (round-4 advice): weights must be non-NULL and
    positive to mean anything — a NULL weight would NULL a distinct
    value's count and corrupt every cumulative rank after it, and a
    zero weight makes the value's rank interval empty (ambiguous
    bracket adjacency; Spark's built-in ``percentile(v, p, freq)``
    rejects non-positive frequencies outright). Rows with NULL or
    non-positive weights are filtered before aggregation — identical
    to the built-in's behavior for w=0 rows and strictly safer than
    rank corruption for the invalid ones.

    Below ``SMALL_PERCENTILE_PAIRS`` distinct (group, value) pairs, and
    when every group column is a string or integral type, one
    numpy kernel ranks all pairs in one task (:func:`_rank_kernel`). A
    group whose key is null is ranked like any other on both paths.

    At or above it the cumulative ranks are TWO-LEVEL AND BUCKET-PRUNED:
    distinct values bucketize into ``n_buckets`` equal-width ranges per
    group, bucket subtotals prefix-sum in a tiny per-group window
    (<= n_buckets rows), and each requested rank (k and k+1 per
    (group, prob)) is located to its bucket FROM THE SUBTOTALS ALONE —
    only the located buckets' distinct values (about
    ``groups x probs x 2 x (n_distinct / n_buckets)`` rows) are ever
    sorted. No window serializes a group's full distinct-value set on
    one reducer, and the full set is never even sorted: the only
    all-values aggregate is the map-side-combinable bucket subtotal
    (measured 3.7s -> <1s per call on 594k distinct values at sf0.1
    vs the previous sort-everything form). Counts are exact integers,
    so the pruned ranks are bit-identical to a flat cumsum.
    """
    names = list(out_names) if out_names else [_prob_col_name(p) for p in probs]
    if len(names) != len(probs):
        raise ValueError("out_names must match probs length")
    # release the previous call's cached counts/offsets (see the
    # _PREV_CALL_STATE lifetime contract) before building this call's
    release_percentile_state()
    _local_persisted: list[DataFrame] = []
    gcols = list(group_cols)
    # Global percentiles: inject a constant group key, drop it at the end.
    drop_key = not gcols
    if drop_key:
        if counts is not None:
            raise ValueError("prebuilt counts require group columns")
        df = df.withColumn("_g", F.lit(0))
        gcols = ["_g"]

    # The distinct-(group, value) counts are persist()-cached. The
    # distributed path's branches (bucket bounds, bucket subtotals,
    # totals, the lower- and upper-bracket containment joins) all consume
    # this table, and Spark re-derives a lazy subtree per consumer —
    # without the cache the FACT is re-scanned ~10x per call (caught by
    # tests/test_plans.py::test_trimmed_stats_band_broadcast). The path
    # decision's count() materializes the cache, so every consumer reads
    # the InMemoryTableScan. The counts are the bounded "sketch" of the
    # data (distinct values, never the row multiset) — exactly the state
    # this operator is allowed to hold. A caller computing percentiles of
    # the same (table, group, value) repeatedly passes the table back in
    # via ``counts=`` (:func:`distinct_value_counts`) so it materializes
    # once.
    if counts is None:
        counts = distinct_value_counts(df, gcols, value, weight)
        _local_persisted.append(counts)
    small = all(
        isinstance(counts.schema[c].dataType, _KERNEL_KEY_TYPES) for c in gcols
    ) and counts.count() < SMALL_PERCENTILE_PAIRS
    if small:
        out = _rank_one_task(counts, gcols, probs, names)
    else:
        out, offsets = _rank_distributed(counts, gcols, probs, names, n_buckets)
        _local_persisted.append(offsets)
    # hand this call's cached frames to the release registry: the NEXT
    # exact_percentiles call (or an explicit release_percentile_state())
    # unpersists them, by which time this output has been materialized
    _PREV_CALL_STATE.extend(_local_persisted)
    return out.drop("_g") if drop_key else out


def _rank_distributed(
    counts: DataFrame,
    gcols: list[str],
    probs: Sequence[float],
    names: list[str],
    n_buckets: int,
) -> tuple[DataFrame, DataFrame]:
    """The two-level, bucket-pruned ranks of :func:`exact_percentiles`.
    Returns the output and the persisted bucket offsets it reads."""
    # The group travels as one struct key. A struct is never null, so a
    # group whose key is null ranks like any other (GROUP BY semantics, as
    # in the built-in) instead of dropping out of the equi-joins below.
    counts = counts.select(F.struct(*gcols).alias("_key"), "_v", "_cnt")
    gcols = ["_key"]
    # Bucket assignment must be MONOTONE in _v within each group (so
    # ordering by (_b, _v) == ordering by _v); any deterministic monotone
    # map works — it only partitions the ranking work. NaN sorts greatest
    # in Spark's double order, so it pins to the last bucket explicitly
    # (floor(NaN) would yield NULL and corrupt the ordering).
    bounds = counts.groupBy(*gcols).agg(
        F.min("_v").alias("_blo"), F.max("_v").alias("_bhi")
    )
    span = (F.col("_bhi") - F.col("_blo")) / F.lit(float(n_buckets))
    # Guard on SPAN, not on _bhi == _blo: when the group's value range is
    # subnormal (_bhi - _blo ~ 1e-322), the span division UNDERFLOWS to
    # 0.0 while the bounds still differ — the equality guard passes and
    # the bucket division hits ANSI DIVIDE_BY_ZERO (hypothesis-found).
    # span == 0 collapses the group into bucket 0, which ranks fine.
    bucket = (
        F.when(F.isnan("_v"), F.lit(n_buckets - 1))
        .when(span == F.lit(0.0), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col("_v") - F.col("_blo")) / span).cast("int"),
            )
        )
        .cast("int")
    )
    bucketed = (
        counts.join(F.broadcast(bounds), gcols)
        .withColumn("_b", bucket)
        .drop("_blo", "_bhi")
    )
    # Bucket subtotals: the ONE aggregate that touches every distinct
    # value, and it is map-side combinable (hash agg on (group, bucket),
    # no sort). Everything downstream runs on groups x n_buckets rows
    # or smaller — persisted because both the totals and the rank-locate
    # join consume it, and recomputing it costs a full counts pass.
    bucket_totals = bucketed.groupBy(*gcols, "_b").agg(
        F.sum("_cnt").alias("_bt")
    )
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_totals.select(
        *gcols,
        "_b",
        "_bt",
        F.coalesce(F.sum("_bt").over(w_off), F.lit(0).cast("bigint")).alias(
            "_off"
        ),
    ).persist()
    totals = offsets.groupBy(*gcols).agg(F.sum("_bt").alias("_n"))

    # (group, prob) driver table: groups-cardinality x len(probs) — tiny.
    probs_df = totals.select(
        *gcols,
        "_n",
        F.explode(
            F.array(*[F.lit(float(p)).alias("p") for p in probs])
        ).alias("_p"),
    ).select(
        *gcols,
        "_p",
        (F.col("_p") * (F.col("_n") - F.lit(1)).cast("double")).alias("_pos"),
    )
    probs_df = probs_df.withColumn(
        "_k", F.floor(F.col("_pos")).cast("bigint")
    ).withColumn("_frac", F.col("_pos") - F.col("_k").cast("double"))

    # BUCKET PRUNING: each (group, prob) needs the values at ranks k and
    # k+1 only. Locate each target rank's bucket from the subtotal table
    # (containment on the bucket's [_off, _off + _bt) rank interval),
    # then sort ONLY the located buckets — a leftsemi prune of the counts
    # down to <= groups x probs x 2 buckets. The full distinct-value set
    # is never sorted. Joins on the offsets table are unhinted (it is
    # groups x n_buckets — AQE broadcasts it when small, shuffles it for
    # extreme group cardinalities); the needed-buckets set is
    # groups x probs x 2 rows, broadcast like the bounds table.
    targets = probs_df.select(
        *gcols,
        "_p",
        "_pos",
        "_k",
        "_frac",
        F.explode(
            F.array(F.col("_k"), F.col("_k") + F.lit(1).cast("bigint"))
        ).alias("_r"),
    )
    located = (
        targets.join(offsets, on=gcols)
        .where(
            (F.col("_off") <= F.col("_r"))
            & (F.col("_r") < F.col("_off") + F.col("_bt"))
        )
        .select(*gcols, "_p", "_pos", "_k", "_frac", "_r", "_b", "_off")
    )
    needed = located.select(*gcols, "_b").distinct()
    pruned = bucketed.join(F.broadcast(needed), on=[*gcols, "_b"], how="leftsemi")
    w_in = Window.partitionBy(*gcols, "_b").orderBy("_v")
    pruned_ranked = pruned.withColumn("_cum_in", F.sum("_cnt").over(w_in))
    # A rank r's value: the distinct value whose in-bucket cumulative
    # interval (shifted by the bucket's _off) contains r. When _frac == 0
    # and k = n-1, rank k+1 exists in no bucket — the left-absent _v_hi
    # is never read in that branch of the interpolation.
    vals = located.join(pruned_ranked, on=[*gcols, "_b"]).where(
        (F.col("_off") + F.col("_cum_in") - F.col("_cnt") <= F.col("_r"))
        & (F.col("_r") < F.col("_off") + F.col("_cum_in"))
    )
    picked = vals.groupBy(*gcols, "_p", "_pos", "_k", "_frac").agg(
        F.max(F.when(F.col("_r") == F.col("_k"), F.col("_v"))).alias("_v_lo"),
        F.max(F.when(F.col("_r") == F.col("_k") + 1, F.col("_v"))).alias(
            "_v_hi"
        ),
    )
    # Spark Percentile.getPercentile: if floor(pos) == ceil(pos) return
    # the single bracketing value; if both ranks land on the SAME
    # distinct value return it DIRECTLY (the builtin skips interpolation
    # there — and a*x + (1-a)*x is not always bit-equal to x: for the
    # minimal subnormal 5e-324 both halves underflow to 0.0,
    # hypothesis-found); else (higher - pos) * lowerValue +
    # (pos - lower) * higherValue. Reproduce that exact decision tree so
    # doubles agree to the last ulp with the built-in aggregate.
    k_d = F.col("_k").cast("double")
    pct = (
        F.when(F.col("_frac") == 0.0, F.col("_v_lo"))
        .when(F.col("_v_hi") == F.col("_v_lo"), F.col("_v_lo"))
        .otherwise(
            (k_d + F.lit(1.0) - F.col("_pos")) * F.col("_v_lo")
            + (F.col("_pos") - k_d) * F.col("_v_hi")
        )
    )
    long_form = picked.select(*gcols, "_p", pct.alias("_pct"))

    agg_cols = [
        F.max(F.when(F.col("_p") == float(p), F.col("_pct"))).alias(name)
        for p, name in zip(probs, names)
    ]
    out = long_form.groupBy(*gcols).agg(*agg_cols)
    return out.select("_key.*", *names), offsets


def _rank_one_task(
    counts: DataFrame, gcols: list[str], probs: Sequence[float], names: list[str]
) -> DataFrame:
    """The one-task path of :func:`exact_percentiles`: every counts row
    goes to :func:`_rank_kernel` in one task. Group keys travel with a
    null flag each, integral keys null-coalesced (see _KERNEL_KEY_TYPES)."""
    keys = [counts.schema[c] for c in gcols]
    sent = [
        F.coalesce(F.col(k.name), F.lit(0).cast(k.dataType)).alias(k.name)
        if isinstance(k.dataType, IntegralType)
        else F.col(k.name)
        for k in keys
    ]
    nulls = [F.col(c).isNull().alias(f"_null{i}") for i, c in enumerate(gcols)]
    schema = StructType(
        [StructField(k.name, k.dataType) for k in keys]
        + [StructField(n, DoubleType()) for n in names]
    )
    kernel = partial(_rank_kernel, gcols, [float(p) for p in probs], names)
    return one_task(counts.select(*sent, *nulls, "_v", "_cnt"), schema, kernel)


def _rank_kernel(gcols, probs, names, *arrays):
    """Per group: sort by value (NaN last), cumsum the counts, find ranks
    ``k`` and ``k + 1`` by ``searchsorted`` and interpolate with the
    distributed path's decision tree and operand order."""
    n_keys = len(gcols)
    keys, nulls = arrays[:n_keys], arrays[n_keys : 2 * n_keys]
    v = arrays[-2].astype(np.float64)
    cnt = arrays[-1].astype(np.int64)
    # one dense code per distinct key tuple; a null key is its own value
    code = np.zeros(len(v), np.int64)
    for a in (*keys, *nulls):
        part, uniq = pd.factorize(a, use_na_sentinel=False)
        code = pd.factorize(code * len(uniq) + part)[0]
    order = np.lexsort((v, code))
    v, cnt = v[order], cnt[order]
    start, size = groups(code[order])
    cum = np.cumsum(cnt)
    base = cum[start] - cnt[start]
    n = cum[start + size - 1] - base
    last = max(len(v) - 1, 0)

    def at_rank(r):
        """The value at rank ``r`` of each group, and whether it exists."""
        idx = np.searchsorted(cum, base + r, side="right")
        return v[np.minimum(idx, last)], (0 <= r) & (r < n)

    present = np.zeros(len(start), bool)
    pcts = []
    with np.errstate(invalid="ignore", over="ignore"):
        for p in probs:
            pos = p * (n - 1).astype(np.float64)
            k = np.floor(pos).astype(np.int64)
            k_d = k.astype(np.float64)
            v_lo, has_lo = at_rank(k)
            v_hi, has_hi = at_rank(k + 1)
            # Spark SQL equality: NaN equals NaN, and -0.0 equals 0.0
            same = (v_hi == v_lo) | (np.isnan(v_hi) & np.isnan(v_lo))
            exact = pos - k_d == 0.0
            pct = np.where(
                exact | same,
                v_lo,
                (k_d + 1.0 - pos) * v_lo + (pos - k_d) * v_hi,
            )
            pcts.append((pct, ~has_lo | (~exact & ~has_hi)))
            present |= has_lo | has_hi
    first = order[start[present]]
    out = {
        c: _with_nulls(a[first], b[first].astype(bool))
        for c, a, b in zip(gcols, keys, nulls)
    }
    for name, (pct, null) in zip(names, pcts):
        out[name] = _with_nulls(pct[present], null[present])
    return out


def _with_nulls(values: np.ndarray, null: np.ndarray):
    """``values`` as a pandas array whose nulls are exactly ``null``: a
    NaN stays NaN on its way back to Arrow instead of turning null, and
    an integer column keeps int64."""
    if not len(values):
        return np.empty(0, object)
    kind = values.dtype.kind
    if kind == "f":
        return pd.arrays.FloatingArray(values, null)
    if kind in "iu":
        return pd.arrays.IntegerArray(values, null)
    return np.where(null, None, values)


def exact_outlier_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column | str,
    z: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group count of z-score outliers with NO floating-point state.

    Flags rows where ``|x - mean| > z * stddev_pop`` using the exact
    integer equivalence ``(n*q - S)^2 > z^2 * (n*SSQ - S^2)`` over
    ``q = floor(x * scale)`` — every comparison happens in DECIMAL(38,0)
    integers, so the verdict is bit-identical across engines and
    partitionings (a double mean/stddev would depend on partial-sum
    order). Output: one row per group with ``n_events`` and
    ``n_outliers`` BIGINTs.

    Shape: ONE shuffle. The group moments (n, S, SSQ) attach via an
    unbounded window over the group key and the outlier tally groups by
    the same key — Catalyst sees the window's hash partitioning already
    satisfies the aggregate's requirement, so no second exchange
    (pinned by tests/test_plans.py). Exactness bound: intermediates stay
    under 38 digits for ``n`` up to ~1e9 rows per group at the default
    scale (q ~ 1e12 max); shrink ``scale`` for hotter groups.
    """
    value_col = F.col(value) if isinstance(value, str) else value
    q = F.floor(value_col * F.lit(float(scale))).cast("decimal(38,0)")
    w = Window.partitionBy(*group_cols)
    n = F.count("*").over(w).cast("decimal(38,0)")
    s = F.sum(q).over(w)
    ssq = F.sum(q * q).over(w)
    dev = n * q - s
    zz = F.lit(z * z).cast("decimal(38,0)")
    is_out = (dev * dev) > (zz * (n * ssq - s * s))
    annotated = df.filter(value_col.isNotNull()).select(
        *group_cols, is_out.alias("_is_out")
    )
    return annotated.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("_is_out"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
    )


def table_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Column-level profile: one row per column with ``n_rows``,
    ``n_nulls``, ``n_distinct`` — the schema-drift / quality dashboard
    scan a lakehouse runs on every landed batch.

    Single pass: every per-column statistic is an aggregate expression in
    ONE agg (count-distincts share the scan via Catalyst's Expand — the
    standard profiler trade: #cols x row multiplication map-side, still
    one job, no per-column re-scan), and the 1-row wide result unpivots
    to long form driver-free with an inline explode. n_distinct excludes
    NULLs (COUNT DISTINCT semantics in every engine)."""
    if cols is None:
        cols = list(df.columns)
    aggs = [F.count("*").cast("bigint").alias("_nr")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("bigint").alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_nr").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("_p")).select("_p.*")
