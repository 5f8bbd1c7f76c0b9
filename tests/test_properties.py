"""Hypothesis property tests: medallion invariants hold for ARBITRARY
NeoWs-shaped feeds, not just the hand-built fixture.

Invariants (SURVEY.md §5 "property-ish invariants"):
- flatten grain: default = one row per (feed-date, asteroid);
  all_approaches = one row per approach, min one per asteroid
- tolerant casts: junk numerics null out, never raise
- dims unique on natural key; fact row count == silver row count
  (left joins never drop); every fact date / body FK resolves or is null

Spark round-trips per example are expensive: examples are few but each is
a structurally random document (duplicate ids, empty approach lists,
junk numeric strings, multi-date maps).
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from asterlake.operators.flatten import flatten_feed
from asterlake.operators.star import build_fact, build_star
from asterlake.schemas import BRONZE_FEED_SCHEMA
from tests.fixtures_neows import _approach, _asteroid

# hypothesis property sweeps (~6 min) — excluded from the -m "not slow" inner loop (r9 verdict ask #3)
pytestmark = pytest.mark.slow

# -- strategies --------------------------------------------------------------

_velocity = st.one_of(
    st.just("13.5"),
    st.from_regex(r"[0-9]{1,3}\.[0-9]{1,2}", fullmatch=True),
    st.just("not-a-number"),
    st.just(""),
)

_approaches = st.lists(
    st.builds(
        _approach,
        date=st.one_of(st.none(), st.just("2025-10-10"), st.just("2025-10-11")),
        body=st.sampled_from(["Earth", "Merc", "Venus"]),
        v_kms=_velocity,
    ),
    min_size=0,
    max_size=3,
)

_asteroids = st.lists(
    st.builds(
        _asteroid,
        aid=st.sampled_from(["A1", "A2", "A3", "B7"]),  # small pool -> dup ids
        name=st.sampled_from(["(X)", "(Y)"]),
        magnitude=st.floats(10, 30, allow_nan=False),
        approaches=_approaches,
    ),
    min_size=0,
    max_size=5,
)


@st.composite
def feed_documents(draw):
    dates = draw(
        st.lists(
            st.sampled_from(["2025-10-10", "2025-10-11", "2025-10-12"]),
            min_size=1,
            max_size=3,
            unique=True,
        )
    )
    neo = {d: draw(_asteroids) for d in dates}
    return {
        "element_count": sum(len(v) for v in neo.values()),
        "links": {"next": "n", "prev": "p", "self": "s"},
        "near_earth_objects": neo,
    }


def _bronze_df(spark, doc):
    import json

    return spark.read.schema(BRONZE_FEED_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(doc)])
    )


_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(doc=feed_documents())
@_SETTINGS
def test_flatten_grain_and_tolerant_casts(spark, doc):
    silver = flatten_feed(_bronze_df(spark, doc), batch_id=1).cache()
    n_asteroids = sum(len(v) for v in doc["near_earth_objects"].values())
    assert silver.count() == n_asteroids

    # all_approaches grain: one row per approach, >=1 per asteroid
    all_rows = flatten_feed(
        _bronze_df(spark, doc), all_approaches=True, batch_id=1
    ).count()
    expected = sum(
        max(1, len(a["close_approach_data"]))
        for v in doc["near_earth_objects"].values()
        for a in v
    )
    assert all_rows == expected

    # tolerant casts: junk velocity strings became NULL, numerics parsed
    bad = silver.filter(
        F.col("velocity_km_s").isNull() & F.col("approach_datetime").isNotNull()
    )
    assert bad.count() >= 0  # never raises
    silver.unpersist()


@given(doc=feed_documents())
@_SETTINGS
def test_star_invariants(spark, doc):
    silver = flatten_feed(_bronze_df(spark, doc), batch_id=1).cache()
    star = build_star(silver)

    n_silver = silver.count()
    assert star["fact_asteroid_approach"].count() == n_silver  # J-left never drops

    dim_a = star["dim_asteroid"]
    assert dim_a.count() == dim_a.select("asteroid_id").distinct().count()

    dim_d = star["dim_date"]
    assert dim_d.count() == dim_d.select("date_id").distinct().count()

    # FK integrity: every non-null fact date_id resolves in dim_date
    fact = star["fact_asteroid_approach"]
    unresolved = (
        fact.filter(F.col("date_id").isNotNull())
        .join(dim_d, "date_id", "left_anti")
        .count()
    )
    assert unresolved == 0

    # every non-null fact celestial_body_id resolves in dim_celestial_body,
    # and a null approaching_body gives a null FK
    dim_b = star["dim_celestial_body"]
    unresolved = (
        fact.filter(F.col("celestial_body_id").isNotNull())
        .join(dim_b, "celestial_body_id", "left_anti")
        .count()
    )
    assert unresolved == 0
    # the fact is a row-wise projection of silver, so its rows built from
    # the null-body silver rows are exactly the fact's null-body rows
    null_body_fact = build_fact(silver.filter(F.col("approaching_body").isNull()))
    assert null_body_fact.filter(F.col("celestial_body_id").isNotNull()).count() == 0
    silver.unpersist()


# ---------------------------------------------------------------------------
# Round-4 operator properties (differential, randomized)
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),  # user
            st.integers(0, 5),  # ts offset (collisions on purpose)
            st.floats(-100, 100, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_ewma_matches_python_recursion(spark, rows):
    from datetime import datetime, timedelta

    from asterlake.operators.timeseries import ewma

    base = datetime(2024, 1, 1)
    data = [
        (u, i, base + timedelta(hours=off), float(v))
        for i, (u, off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {r.event_id: r.ewma for r in ewma(df, alpha=0.1).collect()}
    # reference: per user, sort by (ts, event_id), replay recursion
    by_user: dict = {}
    for u, eid, ts, v in data:
        by_user.setdefault(u, []).append((ts, eid, v))
    for u, evs in by_user.items():
        acc = None
        for ts, eid, v in sorted(evs):
            acc = v if acc is None else 0.9 * acc + 0.1 * v
            assert got[eid] == acc, (u, eid)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(-1000, 1000, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_exact_outlier_counts_matches_integer_reference(spark, vals):
    import math

    from asterlake.operators.stats import exact_outlier_counts

    df = spark.createDataFrame(vals, "g string, v double")
    got = {
        r.g: (r.n_events, r.n_outliers)
        for r in exact_outlier_counts(df, ["g"], "v", z=2).collect()
    }
    # exact integer reference: same quantization, arbitrary-precision ints
    groups: dict = {}
    for g, v in vals:
        groups.setdefault(g, []).append(math.floor(v * 1000000.0))
    for g, qs in groups.items():
        n, s, ssq = len(qs), sum(qs), sum(q * q for q in qs)
        out = sum(1 for q in qs if (n * q - s) ** 2 > 4 * (n * ssq - s * s))
        assert got[g] == (n, out), g


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    old=st.dictionaries(st.integers(0, 15), st.integers(0, 3), max_size=12),
    new=st.dictionaries(st.integers(0, 15), st.integers(0, 3), max_size=12),
)
def test_snapshot_diff_matches_dict_diff(spark, old, new):
    from asterlake.operators.lifecycle import snapshot_diff

    if not old and not new:
        return
    odf = spark.createDataFrame(
        list(old.items()) or [(None, None)], "k int, v int"
    ).where("k IS NOT NULL")
    ndf = spark.createDataFrame(
        list(new.items()) or [(None, None)], "k int, v int"
    ).where("k IS NOT NULL")
    got = {
        r.k: r.change_type for r in snapshot_diff(odf, ndf, ["k"]).collect()
    }
    want = {}
    for k in set(old) | set(new):
        if k not in old:
            want[k] = "added"
        elif k not in new:
            want[k] = "deleted"
        elif old[k] != new[k]:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["x", "y"]),
            st.floats(-50, 50, allow_nan=False, allow_infinity=False),
        ),
        min_size=2,
        max_size=25,
    )
)
def test_exact_percentiles_match_builtin_on_random_data(spark, vals):
    from asterlake.operators.stats import exact_percentiles

    df = spark.createDataFrame(vals, "g string, v double")
    probs = [0.0, 0.37, 0.5, 1.0]
    ours = {
        r.g: (r.p00, r.p37, r.p50, r.p100)
        for r in exact_percentiles(
            df, ["g"], "v", probs, out_names=["p00", "p37", "p50", "p100"]
        ).collect()
    }
    builtin = {
        r.g: tuple(r.ps)
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.0, 0.37, 0.5, 1.0))").alias("ps"))
        .collect()
    }
    for g, want in builtin.items():
        for a, b in zip(ours[g], want):
            assert a == b, (g, ours[g], want)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["x", "y"]),
            st.floats(-50, 50, allow_nan=False, allow_infinity=False),
            st.integers(1, 5),
        ),
        min_size=2,
        max_size=25,
    )
)
def test_weighted_percentiles_match_builtin_on_random_data(spark, vals):
    """Weighted twin of the differential above: the bucket-pruned rank
    machinery with integer weights must agree bit-for-bit with Spark's
    percentile(v, p, frequency) on arbitrary inputs (duplicates, ties,
    boundary probs)."""
    from asterlake.operators.stats import exact_percentiles

    df = spark.createDataFrame(vals, "g string, v double, w int")
    probs = [0.0, 0.37, 0.5, 1.0]
    ours = {
        r.g: (r.p00, r.p37, r.p50, r.p100)
        for r in exact_percentiles(
            df,
            ["g"],
            "v",
            probs,
            out_names=["p00", "p37", "p50", "p100"],
            weight="w",
        ).collect()
    }
    builtin = {
        r.g: tuple(r.ps)
        for r in df.groupBy("g")
        .agg(
            F.expr(
                "percentile(v, array(0.0D, 0.37D, 0.5D, 1.0D), w)"
            ).alias("ps")
        )
        .collect()
    }
    for g, want in builtin.items():
        for a, b in zip(ours[g], want):
            assert a == b, (g, ours[g], want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 50),
            st.one_of(st.none(), st.text(alphabet="abc|\x00", max_size=4)),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_table_checksum_matches_python_fold(spark, rows):
    """Differential: the distributed checksum equals a plain-Python md5
    fold over the same canonical encoding — including NULLs, empty
    strings, and values containing the separator / NULL-token bytes."""
    import hashlib

    from asterlake.operators.integrity import _CHECKSUM_MOD, table_checksum

    df = spark.createDataFrame(rows, "k int, s string")
    got = table_checksum(df).collect()[0]

    def enc(v):
        if v is None:
            return "n"
        s = str(v)
        return f"v{len(s)}:{s}"

    n, x, ssum = 0, 0, 0
    for k, s in rows:
        canon = "|".join(enc(v) for v in (k, s))
        sig = int(hashlib.md5(canon.encode()).hexdigest()[:15], 16)
        n += 1
        x ^= sig
        ssum = (ssum + sig) % _CHECKSUM_MOD
    # empty input checksums as the identity element (0, 0, 0)
    assert (got.n_rows, got.xor_sig, got.sum_sig) == (n, x, ssum)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ref=st.lists(st.sampled_from("abcd"), min_size=1, max_size=30),
    cur=st.lists(st.sampled_from("cdef"), min_size=1, max_size=30),
)
def test_tvd_drift_matches_counter_computation(spark, ref, cur):
    from collections import Counter
    from fractions import Fraction

    from asterlake.operators.integrity import tvd_drift

    rdf = spark.createDataFrame([(c,) for c in ref], "t string")
    cdf = spark.createDataFrame([(c,) for c in cur], "t string")
    rows = tvd_drift(rdf, cdf, "t").collect()

    rc, cc = Counter(ref), Counter(cur)
    want = sum(
        abs(
            Fraction(rc.get(t, 0), len(ref)) - Fraction(cc.get(t, 0), len(cur))
        )
        for t in set(rc) | set(cc)
    ) / 2
    assert {r.t for r in rows} == set(rc) | set(cc)
    num_sum = sum(r.drift_num for r in rows)
    for r in rows:
        assert r.ref_n == rc.get(r.t, 0) and r.cur_n == cc.get(r.t, 0)
        assert r.drift_num == abs(
            cc.get(r.t, 0) * len(ref) - rc.get(r.t, 0) * len(cur)
        )
        # the emitted double is the one IEEE division of the exact ratio
        assert r.tvd == num_sum / (2 * len(ref) * len(cur))
    # exact rational check through the integer evidence columns
    assert Fraction(num_sum, 2 * len(ref) * len(cur)) == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 500),  # offset seconds (duplicates allowed)
            st.one_of(
                st.none(),
                st.decimals(
                    min_value=0, max_value=600, places=2, allow_nan=False
                ),
            ),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_twap_matches_fraction_computation(spark, rows):
    """Differential: TWAP equals the exact rational cent-microsecond
    computation replayed in Python — including NULL skips, duplicate
    timestamps (tiebreak order), single-sample and zero-span keys."""
    from datetime import datetime, timedelta
    from fractions import Fraction

    from asterlake.operators.timeseries import time_weighted_avg

    base = datetime(2024, 1, 1)
    data = [
        (u, i, base + timedelta(seconds=off), None if v is None else float(v))
        for i, (u, off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {
        r.user_id: (r.twap, r.span_us)
        for r in time_weighted_avg(df).collect()
    }

    by_user: dict = {}
    for u, eid, ts, v in data:
        if v is not None:
            by_user.setdefault(u, []).append((ts, eid, v))
    for u, evs in by_user.items():
        evs.sort()
        num = 0  # cent-microseconds, exact int
        den = 0
        for (ts, _, v), (nts, _, _) in zip(evs, evs[1:]):
            dt = int((nts - ts).total_seconds() * 1_000_000)
            num += round(v * 100) * dt
            den += dt
        if den > 0:
            assert got[u][1] == den, u
            assert got[u][0] == num / (100.0 * float(den)), (
                u, got[u], Fraction(num, 100 * den)
            )
        else:
            assert u not in got


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.integers(-1000, 1000),
            st.one_of(st.none(), st.integers(-50, 50)),
        ),
        min_size=0,
        max_size=30,
    ),
    split_at=st.integers(0, 30),
)
def test_merge_aggregates_equals_one_pass_recompute(spark, rows, split_at):
    """The operator's core contract, on random data: aggregate an
    arbitrary prefix and suffix of the fact separately, merge the
    partials, and the result must be bit-identical to the one-pass
    aggregate — including NULL-sum keys, keys present in only one batch,
    and empty batches."""
    from asterlake.operators.incremental import merge_aggregates

    schema = "k string, v long, w long"
    agg = lambda df: df.groupBy("k").agg(  # noqa: E731
        F.sum("w").alias("s"),
        F.count("v").alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    first = spark.createDataFrame(rows[:split_at], schema)
    second = spark.createDataFrame(rows[split_at:], schema)
    merged = merge_aggregates(
        agg(first),
        agg(second),
        ["k"],
        sum_cols=["s"],
        count_cols=["n"],
        min_cols=["lo"],
        max_cols=["hi"],
    )
    full = agg(spark.createDataFrame(rows, schema))
    got = {r.k: (r.s, r.n, r.lo, r.hi) for r in merged.collect()}
    want = {r.k: (r.s, r.n, r.lo, r.hi) for r in full.collect()}
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 20)),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 20), st.integers(-5, 5)),
        min_size=0,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),  # right unique per (key, ts)
    ),
    tol=st.one_of(st.none(), st.integers(0, 10)),
)
def test_asof_join_matches_python_model(spark, left, right, tol):
    """Differential for the backward as-of join on random keyed event
    streams: every left row must match the latest right row with
    r.ts <= l.ts on its key (simultaneous rows match; tolerance voids
    stale matches), per a brute-force Python replay."""
    from datetime import datetime, timedelta

    from asterlake.operators.temporal import asof_join

    base = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + timedelta(seconds=s)) for i, (k, s) in enumerate(left)],
        "id int, k int, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, base + timedelta(seconds=s), float(v)) for k, s, v in right],
        "k int, ts timestamp, v double",
    )
    got = {
        r.id: (r.asof_v, r.asof_ts)
        for r in asof_join(
            ldf,
            rdf,
            by="k",
            value_cols=["v"],
            tolerance_seconds=tol,
        ).collect()
    }
    assert len(got) == len(left)  # left rows never dropped
    for i, (k, s) in enumerate(left):
        cands = [(rs, rv) for rk, rs, rv in right if rk == k and rs <= s]
        want = (None, None)
        if cands:
            rs, rv = max(cands)
            if tol is None or rs >= s - tol:
                want = (float(rv), base + timedelta(seconds=rs))
        assert got[i] == want, (i, k, s, got[i], want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.dictionaries(st.integers(0, 8), st.integers(0, 99), max_size=6),
    log=st.lists(
        st.tuples(
            st.integers(0, 8),
            st.sampled_from(["I", "U", "D"]),
            st.integers(0, 99),
        ),
        min_size=0,
        max_size=20,
        unique_by=lambda t: (t[0], t[2], t[1]),  # (key, seq, op) unique
    ),
)
def test_cdc_apply_matches_dict_replay(spark, base, log):
    """Differential for batch CDC application: replay the changelog into a
    dict (highest seq wins, base below every change, D>U>I on seq ties)
    and the operator's snapshot must equal it exactly."""
    from asterlake.operators.cdc import apply_changes

    bdf = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "k int, v int"
    )
    cdf = spark.createDataFrame(
        [(k, v, op, s) for k, op, s in log for v in [s * 1000 + hash(op) % 7]],
        "k int, v int, op string, seq int",
    )
    got = {r.k: r.v for r in apply_changes(bdf, cdf, ["k"], "seq").collect()}
    # model: per key pick the change with max (seq, op-precedence)
    prio = {"D": 2, "U": 1, "I": 0}
    state = dict(base)
    winners: dict = {}
    for k, op, s in log:
        cur = winners.get(k)
        if cur is None or (s, prio[op]) > (cur[0], prio[cur[1]]):
            winners[k] = (s, op)
    for k, (s, op) in winners.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = s * 1000 + hash(op) % 7
    assert got == state


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),  # key
            st.integers(0, 48),  # minutes offset (sub-hour collisions)
            st.integers(-9, 9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_gapfill_locf_matches_python_model(spark, rows):
    """Differential for hourly LOCF gap fill: a Python replay builds each
    key's hour grid from first to last event hour, carries the latest
    observation forward (slot winner = max (ts, event_id)), and marks
    observed slots; the operator must agree exactly."""
    from datetime import datetime, timedelta

    from asterlake.operators.timeseries import gap_fill_locf

    base = datetime(2024, 1, 1)
    data = [
        (k, i, base + timedelta(minutes=37 * m), float(v))
        for i, (k, m, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {
        (r.user_id, r.slot_start): (r.value, r.observed)
        for r in gap_fill_locf(df).collect()
    }
    # model
    def hour(ts):
        return ts.replace(minute=0, second=0, microsecond=0)

    want: dict = {}
    by_key: dict = {}
    for k, eid, ts, v in data:
        by_key.setdefault(k, []).append((ts, eid, v))
    for k, evs in by_key.items():
        slots: dict = {}
        for ts, eid, v in evs:
            h = hour(ts)
            cur = slots.get(h)
            if cur is None or (ts, eid) > cur[0]:
                slots[h] = ((ts, eid), v)
        lo, hi = min(slots), max(slots)
        cur_v = None
        h = lo
        while h <= hi:
            if h in slots:
                cur_v = slots[h][1]
                want[(k, h)] = (cur_v, True)
            else:
                want[(k, h)] = (cur_v, False)
            h += timedelta(hours=1)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc"]), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
    chunk=st.integers(1, 6),
    stride=st.integers(1, 6),
)
def test_chunk_documents_matches_python_model(spark, docs, chunk, stride):
    """Differential for sliding-window chunking: chunk count is
    ceil(max(n - chunk, 0) / stride) + 1, chunk i covers tokens
    [i*stride, i*stride + chunk), the tail window clips, and empty docs
    produce one empty chunk."""
    from asterlake.operators.chunking import chunk_documents

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in chunk_documents(
            df, chunk_tokens=chunk, stride=stride
        ).collect()
    }
    want = {}
    for i, text in rows:
        toks = text.split(" ")  # '' -> [''] — matches Spark's split
        n = len(toks)
        n_chunks = (max(n - chunk, 0) + stride - 1) // stride + 1
        for c in range(n_chunks):
            want[(i, c)] = " ".join(toks[c * stride : c * stride + chunk])
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lens=st.lists(st.integers(0, 9), min_size=1, max_size=25),
    budget=st.integers(1, 16),
)
def test_pack_sequences_matches_python_model(spark, lens, budget):
    """Differential for sequence packing: offsets are a prefix sum in the
    operator's own deterministic (bucket, id) order — so the model
    re-derives that order — and pack ids are exact integral division.
    Zero-token docs occupy no slot but keep offset semantics."""
    from pyspark.sql import functions as F

    from asterlake.operators.packing import pack_sequences
    from asterlake.operators.sampling import hash_bucket

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id int, n_tokens int"
    )
    got = {
        r.doc_id: (r.offset, r.pack_id, r.pack_offset, r.end_pack_id)
        for r in pack_sequences(
            df, F.col("n_tokens"), budget=budget, n_buckets=4
        ).collect()
    }
    buckets = {
        r.doc_id: r.b
        for r in df.select(
            "doc_id", hash_bucket(F.col("doc_id"), 4).alias("b")
        ).collect()
    }
    order = sorted(range(len(lens)), key=lambda i: (buckets[i], i))
    off = 0
    want = {}
    for i in order:
        n = lens[i]
        want[i] = (off, off // budget, off % budget, (off + max(n - 1, 0)) // budget)
        off += n
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),  # user
            st.integers(0, 10),  # ts offset (ties on purpose)
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        min_size=1,
        max_size=25,
    ),
    within_h=st.one_of(st.none(), st.integers(1, 4)),
)
def test_funnel_matches_python_replay(spark, rows, within_h):
    """Differential for the single-scan funnel: a linear replay over each
    user's (ts, event_id)-sorted stream, where step k counts only at-or-
    after the running earliest in-order completion of step k-1 (bounded
    by `within`), must agree with the window formulation exactly."""
    from datetime import datetime, timedelta

    from asterlake.operators.sequence import funnel_timestamps

    steps = ["a", "b", "c"]
    base = datetime(2024, 1, 1)
    data = [
        (u, i, base + timedelta(hours=h), t)
        for i, (u, h, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id int, event_id int, ts timestamp, event_type string"
    )
    within = f"{within_h} hours" if within_h is not None else None
    got = {
        r.user_id: (r.t_a, r.t_b, r.t_c, r.converted)
        for r in funnel_timestamps(
            df, steps, tiebreak_col="event_id", within=within
        ).collect()
    }
    by_user: dict = {}
    for u, eid, ts, t in data:
        by_user.setdefault(u, []).append((ts, eid, t))
    for u, evs in by_user.items():
        run = [None, None]  # running min in-order completion of steps 0, 1
        t_min = [None, None, None]
        for ts, eid, t in sorted(evs):
            for k, s in enumerate(steps):
                if t != s:
                    continue
                if k > 0:
                    anchor = run[k - 1]
                    if anchor is None or ts < anchor:
                        continue
                    if within_h is not None and ts > anchor + timedelta(
                        hours=within_h
                    ):
                        continue
                if t_min[k] is None or ts < t_min[k]:
                    t_min[k] = ts
                if k < 2 and (run[k] is None or ts < run[k]):
                    run[k] = ts
        conv = all(v is not None for v in t_min)
        assert got[u] == (t_min[0], t_min[1], t_min[2], conv), (u, got[u], t_min)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "fox", "dog", "run", "sky"]),
            min_size=1,
            max_size=6,
        ),
        min_size=0,
        max_size=10,
    )
)
@_SETTINGS
def test_simhash_banding_matches_bruteforce(spark, docs):
    """Differential for the pigeonhole banding: with max_hamming <=
    bands-1 the band join is LOSSLESS, so the operator's pair set must
    equal an all-pairs Python scan over the very fingerprints
    simhash_table emits — every near-dup pair recovered, every hamming
    value exact, nothing extra. A small word pool forces colliding and
    near-colliding fingerprints, the regime banding has to get right."""
    from asterlake.operators.dedup import simhash_candidate_pairs, simhash_table

    data = [(i, " ".join(words)) for i, words in enumerate(docs)]
    if not data:
        return
    df = spark.createDataFrame(data, "doc_id int, text string")
    fps = {
        r.doc_id: int(r.simhash, 2)
        for r in simhash_table(df, nbits=16).collect()
    }
    want = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(fps[a] ^ fps[b]).count("1")
            if ham <= 3:
                want[(a, b)] = ham
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_candidate_pairs(
            df, nbits=16, bands=4, max_hamming=3
        ).collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.one_of(st.integers(0, 6), st.just(0), st.just(1), st.none()),
        min_size=1,
        max_size=60,
    ),
    denom=st.sampled_from([2, 3, 5]),
)
@_SETTINGS
def test_frequent_items_matches_bruteforce(spark, vals, denom):
    """Differential for bounded-state exact frequent items: the
    Misra-Gries candidate pass may overselect but never underselect, and
    the exact recount must land on precisely the GROUP BY ... HAVING
    cnt*denom >= n_total rows a full-shuffle computation yields — counts
    exact, NULLs excluded from both numerator and total."""
    from collections import Counter

    from asterlake.operators.frequency import frequent_items

    df = spark.createDataFrame([(v,) for v in vals], "v int")
    present = [v for v in vals if v is not None]
    n_total = len(present)
    c = Counter(present)
    want = {
        k: (cnt, n_total)
        for k, cnt in c.items()
        if cnt * denom >= n_total
    }
    got = {
        r.v: (r.cnt, r.n_total)
        for r in frequent_items(df, "v", denom=denom).collect()
    }
    assert got == want


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 99)),
        min_size=0,
        max_size=20,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 99)),
        min_size=0,
        max_size=8,
    ),
    how=st.sampled_from(["inner", "left", "semi", "anti"]),
)
@_SETTINGS
def test_salted_join_matches_plain_join(spark, left, right, how):
    """Differential for the skew toolkit: salting is a PHYSICAL rewrite
    only — for every allowed join type the salted row multiset must
    equal the plain join's exactly (duplicate keys on both sides, keys
    missing from either side, and empty inputs included)."""
    from asterlake.operators.skew import salted_join

    ldf = spark.createDataFrame(left, "k int, lv int") if left else (
        spark.createDataFrame([], "k int, lv int")
    )
    rdf = spark.createDataFrame(right, "k int, rv int") if right else (
        spark.createDataFrame([], "k int, rv int")
    )
    got = salted_join(ldf, rdf, "k", buckets=3, how=how)
    want = ldf.join(rdf, "k", how)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),  # user
            st.integers(0, 8),  # ts (ties on purpose)
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_change_intervals_matches_python_replay(spark, rows):
    """Differential for SCD2 interval building: per key, a linear replay
    of the (ts, event_id)-sorted stream collapsing same-value runs must
    reproduce the window formulation's (value, valid_from, valid_to)
    rows — intervals chain (each valid_to = next valid_from), the last
    is open (NULL), and ties resolve identically through the tiebreak."""
    from asterlake.operators.timeseries import change_intervals

    data = [(u, i, t, v) for i, (u, t, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id int, event_id int, ts int, event_type string"
    )
    key = lambda t: (t[0], t[1], t[2], t[3] is None, t[3] or 0)
    got = sorted(
        (
            (r.user_id, r.event_type, r.valid_from, r.valid_to)
            for r in change_intervals(df).collect()
        ),
        key=key,
    )
    by_user: dict = {}
    for u, eid, ts, v in data:
        by_user.setdefault(u, []).append((ts, eid, v))
    want = []
    for u, evs in by_user.items():
        runs = []
        prev = None
        for ts, eid, v in sorted(evs):
            if prev is None or v != prev:
                runs.append((v, ts))
                prev = v
        for i, (v, start) in enumerate(runs):
            end = runs[i + 1][1] if i + 1 < len(runs) else None
            want.append((u, v, start, end))
    assert got == sorted(want, key=key)


@given(
    assignments=st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.integers(0, 30),  # value (coupon-regime cardinality)
            st.integers(0, 4),  # arbitrary split cell (the "day")
        ),
        min_size=1,
        max_size=80,
    )
)
@_SETTINGS
def test_sketch_rollup_exact_under_any_split(spark, assignments):
    """Differential for mergeable HLL maintenance: below the sparse->
    dense promotion the sketch stores explicit coupons and unions
    preserve them, so for ANY assignment of rows to cell sketches the
    rollup estimate must equal the exact per-group distinct count a
    Python set computes — duplicates across and within cells, groups
    appearing in one cell only, and singleton cells included."""
    from asterlake.operators.sketches import (
        distinct_sketches,
        rollup_sketches,
        sketch_estimates,
    )

    df = spark.createDataFrame(assignments, "g int, v int, cell int")
    got = {
        r.g: r.est
        for r in sketch_estimates(
            rollup_sketches(distinct_sketches(df, ["g", "cell"], "v"), ["g"]),
            out="est",
        ).collect()
    }
    want: dict = {}
    for g, v, _ in assignments:
        want.setdefault(g, set()).add(v)
    assert got == {g: len(vs) for g, vs in want.items()}


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 25)),
        min_size=0,
        max_size=60,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 25)),
        min_size=0,
        max_size=60,
    ),
)
@_SETTINGS
def test_sketch_overlap_matches_set_algebra(spark, left, right):
    """Differential for inclusion-exclusion overlap: in the coupon
    regime every estimate is exact, so per shared key the operator must
    reproduce Python set algebra — |A|, |B|, |A∪B|, |A∩B| — with keys
    on one side only dropped (inner join) and disjoint sets landing on
    exactly 0 (the clamp never fires above the true value)."""
    from asterlake.operators.sketches import distinct_sketches, sketch_overlap

    if not left or not right:
        return
    A = distinct_sketches(
        spark.createDataFrame(left, "k int, v int"), ["k"], "v"
    )
    B = distinct_sketches(
        spark.createDataFrame(right, "k int, v int"), ["k"], "v"
    )
    got = {
        r.k: (r.est_left, r.est_right, r.est_union, r.est_overlap)
        for r in sketch_overlap(A, B, ["k"]).collect()
    }
    la, rb = {}, {}
    for k, v in left:
        la.setdefault(k, set()).add(v)
    for k, v in right:
        rb.setdefault(k, set()).add(v)
    want = {
        k: (
            len(la[k]),
            len(rb[k]),
            len(la[k] | rb[k]),
            len(la[k] & rb[k]),
        )
        for k in set(la) & set(rb)
    }
    assert got == want


@given(
    fact=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 9)),
        min_size=0,
        max_size=50,
    ),
    dim=st.lists(st.integers(-50, 50), min_size=0, max_size=12),
    n_bits=st.sampled_from([16, 64, 1 << 12]),
)
@_SETTINGS
def test_bloom_semi_join_matches_plain_join(spark, fact, dim, n_bits):
    """Differential for the Bloom reduction: for ANY key distribution
    (negatives, misses, duplicates on both sides — duplicate dim keys
    multiply rows, plain-join semantics) and ANY bitmap size — down to
    a 16-bit bitmap where nearly every probe is a false positive — the
    bloom-pruned exact join must return the plain join's row multiset
    exactly. Saturation may cost pruning, never rows."""
    from asterlake.operators.bloomjoin import bloom_semi_join

    fdf = spark.createDataFrame(fact, "k int, payload int") if fact else (
        spark.createDataFrame([], "k int, payload int")
    )
    ddf = spark.createDataFrame(
        [(k,) for k in dim], "dk int"
    ) if dim else spark.createDataFrame([], "dk int")
    got = sorted(
        map(
            tuple,
            bloom_semi_join(fdf, ddf, "k", "dk", n_bits=n_bits).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            fdf.join(ddf, F.col("k") == F.col("dk"), "inner").collect(),
        )
    )
    assert got == want


@given(
    vals=st.lists(
        st.tuples(
            st.integers(0, 3),  # cell (arbitrary split)
            st.floats(-1e6, 1e6, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=60,
    ),
    q=st.sampled_from([0.0, 0.25, 0.37, 0.5, 0.9, 1.0]),
)
@_SETTINGS
def test_quantile_sketch_exact_mode_matches_order_statistic(spark, vals, q):
    """Differential for mergeable KLL quantiles in exact mode (n <= k):
    for ANY split of the values into cell sketches, the merged sketch's
    quantile must be the inclusive-rank order statistic
    ``sorted[max(0, ceil(q*n) - 1)]`` — duplicates, negatives, and
    single-value cells included. This pins the exact-mode semantics the
    operator docstring promises."""
    import math

    from asterlake.operators.sketches import (
        quantile_estimates,
        quantile_rollup,
        quantile_sketches,
    )

    data = [(0, c, float(v)) for c, v in vals]
    df = spark.createDataFrame(data, "g int, cell int, v double")
    merged = quantile_rollup(quantile_sketches(df, ["g", "cell"], "v"), ["g"])
    r = quantile_estimates(merged, [q], ["qq"]).first()
    s = sorted(v for _, _, v in data)
    want = s[max(0, math.ceil(q * len(s)) - 1)]
    assert r.qq == want and r.q_n == len(s)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),
        min_size=0,
        max_size=60,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),
        min_size=0,
        max_size=60,
    ),
)
@_SETTINGS
def test_theta_set_algebra_matches_python_sets(spark, left, right):
    """Differential for Theta set algebra in exact mode: per shared key
    the union, intersection, AND difference estimates must equal Python
    set algebra exactly — the contract that makes theta_set_estimates
    strictly stronger than HLL inclusion-exclusion (which cannot
    express difference and goes noisy at small overlaps)."""
    from asterlake.operators.sketches import theta_set_estimates, theta_sketches

    if not left or not right:
        return
    A = theta_sketches(
        spark.createDataFrame(left, "k int, v int"), ["k"], "v"
    )
    B = theta_sketches(
        spark.createDataFrame(right, "k int, v int"), ["k"], "v"
    )
    got = {
        r.k: (
            r.est_left,
            r.est_right,
            r.est_union,
            r.est_intersection,
            r.est_difference,
        )
        for r in theta_set_estimates(A, B, ["k"]).collect()
    }
    la, rb = {}, {}
    for k, v in left:
        la.setdefault(k, set()).add(v)
    for k, v in right:
        rb.setdefault(k, set()).add(v)
    want = {
        k: (
            float(len(la[k])),
            float(len(rb[k])),
            float(len(la[k] | rb[k])),
            float(len(la[k] & rb[k])),
            float(len(la[k] - rb[k])),
        )
        for k in set(la) & set(rb)
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    ),
    span_tokens=st.sampled_from([2, 3]),
)
@_SETTINGS
def test_span_dedup_matches_python_replay(spark, docs, span_tokens):
    """Differential for C4-style span scrubbing: a linear Python replay
    over documents in id order — segment into span_tokens windows, keep
    a span only on its FIRST corpus-wide occurrence (min (doc, pos)) —
    must reproduce (n_segments, n_kept, text_clean) for every document.
    A tiny token pool forces heavy cross- and within-document span
    collisions, including partial trailing spans."""
    from asterlake.operators.dedup import span_dedup

    data = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_segments, r.n_kept, r.text_clean)
        for r in span_dedup(df, span_tokens=span_tokens).collect()
    }
    seen: set = set()
    want = {}
    for i, words in enumerate(docs):
        spans = [
            " ".join(words[p : p + span_tokens])
            for p in range(0, len(words), span_tokens)
        ]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        want[i] = (len(spans), len(kept), " ".join(kept))
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=30,
    ),
    bits=st.sampled_from([4, 8]),
)
@_SETTINGS
def test_interleave_bits_matches_python_morton(spark, pairs, bits):
    """Differential for the Morton Z-order key: the shift/mask column
    expression must equal a bit-by-bit Python interleave (x bit b at
    position 2b, y at 2b+1) for any bucket ids, including ids wider
    than `bits` (upper bits are ignored by the mask, both sides)."""
    from asterlake.operators.layout import interleave_bits

    df = spark.createDataFrame(pairs, "x long, y long")
    got = [
        r.z
        for r in df.select(
            interleave_bits(F.col("x"), F.col("y"), bits).alias("z")
        ).collect()
    ]
    def morton(x, y):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z
    assert got == [morton(x, y) for x, y in pairs]


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=30,
    ),
    extra_verts=st.lists(st.integers(0, 15), min_size=0, max_size=6),
    method=st.sampled_from(["propagation", "star"]),
)
@_SETTINGS
def test_connected_components_matches_union_find(
    spark, edges, extra_verts, method
):
    """Differential for both CC methods vs a Python union-find with
    min-label components: random multigraphs with self-loops, repeated
    edges, and isolated vertices supplied via the vertices frame must
    all land on component = min reachable id."""
    from asterlake.operators.graph import connected_components

    if not edges and not extra_verts:
        return
    vids = sorted(
        {v for e in edges for v in e} | set(extra_verts)
    )
    edf = spark.createDataFrame(edges, "src int, dst int") if edges else (
        spark.createDataFrame([], "src int, dst int")
    )
    vdf = spark.createDataFrame([(v,) for v in vids], "id int")
    got = {
        r.id: r.component
        for r in connected_components(edf, vdf, method=method).collect()
    }
    parent = {v: v for v in vids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for s, d in edges:
        ra, rb = find(s), find(d)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in vids}
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["w1", "w2", "w3", "w4", "w5"]),
            min_size=2,
            max_size=8,
        ),
        min_size=0,
        max_size=6,
    )
)
@_SETTINGS
def test_ngram_containment_matches_bruteforce(spark, docs):
    """Differential for max-containment pairs: an all-pairs Python scan
    over 2-shingle SETS computing |A∩B|/min(|A|,|B|) >= 0.5 must equal
    the inverted-index join's pair set and scores exactly — including
    full containment of short docs inside long ones (the case Jaccard
    misses) and docs with every shingle repeated."""
    from asterlake.operators.dedup import ngram_containment_pairs

    data = [(i, " ".join(words)) for i, words in enumerate(docs)]
    if not data:
        return
    df = spark.createDataFrame(data, "doc_id int, text string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(df, n=2, threshold=0.5).collect()
    }
    sh = {
        i: {
            " ".join(words[p : p + 2])
            for p in range(len(words) - 1)
        }
        for i, words in enumerate(docs)
    }
    want = {}
    ids = sorted(sh)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            c = inter / min(len(sh[a]), len(sh[b]))
            if c >= 0.5:
                want[(a, b)] = c
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["q", "r", "s", "t", "u"]),
            min_size=0,
            max_size=7,
        ),
        min_size=1,
        max_size=6,
    ),
    bench=st.lists(
        st.lists(
            st.sampled_from(["q", "r", "s", "t", "u"]),
            min_size=2,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    ),
)
@_SETTINGS
def test_contamination_scores_match_python_overlap(spark, docs, bench):
    """Differential for graded decontamination: per document, distinct
    2-gram totals, benchmark-overlap hits, and the drop set of
    decontaminate() must match a Python set computation — shingle-less
    docs (< 2 tokens) keep a NULL ratio and are never dropped."""
    from asterlake.operators.decontam import contamination_scores, decontaminate

    ddf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id int, text string",
    )
    bdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(bench)],
        "doc_id int, text string",
    )

    def grams(ws):
        return {
            " ".join(ws[p : p + 2]) for p in range(len(ws) - 1)
        }

    bset = set().union(*(grams(ws) for ws in bench))
    got = {
        r.doc_id: (r.n_ngrams, r.n_contaminated, r.contamination_ratio)
        for r in contamination_scores(ddf, bdf, n=2).collect()
    }
    want = {}
    for i, ws in enumerate(docs):
        g = grams(ws)
        ratio = len(g & bset) / len(g) if g else None
        want[i] = (len(g), len(g & bset), ratio)
    assert got == want
    kept = {r.doc_id for r in decontaminate(ddf, bdf, n=2).collect()}
    assert kept == {
        i for i, ws in enumerate(docs) if not (grams(ws) & bset)
    }


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr"]),
            st.integers(0, 200),
        ),
        min_size=1,
        max_size=40,
    ),
    quota=st.integers(1, 5),
)
@_SETTINGS
def test_quota_sample_invariants(spark, rows, quota):
    """quota_sample contracts that hold for ANY data: at most quota
    rows per group, a SUBSET of the input rows (multiset), groups at or
    under quota pass through whole, and two invocations pick the
    identical rows (pure hash order, no RNG)."""
    from collections import Counter

    from asterlake.operators.sampling import quota_sample

    df = spark.createDataFrame(rows, "lang string, key int")
    out1 = [tuple(r) for r in quota_sample(df, "lang", "key", quota).collect()]
    out2 = [tuple(r) for r in quota_sample(df, "lang", "key", quota).collect()]
    assert sorted(out1) == sorted(out2)  # deterministic
    assert not (Counter(out1) - Counter(rows))  # multiset subset
    per_group = Counter(g for g, _ in out1)
    src_group = Counter(g for g, _ in rows)
    for g, n in src_group.items():
        assert per_group[g] == min(n, quota), (g, per_group[g], n)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["cat", "dog", "fox", "owl"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(1, 3),
)
@_SETTINGS
def test_tfidf_top_terms_matches_python_model(spark, docs, k):
    """Differential for per-doc tf-idf top-k: a Python replay of the
    exact rational score tf * (N+1)/(df+1) with the (score desc, term
    asc) tiebreak must reproduce every (term, tf, df, tfidf, rank) row.
    A tiny vocabulary forces score ties, the regime where only the
    deterministic tiebreak keeps output stable."""
    from asterlake.operators.textstats import tfidf_top_terms

    data = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id int, text string")
    got = sorted(
        (r.doc_id, r.rank, r.term, r.tf, r.df, r.tfidf)
        for r in tfidf_top_terms(df, k=k).collect()
    )
    from collections import Counter

    n_docs = len(docs)
    dfreq = Counter()
    tfs = {}
    for i, ws in enumerate(docs):
        c = Counter(ws)
        tfs[i] = c
        for t in c:
            dfreq[t] += 1
    want = []
    for i, c in tfs.items():
        # same IEEE association as the operator: tf * ((N+1)/(df+1)),
        # NOT (tf*(N+1))/(df+1) — 3*(6/5) != (3*6)/5 in floats
        scored = sorted(
            (
                (-(tf * ((n_docs + 1.0) / (dfreq[t] + 1.0))), t, tf)
                for t, tf in c.items()
            )
        )
        for rank, (neg, t, tf) in enumerate(scored[:k], start=1):
            want.append((i, rank, t, tf, dfreq[t], -neg))
    assert got == sorted(want)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["cat", "dog", "fox", "owl", "elk"]),
            min_size=1,
            max_size=9,
        ),
        min_size=1,
        max_size=6,
    ),
    terms=st.lists(
        st.sampled_from(["cat", "dog", "owl", "yak"]),  # yak never occurs
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@_SETTINGS
def test_bm25_matches_python_replay_bit_exact(spark, docs, terms):
    """Differential for BM25: the score is a FIXED left-to-right sum of
    per-term rational expressions over plan literals, so a Python replay
    with the identical IEEE op order must match BIT-EXACTLY (==, no
    tolerance) — including query terms absent from the corpus (df=0,
    idf capped by the +0.5) and docs matching no term (absent rows)."""
    from asterlake.operators.textstats import bm25_scores

    data = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id int, text string")
    got = {r.doc_id: r.bm25 for r in bm25_scores(df, terms).collect()}
    k1, b = 1.2, 0.75
    n = len(docs)
    sum_dl = sum(len(ws) for ws in docs)
    avgdl = sum_dl / n
    dfreq = {t: sum(1 for ws in docs if t in ws) for t in terms}
    want = {}
    for i, ws in enumerate(docs):
        tfs = [float(ws.count(t)) for t in terms]
        if not any(tfs):
            continue
        dl = float(len(ws))
        norm = k1 * (1.0 - b + b * (dl / avgdl))
        s = 0.0
        for t, tf in zip(terms, tfs):
            idf = (float(n) + 1.0) / (float(dfreq[t]) + 0.5)
            s = s + idf * (tf * (k1 + 1.0)) / (tf + norm)
        want[i] = s
    assert got == want


# -- r8: BPE training vs pure-Python reference --------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    wc=st.dictionaries(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        st.integers(1, 9),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_train_matches_reference_on_random_dicts(spark, wc):
    """The distributed trainer's merge SEQUENCE (order included) equals
    the pure-Python reference on arbitrary word-count dictionaries —
    small alphabet + tiny words force heavy pair-count ties, so the
    lexicographic tiebreak is exercised hard."""
    from asterlake.operators.bpe import bpe_train
    from tests.test_bpe import ref_train

    wc_df = spark.createDataFrame(
        [(w, n) for w, n in wc.items()], ["word", "n"]
    )
    assert bpe_train(wc_df, n_merges=8) == ref_train(wc, 8)


# -- r8: PQ encode vs same-fold replay on random vectors ----------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2, 2, allow_nan=False, allow_infinity=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_pq_encode_matches_replay_on_random_vectors(spark, vecs):
    """Codes from arbitrary float vectors (m=4 subspaces of 2 dims,
    k=5) equal the left-to-right-fold Python replay bit-for-bit —
    adversarial floats probe the argmin tie/precision edges."""
    from asterlake.operators.pq import pq_codebooks, pq_encode
    from tests.test_pq import _replay_code

    cb = pq_codebooks(m=4, k=5, dim=8, seed=3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, cb).collect()}
    for i, v in enumerate(vecs):
        want = [_replay_code([float(x) for x in v], cb, s) for s in range(4)]
        assert got[i] == want, i


# -- r8: file-skipping prune decision vs brute-force row check ----------------


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(st.one_of(st.none(), st.integers(-20, 20)), max_size=12),
    conds=st.lists(
        st.one_of(
            st.tuples(
                st.just("k"),
                st.sampled_from(["==", "<", "<=", ">", ">="]),
                st.integers(-25, 25),
            ),
            st.tuples(st.just("k"), st.sampled_from(["is_null", "not_null"])),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_file_skip_decision_never_drops_a_matching_file(rows, conds):
    """Pure-Python property (no Spark): if ANY row in a file satisfies
    the conjunction, _file_may_match must keep the file — fast brute
    force over random files and predicates. (The converse — pruning as
    often as provable — is a quality property pinned by the Spark
    inputFiles tests.)"""
    from asterlake.sources.versioned import _file_may_match

    vals = [r for r in rows if r is not None]
    finfo = {
        "n_rows": len(rows),
        "cols": {
            "k": {
                "min": min(vals) if vals else None,
                "max": max(vals) if vals else None,
                "null_count": len(rows) - len(vals),
            }
        },
    }

    def row_ok(r):
        for c in conds:
            op = c[1]
            if op == "is_null":
                if r is not None:
                    return False
            elif op == "not_null":
                if r is None:
                    return False
            else:
                if r is None:
                    return False
                v = c[2]
                if op == "==" and not r == v:
                    return False
                if op == "<" and not r < v:
                    return False
                if op == "<=" and not r <= v:
                    return False
                if op == ">" and not r > v:
                    return False
                if op == ">=" and not r >= v:
                    return False
        return True

    any_match = any(row_ok(r) for r in rows)
    kept = _file_may_match(finfo, conds)
    if any_match:
        assert kept  # pruning must NEVER drop a file holding a match


# -- r9: bigram LM trainer on arbitrary corpora -------------------------------

_word = st.sampled_from(["a", "b", "ab", "the", "zz", "q1"])
_doc_text = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=st.lists(_doc_text, min_size=1, max_size=12))
def test_bigram_train_matches_replay_on_random_corpora(spark, corpus):
    """The distributed trainer IS the pure-Python replay for arbitrary
    corpora — empty docs, whitespace runs, single-word vocab included —
    and scoring folds reproduce the reference per doc."""
    from asterlake.operators.ngramlm import (
        bigram_score,
        bigram_train,
        replay_bigram_train,
    )
    from tests.test_ngramlm import ref_score

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id bigint, text string"
    )
    got = bigram_train(df, "text", vocab_size=4, k_num=1, k_den=10)
    want = replay_bigram_train(corpus, vocab_size=4, k_num=1, k_den=10)
    assert got == want
    vocab, model, unk = got
    scored = {
        r["doc_id"]: (r["n_pairs"], r["loglik_micros"])
        for r in bigram_score(df, vocab, model, unk).collect()
    }
    for i, t in enumerate(corpus):
        assert scored[i] == ref_score(t, vocab, model, unk)


# -- r9: mixture materialization replay ---------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    factors=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.integers(0, 3_000_000),
        min_size=1,
        max_size=3,
    ),
    n_docs=st.integers(1, 25),
)
def test_apply_mixture_replays_for_arbitrary_factors(spark, factors, n_docs):
    """Copy counts equal the pure-integer replay for ANY factor table —
    the zero, sub-unit, exact-unit, and multi-copy regimes all fall out
    of the same fixed-point arithmetic."""
    from asterlake.operators.mixture import FRAC_P, PPM, apply_mixture

    doms = sorted(factors)
    docs = spark.createDataFrame(
        [(i, doms[i % len(doms)]) for i in range(n_docs)],
        "doc_id bigint, source string",
    )
    w = spark.createDataFrame(
        [(d, f) for d, f in factors.items()], "domain string, factor_ppm bigint"
    )
    by_doc: dict[int, int] = {}
    for r in apply_mixture(docs, w).collect():
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + 1
    for i in range(n_docs):
        f = factors[doms[i % len(doms)]]
        whole, frac = divmod(f, PPM)
        want = whole + (1 if (i * FRAC_P) % PPM < frac else 0)
        assert by_doc.get(i, 0) == want, (i, f)


# -- r9: content-defined chunking vs a pure-Python chunker --------------------


def _py_cdc(text: str, window: int, divisor: int, target: int):
    mod, tb, wb = 1_000_000_007, 31, 131
    toks = text.split(" ")
    th = []
    for t in toks:
        acc = 0
        for ch in t:
            acc = (acc * tb + ord(ch)) % mod
        th.append(acc)
    bounds = []
    for i in range(1, len(th) + 1):
        wh = 0
        for hv in th[max(0, i - window) : i]:
            wh = (wh * wb + hv) % mod
        if i == len(th) or (i >= window and wh % divisor == target):
            bounds.append(i)
    out, prev = [], 0
    for b in bounds:
        h = 0
        for hv in th[prev:b]:
            h = (h * wb + hv) % mod
        out.append((h, b - prev))
        prev = b
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_doc_text, min_size=1, max_size=8),
    divisor=st.sampled_from([2, 4, 8]),
)
def test_cdc_chunks_match_python_chunker(spark, texts, divisor):
    """Boundaries and fingerprints equal an independent pure-Python
    chunker (not the DuckDB restatement — a third implementation) for
    arbitrary word-salad documents at several divisors."""
    from asterlake.operators.chunking import cdc_chunks

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got: dict[int, list] = {}
    for r in cdc_chunks(df, window=2, divisor=divisor, target=1).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_hash"], r["n_tokens"])
        )
    for i, t in enumerate(texts):
        want = [
            (k, h, n)
            for k, (h, n) in enumerate(_py_cdc(t, 2, divisor, 1))
        ]
        assert sorted(got.get(i, [])) == want, (i, t)


# --------------------------------------------------------------------------
# r10 family: ExactSubstr repeated-substring dedup (operators/substrings.py)
# --------------------------------------------------------------------------

def _py_repeated_spans(texts: list[str], k: int) -> list[tuple]:
    """Independent brute-force twin: duplicated k-windows by literal
    text, coverage-merged maximal islands per doc."""
    from collections import Counter

    wins = []
    for d, t in enumerate(texts):
        toks = (t or "").split()
        for p in range(max(len(toks) - k + 1, 0)):
            wins.append((" ".join(toks[p : p + k]), d, p))
    cnt = Counter(w for w, _, _ in wins)
    duppos: dict[int, list[int]] = {}
    for w, d, p in wins:
        if cnt[w] >= 2:
            duppos.setdefault(d, []).append(p)
    spans = []
    for d, ps in sorted(duppos.items()):
        ps.sort()
        a = b = ps[0]
        for p in ps[1:]:
            if p <= b + k:
                b = p
            else:
                spans.append((d, a, b + k, b + k - a))
                a = b = p
        spans.append((d, a, b + k, b + k - a))
    return sorted(spans)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
)
def test_repeated_substring_spans_match_bruteforce(spark, texts, k):
    """Maximal corpus-duplicated spans equal the brute-force twin for
    arbitrary tiny-alphabet corpora (tiny alphabet = dense collisions:
    within-doc repeats, cross-doc repeats, overlapping runs all arise
    naturally) at two window sizes."""
    from asterlake.operators.substrings import repeated_substring_spans

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = sorted(
        (r["doc_id"], r["start_tok"], r["end_tok"], r["span_tokens"])
        for r in repeated_substring_spans(df, k).collect()
    )
    assert got == _py_repeated_spans(texts, k)


# --------------------------------------------------------------------------
# r10 family: DSIR importance weighting (operators/dsir.py)
# --------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=st.lists(_doc_text, min_size=1, max_size=8),
    raw=st.lists(_doc_text, min_size=1, max_size=10),
)
def test_dsir_train_and_weights_match_replay_on_random_corpora(
    spark, target, raw
):
    """The distributed trainer equals the pure-Python replay (md5
    bucketing byte-for-byte) on arbitrary word-salad corpora, and the
    literal-array scorer equals a reference fold of that table —
    covering empty docs, all-OOV buckets, and shared grams."""
    import hashlib

    from asterlake.operators.dsir import (
        dsir_train,
        dsir_weights,
        replay_dsir_train,
    )

    B = 32
    t_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(target)], "doc_id bigint, text string"
    )
    r_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(raw)], "doc_id bigint, text string"
    )
    got = dsir_train(t_df, r_df, buckets=B)
    assert got == replay_dsir_train(target, raw, buckets=B)
    w = {
        r["doc_id"]: (r["n_grams"], r["weight_micros"])
        for r in dsir_weights(r_df, got, buckets=B).collect()
    }
    for i, t in enumerate(raw):
        toks = (t or "").split()
        gs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        want = sum(
            got[int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B]
            for g in gs
        )
        assert w[i] == (len(gs), want), (i, t)


# -- r11: winnowing fingerprints vs pure-Python reference ---------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "word", "x"]),
            min_size=0,
            max_size=25,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=4),
    w=st.integers(min_value=2, max_value=5),
)
def test_winnow_matches_python_on_random_docs(spark, docs, k, w):
    """Robust winnowing (hash folds, window-min, rightmost tie-break)
    equals the pure-Python reference on low-entropy random token docs —
    small alphabet maximizes hash-tie coverage."""
    from tests.test_winnow_triangles import _py_winnow, _spark_fps

    got = _spark_fps(spark, docs, k, w)
    for i, t in enumerate(docs):
        assert got[i] == _py_winnow(t, k, w), (i, t, k, w)


# -- r11: exact integer t-th roots --------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    ns=st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=10**12),
            # perfect powers and neighbors: where a float seed is
            # most likely off by an ulp
            st.integers(min_value=0, max_value=10**6).map(lambda r: r * r),
            st.integers(min_value=0, max_value=10**4).map(
                lambda r: r * r * r
            ),
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    t=st.integers(min_value=2, max_value=3),
)
def test_integer_root_matches_python_floor_root(spark, ns, t):
    from asterlake.operators.mixture import integer_root

    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r.n: r.w
        for r in df.select(
            "n", integer_root(F.col("n"), t).alias("w")
        ).collect()
    }
    for n in ns:
        expect = round(n ** (1.0 / t))
        while (expect + 1) ** t <= n:
            expect += 1
        while expect > 0 and expect**t > n:
            expect -= 1
        assert got[n] == expect, (n, t)


# -- r11: wordpiece trainer vs pure-Python replay ------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    wc=st.dictionaries(
        st.text(alphabet="abcde", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=40),
        min_size=1,
        max_size=10,
    )
)
def test_wordpiece_train_matches_replay_on_random_dicts(spark, wc):
    from asterlake.operators.wordpiece import (
        replay_wordpiece_train,
        wordpiece_train,
    )

    df = spark.createDataFrame(list(wc.items()), "word string, n long")
    assert wordpiece_train(df, n_merges=6) == replay_wordpiece_train(
        wc, n_merges=6
    )
