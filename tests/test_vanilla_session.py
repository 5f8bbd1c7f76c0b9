"""Driver-environment regression: queries must be correct under an
EXTERNALLY-OWNED vanilla SparkSession — default confs, no asterlake
session builder. Round 2's only red gate was exactly this class (the
events loader assumed the builder's nanosAsLong conf). The conf-sensitive
subset runs in a SUBPROCESS so the vanilla session never contaminates
(or reuses) the suite's configured JVM."""

from __future__ import annotations

import subprocess
import sys
import textwrap

# Most conf-sensitive surfaces: events ts encoding (nanosAsLong shim),
# streaming conf pins, VARIANT, Arrow paths, decimal windows.
SENSITIVE = [
    "q_window_event_gaps",
    "q_decayed_engagement",
    "q_ewma_value",
    "q_session_window",
    "q_stream_windowed_counts",
    "q_variant_extract",
    "q_pack_sequences",
    "q_anomaly_outliers",
    # r5: date->string canonicalization (session TZ must not leak into
    # DATE casts) and decimal pmod/ANSI-sensitive checksum arithmetic
    "q_table_checksum",
    "q_drift_tvd",
    # r5: the PCA invariant gate's Arrow mapInPandas partials + literal
    # folds under default Arrow confs
    "q_embedding_pca",
    # r5: epoch/decimal arithmetic (TWAP) and IEEE bin assignment
    "q_twap_value",
    "q_drift_numeric",
    # every conf-pinning streaming query: each must leave the caller's
    # shuffle-partition and no-data-batch confs as it found them
    "q_stream_linkage",
    "q_stream_frequent",
    "q_stream_interval_join",
    "q_stream_stateful_counts",
    "q_stream_dedup",
    "q_stream_static_join",
    "q_stream_session_window",
    "q_stream_ewma",
    "q_stream_ohlc",
    "q_stream_ohlc_append",
    "q_stream_cdc_apply",
]

SCRIPT = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    import __spark_entry__ as e
    from tests.oracle_utils import duck_connection, assert_matches_oracle

    names = sys.argv[1].split(",")
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.streaming.noDataMicroBatches.enabled")
    spark = (SparkSession.builder.master("local[4]")
             .appName("vanilla-driver-sim").getOrCreate())
    con = duck_connection("/root/testdata/sf0.001")
    qs, osql = e.queries(), e.oracle_sql()
    for n in names:
        before = {k: spark.conf.get(k, None) for k in keys}
        df = qs[n](spark, "/root/testdata/sf0.001")
        if n in osql:
            assert_matches_oracle(df, con, osql[n], n)
        else:
            assert df.count() >= 0
        after = {k: spark.conf.get(k, None) for k in keys}
        assert after == before, (n, before, after)
        assert not spark.streams.active, (n, spark.streams.active)
        print("VANILLA_OK", n, flush=True)
    spark.stop()
    """
)


def test_sensitive_queries_pass_under_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, ",".join(SENSITIVE)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=900,
    )
    ok = [
        line.split()[1]
        for line in proc.stdout.splitlines()
        if line.startswith("VANILLA_OK")
    ]
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert ok == SENSITIVE, ok
