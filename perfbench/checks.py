"""Result comparison for the serving checks of the lake workload.

The suite's checks use ``tests.oracle_utils.assert_matches_oracle``, the
repo's own exact comparison.  Serving results are Rows already collected in
the timed region, and the velocity averages may differ from DuckDB's in the
last bits because the two engines sum in another order, so they are brought
to the same canonical form (``oracle_utils.canonical``: columns sorted by
name, then rows) and compared with a relative tolerance on floats.
"""

from __future__ import annotations

import pandas as pd

from tests.oracle_utils import canonical

REL_TOL = 1e-9


def same_rows(columns: list[str], rows, con, sql: str) -> bool:
    """Whether Spark's collected ``rows`` equal DuckDB's result of ``sql``."""
    got = canonical(pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns))
    want = canonical(con.execute(sql).df())
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=REL_TOL)
    except AssertionError:
        return False
    return True
