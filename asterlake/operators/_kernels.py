"""The one runner that hands a whole DataFrame to a numpy kernel in one task.

Small-input paths (the graph loops below ``graph.SMALL_GRAPH_EDGES`` edges,
exact percentiles below ``stats.SMALL_PERCENTILE_PAIRS`` distinct pairs)
replace a chain of distributed stages with one sort-and-scan in one Python
worker. They all run through :func:`one_task`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def one_task(df: DataFrame, schema: StructType, kernel) -> DataFrame:
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


def groups(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start and length of each run of equal values in a sorted array."""
    new = np.ones(len(key), bool)
    new[1:] = key[1:] != key[:-1]
    start = np.flatnonzero(new)
    return start, np.diff(np.append(start, len(key)))
