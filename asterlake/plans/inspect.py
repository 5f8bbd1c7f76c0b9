"""Physical-plan inspection: make "the plan you'd want at 100 TB" testable.

The reference delegates all optimization to its engines (SURVEY.md §4) and
never looks at a plan. At 100 TB the plan IS the product: a star join that
sort-merge-shuffles its dimensions, a scan that reads 16 columns for a
3-column projection, or a filter evaluated post-scan each turn a job from
minutes into hours. These helpers parse ``EXPLAIN FORMATTED`` output so the
test suite can pin the physical properties the engine promises:

- dimensions broadcast (``BroadcastHashJoin``), facts never do
- predicates reach the parquet reader (``PushedFilters``)
- scans read only projected columns (``ReadSchema``)
- top-k is ``TakeOrderedAndProject`` (no global sort materialization)
- shuffles carry derived keys (digests), not payloads

Plan-shape tests are the scale twin of the DuckDB oracle tests: oracles pin
WHAT is computed, these pin HOW.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """EXPLAIN output as a string (modes: simple/extended/formatted/cost)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def node_count(plan: str, node: str) -> int:
    """Occurrences of a physical node in the plan TREE (not the detail
    sections — formatted output repeats node names there)."""
    tree = plan.split("\n\n", 1)[0]
    return len(re.findall(rf"\b{re.escape(node)}\b", tree))


def has_node(plan: str, node: str) -> bool:
    return node_count(plan, node) > 0


@dataclass(frozen=True)
class ScanInfo:
    location: str
    pushed_filters: list[str]
    partition_filters: list[str]
    read_columns: list[str]


def scans(plan: str) -> list[ScanInfo]:
    """Parse every parquet scan's pushdown/pruning details."""
    out = []
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if not b.startswith("Scan parquet"):
            continue
        loc = re.search(r"Location: \S+ \[([^\]]*)\]", b)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", b)
        part = re.search(r"PartitionFilters: \[([^\]]*)\]", b)
        schema = re.search(r"ReadSchema: struct<([^>]*)>", b)
        cols = []
        if schema and schema.group(1):
            cols = [c.split(":")[0] for c in schema.group(1).split(",")]
        out.append(
            ScanInfo(
                location=loc.group(1) if loc else "",
                pushed_filters=_split_filters(pushed.group(1)) if pushed else [],
                partition_filters=_split_filters(part.group(1)) if part else [],
                read_columns=cols,
            )
        )
    return out


def _split_filters(s: str) -> list[str]:
    """Split 'F(a,b), G(c)' on top-level commas only."""
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            if cur.strip():
                parts.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur.strip())
    return parts


def scan_for(plan: str, table: str) -> ScanInfo:
    """The (single) scan whose file location mentions `table`."""
    matches = [s for s in scans(plan) if table in s.location]
    if len(matches) != 1:
        raise AssertionError(
            f"expected exactly one scan of {table}, found {len(matches)}: "
            f"{[s.location for s in scans(plan)]}"
        )
    return matches[0]


def shuffle_keys(plan: str) -> list[str]:
    """Hash-partitioning key lists of every shuffle Exchange in the plan."""
    return [
        m.group(1)
        for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    ]

