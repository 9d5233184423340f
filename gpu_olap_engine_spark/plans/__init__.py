"""Plan introspection helpers.

The engine does NOT add custom Catalyst rules — SURVEY.md §4 shows the
reference's optimizer is a buggy subset of Catalyst built-ins. What we
add instead is *observability*: helpers to capture and assert on plan
shape, so the 100 TB contracts (pushdown, broadcast, partial aggs,
no cartesian products) are testable and debuggable.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The executed-plan explain output as a string (explain prints)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def scan_pushdown_report(df: DataFrame) -> dict[str, list[str]]:
    """Extract PushedFilters / ReadSchema lines per scan — the quick
    check that predicates and pruning actually reached parquet."""
    report: dict[str, list[str]] = {"pushed_filters": [], "read_schemas": []}
    for line in plan_string(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            report["pushed_filters"].append(line)
        elif line.startswith("ReadSchema:"):
            report["read_schemas"].append(line)
    return report


def scan_metrics(df: DataFrame) -> list[dict[str, int]]:
    """Measured (not inferred) scan-node metrics: runs the query, then
    reads numOutputRows / numFiles off each leaf scan of the executed
    plan. numOutputRows counts rows the scan actually DECODED — i.e.
    after parquet row-group/page skipping from pushed filters — so the
    layout tools' skip claims (clustered / z-ordered writes) are
    checkable as numbers, not prose. Uses collect() (not a noop write)
    because writers run a separate execution whose metrics would not
    land on this DataFrame's plan — call on a filtered/aggregated df
    whose result is small."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "Scan" not in leaf.nodeName():
            continue
        m = leaf.metrics()
        rec: dict[str, int] = {}
        for name in ("numOutputRows", "numFiles"):
            try:
                rec[name] = m.apply(name).value()
            except Exception:  # noqa: BLE001 - metric absent on this node
                pass
        out.append(rec)
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan — the scale currency. Compare
    against expectation when composing operators."""
    return plan_string(df, "simple").count("Exchange")
