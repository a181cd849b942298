"""Plan inspection: programmatic access to the physical plan.

At 100 TB the difference between a right and wrong plan is the job:
a filter that doesn't reach the parquet scan reads the whole table; a
dimension join that isn't broadcast shuffles the fact table. These
helpers make plan properties assertable in tests so regressions in
pushdown/broadcast/codegen fail CI, not production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the scan carries pushed-down predicates."""
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(f.split(":")[0].strip() for f in inner.split(",") if f)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators — the scale currency.
    Every one is a full network + disk round of the data below it."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("Exchange") or "+- Exchange" in line
    )
