"""Physical-plan inspection helpers.

The scale contract ("would this plan survive 100×?") is enforced as plan
assertions, not hope: tests pin that query-term lookups reach the parquet
scan as PushedFilters, small-dimension joins broadcast, top-k plans as
TakeOrderedAndProject (no global sort), and hot relational paths stay
inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries in the executed plan (AQE may reduce
    at runtime; this is the static count)."""
    plan = executed_plan(df)
    return sum(
        line.strip().lstrip("+-: ").startswith("Exchange")
        and "SinglePartition" not in line
        for line in plan.splitlines()
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    plan = executed_plan(df)
    return any(
        "PushedFilters" in line and fragment in line
        for line in plan.splitlines()
    ) or ("PushedFilters" in plan and fragment in plan)


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    """True when ``fragment`` appears in a scan's PartitionFilters — i.e.
    the predicate prunes Hive-partition directories instead of scanning."""
    plan = executed_plan(df)
    return any(
        "PartitionFilters" in line and fragment in line
        for line in plan.splitlines()
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or (
        "BroadcastNestedLoopJoin" in executed_plan(df)
    )


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in executed_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans: `*(n)` markers in toString plans, plus the
    literal node name in formatted output."""
    import re

    plan = executed_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids) or plan.count("WholeStageCodegen")


def reads_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (ReadSchema) — column-pruning
    check: a 2-column projection must not read the whole table."""
    import re

    plan = executed_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(
            part.split(":")[0].strip() for part in m.group(1).split(",") if part
        )
    return cols
