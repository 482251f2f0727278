"""Physical-plan audit helpers (used by tests to pin down plan shapes).

The north rule is graded on plan quality, not just results: these helpers let
tests assert the properties that matter at 100 TB — no Exchange where a
narrow plan is expected, partial top-k pushed below the shuffle, columns
pruned at the scan — so a regression in plan shape fails CI even when the
rows still match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """df.explain() as a string instead of stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded — broadcasting a dim is not a shuffle)."""
    plan = explain_str(df, "simple")
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def has_partial_window_group_limit(df: DataFrame) -> bool:
    """True when Spark planned a WindowGroupLimit in Partial mode below the
    exchange — the 'pre-top-k per partition' optimization for
    row_number() <= k filters (SPARK-37099)."""
    plan = executed_plan(df)
    return "WindowGroupLimit" in plan and "Partial" in plan


def scan_read_schema(df: DataFrame) -> list:
    """Column names the parquet scan actually reads (ReadSchema) — empty if
    no FileScan in the plan. Used to assert column pruning."""
    import re

    plan = explain_str(df, "formatted")
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for fld in m.group(1).split(","):
            name = fld.split(":")[0].strip()
            if name:
                out.append(name)
    return out
