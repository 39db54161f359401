"""Physical-plan inspection helpers: the property worth asserting
before trusting a plan at 100 TB — no cartesian blowups. Used by the
test suite and handy interactively (`explain`-driven development)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    bad = [
        op
        for op in ("CartesianProduct", "BroadcastNestedLoopJoin")
        if op in plan
    ]
    if bad:
        raise AssertionError(f"plan contains {bad}:\n{plan}")
