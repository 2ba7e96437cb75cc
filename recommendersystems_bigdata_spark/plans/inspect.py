"""Plan-inspection helpers — the engine's window into Catalyst output.

Used by tests/test_plans.py and tests/test_bucketing.py to assert the
properties that decide 100 TB viability (pushdown, pruning, broadcast,
partial aggregation, codegen, Arrow boundaries), and by scripts/profile.py
to summarize each key's final plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (physical) plan string. Under AQE this is the adaptive
    wrapper; call an action first if you need the *final* runtime plan."""
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df: DataFrame) -> str:
    """The plan section that actually ran: AQE prints '== Final Plan =='
    followed by a repeated '== Initial Plan ==' — keep only the former."""
    return physical_plan(df).split("== Initial Plan ==")[0]


def full_explain(df: DataFrame) -> str:
    """All query-execution phases (parsed/analyzed/optimized/physical)."""
    return df._jdf.queryExecution().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every non-empty PushedFilters entry across the plan's file scans."""
    return [
        m
        for m in re.findall(r"PushedFilters: \[([^\]]*)\]", full_explain(df))
        if m.strip()
    ]


def count_join_side_exchanges(plan: str) -> int:
    """Shuffle exchanges in a plan string — broadcast exchanges excluded."""
    return plan.count("Exchange hashpartitioning")
