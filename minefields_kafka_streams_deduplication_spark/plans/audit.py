"""Physical-plan audit helpers.

`audit_plan(df)` extracts the scale-relevant facts from the formatted
physical plan: pushed filters, read schema width, exchange (shuffle)
count, broadcast usage, whole-stage-codegen coverage. Used by
tests/test_plans.py to pin the plan shape of key operators and by
tools/audit_plans.py for the plan report.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


@dataclass
class PlanAudit:
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    n_exchanges: int = 0
    n_broadcasts: int = 0
    n_codegen_stages: int = 0
    has_take_ordered: bool = False
    raw: str = ""


def audit_plan(df: DataFrame) -> PlanAudit:
    """Audit the plan as planned, without running it. Under AQE this is
    the initial plan (isFinalPlan=false), so runtime join strategy and
    final codegen spans are not in it."""
    s = plan_string(df, "formatted")
    audit = PlanAudit(raw=s)
    audit.pushed_filters = [
        m.strip() for m in re.findall(r"PushedFilters: \[(.*?)\]", s) if m.strip()
    ]
    audit.read_schemas = re.findall(r"ReadSchema: (\S+)", s)
    # Exchange nodes = shuffles (hash/range); broadcast exchanges counted apart.
    audit.n_exchanges = len(re.findall(r"\bExchange (?:hash|range)partitioning", s)) + len(
        re.findall(r"\(\d+\) Exchange\b", s)
    )
    audit.n_broadcasts = len(re.findall(r"BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoopJoin", s))
    # formatted mode: nodes carry "[codegen id : N]"; tree mode would
    # say "WholeStageCodegen (N)" — accept both.
    audit.n_codegen_stages = len(
        set(re.findall(r"codegen id : (\d+)", s))
        | set(re.findall(r"WholeStageCodegen \((\d+)\)", s))
    )
    audit.has_take_ordered = "TakeOrderedAndProject" in s
    return audit
