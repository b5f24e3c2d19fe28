"""Physical-plan inspection helpers — the engine's scale guardrails.

These are used by tests to pin the plans we designed for: filters pushed
to the Parquet scan (SURVEY X1-X3), small dims broadcast, partial
aggregation before shuffles, no cartesian products.  A plan regression
(e.g. a filter that stops pushing down after a refactor) fails CI rather
than silently becoming a full scan at 100 TB.

``plan_shape`` is the same evidence as data: the per-check counts in
``PLANS.json`` (written by ``tools/plan_ledger.py``) are compared with
the live plan by every ``tests/test_parity.py`` run.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

_STAGE_ID = re.compile(r"\s*\(\d+\)$")  # "WholeStageCodegen (3)"


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Operator node-name counts of ``df``'s physical plan, plus
    ``pushed_scans``: the file scans whose PushedFilters is non-empty.

    The walk descends into children, into expression subqueries and into
    each ``InMemoryTableScan``'s cached plan.  An adaptive plan is read
    through its ``initialPlan()``, never its current plan: AQE's run-time
    choices (a broadcast side, a coalesced shuffle) depend on whether and
    how the plan ran, so only the initial plan is a function of the code.
    """
    counts: Counter[str] = Counter()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = _STAGE_ID.sub("", node.nodeName().strip())
        counts[name] += 1
        if name == "AdaptiveSparkPlan":
            todo.append(node.initialPlan())
            continue
        if name == "InMemoryTableScan":
            todo.append(node.relation().cachedPlan())
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            pushed = node.metadata().get("PushedFilters")
            if pushed.isDefined() and pushed.get() != "[]":
                counts["pushed_scans"] += 1
    return dict(counts)


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters fragments of every scan in the plan."""
    plan = formatted(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_shape(df)


def has_cartesian(df: DataFrame) -> bool:
    p = physical_plan(df)
    return "CartesianProduct" in p or ("BroadcastNestedLoopJoin" in p and "Cross" in p)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Partial+final hash aggregation (map-side combine before shuffle)."""
    p = physical_plan(df)
    return p.count("HashAggregate") >= 2 or "partial_" in p


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (lower is better for a fixed result);
    a ``BroadcastExchange`` is not a shuffle and does not count."""
    return plan_shape(df).get("Exchange", 0)
