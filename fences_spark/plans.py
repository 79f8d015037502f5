"""Physical-plan signatures: the compact facts of an executed
DataFrame's AQE-final formatted plan that PLANS.md reports and the
plan-shape gate (tests/test_plan_shapes.py) pins.  Both read plans
through :func:`plan_signature`, so the evidence and the gate cannot
disagree about what a plan contains.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted plan of ``df``'s own QueryExecution.  Call it after
    an action on ``df`` itself (``df.collect()``), so AQE has finalized
    that plan in place; ``df.count()`` executes a different one."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )


def plan_signature(plan: str) -> dict:
    """Signature fields:

    - exchanges: mentions of the shuffle ``Exchange`` operator across the
      final plan, the initial plan and the node details (a broadcast is
      a ``BroadcastExchange`` and is not counted);
    - broadcast_joins: BroadcastHashJoin/BroadcastNestedLoopJoin mentions;
    - python_boundary: none | arrow (ArrowEvalPython) | map_in_pandas |
      row_at_a_time (BatchEvalPython, never acceptable in a hot path);
    - scanned_columns: union of the parquet ReadSchema columns (pruning).
    """
    if "BatchEvalPython" in plan:
        boundary = "row_at_a_time"
    elif "ArrowEvalPython" in plan:
        boundary = "arrow"
    elif "MapInPandas" in plan:
        boundary = "map_in_pandas"
    else:
        boundary = "none"
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted({c.split(":")[0].strip() for r in reads for c in r.split(",") if c})
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "python_boundary": boundary,
        "scanned_columns": cols,
    }
