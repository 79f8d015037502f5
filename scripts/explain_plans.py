"""Generate PLANS.md: the physical plan of every registry entry
(fences_spark/entry_queries.py ``ENTRIES``) with the scale-relevant
evidence called out — PushedFilters / ReadSchema (pushdown + pruning
reach the parquet scan), BroadcastHashJoin (small dims broadcast),
WholeStageCodegen spans (JVM codegen, no Python in the hot path), and
the shuffle count.  Shuffles, joins, boundary and columns come from
``fences_spark.plans.plan_signature``, the parser the plan-shape gate
pins.

Run: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fences_spark.plans import formatted_plan, plan_signature  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

_BOUNDARY = {
    "row_at_a_time": "BatchEvalPython (ROW-AT-A-TIME — fix!)",
    "arrow": "ArrowEvalPython (vectorized)",
    "map_in_pandas": "MapInPandas (Arrow-batched — the sanctioned slow path for binary decode)",
    "none": "none (pure JVM)",
}


def evidence(plan: str) -> list[str]:
    sig = plan_signature(plan)
    n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    out = [f"- shuffle exchange mentions: {sig['exchanges']}; broadcast joins: "
           f"{sig['broadcast_joins']}; whole-stage-codegen spans: {n_wsc}"]
    if pushed:
        out.append(f"- pushed filters: {'; '.join(pushed[:3])}")
    if sig["scanned_columns"]:
        out.append(f"- scanned columns (pruned): {', '.join(sig['scanned_columns'][:12])}")
    out.append(f"- python boundary: {_BOUNDARY[sig['python_boundary']]}")
    return out


def main() -> None:
    from fences_spark.entry_queries import ENTRIES
    from fences_spark.session import get_spark

    spark = get_spark(app="plans", cores=4, shuffle_partitions=8)
    lines = [
        "# PLANS — physical-plan evidence for every registry entry",
        "",
        f"Generated by `python scripts/explain_plans.py` at sf_dir={SF_DIR}.",
        "Evidence extracted per plan: shuffle count, broadcast joins,",
        "whole-stage-codegen spans, parquet pushdown/pruning, and whether",
        "any Python boundary exists (only Arrow-vectorized allowed).",
        "",
    ]
    for e in ENTRIES:
        df = e.build(spark, SF_DIR)
        df.collect()
        plan = formatted_plan(df)
        lines.append(f"## {e.name}")
        lines.extend(evidence(plan))
        lines.append("")
        lines.append("<details><summary>formatted plan</summary>")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip()[:6000])
        lines.append("```")
        lines.append("</details>")
        lines.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
