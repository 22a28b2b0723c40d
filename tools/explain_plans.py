"""Dump physical-plan evidence for the headline queries → PLANS.md.

For each query: joins strategy, shuffle count, Python-eval nodes, scan
pruning/pushdown — the properties SURVEY §4 promises Catalyst delivers.
Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _distinct_exchanges(plan: str) -> int:
    lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    ids = set()
    no_id = 0
    for l in lines:
        m = re.search(r"plan_id=(\d+)", l)
        if m:
            ids.add(m.group(1))
        else:
            no_id += 1
    return len(ids) + no_id


def summarize(plan: str) -> dict:
    scans = []
    for line in plan.splitlines():
        if "FileScan" in line:
            m = re.search(r"FileScan parquet \[([^\]]*)\]", line)
            cols = m.group(1) if m else "?"
            pushed = "DataFilters: [" in line and "DataFilters: []" not in line
            scans.append({"columns": re.sub(r"#\d+L?", "", cols), "pushed_filters": pushed})
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        # count DISTINCT exchanges: InMemoryRelation reprints its cached
        # subtree once per consumer, so a raw string count overstates
        # persisted stages; plan_id identifies each physical exchange once
        # (lines without an id — non-AQE prints — still count individually)
        "shuffles": _distinct_exchanges(plan),
        "python_eval": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInArrow"),
        "scans": scans,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from opentelemetry_collector_contrib_spark.driver_queries import REGISTRY
    from opentelemetry_collector_contrib_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8, app_name="plans")

    lines = [
        "# PLANS — physical-plan evidence (auto-generated by tools/explain_plans.py)",
        "",
        f"Source: driver queries at `{sf_dir}`. Checked properties: join strategy",
        "(broadcast vs sort-merge), shuffle count, Python-eval nodes, scan column",
        "pruning and filter pushdown. `full_pipeline`'s aggregate and routed plan",
        "shapes are pinned by `tests/test_physical_layout.py`.",
        "",
        "| query | broadcast joins | sort-merge joins | nested-loop joins | shuffles | py nodes | scan columns (pruned) |",
        "|---|---|---|---|---|---|---|",
    ]
    for q in REGISTRY:
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            s = summarize(plan)
            scan_desc = "; ".join(
                ("✓pushdown " if sc["pushed_filters"] else "") + sc["columns"][:60]
                for sc in s["scans"][:2]
            ) or "—"
            lines.append(
                f"| {q.name} | {s['broadcast_joins']} | {s['sortmerge_joins']} | "
                f"{s['nested_loop_joins']} | "
                f"{s['shuffles']} | {s['python_eval']} | {scan_desc} |"
            )
        except Exception as e:
            lines.append(f"| {q.name} | ERR {type(e).__name__} | | | | | |")
    spark.stop()

    out = "\n".join(lines) + "\n"
    with open(REPO / "PLANS.md", "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
