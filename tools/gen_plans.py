#!/usr/bin/env python
"""Regenerate PLANS.md: a physical-plan audit of every query key.

For each registered key, summarizes the properties that matter at
100 TB — shuffle count, join strategies, scan pushdown, Python
boundary crossings — straight from the executed plan string, so the
doc can't drift from the code.  Run: python tools/gen_plans.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_engineering_assessment_spark.plans import queries
from data_engineering_assessment_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

JOIN_KINDS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]
PY_KINDS = [
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
]


def count_unpartitioned_windows(plan: str) -> int:
    """Count Window exec nodes with an EMPTY partition spec.

    A partitioned+ordered Window prints three top-level bracket
    groups (``Window [exprs], [partSpec], [orderSpec]``); with only
    two groups the second is EITHER a partition spec (unordered
    window — parallel, fine) or an order spec (unpartitioned window —
    the whole input funnels into ONE task).  The two are told apart
    by the sort direction tokens only an order spec carries.  An
    unpartitioned window is fine only when its domain is bounded a
    priori (a 256-row bucket histogram, an hour/month/type domain),
    fatal when it grows with the corpus (the round-14
    ``vocab_growth_curve`` finding).  ``\\bWindow\\s\\[`` deliberately
    skips WindowGroupLimit (a pre-filter, not a buffer)."""
    n = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow\s\[", line)
        if not m:
            continue
        depth, groups, start = 0, [], None
        for i, ch in enumerate(line[m.end() - 1 :], m.end() - 1):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(line[start : i + 1])
        if len(groups) >= 3:
            continue  # partition spec present
        second = groups[1] if len(groups) > 1 else "[]"
        if second == "[]" or re.search(r"\s(ASC|DESC)\b", second):
            n += 1
    return n


def summarize(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": sorted({k for k in JOIN_KINDS if k in plan}),
        "python": sorted({k for k in PY_KINDS if k in plan}),
        "pushed": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        # '*(N) Op' markers flag operators inside a WholeStageCodegen span
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "cached": "InMemoryTableScan" in plan,
        "win1p": count_unpartitioned_windows(plan),
    }


def main() -> None:
    spark = get_spark(app_name="dea-spark-plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # static audit: without AQE the plan shows final WholeStageCodegen
    # spans and join choices instead of an unfinalized adaptive wrapper
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows = []
    for key, fn in sorted(queries().items()):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        s = summarize(plan)
        rows.append(
            f"| `{key}` | {s['exchanges']} | {', '.join(s['joins']) or '—'} | "
            f"{'yes' if s['pushed'] else '—'} | {s['codegen']} | "
            f"{', '.join(s['python']) or '—'} | "
            f"{('yes ×' + str(s['win1p'])) if s['win1p'] else '—'} |"
        )
    body = "\n".join(rows)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (generated by tools/gen_plans.py)\n\n"
            "One row per query key, summarized from the *executed* Spark plan\n"
            "(AQE disabled for a static audit).  Properties: shuffle (Exchange)\n"
            "count, join strategies chosen, whether filters reached the scan\n"
            "(PushedFilters), whole-stage-codegen span count, and any Python\n"
            "boundary crossings (sanctioned only for multimodal decode and\n"
            "LSH embedding math — enforced in tests/test_plans.py).\n"
            "No CartesianProduct or BroadcastNestedLoopJoin appears in any\n"
            "scalable tier (also enforced in tests).  Where a\n"
            "BroadcastNestedLoopJoin DOES appear below, its build side is a\n"
            "broadcast SINGLE-ROW aggregate (global totals joined into\n"
            "per-group arithmetic — the scalar-broadcast pattern, cost\n"
            "O(stream side)); the only O(n·m) nested loop in the repo is\n"
            "dedup_embed_cosine's documented exact baseline tier.\n"
            "`1p window` counts Window exec nodes with an EMPTY partition\n"
            "spec (the whole input funnels into one task) — every `yes` row\n"
            "is audited in tests/test_plans.py's\n"
            "test_unpartitioned_windows_are_domain_bounded: the window's\n"
            "domain must be bounded a priori (hour/month/type domains, a\n"
            "256-row bucket histogram, a top-k already limited upstream),\n"
            "never corpus-proportional.\n\n"
            "| key | exchanges | joins | scan pushdown | codegen spans | python | 1p window |\n"
            "|---|---|---|---|---|---|---|\n" + body + "\n"
        )
    print(f"wrote PLANS.md ({len(rows)} keys)")


if __name__ == "__main__":
    main()
