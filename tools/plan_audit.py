"""Plan audit — regenerates PLANS.md: the post-execution AQE final
plan (isFinalPlan=true) of every headline query plus automated checks
of the plan properties the engine promises at scale (pushdown reaching
the scan, dimension broadcasts, no cartesian products, no Python
evaluation in JVM-only plans). Each query is executed first, so the
plan shows what ran: AQE's runtime join conversions and partition
coalescing, which a compiled (pre-execution) plan cannot show.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001 — plan
SHAPE is scale-invariant; AQE's runtime choices follow the data
sizes, so a join can differ at a larger scale factor).
"""

from __future__ import annotations

import os
import re
import sys


def audit(plan: str) -> list[str]:
    notes = []
    if "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan):
        notes.append("filter pushdown reaches the scan")
    if "BroadcastHashJoin" in plan:
        notes.append(f"{plan.count('BroadcastHashJoin')}x broadcast hash join")
    if "SortMergeJoin" in plan:
        notes.append(f"{plan.count('SortMergeJoin')}x sort-merge join")
    if "CartesianProduct" in plan:
        notes.append("!! CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        notes.append("broadcast nested-loop (bounded dim, intentional)")
    if "ArrowEvalPython" in plan or "BatchEvalPython" in plan \
            or "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan:
        notes.append("pandas/Arrow stage (declared UDF operator)")
    else:
        notes.append("fully JVM-side")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k via TakeOrderedAndProject")
    return notes


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if "--selfcheck" in sys.argv[1:]:
        # Clean-shell import canary (r12 verdict item 2), no JVM.
        from transcript_analysis_spark.plans import all_queries
        print(f"selfcheck OK: {len(all_queries())} queries importable")
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from transcript_analysis_spark.plans import all_queries
    from transcript_analysis_spark.session import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = ["# PLANS — headline query final physical plans (generated)",
           "",
           f"Regenerate: `python tools/plan_audit.py` (sf_dir={sf_dir}).",
           "Each plan is AQE's final plan, printed after the query ran.",
           "Plan shape is the 100 TB contract: pushdown at the scan,",
           "dims broadcast, no cartesian products, JVM-side hot paths.",
           ""]
    for name, q in sorted(all_queries().items()):
        if not q.headline:
            continue
        df = q.fn(spark, sf_dir)
        # executing THIS DataFrame finalizes its cached adaptive plan
        # (a write would run a separate execution)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        notes = audit(plan)
        out.append(f"## {name}")
        out.append("")
        out.append("Audit: " + "; ".join(notes) + ".")
        out.append("")
        out.append("```")
        # strip exchange ids / memory addresses that churn per run
        clean = re.sub(r"#\d+L?", "#N", plan)
        clean = re.sub(r"\[plan_id=\d+\]", "[plan_id=N]", clean)
        out.append(clean.rstrip())
        out.append("```")
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
