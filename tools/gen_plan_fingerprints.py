"""Generate PLAN_FINGERPRINTS.json: per registered query, the count of
each scale-relevant physical-plan node in the executed plan at sf0.001.

The bench catches TIME regressions (noisy, environment-coupled); this
catches PLAN regressions deterministically — an extra Exchange, a
broadcast that silently became a sort-merge join, Python evaluation
appearing in a hot path. tests/test_plan_fingerprints.py recomputes and
diffs; regenerate HERE when a plan change is intentional:

    python tools/gen_plan_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys

MARKERS = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "InMemoryTableScan",
    "TakeOrderedAndProject",
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)

# PINNED, deliberately ignoring SPARK_GRAFT_TEST_SF: the golden and the
# gate (tests/test_plan_fingerprints.py) must fingerprint at the SAME
# scale — broadcast-vs-sort-merge decisions are size-sensitive, and a
# golden regenerated at another SF would report spurious regressions
SF = "/root/testdata/sf0.001"


def plan_fingerprint(spark, fn) -> dict[str, int]:
    """Count of each MARKERS node in ``fn``'s executed plan at ``SF`` —
    the one routine the generator and the gate share. Cache marks left
    by a previously-planned query (persisted intermediates register
    with the CacheManager even before any action) would print as
    InMemoryTableScan in LATER plans, making fingerprints depend on
    planning ORDER, so clear them first."""
    spark.catalog.clearCache()
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    return {m: plan.count(m) for m in MARKERS if plan.count(m)}


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from icnarc_to_philips_linkage_spark.plans.registry import all_queries
    from icnarc_to_philips_linkage_spark.session import get_spark

    spark = get_spark(app_name="plan-fingerprints", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, (fn, _) in sorted(all_queries().items()):
        out[name] = plan_fingerprint(spark, fn)
        print(name, out[name], flush=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_FINGERPRINTS.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {path} ({len(out)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
