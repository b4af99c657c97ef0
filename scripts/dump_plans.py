#!/usr/bin/env python3
"""Dump .explain("formatted") for declared queries to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [query ...]
  tag    subdirectory under plans/ and filename suffix, e.g. "r16" with
         suffix "before" -> plans/r16/<query>_before.txt
Env:   SPARK_GRAFT_PLAN_SUFFIX (default "before"),
       SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see scripts/harness.py).

Also prints a one-line JSON summary per query (exchange count, joins,
scans, python-eval nodes) so a round's plan audit can grep one file.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from scripts.harness import SF_DIR, queries, session  # noqa: E402

SUFFIX = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: dump_plans.py <tag> [query ...]")
    tag = sys.argv[1]
    selected = queries(sys.argv[2:])

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = session("yaetl-spark-plan-dump")

    summary = {}
    for name, fn in selected.items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            summary[name] = {"error": str(exc)[:200]}
            continue
        with open(os.path.join(out_dir, f"{name}_{SUFFIX}.txt"), "w") as fh:
            fh.write(plan)
        summary[name] = {
            "exchanges": plan.count("Exchange"),
            "hash_exchanges": len(
                re.findall(r"Exchange hashpartitioning", plan)),
            "single_partition": plan.count("Exchange SinglePartition"),
            "joins": re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)", plan),
            "scans": plan.count("Scan parquet"),
            "python": re.findall(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"MapInArrow|FlatMapGroupsInPandas)", plan),
            "sorts": len(re.findall(r"\bSort \[", plan)),
            "window": len(re.findall(r"\bWindow\b", plan)),
        }
        print(json.dumps({name: summary[name]}, sort_keys=True),
              flush=True)
    with open(os.path.join(out_dir, f"_summary_{SUFFIX}.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
