#!/usr/bin/env python
"""Print the operator sequence of every executed physical plan of a query.

For each named registry query: clear the cache, run it (``collect``), and
print one line per SQL execution it triggered (checkpoints, cached-frame
materializations and the final collect) listing that plan's operators in
pre-order, with node ids and codegen stage marks stripped.  The lines are
sorted: queries that run branches concurrently (operators/overlap.py)
start their executions in no fixed order.
Run it on two trees and ``diff`` the outputs to check that a refactor
left the plans' operator shapes unchanged.

AQE is off so plans are static and comparable.

Usage: python tools/plan_ops.py --sf-dir DIR QUERY...
"""

from __future__ import annotations

import argparse
import re
import sys

sys.path.insert(0, ".")

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\s*)?(.*?)\s*\(\d+\)\s*$")


def plan_operators(description: str) -> list[str]:
    """Operator names, pre-order, from a ``formatted`` plan description."""
    lines = description.split("== Physical Plan ==", 1)[-1].splitlines()
    ops = []
    for line in lines:
        if not line.strip():
            if ops:
                break
            continue
        m = _NODE.match(line)
        if m:
            ops.append(m.group(1))
    return ops


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    from scats_transis_kinesis_spark.plans.registry import queries
    from scats_transis_kinesis_spark.session import get_session

    spark = get_session(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.ui.explainMode": "formatted",
        }
    )
    store = spark._jsparkSession.sharedState().statusStore()
    # The raw registry functions: the wrappers in __spark_entry__
    # switch AQE back on.
    qs = queries()
    seen = store.executionsCount()
    for name in args.names:
        spark.catalog.clearCache()
        qs[name](spark, args.sf_dir).collect()
        total = store.executionsCount()
        execs = store.executionsList(int(seen), int(total - seen))
        seen = total
        print(f"== {name}")
        lines = sorted(
            " > ".join(plan_operators(execs.apply(i).physicalPlanDescription()))
            for i in range(execs.size())
        )
        for line in lines:
            print("  " + line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
