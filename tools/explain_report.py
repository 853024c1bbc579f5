"""Plan-inspection report: exchanges / joins / pushdown per catalog
query — the .explain('formatted') iteration loop, summarized.

Usage: python tools/explain_report.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from rigatoni_spark.catalog import QUERIES
    from rigatoni_spark.session import get_spark

    spark = get_spark(app_name="explain_report")
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            # execute the df's OWN query execution (collect, not a
            # write — a write clones the QE and the original never
            # finalizes): with AQE the FINAL plan (runtime-coalesced
            # exchanges, chosen join strategies, `*(n)` codegen span
            # markers) only exists after the run
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the adaptive plan string appends the pre-execution
            # "== Initial Plan ==" copy — drop it or every count doubles
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}")
            continue
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        codegen_spans = len(set(re.findall(r"[*]\((\d+)\)", plan)))
        print(
            f"{name}: exchanges={plan.count('Exchange')}"
            f" broadcast_joins={plan.count('BroadcastHashJoin')}"
            f" sortmerge_joins={plan.count('SortMergeJoin')}"
            f" bnl_joins={plan.count('BroadcastNestedLoopJoin')}"
            f" pushed_filters={pushed}"
            f" codegen_spans={codegen_spans}"
            f" final={'isFinalPlan=true' in plan}"
        )
        if only:
            print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
