"""Dump the POST-EXECUTION (AQE-final) formatted plan for named queries.

Usage: python scripts/dump_final_plans.py <outdir> <suffix> query [query ...]

Unlike dump_plans.py (driver-side initial plan, isFinalPlan=false), this
executes each query once via collect() on its own QueryExecution, so the
dumped plan contains the runtime decisions the initial plan cannot show:
ReusedExchange / stage reuse, AQEShuffleRead coalescing, and AQE join
rewrites. Runs real jobs — use on a quiet machine.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opay_datalake_script_spark import get_spark
from opay_datalake_script_spark.registry import QUERIES, load_all_queries


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__.strip().splitlines()[2])
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="final-plan-dump")
    load_all_queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        spark.sparkContext.setJobDescription(f"final-plan: {name}")
        df.collect()  # executes df's own QueryExecution -> final AQE plan
        spark.sparkContext.setJobDescription(None)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        # exact scan count: each scan's numbered details header "(N) Scan
        # parquet" appears exactly once per operator (the old halved raw
        # count floored odd totals — ADVICE r13)
        import re

        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        print(
            f"wrote {path} (ReusedExchange x{plan.count('ReusedExchange')}, "
            f"scans x{n_scans})"
        )


if __name__ == "__main__":
    main()
