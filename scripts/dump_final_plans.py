"""Dump the POST-EXECUTION (AQE-final) formatted plan for named queries.

Usage: python scripts/dump_final_plans.py [--sf SF_DIR] <outdir> <suffix> query [query ...]

Executes each query once via collect() on its own QueryExecution and
writes the formatted explain to <outdir>/<query>_<suffix>.txt. The
final plan shows the runtime decisions the initial plan cannot:
ReusedExchange / stage reuse, AQEShuffleRead coalescing and AQE join
rewrites; the initial plan follows it under ``== Initial Plan ==``.
Runs real jobs — use on a quiet machine.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opay_datalake_script_spark import get_spark
from opay_datalake_script_spark.registry import QUERIES, load_all_queries


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    spark = get_spark(app_name="final-plan-dump")
    load_all_queries()
    os.makedirs(args.outdir, exist_ok=True)
    for name in args.names:
        df = QUERIES[name](spark, args.sf)
        spark.sparkContext.setJobDescription(f"final-plan: {name}")
        df.collect()  # executes df's own QueryExecution -> final AQE plan
        spark.sparkContext.setJobDescription(None)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        # each scan operator has exactly one numbered details header
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        print(
            f"wrote {path} (ReusedExchange x{plan.count('ReusedExchange')}, "
            f"scans x{n_scans})"
        )


if __name__ == "__main__":
    main()
