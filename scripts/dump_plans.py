"""Dump .explain("formatted") for named queries to files under <outdir>.

Usage: python scripts/dump_plans.py <outdir> <suffix> query [query ...]

Driver-side only: builds each DataFrame and captures its formatted
physical plan; no job runs, so it is safe to run on a loaded machine.
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
    spark = get_spark(app_name="plan-dump")
    load_all_queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
