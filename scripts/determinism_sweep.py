#!/usr/bin/env python
"""Full-registry determinism sweep: run EVERY registered query twice on
one warm session and compare normalized result sets (the r8 standing
invariant, made a repeatable artifact instead of an ad-hoc harness).

Nondeterminism here is the class the oracle hash can't always catch on
a single run — ties broken by partition order, collect_list ordering,
floating reassociation — and it breaks the §9 SCALE_DESIGN guarantee
(same bytes on 1 machine or 1000 executors).

Usage: python scripts/determinism_sweep.py [sf_dir] [start] [stop]
       (defaults: /root/testdata/sf0.01, full registry; start/stop
        slice the ordered registry for tranche runs)
Prints one line per query; exits 1 if any query diverges.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from conftest import normalized_rows  # noqa: E402

from opay_datalake_script_spark import get_spark  # noqa: E402
from opay_datalake_script_spark.registry import (  # noqa: E402
    QUERIES,
    load_all_queries,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = list(load_all_queries())
    if len(sys.argv) > 3:
        names = names[int(sys.argv[2]) : int(sys.argv[3])]
    spark = get_spark(app_name="determinism-sweep")
    bad: list[str] = []
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        try:
            a = normalized_rows(QUERIES[name](spark, sf_dir).toPandas())
            b = normalized_rows(QUERIES[name](spark, sf_dir).toPandas())
            ok = a == b
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"{i:3d} {name}: ERROR {str(exc).splitlines()[0][:160]}",
                  flush=True)
            bad.append(name)
            continue
        if not ok:
            bad.append(name)
        print(
            f"{i:3d} {name}: {'OK' if ok else 'DIVERGED'} "
            f"({time.perf_counter() - t0:.1f} s)",
            flush=True,
        )
    print(f"swept {len(names)} queries, {len(bad)} nondeterministic/errored: {bad}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
