#!/usr/bin/env python
"""sf-differential for a named family of registry IDs. Runs each ID's
Spark query vs its DuckDB oracle at the given fixture dir with the same
comparator pytest uses and prints one line per ID.

Usage: python scripts/diff_sf_family.py [--sf SF_DIR] ID [ID ...]
       python scripts/diff_sf_family.py --family ml   # built-in lists

Built-in families:
  ml       the jobs on the deterministic Lloyd k-means fit, the IVF
           quantizer built on it and the per-label centroids; sf0.1's
           2,000 64-d embeddings are their largest input
  banding  every job on the shared LSH banding helper; sf0.1's
           3921-wide bucket is the one fixture that exercises the
           star + chunked-chain path above the chunk/cap knobs

Every ID runs even when an earlier one fails; the exit code is 1 if
any ID failed.
"""

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

import duckdb  # noqa: E402

from conftest import assert_matches_oracle  # noqa: E402
from opay_datalake_script_spark import get_spark  # noqa: E402
from opay_datalake_script_spark.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    load_all_queries,
)
from opay_datalake_script_spark.schemas import TABLES  # noqa: E402

FAMILIES = {
    "ml": [
        "k_kmeans_clusters",
        "k_semdedup",
        "k_ann_ivf",
        "k_ann_ivf_stats",
        "k_centroid_per_label",
    ],
    "banding": [
        "k_jaccard_pairs",
        "k_near_dedup_lsh",
        "k_lsh_band_candidates",
        "k_ngram_jaccard",
        "k_containment_dedup",
        "k_minhash_jaccard_estimate",
        "k_edit_distance_pairs",
        "k_winnow_candidates",
        "k_image_ahash_dedup",
        "k_incremental_dedup",
        "k_corpus_build_pipeline",
        "k_corpus_dedup_winnow",
    ],
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--family", choices=sorted(FAMILIES) + ["all"],
        help="'all' = every registered ID with an oracle, registry order",
    )
    ap.add_argument("--start", type=int, default=0,
                    help="slice start into the --family all list (tranches)")
    ap.add_argument("--stop", type=int, default=None)
    ap.add_argument("ids", nargs="*")
    args = ap.parse_args()
    ordered = load_all_queries()
    ids = list(args.ids)
    if args.family == "all":
        ids = [n for n in ordered if n in ORACLES][args.start:args.stop] + ids
    elif args.family:
        ids = FAMILIES[args.family] + ids
    if not ids:
        ap.error("no IDs given (use --family or positional IDs)")

    spark = get_spark(app_name="diff-sf-family")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")
    failed = []
    for name in ids:
        sql = ORACLES.get(name)
        if sql is None:
            print(f"{name}: SKIP (no oracle)")
            continue
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, args.sf)
            n = assert_matches_oracle(df, con, sql, name=name)
            print(f"{name}: HASH-OK {n} rows ({time.perf_counter() - t0:.1f} s)")
        except Exception as exc:
            failed.append(name)
            print(f"{name}: FAIL {str(exc)[:300]}")
    spark.stop()
    if failed:
        print(f"FAILED: {' '.join(failed)}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
