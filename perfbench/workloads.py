"""The benchmark's workloads: which registered jobs one pass runs, and why.

Every workload is a closed loop with one client thread that submits its
jobs one after another, like a serial Airflow chain. ``--seed`` only
reorders the jobs within each pass; the inputs are the same in every run.

Two workloads, not three: lake ingest and the SQL reports share one
workload, ``lake_etl``. The benchmark is run 22 times per workload
within 57 minutes, and one run here -- process start (about 8 s), the
first pass (13-20 s of class loading and code generation), a second
warm-up pass, the timed window and one more set-up in a fresh process --
needs about a minute on 4 cores. Three workloads would leave 45 s a run.
The job lists are cut from longer design lists for the same reason;
perfbench/README.md names every job left out and why.
"""

from __future__ import annotations

# The job list of each workload; BENCHMARK.json says why it is there.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "lake_etl": (
        "a_cdc_upsert",
        "a_write_audit_publish",
        "i_stream_checkpoint_restart",
        "t_q05_local_supplier",
        "s_hiveql_mapjoin_report",
        "r_funnel_daily",
    ),
    "llm_corpus": (
        "k_minhash_signature",
        "k_embed_near_dup",
        "j_grouped_map",
        "j_map_in_arrow",
    ),
}
