"""Physical-plan quality gates: after correctness, assert the plan shape
that survives a 100x scale-up (pushdown reached the scan, dimensions
broadcast, top-k avoided global sort, scans are column-pruned).
"""

from __future__ import annotations

from opay_datalake_script_spark.plans.inspect import (
    has_pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
    uses_take_ordered,
)
from opay_datalake_script_spark.registry import QUERIES, load_all_queries

from .conftest import SF_DIR

load_all_queries()


def test_scan_projected_pushes_filters_and_prunes(spark):
    df = QUERIES["a_scan_projected"](spark, SF_DIR)
    assert has_pushed_filters(df), "predicates must reach the parquet scan"
    cols = set(read_schema_columns(df))
    assert "c_name" in cols and "c_acctbal" in cols
    assert "c_nationkey" not in cols, "unused columns must be pruned from the scan"


def test_flagship_prunes_to_needed_columns(spark):
    df = QUERIES["d_agg_basic"](spark, SF_DIR)
    cols = set(read_schema_columns(df))
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        "pricing summary reads only flag/status/qty/price/discount/shipdate"
    )
    assert has_pushed_filters(df), "shipdate filter must be pushed to parquet"


def test_broadcast_join_is_broadcast(spark):
    assert uses_broadcast_join(QUERIES["c_join_broadcast"](spark, SF_DIR))


def test_multiway_star_broadcasts_dims(spark):
    assert uses_broadcast_join(QUERIES["c_join_multiway"](spark, SF_DIR))


def test_top_n_avoids_global_sort(spark):
    assert uses_take_ordered(QUERIES["f_top_n"](spark, SF_DIR))


def test_single_shuffle_aggregations(spark):
    """The snapshot-dedup window and the hash-dedup groupBy each need
    exactly ONE shuffle (partial aggregation / windowing on one key);
    a second Exchange would mean a redundant repartition crept in."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["e_dedupe_latest"](spark, SF_DIR)) == 1
    assert count_shuffles(QUERIES["k_exact_dedup"](spark, SF_DIR)) == 1
    assert count_shuffles(QUERIES["d_agg_basic"](spark, SF_DIR)) == 1
    # celebrity-key immunity: snapshot dedup must be
    # a partial-combine AGGREGATE, never a row_number window — a window
    # co-locates a key's full row set and AQE cannot split it
    plan = (
        QUERIES["e_dedupe_latest"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan


def test_salted_join_spreads_key(spark):
    """The salted join's shuffle keys must include the salt column —
    that's the whole point (one hot key -> N reducers)."""
    from opay_datalake_script_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["c_join_skew_salted"](spark, SF_DIR))
    assert "salt" in plan


def test_bucketed_join_is_shuffle_free(spark):
    """The bucketed fact-fact join must not add an Exchange: the only
    shuffle in join+agg is the final 5-group aggregate."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["c_join_bucketed"](spark, SF_DIR)) == 1


def test_asof_and_sessionize_chunked_shapes(spark):
    """Both the as-of forward fill and the sessionizer ride the chunked
    celebrity-immune forms (r8): their event-grain windows key on
    (user_id, _chunk/chunk) — the skew guard — and the chunk-grain
    stitch stages add bounded exchanges; pin the shape and a bounded
    shuffle count, not the old single-shuffle claim."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    asof = QUERIES["c_join_asof"](spark, SF_DIR)
    aplan = (
        asof._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "windowspecdefinition(user_id" in aplan and "_chunk" in aplan
    assert count_shuffles(asof) <= 4
    sess = QUERIES["e_sessionize_batch"](spark, SF_DIR)
    assert count_shuffles(sess) <= 4
    plan = (
        sess._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "windowspecdefinition(user_id" in plan and "chunk" in plan


def test_lsh_single_token_hash_pass(spark):
    """The MinHash token-explode + 16-way md5 pass —
    the one full-corpus map pass of the banded dedup path — must run
    exactly ONCE per execution. Before the isnotnull(doc_id) pin in
    minhash_signatures, the star join's inferred filter pushed below
    one copy of the signature exchange but not below the null-safe
    chain branch's copy, the exchanges canonicalized differently, and
    the token-hash pass executed twice even under AQE stage reuse.
    Pin the property on the EXECUTED (final) plan: one normalized-text
    explode, and the signature exchange reused by the other branches."""
    from .conftest import SMOKE_SF_DIR

    df = QUERIES["k_near_dedup_lsh"](spark, SMOKE_SF_DIR)
    df.collect()  # the final AQE plan exists only after execution
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # the signature subtree's token explode is the only Generate over the
    # NORMALIZED text (the verify side splits raw text without exploding;
    # the chain path explodes a salt literal array). Anchor on the
    # structural pair (Generate node + regexp_replace normalization) per
    # line rather than the exact expression spelling, so a refactor of
    # normalized_text() or a Spark plan-printer change cannot break the
    # test while two signature passes still fail it.
    gen_lines = [
        ln for ln in plan.splitlines()
        if "Generate" in ln and "regexp_replace" in ln
    ]
    assert len(gen_lines) == 1, plan
    assert "ReusedExchange" in plan, plan


def test_lsh_recall_against_exact_jaccard(spark):
    """SURVEY §7.4 risk 5: the banded-LSH near-dup op must cover >= 95%
    of the exact Jaccard >= 0.6 pairs. Ground truth is the UNREGISTERED
    all-pairs scorer (exact_jaccard_pairs_allpairs) — the registered ops
    are themselves banded now, so they cannot serve as their own truth.
    The md5 banding is fully deterministic; this pins recall against
    silent regressions (fewer bands, a hash drift, tokenization drift).
    The component jobs' candidates (uncapped 16 one-hash bands) must
    cover every exact pair: their oracles are all-pairs components."""
    from opay_datalake_script_spark.llmdata.dedup import exact_jaccard_pairs_allpairs
    from opay_datalake_script_spark.llmdata.pipeline import _component_candidates
    from opay_datalake_script_spark.sources.io import load

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs_allpairs(spark, SF_DIR).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["k_near_dedup_lsh"](spark, SF_DIR).collect()
    }
    assert exact, "fixture should contain high-jaccard pairs"
    recall = 1 - len(exact - lsh) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.4f} below bound"

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    cand = {(r["doc_a"], r["doc_b"]) for r in _component_candidates(docs).collect()}
    missed = exact - cand
    assert not missed, f"component candidates miss {len(missed)} of {len(exact)}"


def test_banded_jaccard_ops_have_no_allpairs_join(spark):
    """The standalone exact-Jaccard ops may not ship a
    per-lang all-pairs self-join (O(n_b^2) per block at 100x). Their
    plans must contain no cartesian/nested-loop join and no join keyed
    on lang — every join must key on band/bucket hashes or doc ids."""
    for name in ("k_jaccard_pairs", "k_ngram_jaccard", "k_near_dedup_lsh"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        join_lines = [
            ln for ln in plan.splitlines()
            if "Join" in ln and "Exchange" not in ln
        ]
        assert join_lines, f"{name}: expected equi-joins in plan"
        # Catalyst may fold the residual lang_a = lang_b filter into a
        # doc-keyed equi-join's key list — harmless. The all-pairs smell
        # is a join whose keys mention lang but NO doc/band/bucket key.
        bad = [
            ln.strip()[:120]
            for ln in join_lines
            if "lang" in ln
            and not any(k in ln for k in ("doc", "band", "bucket"))
        ]
        assert not bad, f"{name}: join keyed only on lang (all-pairs block scan): {bad}"


def test_round5_new_ops_plan_shapes(spark):
    """k_substring_dedup: one aggregation shuffle on span hashes, wide
    token arrays projected away before the exchange. k_corpus_shuffle:
    the global ordinal must come from the distributed range-partition
    scheme — no single-partition data-bearing window. k_shard_manifest:
    one 16-row hash agg."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    sub = QUERIES["k_substring_dedup"](spark, SF_DIR)
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    shuf = QUERIES["k_corpus_shuffle"](spark, SF_DIR)
    splan = shuf._jdf.queryExecution().executedPlan().toString()
    # the localCheckpoint inside global_row_number truncates the ranged
    # subtree to Scan ExistingRDD, so pin the visible invariant instead:
    # the rank (a running sum(1)) must partition by _pid (parallel),
    # never run unpartitioned over the corpus; every Window line is
    # checked (the #shards-row offsets window is ordered by _pid too)
    windows = [ln for ln in splan.splitlines() if "Window" in ln]
    assert windows and all("_pid" in ln for ln in windows), windows
    assert any("sum(1)" in ln for ln in windows), windows
    man = QUERIES["k_shard_manifest"](spark, SF_DIR)
    assert count_shuffles(man) == 1
    # grid interval-overlap join (written for the round-7 grid/promo op;
    # re-pointed in round 8 when that op got its own ID after the
    # c_join_interval_overlap shadowing was caught): must plan as a
    # cell-keyed equi-join (hash or sort-merge), never the theta join's
    # broadcast-nested-loop
    ov = QUERIES["c_join_interval_grid"](spark, SF_DIR)
    ovplan = ov._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in ovplan
    assert "CartesianProduct" not in ovplan


def test_quality_filter_pipeline_single_shuffle(spark):
    """The composed quality gate must cost exactly one exchange (the
    content-hash window); the quality predicate itself is map-only."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["k_quality_filter_pipeline"](spark, SF_DIR)) == 1


def test_band_candidate_volume_tracks_true_pairs(spark):
    """The banded candidate set must stay within ~2.5x of the true
    >= 0.6-Jaccard pair volume (measured 1.56x at sf0.01) — the property
    that makes candidates -> verify affordable at 100 TB. A banding bug
    (bucket collision explosion, band-width regression) shows here."""
    from opay_datalake_script_spark.llmdata.dedup import band_candidate_pairs
    from opay_datalake_script_spark.sources.io import load

    d = load(spark, SF_DIR, "documents")
    n_cand = band_candidate_pairs(d.select("doc_id", "text")).count()
    lsh_verified = QUERIES["k_near_dedup_lsh"](spark, SF_DIR).count()
    assert lsh_verified, "fixture should contain near-dup pairs"
    assert n_cand <= 2.5 * lsh_verified / 0.95, (
        f"candidate volume {n_cand} vs ~{lsh_verified} true pairs"
    )


def test_similarity_is_distributed_block_pairs(spark):
    """The exact-cosine ops must run as grouped block-pair tiles on the
    executors — round 1 collected the whole embeddings table to the driver
    (toPandas + broadcast), which OOMs the driver at scale. The physical
    plan must show the Arrow grouped-map operator behind one shuffle, and
    the final top-k must be a TakeOrderedAndProject (k rows per
    partition, no global sort)."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles, formatted_plan

    topk = QUERIES["k_similarity_topk"](spark, SF_DIR)
    assert "FlatMapGroupsInPandas" in formatted_plan(topk)
    assert uses_take_ordered(topk)
    near = QUERIES["k_embed_near_dup"](spark, SF_DIR)
    assert "FlatMapGroupsInPandas" in formatted_plan(near)
    assert count_shuffles(near) == 1


def test_pipeline_ops_plan_shapes(spark):
    """Round-2 training-data ops: chunking and PII scrub must be map-only
    (0 shuffles — they scale with input splits alone); the contamination
    check broadcasts the tiny eval side and shuffles only for the final
    pair-count aggregate."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["k_chunk_documents"](spark, SF_DIR)) == 0
    assert count_shuffles(QUERIES["k_pii_scrub"](spark, SF_DIR)) == 0
    contam = QUERIES["k_contamination_check"](spark, SF_DIR)
    assert count_shuffles(contam) == 1
    assert uses_broadcast_join(contam)


def test_pack_sequences_is_sharded(spark):
    """Sequence packing must NOT serialize each language into a single
    sort task (a lang-partitioned window = #languages tasks forever).
    The full-data window must be keyed by the range-shard
    id `_pid` alongside lang; the only lang-alone window allowed is over
    the tiny per-(shard,lang) offsets table. The checkpointed input hides
    the rangepartitioning node, but the shard key surviving into the
    window spec proves the stitch is active; the oracle test proves the
    stitched cumsum equals the single-stream semantics."""
    df = QUERIES["k_pack_sequences"](spark, SF_DIR)
    from opay_datalake_script_spark.plans.inspect import formatted_plan

    plan = formatted_plan(df)
    assert "_pid" in plan, "packing lost its shard key — lang-only window?"


def test_hiveql_mapjoin_hint_broadcasts(spark):
    """The reference's /*+ MAPJOIN(dim) */ hint, run as HiveQL text, must
    reach the physical plan as broadcast-hash joins."""
    assert uses_broadcast_join(QUERIES["s_hiveql_mapjoin_report"](spark, SF_DIR))


def test_hiveql_dedup_single_shuffle(spark):
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["s_hiveql_binlog_dedup"](spark, SF_DIR)) == 1


def test_partitioned_write_prunes_on_read(spark):
    """A dt-partitioned sink re-read with a dt predicate must prune at
    the partition level (PartitionFilters, not just data filters) — the
    reference's `WHERE dt='...'` daily-job idiom."""
    from pyspark.sql import functions as F

    from opay_datalake_script_spark.plans.inspect import has_partition_filters
    from opay_datalake_script_spark.sources.io import load, scratch_path

    out = scratch_path("plans_pruning", "orders")
    orders = load(spark, SF_DIR, "orders").withColumn(
        "dt", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("dt").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).where(F.col("dt") == "1995-01")
    assert has_partition_filters(back)
    assert back.count() > 0


def test_cluster_by_write_skips_files(spark):
    """a_cluster_by_write: the re-read through the date predicate must
    push the filter to the scan, and the range-clustered layout must let
    row-group stats skip most files — a three-month slice of ~7 years of
    shipdates should read far fewer rows than the table holds."""
    from opay_datalake_script_spark.plans.inspect import has_pushed_filters
    from opay_datalake_script_spark.sources.io import load

    df = QUERIES["a_cluster_by_write"](spark, SF_DIR)
    assert has_pushed_filters(df)
    total = load(spark, SF_DIR, "lineitem").count()
    assert df.count() < 0.1 * total


def test_incremental_agg_single_shuffle_per_run(spark):
    """r_incremental_daily_agg rebuilds one day with a single hash-agg
    shuffle over that day's slice only (the scan must not widen back to
    full history for a daily rerun)."""
    from pyspark.sql import functions as F

    from opay_datalake_script_spark.plans.inspect import count_shuffles
    from opay_datalake_script_spark.sources.io import load

    ev = load(spark, SF_DIR, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    one_day = ev.where(F.col("dt") == "2024-01-15").groupBy("dt", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")
    )
    assert count_shuffles(one_day) == 1
    from opay_datalake_script_spark.plans.inspect import has_pushed_filters

    assert has_pushed_filters(one_day)


def test_window_funnel_no_full_partition_window(spark):
    """e_window_funnel (r8 window-skew wave): the funnel must contain NO
    window operator at all — the old stacked conditional-min windows
    buffered a celebrity user's whole event set in one task (AQE never
    splits a window partition) — and each step scan must push its
    event_type filter down, so the three passes read type slivers
    instead of shuffling every event through a user window."""
    from opay_datalake_script_spark.plans.inspect import formatted_plan

    df = QUERIES["e_window_funnel"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "windowspecdefinition" not in plan.lower() and "Window" not in plan
    assert "event_type" in plan and "PushedFilters" in plan


def test_global_rank_avoids_single_partition_window(spark):
    """f_order_multi / e_ntile: global total-order ranking must run as
    range-repartition + per-partition rank + broadcast offsets — the
    data-bearing Window partitions by spark_partition_id, never a bare
    ORDER BY window that funnels the table through one task. (The only
    unpartitioned window allowed is the #partitions-row offset cumsum.)

    Production inserts a localCheckpoint after the range repartition so
    the counts and rank branches share one materialized partitioning
    (sample-based range bounds must not be computed twice); the
    checkpoint hides the exchange from the final plan, so the range
    shape is pinned on the checkpoint=False form and the checkpointed
    queries are pinned on the _pid window + materialized-scan markers."""
    from opay_datalake_script_spark.operators.relational import global_row_number
    from opay_datalake_script_spark.plans.inspect import formatted_plan
    from opay_datalake_script_spark.sources.io import load

    raw = global_row_number(
        load(spark, SF_DIR, "customer"), "c_acctbal", "c_custkey", checkpoint=False
    )
    raw_plan = formatted_plan(raw)
    assert "rangepartitioning" in raw_plan
    assert "_pid" in raw_plan

    for name in ("f_order_multi", "e_ntile"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "_pid" in plan, name
        assert "existingrdd" in plan.lower(), (
            f"{name}: expected the localCheckpoint materialization scan"
        )


def test_tpch_suite_plan_shapes(spark):
    """The composed TPC-H queries keep the per-operator plan guarantees:
    filters reach the scans, dims broadcast, top-k is TakeOrderedAndProject
    (per-partition heaps), and the multi-join queries stay at one fact
    shuffle — the shape that survives a 100x scale-up."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    q3 = QUERIES["t_q03_shipping_priority"](spark, SF_DIR)
    assert uses_take_ordered(q3), "top-10 must not be a global sort"
    assert has_pushed_filters(q3)

    q5 = QUERIES["t_q05_local_supplier"](spark, SF_DIR)
    assert uses_broadcast_join(q5)
    assert count_shuffles(q5) <= 2, "6-table join must not cascade shuffles"

    q9 = QUERIES["t_q09_product_profit"](spark, SF_DIR)
    assert uses_broadcast_join(q9), "filtered part + nation must broadcast"
    assert count_shuffles(q9) <= 2

    q1 = QUERIES["t_q01_pricing_summary"](spark, SF_DIR)
    assert count_shuffles(q1) == 1, "pricing summary is one partial-agg shuffle"
    assert has_pushed_filters(q1)


def test_ivf_recall_against_exact_knn(spark):
    """IVF ANN must actually find the neighbors: clustering L2-normalized
    vectors (spherical KMeans) with 4-probe search recovers the full
    exact-cosine top-10 at fixture scale. Guards against the
    cluster-on-raw-magnitude regression that silently craters recall."""
    exact = {r["vec_id"] for r in QUERIES["k_knn_query"](spark, SF_DIR).collect()}
    ivf = {r["vec_id"] for r in QUERIES["k_ann_ivf"](spark, SF_DIR).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.2f} below bound"


def test_corpus_dedup_pipeline_no_cartesian(spark):
    """The end-to-end dedup materialization must inherit the banded-LSH
    candidate path: no all-pairs/cartesian join may appear anywhere in
    the composed plan."""
    df = QUERIES["k_corpus_dedup_pipeline"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q11_global_total_is_broadcast_not_window(spark):
    """Q11's share-of-total threshold must come from a 1-row broadcast
    cross join; an empty-partition window would funnel every per-part
    row through a single task at scale."""
    df = QUERIES["t_q11_important_share"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert uses_broadcast_join(df)
    assert "Window" not in plan, "global total must not be a global window"


def test_q15_global_max_is_broadcast_not_window(spark):
    """Q15's scalar max-revenue subquery must be a 1-row broadcast cross
    join against the per-supplier aggregate (Q11's pattern); the previous
    empty-partition window funneled the whole per-supplier table through
    one task — the last single-partition-exchange hot path in the tree."""
    df = QUERIES["t_q15_top_supplier"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert uses_broadcast_join(df)
    assert "Window" not in plan, "global max must not be a global window"
    # the only single-partition exchange allowed is the 1-row agg(max)
    # itself, which moves one partial-max row per partition — the full
    # per-supplier table must never be exchanged to one partition
    assert plan.count("SinglePartition") <= 1


def test_q18_q21_scan_lineitem_once(spark):
    """Q18 and Q21 were rewritten to derive their second aggregate from
    the first instead of rescanning the fact table; pin the single scan
    (a 100 TB rescan is the thing being prevented)."""
    for name in ("t_q18_large_volume_customer", "t_q21_last_shipper"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("lineitem.parquet")
        assert n_scans <= 1, f"{name} scans lineitem {n_scans}x"


def test_round5b_new_ops_plan_shapes(spark):
    """k_gopher_quality_rules: exactly two shuffles (token histogram +
    per-doc rollup), no join anywhere. k_semantic_outlier: the centroid
    join back to the vectors must be a broadcast hash join (centroid
    table is n_labels rows), and the whole op must cost only the
    centroid-cell aggregation shuffles — the embedding scan itself is
    map-side after the broadcast."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    gq = QUERIES["k_gopher_quality_rules"](spark, SF_DIR)
    assert count_shuffles(gq) == 2
    assert "Join" not in gq._jdf.queryExecution().executedPlan().toString()

    so = QUERIES["k_semantic_outlier"](spark, SF_DIR)
    plan = so._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_reaches_scan(spark):
    """a_scan_partition_pruned's dt filter must become PartitionFilters on
    the parquet scan (directory-level pruning — the thing that makes a
    one-month read of a years-deep table cheap), not a post-scan Filter
    over all partitions."""
    df = QUERIES["a_scan_partition_pruned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, plan
    assert any("PartitionFilters: [" in ln and "dt" in ln.split("PartitionFilters:")[1]
               for ln in scan_lines), scan_lines


def test_vocab_and_perplexity_plan_shapes(spark):
    """k_vocab_coverage: every data-bearing window (rank + running sum)
    must partition by _pid — the distributed prefix-sum, never one task
    holding the whole vocab. k_perplexity_buckets: the LM and marginal
    join back to the bigram stream must broadcast (vocabulary-bounded
    sides), not sort-merge the corpus."""
    vc = QUERIES["k_vocab_coverage"](spark, SF_DIR)
    plan = vc._jdf.queryExecution().executedPlan().toString()
    # the rank is a running sum(1) in the same Window as the running
    # count, so every Window line is checked (the #shards-row offsets
    # window is ordered by _pid too)
    windows = [ln for ln in plan.splitlines() if "Window" in ln]
    assert windows and all("_pid" in ln for ln in windows), windows
    assert any("sum(1)" in ln and "sum(cnt" in ln for ln in windows), windows

    pb = QUERIES["k_perplexity_buckets"](spark, SF_DIR)
    pplan = pb._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in pplan
    assert "SortMergeJoin" not in pplan


def test_snapshot_retention_vacuums_v1(spark):
    """After a_snapshot_retention, the expired v1 directory must be gone
    from disk (physical vacuum, not just exclusion from the result) while
    v2/v3 stay readable."""
    import os

    from opay_datalake_script_spark.sources.io import fixture_tag, scratch_dir

    QUERIES["a_snapshot_retention"](spark, SF_DIR).collect()
    root = scratch_dir("snapshots", "ret_" + fixture_tag(SF_DIR))
    assert not os.path.exists(f"{root}/v1")
    assert os.path.exists(f"{root}/v2") and os.path.exists(f"{root}/v3")
    assert spark.read.parquet(f"{root}/v3").count() > 0


def test_round5c_new_ops_plan_shapes(spark):
    """Round-5c batch: k_random_projection must be a pure map-only
    projection (0 shuffles — the sign matrix is plan literals, not a
    broadcast table); k_char_entropy exactly the two doc_id-keyed
    aggregations; k_hard_negatives broadcasts the anchor set (never a
    shuffled join of 8 rows) and spends its one shuffle on the per-
    anchor window; r_user_path_topk forms trigrams in the chunked
    celebrity-immune lead-k form (event-grain window keyed on
    (user_id, chunk); exactly ONE join — the chunk-grain continuation
    fetch, never the naive TWO rank self-joins of the fact stream) and
    finishes with TakeOrderedAndProject."""
    from opay_datalake_script_spark.plans.inspect import (
        count_shuffles,
        uses_broadcast_join,
        uses_take_ordered,
    )

    rp = QUERIES["k_random_projection"](spark, SF_DIR)
    assert count_shuffles(rp) == 0
    assert "Join" not in rp._jdf.queryExecution().executedPlan().toString()

    ce = QUERIES["k_char_entropy"](spark, SF_DIR)
    assert count_shuffles(ce) == 2
    assert "Join" not in ce._jdf.queryExecution().executedPlan().toString()

    hn = QUERIES["k_hard_negatives"](spark, SF_DIR)
    assert uses_broadcast_join(hn)
    assert count_shuffles(hn) == 1
    assert "SortMergeJoin" not in hn._jdf.queryExecution().executedPlan().toString()

    pt = QUERIES["r_user_path_topk"](spark, SF_DIR)
    pplan = pt._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert uses_take_ordered(pt)
    assert "windowspecdefinition(user_id" in pplan and "_chunk" in pplan
    # one continuation join at chunk grain, never two rank self-joins
    import re as _re

    assert len(_re.findall(r"(?:SortMerge|BroadcastHash|ShuffledHash)Join", pplan)) == 1


def test_dynamic_pruning_reaches_scan(spark):
    """a_scan_dynamic_pruning: the fact scan's PartitionFilters must
    carry a DynamicPruningExpression (runtime dim-driven pruning), not
    a literal month list — proving the star-join shape reads 3 month
    directories of ~84 at any scale."""
    df = QUERIES["a_scan_dynamic_pruning"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_lateral_topk_is_decorrelated(spark):
    """c_join_lateral_topk: the correlated LATERAL ORDER BY..LIMIT must
    decorrelate into a window (row_number) + join — one per-row subquery
    execution per outer row would be the plan-shape disaster this op
    exists to disprove."""
    df = QUERIES["c_join_lateral_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "row_number" in plan


def test_round5d_new_ops_plan_shapes(spark):
    """Continuation-session batch invariants: no CartesianProduct
    anywhere; SinglePartition exchanges appear ONLY for 1-row scalar
    aggregates (grand totals / normalizers — the t_q11 broadcast
    pattern), never for data-sized streams; r_pareto_deciles ranks via
    the distributed global_row_number (its data windows are
    _pid-partitioned, not one unpartitioned ORDER BY window);
    d_weighted_median spends exactly its two uniform-key shuffles."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    for name, max_single in [
        ("d_mode", 1),
        ("d_weighted_median", 0),
        # 5 since r11: the two scalar-total aggregates (tw normalizer)
        # plus grouped_row_number's 32-row offsets cumsum — all bounded
        # frames (grand totals / #partitions rows), never data-sized
        ("k_temperature_mixture", 5),
        ("r_pareto_deciles", 3),
        ("k_incremental_dedup", 0),
        ("c_join_asof_nearest", 0),
        ("r_new_vs_returning", 0),
        ("e_anomaly_mad", 0),
    ]:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert plan.count("SinglePartition") <= max_single, (
            f"{name}: unexpected single-partition exchange"
        )

    assert count_shuffles(QUERIES["d_weighted_median"](spark, SF_DIR)) == 2

    pareto = QUERIES["r_pareto_deciles"](spark, SF_DIR)
    pplan = pareto._jdf.queryExecution().executedPlan().toString()
    windows = [ln for ln in pplan.splitlines() if "Window" in ln]
    assert windows and all("_pid" in ln for ln in windows), windows
    assert any("sum(1)" in ln for ln in windows), windows


def test_round5e_new_ops_plan_shapes(spark):
    """Fifth-wave batch invariants: k_mlm_mask must stay map-only (zero
    exchanges); d_corr_covar is one hash-agg shuffle; the CMS probe
    joins the 1,024-cell sketch via broadcast. (The salted-join and
    bucketed-join pins live in test_salted_join_spreads_key /
    test_bucketed_join_is_shuffle_free next to their operators.)"""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["k_mlm_mask"](spark, SF_DIR)) == 0
    assert count_shuffles(QUERIES["d_corr_covar"](spark, SF_DIR)) == 1

    cms = QUERIES["d_count_min_sketch"](spark, SF_DIR)
    cplan = cms._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in cplan, cplan
    assert "CartesianProduct" not in cplan

    attr = QUERIES["r_attribution_linear"](spark, SF_DIR)
    aplan = attr._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in aplan


def test_round5f_new_ops_plan_shapes(spark):
    """Sixth-wave invariants: the bloom prefilter keeps its 1-row
    broadcast probe AND ends in an exact LeftSemi (false positives
    must be cleaned up by a real join, not trusted); span corruption
    is map-only; BM25 moves data only through the top-k
    (TakeOrderedAndProject); KMV has no cartesian and its window is
    group-partitioned."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    bp = QUERIES["c_join_bloom_prefilter"](spark, SF_DIR)
    plan = bp._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "array_contains" in plan, plan

    assert count_shuffles(QUERIES["k_span_corruption"](spark, SF_DIR)) == 0

    bm = QUERIES["k_bm25_topk"](spark, SF_DIR)
    bplan = bm._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in bplan, bplan

    kmv = QUERIES["d_kmv_distinct_sketch"](spark, SF_DIR)
    kplan = kmv._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in kplan
    assert "SinglePartition" not in kplan, kplan

    ltv = QUERIES["r_ltv_cohort"](spark, SF_DIR)
    lplan = ltv._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in lplan


def test_round5g_new_ops_plan_shapes(spark):
    """Seventh-wave invariants: the bitmap overlap has no cartesian and
    its block join is an equi-join; URL canonicalization is map-only +
    one group (<= 1 exchange) and actually UNIFIES the three
    synthesized variant spellings — exactly (5 event types x 20 uids)
    canonical keys, none carrying a default port, tracking param,
    uppercase letter, or trailing slash."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    bm = QUERIES["d_bitmap_audience_overlap"](spark, SF_DIR)
    plan = bm._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    url = QUERIES["k_url_canonicalize"](spark, SF_DIR)
    assert count_shuffles(url) <= 1
    rows = url.collect()
    assert len(rows) == 100, len(rows)
    for r in rows:
        u = r["canonical_url"]
        assert ":443" not in u and "utm_" not in u
        assert u == u.lower()
        assert "/?" not in u and not u.endswith("/")


def test_round5h_new_ops_plan_shapes(spark):
    """Eighth-wave invariants: the interval-overlap join must be the
    BUCKETED form — a hash equi-join on (day, hour) with no
    BroadcastNestedLoopJoin and no CartesianProduct (the quadratic
    same-day join lives only in the DuckDB oracle); the DDL external
    table query plans a CSV FileScan, proving the text-DDL path (not a
    cached DataFrame) feeds the aggregate."""
    iv = QUERIES["c_join_interval_overlap"](spark, SF_DIR)
    plan = iv._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    ddl = QUERIES["s_sql_ddl_external_table"](spark, SF_DIR)
    dplan = ddl._jdf.queryExecution().executedPlan().toString()
    assert "csv" in dplan.lower(), dplan


def test_zorder_files_prune_on_both_dimensions(spark):
    """The Z-order payoff, measured from parquet footers: after the
    clustered rewrite, a predicate selective on EITHER dimension
    (lowest custkey octile / earliest date octile) must overlap a
    strict subset of the 16 files' min/max ranges. A 1-D sort prunes
    only its own column, so BOTH subsets being strict is the
    two-dimensional locality proof."""
    import glob

    import pyarrow.parquet as pq

    from opay_datalake_script_spark.sources.io import SCRATCH_DIR

    QUERIES["a_zorder_clustered_write"](spark, SF_DIR).collect()
    from opay_datalake_script_spark.sources.io import fixture_tag

    files = sorted(
        glob.glob(
            f"{SCRATCH_DIR}/zorder/orders_clustered_{fixture_tag(SF_DIR)}/*.parquet"
        )
    )
    assert len(files) >= 8, files
    stats = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        ck_lo = min(
            md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups)
        )
        ck_hi = max(
            md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups)
        )
        od_lo = min(
            md.row_group(i).column(3).statistics.min for i in range(md.num_row_groups)
        )
        od_hi = max(
            md.row_group(i).column(3).statistics.max for i in range(md.num_row_groups)
        )
        stats.append((ck_lo, ck_hi, od_lo, od_hi))
    cks = [s for st in stats for s in (st[0], st[1])]
    ods = [s for st in stats for s in (st[2], st[3])]
    ck_cut = min(cks) + (max(cks) - min(cks)) // 8
    od_cut = min(ods) + (max(ods) - min(ods)) // 8
    ck_hits = sum(1 for st in stats if st[0] <= ck_cut)
    od_hits = sum(1 for st in stats if st[2] <= od_cut)
    assert ck_hits < len(files), (ck_hits, len(files))
    assert od_hits < len(files), (od_hits, len(files))


def test_round5i_new_ops_plan_shapes(spark):
    """Ninth-wave invariants: edit-distance scoring stays on the banded
    candidate scaffold (no cartesian, doc_id equi-joins only);
    PageRank's per-iteration plan is Pregel-as-joins with no cartesian
    and no single-partition exchange over edge-sized data (the only
    SinglePartition allowed is none — degree/rank tables are
    node-sized and hash-partitioned)."""
    lev = QUERIES["k_edit_distance_pairs"](spark, SF_DIR)
    plan = lev._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan

    pr = QUERIES["d_pagerank_fixed_iters"](spark, SF_DIR)
    pplan = pr._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pplan
    assert "SinglePartition" not in pplan, pplan


def test_global_sort_export_files_are_rank_disjoint(spark):
    """f_global_sort_export's cross-file contract, measured from the
    landed files: reading files in name order, rank ranges must be
    disjoint and ascending (file i's max rank < file i+1's min rank)
    — the property that lets a consumer stream the files as one sorted
    sequence. A hash-partitioned write interleaves ranks and fails."""
    import glob

    import pyarrow.parquet as pq

    from opay_datalake_script_spark.sources.io import SCRATCH_DIR

    QUERIES["f_global_sort_export"](spark, SF_DIR).collect()
    from opay_datalake_script_spark.sources.io import fixture_tag

    files = sorted(
        glob.glob(
            f"{SCRATCH_DIR}/global_sort/orders_ranked_{fixture_tag(SF_DIR)}/*.parquet"
        )
    )
    assert len(files) >= 8, files
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        lo = min(md.row_group(i).column(0).statistics.min
                 for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max
                 for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    # part-file names sort in write order for a range-partitioned write
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, (ranges,)


def test_round5j_new_ops_plan_shapes(spark):
    """Closing-wave invariants: batch inference is map-only (the whole
    point of shipping weights in the closure — zero exchanges);
    tokenizer fertility stays on equi-joins (no cartesian); the XML
    round trip really plans an xml FileScan (not a cached DataFrame);
    theta intersection's only non-equi join is the 5x5 segment-pair
    product over 1-row-per-segment theta tables (benign by size,
    like the t_q11 scalar broadcast)."""
    from opay_datalake_script_spark.plans.inspect import count_shuffles

    assert count_shuffles(QUERIES["j_embedding_score_batch"](spark, SF_DIR)) == 0

    fert = QUERIES["k_tokenizer_fertility"](spark, SF_DIR)
    assert "CartesianProduct" not in (
        fert._jdf.queryExecution().executedPlan().toString()
    )

    xml = QUERIES["a_scan_xml"](spark, SF_DIR)
    xplan = xml._jdf.queryExecution().executedPlan().toString().lower()
    assert "xml" in xplan, xplan


def test_block_pair_count_scales_with_input_rows(spark):
    """The block-pair cosine scaffold must pick
    its block count from the data, not a constant — tiles stay ~4096
    rows per side at any corpus size. Pin the clamp's three regimes and
    that the block count actually grows across the threshold, plus the
    fixture no-op (sf0.01 embeddings still get the validated B=4)."""
    from pyspark.sql import functions as F

    from opay_datalake_script_spark.llmdata.similarity import _auto_blocks
    from opay_datalake_script_spark.sources.io import load as _load

    small = spark.range(100).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    assert _auto_blocks(small) == 4  # floor: fixture-scale shape
    big = spark.range(20_500).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    assert _auto_blocks(big) == 6  # ceil(20500/4096): grows with rows
    assert _auto_blocks(big, target_block_rows=1024) == 21
    huge = spark.range(3_000_000).select(F.col("id").alias("vec_id"))
    assert _auto_blocks(huge) == 256  # ceiling: replication bound
    emb = _load(spark, "/root/testdata/sf0.01", "embeddings")
    assert _auto_blocks(emb) == 4


def test_ddl_external_table_catalog_stays_bounded(spark):
    """Repeated s_sql_ddl_external_table invocations must
    not accumulate uuid temp views — each call drops views more than
    _DDL_VIEW_KEEP generations old, so the catalog stays bounded at
    _DDL_VIEW_KEEP + 1 ext_events views across any number of runs, AND
    an outstanding lazy result stays valid at action time when another
    invocation interleaves before it is consumed (the r7 lifetime
    race: the predecessor's view used to be dropped eagerly)."""
    from opay_datalake_script_spark.operators.hiveql import _DDL_VIEW_KEEP
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    q = QUERIES["s_sql_ddl_external_table"]
    # interleave: build TWO lazy results before consuming either — the
    # older one must still compute after the newer build
    older = q(spark, "/root/testdata/sf0.001")
    newer = q(spark, "/root/testdata/sf0.001")
    assert older.count() > 0  # consumed AFTER the interleaved rebuild
    assert newer.count() > 0
    for _ in range(_DDL_VIEW_KEEP + 3):  # enough runs to cycle the lag
        q(spark, "/root/testdata/sf0.001").count()
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("ext_events_")
    ]
    assert len(views) == _DDL_VIEW_KEEP + 1


def test_ann_grid_recall_against_exact_knn(spark):
    """The deterministic SRP-bucket ANN must find a pinned fraction of
    the exact cosine top-5 per query. Fixture embeddings are near-random
    (top-5 sims ~0.3 — LSH's worst case), so the bound is the measured
    0.65 at probe radius 3 minus slack, not the ~1.0 a clustered corpus
    would give; the point is the probe-and-score pipeline demonstrably
    ranks true neighbors first within its probed space. Also pins the
    plan: candidate selection must be an equi-join on bucket (broadcast
    hash join), never a cross join of queries x corpus."""
    from opay_datalake_script_spark.llmdata.similarity import _ANN_MASKS

    exact = {}
    import numpy as np

    from opay_datalake_script_spark.sources.io import load as _load

    rows = _load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    for qi in range(8):
        qrow = int(np.where(ids == qi)[0][0])
        order = sorted(
            (i for i in range(len(ids)) if i != qrow),
            key=lambda i: (-round(sims[qrow, i], 6), ids[i]),
        )
        exact[qi] = {int(ids[i]) for i in order[:5]}
    got = {}
    df = QUERIES["k_ann_grid"](spark, SF_DIR)
    for r in df.collect():
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.55, f"ANN-grid recall {recall:.2f} below bound"
    assert len(_ANN_MASKS) == 93  # radius-3 probe set over 8 bits
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the corpus-side candidate join must be a hash EQUI-join on bucket;
    # the only nested-loop allowed is the tiny queries x masks probe
    # build (bounded rows, corpus-independent)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin [bucket" in final, plan
    assert final.count("BroadcastNestedLoopJoin") <= 1


def test_ddl_external_table_concurrent_invocations(spark):
    """Registration race: the uuid view name must be registered only AFTER
    the view exists, so concurrent invocations can never evict a
    not-yet-created name (which left the later view untracked and the
    catalog unbounded). Six threads, two build+consume cycles each; no
    errors, every view left in the catalog is tracked by the registry,
    and the catalog stays bounded."""
    import threading

    from opay_datalake_script_spark.operators import hiveql as hq
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from pyspark.errors import AnalysisException

    load_all_queries()
    q = QUERIES["s_sql_ddl_external_table"]
    errors, evicted, consumed = [], [], []

    def worker():
        for _ in range(2):
            try:
                assert q(spark, "/root/testdata/sf0.001").count() > 0
                consumed.append(1)
            except AnalysisException:
                # documented contract: under >_DDL_VIEW_KEEP-way
                # interleaving a caller's view can age out of the lag
                # before it consumes — consume-before-rebuild applies
                evicted.append(1)
            except Exception as ex:  # noqa: BLE001
                errors.append(repr(ex))

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert consumed, "no invocation consumed its result"
    views = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("ext_events_")
    }
    assert len(views) <= hq._DDL_VIEW_KEEP + 1
    # every live view is tracked — nothing escaped the registry
    with hq._DDL_VIEW_LOCK:
        tracked = set(hq._DDL_VIEW_REGISTRY)
    assert views <= tracked, (views, tracked)


def test_topk_window_group_limit_and_knn_take_ordered(spark):
    """Pin two docstring-claimed scale shapes: e_topk_per_group must ride
    WindowGroupLimit (map-side partial limiting keeps <= k rows per
    group through the shuffle-sort — the celebrity-tolerant top-k), and
    k_knn_query's global top-10 must be TakeOrderedAndProject (per-
    partition heads, never a global sort)."""
    topk = (
        QUERIES["e_topk_per_group"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "WindowGroupLimit" in topk, topk
    knn = (
        QUERIES["k_knn_query"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in knn, knn


def test_pair_sides_fetch_contract(spark):
    """Every verify stage fetches its per-doc side through ``pair_sides``:
    each per-doc column ``c`` arrives as ``c_a``/``c_b``, and a candidate
    whose doc is missing from the per-doc side yields no row. The
    per-doc side carries no hint, so at fixture scale the fetch is a
    broadcast join only because Catalyst's autoBroadcastJoinThreshold
    chose it, and with the threshold off both fetch joins shuffle."""
    from opay_datalake_script_spark.llmdata.dedup import (
        normalized_text,
        pair_sides,
    )
    from opay_datalake_script_spark.sources.io import load
    import pyspark.sql.functions as F

    d = load(spark, SF_DIR, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.array_distinct(F.split(normalized_text(), " ")).alias("tset"),
    )
    # checkpointed so the candidate side adds no join of its own to the
    # fetch plan and every collect below sees the same 500 pairs
    cand = d.select(F.col("doc_id").alias("doc_a")).crossJoin(
        d.select(F.col("doc_id").alias("doc_b"))
    ).where(F.col("doc_a") < F.col("doc_b")).orderBy(
        "doc_a", "doc_b"
    ).limit(500).localCheckpoint()

    joined = pair_sides(cand, toks)
    assert uses_broadcast_join(joined), "fixture-scale fetch must broadcast"
    cols = ["doc_a", "doc_b", "lang_a", "lang_b", "tset_a", "tset_b"]
    assert sorted(joined.columns) == cols, joined.columns

    def rows(df):
        return sorted(map(tuple, df.select(cols).collect()))

    a = rows(joined)
    assert len(a) == 500, len(a)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = pair_sides(cand, toks)
        assert not uses_broadcast_join(shuffled), "the fetch carries a hint"
        assert rows(shuffled) == a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # inner joins: a doc missing from the per-doc side drops its pairs
    gone = sorted({r[0] for r in a})[:2] + sorted({r[1] for r in a})[-2:]
    kept = rows(pair_sides(cand, toks.where(~F.col("doc_id").isin(gone))))
    assert kept == [
        r for r in a
        if r[0] not in gone and r[1] not in gone
    ], "a candidate whose doc is missing must yield no row"
    assert len(kept) < len(a)


def _broadcast_joins(df) -> int:
    """BroadcastHashJoin + BroadcastNestedLoopJoin nodes in the frame's
    physical plan (the initial plan: the frame is not executed)."""
    plan = _plan_str(df)
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


# qid -> (broadcast joins at the session threshold, broadcast joins with
# autoBroadcastJoinThreshold=-1, i.e. the hard F.broadcast hints alone).
# Every job here joins a side that grows with the corpus/SF and carries
# no hint. Not listed: the jobs whose unhinted join runs inside the
# build, behind a localCheckpoint, so the returned plan does not contain
# it (a_snapshot_time_travel, k_interleave_sources,
# k_cluster_size_histogram, k_dedup_components, k_dedup_keep_best,
# k_corpus_dedup_pipeline, k_corpus_dedup_winnow,
# k_corpus_build_pipeline); their oracle tests check the results.
_UNHINTED_BROADCAST_COUNTS = {
    "a_cdc_upsert": (1, 0),
    "c_join_broadcast": (1, 0),
    "c_join_multiway": (4, 2),
    "c_join_range": (1, 0),
    "d_percentile_disc": (3, 2),
    "i_stream_static_join": (1, 0),
    "k_bigram_logprob": (1, 0),
    "k_bpe_encode": (1, 0),
    "k_containment_dedup": (5, 0),
    "k_contamination_check": (1, 0),
    "k_cross_dedup": (1, 0),
    "k_domain_mixture": (4, 3),
    "k_edit_distance_pairs": (5, 0),
    "k_image_ahash_dedup": (5, 0),
    "k_incremental_dedup": (7, 0),
    "k_jaccard_pairs": (5, 0),
    "k_minhash_jaccard_estimate": (7, 0),
    "k_near_dedup_lsh": (5, 0),
    "k_ngram_jaccard": (5, 0),
    "k_perplexity_buckets": (2, 0),
    "k_temperature_mixture": (7, 6),
    "k_tfidf_topterms": (1, 0),
    "k_tokenize_to_ids": (2, 1),
    "k_tokenizer_fertility": (2, 0),
    "r_ads_daily_report": (2, 1),
    "t_q02_min_cost_supplier": (8, 4),
    "t_q08_market_share": (7, 3),
    "t_q09_product_profit": (4, 1),
    "t_q14_promo_effect": (1, 0),
    "t_q16_part_supplier_breadth": (1, 0),
    "t_q17_small_quantity_revenue": (1, 0),
    "t_q19_discounted_revenue": (1, 0),
    "t_q20_heavy_widget_shippers": (1, 0),
    "t_q21_last_shipper": (2, 0),
}


def test_unhinted_sides_broadcast_under_the_session_threshold(spark):
    """Corpus-growing join sides carry no broadcast hint: Catalyst's
    autoBroadcastJoinThreshold (64 MB, session.py) is the one size-based
    broadcast policy. At fixture scale it broadcasts those sides (first
    column); with the threshold off, only the hard-hinted bounded sides
    stay broadcast (second column) — an unconditional hint on a
    corpus-growing side would keep its broadcast there and fail.

    The counts depend on Catalyst's size estimates and join selection
    and were probed on pyspark 4.1.x; after a Spark upgrade re-probe
    them."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    got = {}
    try:
        for q in _UNHINTED_BROADCAST_COUNTS:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            at_threshold = _broadcast_joins(QUERIES[q](spark, SF_DIR))
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            got[q] = (at_threshold, _broadcast_joins(QUERIES[q](spark, SF_DIR)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == _UNHINTED_BROADCAST_COUNTS


# ---------------------------------------------------------------------------
# Hard-broadcast site inventory
# ---------------------------------------------------------------------------
# An explicit ``F.broadcast`` is a COMMAND Catalyst obeys and AQE never
# demotes, so every hard hint must sit on a side whose row count is
# bounded by something that does NOT grow with the corpus/SF. A
# corpus-growing side takes NO hint: Catalyst's
# autoBroadcastJoinThreshold (session.py) broadcasts it while its
# estimate is small and shuffles past that. One such side once slipped
# through in ~40 (the Heaps-law vocab in k_tokenize_to_ids) because the
# classification lived in prose. This inventory makes it code: every
# hard ``F.broadcast(`` call site in the package must appear below with
# a boundedness class, and any NEW site fails the test until a human
# classifies it (or drops the hint).
#
# Taxonomy (the bound that keeps the side broadcast-safe at 100 TB):
#   scalar    — O(1) rows: global aggregate totals, sketch rows, modes
#   domain    — bounded by a fixed data domain: 5 regions / 25 nations,
#               event types, order priorities, calendar days, langs,
#               sources (stratum maps carry the loud 10k cap,
#               sampling.py)
#   partition — O(#shuffle-partitions) rows: prefix-count offset maps
#   cap       — bounded by an explicit code constant: Misra-Gries
#               candidates (est >= total/64 threshold), DSIR hash
#               buckets, count-min cells (w*d), ANN probe list (k*p),
#               bloom/theta/KMV sketch aggregates
#   query     — O(1) user-supplied rows: the query vector / clip bounds

_BROADCAST_TAXONOMY = {"scalar", "domain", "partition", "cap", "query"}

# (module relpath, enclosing qualname, broadcast argument) -> class
_HARD_BROADCAST_SITES = {
    ("llmdata/multimodal.py", "k_multimodal_join", "q"): "query",
    ("llmdata/pipeline.py", "k_corpus_build_pipeline", "quota"): "domain",
    ("llmdata/pipeline.py", "k_corpus_build_pipeline", "tot"): "scalar",
    ("llmdata/pipeline.py", "k_corpus_build_pipeline", "tw"): "scalar",
    ("llmdata/pipeline.py", "k_tokenize_capped_vocab", "vocab"): "cap",
    ("llmdata/sampling.py", "k_domain_mixture", "quota"): "domain",
    ("llmdata/sampling.py", "k_dsir_importance_weights", "terms"): "cap",
    ("llmdata/sampling.py", "k_dsir_importance_weights", "totals"): "scalar",
    ("llmdata/sampling.py", "k_temperature_mixture", "quota"): "domain",
    ("llmdata/sampling.py", "k_temperature_mixture", "tot"): "scalar",
    ("llmdata/sampling.py", "k_temperature_mixture", "tw"): "scalar",
    ("llmdata/similarity.py", "_kmeans_assign", "packed"): "cap",
    ("llmdata/similarity.py", "semdedup", "cents"): "cap",
    ("llmdata/similarity.py", "k_ann_grid", "probes"): "cap",
    ("llmdata/similarity.py", "k_ann_ivf", "q"): "query",
    ("llmdata/similarity.py", "k_hard_negatives", "q"): "query",
    ("llmdata/similarity.py", "k_knn_query", "q"): "query",
    ("llmdata/similarity.py", "k_semantic_outlier", "cent"): "cap",
    ("llmdata/textstats.py", "k_bm25_topk", "stats"): "scalar",
    ("llmdata/textstats.py", "k_unigram_logprob", "tot"): "scalar",
    ("llmdata/textstats.py", "k_vocab_coverage", "total"): "scalar",
    ("llmdata/textstats.py", "k_winsorize_clip", "q"): "scalar",
    ("operators/aggregates.py", "d_count_min_sketch", "cells"): "cap",
    ("operators/aggregates.py", "d_heavy_hitters", "cand"): "cap",
    ("operators/aggregates.py", "d_kmv_distinct_sketch", "exact"): "scalar",
    ("operators/aggregates.py", "d_kmv_distinct_sketch", "nd"): "domain",
    ("operators/aggregates.py", "d_kmv_sketch_merge", "direct"): "scalar",
    ("operators/aggregates.py", "d_kmv_sketch_merge", "merged"): "scalar",
    ("operators/aggregates.py", "d_mode", "pmode"): "domain",
    ("operators/aggregates.py", "d_rollup", "n"): "domain",
    ("operators/aggregates.py", "d_rollup", "r"): "domain",
    ("operators/aggregates.py", "d_string_agg", "n"): "domain",
    ("operators/aggregates.py", "d_theta_sketch_intersection", "sa"): "scalar",
    ("operators/aggregates.py", "d_theta_sketch_intersection", "sb"): "scalar",
    ("operators/joins.py", "c_join_bloom_prefilter", "bloom"): "scalar",
    ("operators/joins.py", "c_join_multiway", "n"): "domain",
    ("operators/joins.py", "c_join_multiway", "r"): "domain",
    ("operators/joins.py", "c_join_null_safe", "dim"): "domain",
    ("operators/relational.py", "global_running_sums", "offsets"): "partition",
    ("operators/reports.py", "r_ads_daily_report", "n"): "domain",
    ("operators/reports.py", "r_dq_anomaly_zscore", "s"): "scalar",
    ("operators/reports.py", "r_dq_referential", "n"): "domain",
    ("operators/reports.py", "r_ltv_cohort", "sizes"): "domain",
    ("operators/reports.py", "r_pareto_deciles", "n_row"): "scalar",
    ("operators/reports.py", "r_pareto_deciles", "total"): "scalar",
    ("operators/tpch.py", "t_q02_min_cost_supplier", "n"): "domain",
    ("operators/tpch.py", "t_q02_min_cost_supplier", "r"): "domain",
    ("operators/tpch.py", "t_q05_local_supplier", "n"): "domain",
    ("operators/tpch.py", "t_q05_local_supplier", "r"): "domain",
    ("operators/tpch.py", "t_q07_volume_shipping", "n1"): "domain",
    ("operators/tpch.py", "t_q07_volume_shipping", "n2"): "domain",
    ("operators/tpch.py", "t_q08_market_share", "n1"): "domain",
    ("operators/tpch.py", "t_q08_market_share", "n2"): "domain",
    ("operators/tpch.py", "t_q08_market_share", "r"): "domain",
    ("operators/tpch.py", "t_q09_product_profit", "n"): "domain",
    ("operators/tpch.py", "t_q10_returned_items", "n"): "domain",
    ("operators/tpch.py", "t_q11_important_share", "n"): "domain",
    ("operators/tpch.py", "t_q11_important_share", "r"): "domain",
    ("operators/tpch.py", "t_q11_important_share", "total"): "scalar",
    ("operators/tpch.py", "t_q15_top_supplier", "mx"): "scalar",
    ("operators/tpch.py", "t_q22_idle_rich_customers", "avg_bal"): "scalar",
    ("operators/windows.py", "e_anomaly_mad", "mad"): "domain",
    ("operators/windows.py", "e_anomaly_mad", "med"): "domain",
    ("operators/windows.py", "e_ntile", "tot"): "scalar",
    ("sources/io.py", "a_scan_dynamic_pruning", "dim"): "domain",
}


def _hard_broadcast_sites():
    """AST-walk the package for every hard broadcast call site, keyed by
    (module relpath, enclosing function qualname, unparsed first arg).
    Line numbers are deliberately NOT part of the key — the inventory
    must not rot under unrelated edits.

    Matched spellings (the literal ``F.broadcast`` filter
    alone would let a renamed import bypass the inventory): any
    ``*.broadcast(...)`` attribute call (F./functions./sc. — a
    SparkContext broadcast VARIABLE is memory-bounded by the same
    argument, so it needs a class too), a bare ``broadcast(...)`` from
    ``from pyspark.sql.functions import broadcast``, and
    ``df.hint("broadcast")`` (keyed by the unparsed receiver)."""
    import ast
    import collections
    import os

    import opay_datalake_script_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    sites = collections.Counter()

    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read())

            def walk(node, stack, rel=rel):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    stack = stack + [node.name]
                if isinstance(node, ast.Call):
                    f = node.func
                    is_broadcast_fn = (
                        isinstance(f, ast.Attribute) and f.attr == "broadcast"
                    ) or (isinstance(f, ast.Name) and f.id == "broadcast")
                    is_broadcast_hint = (
                        isinstance(f, ast.Attribute)
                        and f.attr == "hint"
                        and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and str(node.args[0].value).lower() == "broadcast"
                    )
                    if is_broadcast_fn:
                        arg = ast.unparse(node.args[0]) if node.args else "?"
                        sites[(rel, ".".join(stack) or "<module>", arg)] += 1
                    elif is_broadcast_hint:
                        arg = ast.unparse(f.value)
                        sites[(rel, ".".join(stack) or "<module>", arg)] += 1
                for ch in ast.iter_child_nodes(node):
                    walk(ch, stack)

            walk(tree, [])
    return sites


def test_every_hard_broadcast_site_is_classified_bounded():
    """Every hard ``F.broadcast`` call site must carry a boundedness
    class in ``_HARD_BROADCAST_SITES``. A new unclassified site fails
    here until reviewed: if its side grows with the corpus/SF, drop the
    hint and let autoBroadcastJoinThreshold decide (the
    k_tokenize_to_ids lesson); if genuinely bounded, add it with the
    right class. Stale entries (site removed/renamed) fail too, so the
    inventory is exact, not a lower bound."""
    actual = _hard_broadcast_sites()
    unclassified = set(actual) - set(_HARD_BROADCAST_SITES)
    stale = set(_HARD_BROADCAST_SITES) - set(actual)
    assert not unclassified, (
        "NEW hard F.broadcast site(s) with no boundedness classification "
        "(a corpus-growing side takes no hint; autoBroadcastJoinThreshold "
        f"decides): {sorted(unclassified)}"
    )
    assert not stale, (
        f"stale inventory entries for removed/renamed sites: {sorted(stale)}"
    )
    bad = {k: v for k, v in _HARD_BROADCAST_SITES.items() if v not in _BROADCAST_TAXONOMY}
    assert not bad, f"unknown boundedness class: {bad}"
    # one call site per (module, function, arg) key: a second broadcast
    # of the same name in the same function would hide behind the first
    dupes = {k: c for k, c in actual.items() if c > 1}
    assert not dupes, (
        "duplicate (module, function, arg) broadcast sites — key them "
        f"apart (rename the locals): {dupes}"
    )


# The one schema-less parquet read in the package: schema inference
# across generations is what a_scan_schema_evolution tests.
_INFERRED_PARQUET_READS = {("sources/io.py", "a_scan_schema_evolution")}


def test_every_parquet_read_back_names_its_schema():
    """A ``spark.read...parquet(path)`` chain with no ``.schema(...)``
    starts a Spark job to infer the schema from parquet footers, even for
    one file. Every read in the package passes the schema it knows (the
    frame it wrote, or the table's declared schema), so this fails on any
    such chain outside ``_INFERRED_PARQUET_READS``, and on a stale entry
    there."""
    import ast
    import os

    import opay_datalake_script_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    found = set()
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read())

            def walk(node, stack, rel=rel):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    stack = stack + [node.name]
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                ):
                    chain, link = [], node.func.value
                    while isinstance(link, (ast.Call, ast.Attribute)):
                        if isinstance(link, ast.Attribute):
                            chain.append(link.attr)
                            link = link.value
                        else:
                            link = link.func
                    if "read" in chain and "schema" not in chain:
                        found.add((rel, ".".join(stack) or "<module>", node.lineno))
                for ch in ast.iter_child_nodes(node):
                    walk(ch, stack)

            walk(tree, [])
    bad = sorted(site for site in found if site[:2] not in _INFERRED_PARQUET_READS)
    assert not bad, f"spark.read...parquet( with no .schema( (pass the schema written): {bad}"
    stale = _INFERRED_PARQUET_READS - {site[:2] for site in found}
    assert not stale, f"stale allow-list entries: {sorted(stale)}"


def test_kmv_and_percentile_disc_avoid_whole_group_windows(spark):
    """r11: two more docstring-claimed scale shapes pinned. (1)
    d_kmv_distinct_sketch's rank window must ride WindowGroupLimit —
    the old count(*) OVER in the same spec defeated the pushdown and
    sorted each event type's full distinct-hash set in one task; nd now
    joins back from an aggregate. (2) d_percentile_disc must carry NO
    window partitioned by o_orderpriority at all (the grouped rank
    rides global_row_number's range repartition; its only windows are
    the _pid-local rank and the 32-row offsets cumsum)."""
    kmv = (
        QUERIES["d_kmv_distinct_sketch"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "WindowGroupLimit" in kmv, kmv
    pd_plan = (
        QUERIES["d_percentile_disc"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    import re

    offenders = [
        ln for ln in pd_plan.splitlines()
        if re.search(r"\bWindow(GroupLimit)?\b", ln) and "o_orderpriority#" in ln
        and "_pid" not in ln  # the _pid-local rank legitimately lists
        # o_orderpriority in its (inline-printed) partition spec
    ]
    assert not offenders, offenders


def test_ivf_unit_norm_is_hoisted_out_of_the_lambda(spark):
    """The unit-normalization norm must be computed ONCE per row as its
    own column, never inside the per-element transform lambda:
    higher-order-function lambdas are evaluated per element and
    CollapseProject re-inlines a single-referenced alias back into the
    lambda body, turning normalization into O(dims^2) work per row
    (probed on Spark 4.1). _unit_earr blocks the inline by
    double-referencing vnorm; this pin fails if anyone 'simplifies'
    that away."""
    from opay_datalake_script_spark.llmdata.similarity import _unit_earr

    plan = (
        _unit_earr(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    assert "transform(vraw" in plan
    seg = plan.split("transform(vraw", 1)[1]
    seg = seg.split(" AS ", 1)[0]  # the transform expression only
    assert "aggregate(" not in seg, "norm re-inlined into the division lambda"


def test_lateral_subquery_decorrelates(spark):
    """The correlated LATERAL top-1 (s_sql_lateral_subquery) must plan
    as a decorrelated equi-join + per-key limit, never a per-customer
    nested loop: no CartesianProduct and no BroadcastNestedLoopJoin
    anywhere (Catalyst's DecorrelateInnerQuery handles the LIMIT), and
    SOME equi-join on the correlation key present — hash or sort-merge,
    whichever the planner picks at the active SF/config (the invariant
    is decorrelation, not the join strategy)."""
    plan = (
        QUERIES["s_sql_lateral_subquery"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q2_keeper_is_composite_key_join_not_window(spark):
    """The last UNBOUNDED-width keeper window is
    gone (q17/q21 keep theirs: their partition widths are per-part /
    per-order line counts, measured FLAT across 100x SF — 48/49/53 and
    12/13/17 at sf0.001/0.01/0.1 — where q2's supplier sets grew). t_q02's
    per-part min-supplier selection ran as min(s_acctbal) OVER
    (PARTITION BY p_partkey); real TPC-H bounds that partition at 4
    suppliers/part, but the synthetic fixtures DON'T follow the
    partsupp construction (measured max distinct suppliers/part: 10 at
    sf0.001, 41 at sf0.01, 52 at sf0.1 — growing with SF), so the
    window was the same few-giant-groups sort-task cliff the r11
    keeper conversions removed elsewhere. The groupBy-min + join-back
    rewrite lets Catalyst fold `s_acctbal = mn` INTO the join
    condition, so the keeper executes as an equi-join keyed on
    (normalized s_acctbal, p_partkey) — finer than the window's
    p_partkey partitioning: a mega-part's suppliers spread across
    tasks by balance. Pin, in BOTH broadcast regimes: no Window, no
    cartesian/nested-loop, and the keeper join carries the composite
    key."""
    import re

    def check(plan):
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        keeper = [
            ln
            for ln in plan.splitlines()
            if re.search(r"(SortMergeJoin|BroadcastHashJoin) \[", ln)
            and "s_acctbal" in ln
            and "p_partkey" in ln
        ]
        assert keeper, f"no composite-key keeper join found:\n{plan}"

    df = QUERIES["t_q02_min_cost_supplier"](spark, SF_DIR)
    check(_plan_str(df))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        check(_plan_str(QUERIES["t_q02_min_cost_supplier"](spark, SF_DIR)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_weighted_median_window_input_is_value_grid(spark):
    """d_weighted_median's surviving window is
    value-domain-bounded BY PLAN SHAPE, not by hope: the cumulative
    window must consume the per-(group, value) pre-aggregate, never
    the raw lineitem stream. In the executed-plan tree (children print
    BELOW parents), every Window node must have a HashAggregate keyed
    on (g, val) strictly below it, so the window input is at most
    |value domain| rows per group no matter how many fact rows exist.
    If someone 'simplifies' the pre-agg away, the window would sort
    the full fact stream in |groups| tasks and this pin fails."""
    plan = _plan_str(QUERIES["d_weighted_median"](spark, SF_DIR))
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    assert win_idx, plan
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "HashAggregate(keys=[g#" in ln and "val#" in ln
    ]
    assert agg_idx, f"no (g, val) pre-aggregate in plan:\n{plan}"
    assert all(any(a > w for a in agg_idx) for w in win_idx), (
        f"window consumes a non-preaggregated input:\n{plan}"
    )


def test_ltv_cohort_window_input_is_age_grid(spark):
    """r_ltv_cohort's cumulative-revenue window
    partitions on cohort_day ordered by day_age; its width bound is
    the corpus day-span (the (cohort_day x day_age) grid), which only
    holds while the window consumes the per-(cohort_day, day_age)
    aggregate. Same tree-order pin as the weighted median: every
    Window has a HashAggregate keyed on (cohort_day, day_age) strictly
    below it — a million-user cohort still feeds the window at most
    `horizon` rows."""
    plan = _plan_str(QUERIES["r_ltv_cohort"](spark, SF_DIR))
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    assert win_idx, plan
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "HashAggregate(keys=[cohort_day#" in ln and "day_age#" in ln
    ]
    assert agg_idx, f"no (cohort_day, day_age) pre-aggregate:\n{plan}"
    assert all(any(a > w for a in agg_idx) for w in win_idx), (
        f"cumulative window consumes a non-preaggregated input:\n{plan}"
    )


def test_fixture_width_bounds_canary(spark):
    """Round-12 lesson, made a tripwire: q2's 'bounded by TPC-H
    construction' adjudication was WRONG for the synthetic fixtures
    (suppliers/part measured 52 at sf0.1, growing with SF), and only a
    measurement caught it. The q17/q21 windows stay adjudicated on
    measured-flat fixture widths (lineitems/part 48/49/53,
    lineitems/order 12/13/17 across sf0.001/0.01/0.1). This canary
    fails if a future fixture generation breaks those widths past the
    adjudication margin — at which point q17/q21 need the q2 treatment
    (conversion or re-adjudication), not silent trust."""
    from pyspark.sql import functions as F

    from opay_datalake_script_spark.sources.io import load

    li = load(spark, SF_DIR, "lineitem")
    part_w = (
        li.groupBy("l_partkey").count().agg(F.max("count")).collect()[0][0]
    )
    order_w = (
        li.groupBy("l_orderkey").count().agg(F.max("count")).collect()[0][0]
    )
    assert part_w <= 96, (
        f"lineitems/part max {part_w}: q17's per-part window adjudication"
        " is void — convert it like t_q02 (r12)"
    )
    assert order_w <= 32, (
        f"lineitems/order max {order_w}: q21's per-order window"
        " adjudication is void — convert it like t_q02 (r12)"
    )
