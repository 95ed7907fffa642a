"""Differential test: every oracle-checkable query ID vs DuckDB at sf0.01.

Mirrors the driver's correctness gate locally (SURVEY.md §5.2) so hash
mismatches surface before the driver runs. Rows-only query IDs get a
non-empty/shape smoke check instead.
"""

from __future__ import annotations

import pytest

from opay_datalake_script_spark.plans.inspect import scale_shapes
from opay_datalake_script_spark.registry import ORACLES, QUERIES, load_all_queries

from .conftest import (
    SF_DIR,
    SMOKE_SF_DIR,
    assert_matches_oracle,
    assert_no_nonscalar_columns,
)
from .test_plans import _BROADCAST_TAXONOMY

load_all_queries()

ORACLE_IDS = sorted(ORACLES)
ROWS_ONLY_IDS = sorted(set(QUERIES) - set(ORACLES))

# Plan shapes that send a whole input through one task, where that input
# does not grow with the corpus: (job, shape) -> (class from
# _BROADCAST_TAXONOMY, reason). Exact, like _HARD_BROADCAST_SITES.
_SCALE_SHAPES_ALLOWED = {
    ("c_join_cross", "nested-loop"): ("domain", "5 regions x the order statuses"),
    ("d_theta_sketch_intersection", "nested-loop"): ("domain", "theta rows per segment"),
    ("r_ab_test_lift", "nested-loop"): ("domain", "the 2-row per-arm table"),
    ("k_knn_query", "nested-loop"): ("query", "the query vector x the corpus"),
    ("k_hard_negatives", "nested-loop"): ("query", "8 query vectors x the corpus"),
    ("k_ann_ivf", "nested-loop"): ("query", "the query vector x the probed buckets"),
    ("k_multimodal_join", "nested-loop"): ("query", "the query vector x the images"),
    ("k_ann_grid", "nested-loop"): ("cap", "the constant hamming-ball probe masks"),
    ("k_dsir_importance_weights", "nested-loop"): ("scalar", "the 1-row totals cross join"),
    ("r_mom_yoy_report", "window"): ("domain", "lags over one row per month"),
    ("r_mom_yoy_report", "single-partition"): ("domain", "gathers the month rows"),
    ("r_revenue_bridge", "window"): ("domain", "lags over one row per month"),
    ("r_revenue_bridge", "single-partition"): ("domain", "gathers the month rows"),
}


def assert_scale_shapes(name, df):
    """Fail, naming the job and the plan lines, on a shape of ``df``'s
    plan that has no entry for job ``name``, or on a stale entry."""
    assert {c for c, _ in _SCALE_SHAPES_ALLOWED.values()} <= _BROADCAST_TAXONOMY
    assert {job for job, _ in _SCALE_SHAPES_ALLOWED} <= set(QUERIES)
    found = scale_shapes(df)
    allowed = {shape for job, shape in _SCALE_SHAPES_ALLOWED if job == name}
    unlisted = {s: lines for s, lines in found.items() if s not in allowed}
    assert not unlisted, f"{name}: whole input through one task: {unlisted}"
    assert allowed <= set(found), f"{name}: stale entries {allowed - set(found)}"


# Fast default tier: the FULL differential sweep at sf0.001 — every
# registered op against its DuckDB twin, seconds per op. The sf0.01
# battery below is the same sweep at 10x the data (minutes per op for
# the iterative pipelines) and runs as the opt-in slow tier; the driver
# re-checks at sf0.01 itself, so default-tier green + slow-tier green at
# round end predicts driver green (pytest.ini has the tier contract).
@pytest.mark.parametrize("name", ORACLE_IDS)
def test_oracle_match(spark, smoke_oracle_con, name):
    df = QUERIES[name](spark, SMOKE_SF_DIR)
    assert_matches_oracle(df, smoke_oracle_con, ORACLES[name], name=name)
    # same QueryExecution as the collect above: the final AQE plan
    assert_scale_shapes(name, df)


@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_runs(spark, name):
    df = QUERIES[name](spark, SMOKE_SF_DIR)
    assert_scale_shapes(name, df)
    assert_no_nonscalar_columns(df, name)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_IDS)
def test_oracle_match_sf01(spark, oracle_con, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, oracle_con, ORACLES[name], name=name)


@pytest.mark.slow
@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_runs_sf01(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_no_nonscalar_columns(df, name)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_scale_shape_check_flags_unpartitioned_window(spark):
    """An unpartitioned window fails the check, naming the job and the
    plan line; the same window partitioned passes."""
    from pyspark.sql import Window, functions as F

    from opay_datalake_script_spark.sources.io import load

    orders = load(spark, SMOKE_SF_DIR, "orders")
    order = Window.orderBy("o_orderdate", "o_orderkey")
    planted = orders.select(F.row_number().over(order).alias("rn"))
    partitioned = orders.select(F.row_number().over(order.partitionBy("o_custkey")))
    for df in (planted, partitioned):
        df.collect()
    with pytest.raises(AssertionError, match=r"planted: .*Window \[row_number"):
        assert_scale_shapes("planted", planted)
    assert_scale_shapes("planted", partitioned)


def test_dtype_gate_catches_uncast_hugeint(spark, oracle_con):
    """The local gate must fail when an oracle returns HUGEINT (float64 in
    pandas) against a Spark bigint, even though every VALUE matches — the
    exact failure class that reached the driver in rounds 3-4
    (t_q12_late_lines_by_priority / k_line_dedup)."""
    from pyspark.sql import functions as F

    sdf = spark.range(1).select(F.lit(1).cast("long").alias("v"))
    with pytest.raises(AssertionError, match="dtype kind"):
        # DuckDB sum(1) is HUGEINT -> float64; values identical (1 == 1.0)
        assert_matches_oracle(sdf, oracle_con, "SELECT sum(1) AS v", name="gate")


def test_lsh_cap_oracle_mirror_under_active_cap(spark):
    """The default cap (1024) is never reached by fixture buckets, so the
    plain oracle tests only prove the no-op regime. Force the cap DOWN
    to 64 on both sides (engine arg; oracle rebuilt by the
    cap-parameterized _band_cand_ctes builder — no string surgery) and
    require the star-expanded candidate sets to match exactly — the
    proof that the engine's aggregate-sized star join and the oracle's
    bsz/hub predicate express the same capped semantics."""
    from opay_datalake_script_spark.llmdata.dedup import (
        _band_cand_ctes,
        band_candidate_pairs,
    )
    from opay_datalake_script_spark.sources.io import load as _load

    capped_sql = f"WITH {_band_cand_ctes(64)} SELECT doc_a, doc_b FROM band_cand"
    import duckdb

    docs = _load(spark, SMOKE_SF_DIR, "documents")
    df = band_candidate_pairs(docs, max_bucket_size=64)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    got = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    exp = set(map(tuple, con.execute(capped_sql).fetchall()))
    con.close()
    assert got == exp
    # and the cap was genuinely active: fewer pairs than the uncapped set
    uncapped = band_candidate_pairs(docs, max_bucket_size=1 << 40).count()
    assert len(got) < uncapped


def test_lsh_chunked_chain_oracle_mirror(spark):
    """The chain-ordering CHUNKS (r11: no single task may sort a whole
    mega-bucket) are a no-op below CHAIN_CHUNK_ROWS = 16384 members, so
    the default-parameter differential only proves the one-chunk regime.
    Force cap=16 AND chunk=4 on both sides (engine args; oracle rebuilt
    by the cap/chunk-parameterized builder) so fixture buckets split
    into multiple chunks per salt, and require exact pair-set equality —
    the proof that the md5-prefix-mod chunk assignment and the per-chunk
    lead() ordering agree term-for-term across engines. Also pins that
    chunking genuinely engaged (the chunked set differs from the
    unchunked one) and the per-(band, bucket, salt) link-count bound:
    a c-chunk group emits L - c raw links vs L - 1 unchunked. NOTE the
    bound is per group, NOT on the distinct union: the unchunked order
    md5(doc_id:salt) is band-independent, so a family bucketed together
    in several bands repeated the SAME chain pairs per band (accidental
    cross-band dedup), while chunk counts vary with per-band bucket
    sizes and re-pair members differently — more DISTINCT probes at the
    same per-bucket bound (measured here: 10505 vs 8426), which is what
    the '2·salts·bands independent probes' design line always claimed."""
    import duckdb

    from opay_datalake_script_spark.llmdata.dedup import (
        _band_cand_ctes,
        band_candidate_pairs,
    )
    from opay_datalake_script_spark.sources.io import load as _load

    docs = _load(spark, SMOKE_SF_DIR, "documents")
    df = band_candidate_pairs(docs, max_bucket_size=16, chain_chunk_rows=4)
    got = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    exp = set(
        map(
            tuple,
            con.execute(
                f"WITH {_band_cand_ctes(16, 4)} SELECT doc_a, doc_b FROM band_cand"
            ).fetchall(),
        )
    )
    con.close()
    assert got == exp
    # chunking engaged: same cap, unchunked chains -> a DIFFERENT set
    # (mod-based chunks re-pair members, they are not a subset — see
    # the docstring for why the DISTINCT union may legitimately grow)
    unchunked = {
        (r["doc_a"], r["doc_b"])
        for r in band_candidate_pairs(
            docs, max_bucket_size=16, chain_chunk_rows=1 << 40
        ).collect()
    }
    assert got != unchunked, "chunk=4 never split a fixture bucket"
    # the real bound, asserted per (band, bucket, salt)
    # group via the banding relation itself: raw chain links of a
    # c-chunk group = L - c <= L - 1; equivalently the total raw link
    # count across groups is bounded by the unchunked total. Computed
    # engine-side from the sized banding relation, not from the
    # distinct pair union (which cross-band dedup skews).
    from pyspark.sql import functions as SF

    from opay_datalake_script_spark.llmdata.dedup import (
        CHAIN_CHUNK_ROWS,
        _banded_buckets,
    )

    sizes = (
        _banded_buckets(docs.select("doc_id", "text"))
        .groupBy("band", "bucket")
        .agg(SF.count("*").alias("bsz"))
        .where(SF.col("bsz") > 16)
        .collect()
    )
    assert sizes, "cap=16 must leave oversized buckets on this fixture"
    raw_chunked = sum(r["bsz"] - ((r["bsz"] - 1) // 4 + 1) for r in sizes)
    raw_unchunked = sum(r["bsz"] - 1 for r in sizes)
    assert 0 < raw_chunked < raw_unchunked
    # and the production chunk width is a no-op below 16384 members
    assert all((r["bsz"] - 1) // CHAIN_CHUNK_ROWS == 0 for r in sizes)


def test_ahash_cap_oracle_mirror_under_active_cap(spark, monkeypatch):
    """Image-ahash twin of test_lsh_cap_oracle_mirror_under_active_cap:
    fixture (band, key) buckets never exceed the default cap, so the
    star-guard branch is dead in the plain oracle test. Force cap=2 on
    both sides (monkeypatch the engine's module constant; literal
    substitution in the oracle) and require the capped candidate-pair
    dedup outputs to match exactly."""
    from opay_datalake_script_spark.llmdata import multimodal as mm

    capped_sql = mm._ahash_oracle(cap=2)
    assert capped_sql != mm._AHASH_ORACLE
    monkeypatch.setattr(mm, "_CAP", 2)
    import duckdb

    df = mm.k_image_ahash_dedup(spark, SMOKE_SF_DIR)
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in df.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    exp = set(map(tuple, con.execute(capped_sql).fetchall()))
    con.close()
    assert got == exp
    # and the forced cap genuinely changed the shape vs the default run
    monkeypatch.setattr(mm, "_CAP", 1 << 40)
    uncapped = mm.k_image_ahash_dedup(spark, SMOKE_SF_DIR).count()
    assert len(got) <= uncapped


def test_winnow_cap_oracle_mirror_under_active_cap(spark):
    """Winnow-candidate twin of the LSH/ahash cap-mirror tests: fixture
    fingerprint buckets peak at 3 members, so the default-cap (1024)
    differential only proves the all-pairs regime. Rebuild the WHOLE
    oracle at cap=2 via _winnow_cand_oracle(2) (no string surgery — the
    builder is cap-parameterized) and require the star+chain-expanded
    pair sets to match exactly."""
    import duckdb

    from opay_datalake_script_spark.llmdata.dedup import (
        _winnow_cand_oracle,
        winnow_candidate_pairs,
    )
    from opay_datalake_script_spark.sources.io import load as _load

    docs = _load(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text")
    df = winnow_candidate_pairs(docs, max_bucket_size=2)
    got = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    exp = set(map(tuple, con.execute(_winnow_cand_oracle(2)).fetchall()))
    con.close()
    assert got == exp
    # the forced cap was genuinely active: the capped run must differ
    # from (be no larger than) the effectively-uncapped pair set, and
    # the fixture must actually contain an oversized (>2) bucket
    uncapped = winnow_candidate_pairs(docs, max_bucket_size=1 << 40).count()
    assert len(got) <= uncapped
    from opay_datalake_script_spark.llmdata.textstats import (
        winnow_fingerprints,
    )
    from pyspark.sql import functions as SF

    widest = (
        docs.select(
            SF.explode(winnow_fingerprints(SF.col("text"))).alias("fp")
        )
        .groupBy("fp")
        .count()
        .agg(SF.max("count"))
        .collect()[0][0]
    )
    assert widest > 2, "fixture no longer exercises the capped branch"


def test_semdedup_cap_oracle_mirror_under_active_cap(spark):
    """SemDeDup twin of the LSH/winnow/ahash cap-mirror tests: fixture
    k-means clusters are ~60 wide, so the default cap (1024) only
    proves the all-pairs regime. Rebuild the WHOLE oracle at
    cap=8 / chunk=16 via _semdedup_oracle(8, 16) (the builder is
    cap/chunk-parameterized — no string surgery) and require exact
    row-set equality, with the star+chain AND multi-chunk branches
    both genuinely active."""
    import duckdb

    from opay_datalake_script_spark.llmdata.similarity import (
        _semdedup_oracle,
        kmeans_assignments,
        semdedup,
    )

    df = semdedup(spark, SMOKE_SF_DIR, max_bucket_size=8, chain_chunk_rows=16)
    got = {tuple(r) for r in df.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/embeddings.parquet')"
    )
    exp = set(map(tuple, con.execute(_semdedup_oracle(8, 16)).fetchall()))
    con.close()
    assert got == exp
    # the forced cap was genuinely active: every cluster is wider than
    # the forced cap (so star+chain replaced all-pairs) and wider than
    # the forced chunk (so chains split into multiple chunks), and the
    # truncated candidate set changes the keeper decisions vs default
    assigned, _ = kmeans_assignments(spark, SMOKE_SF_DIR)
    from pyspark.sql import functions as SF

    narrowest = (
        assigned.groupBy("cluster").count().agg(SF.min("count")).collect()[0][0]
    )
    assert narrowest > 16, "fixture clusters no longer exercise cap+chunk"
    dflt = {tuple(r) for r in semdedup(spark, SMOKE_SF_DIR).collect()}
    assert got != dflt, "forced cap did not change the result"


def test_kmeans_empty_cluster_keeps_centroid_both_engines(spark):
    """Duplicate seeds force a cluster to empty out after the first
    Lloyd update (the (d2, cid) tie-break routes every tied vector to
    the smaller cid): both engines must take the LEFT JOIN + coalesce
    branch and keep the emptied cluster's previous centroid — which
    can then RE-ACQUIRE members once other centroids move (vec 0/1
    land back on the kept zero-centroid in iteration 2). The fixture
    never empties a cluster, so this synthetic is the only coverage of
    that branch; data goes in as float32 on both sides, mirroring the
    embeddings table (r11 lesson: exact-double Spark literals vs a
    FLOAT[] DuckDB table diverge in d2's low bits)."""
    import duckdb

    from pyspark.sql import functions as SF

    from opay_datalake_script_spark.llmdata.similarity import (
        _kmeans_ctes,
        kmeans_fit,
    )

    data = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # seed 1 == seed 0 -> cluster 1 empties
        (2, [10.0, 0.0, 0.0, 0.0]),
        (3, [0.1, 0.0, 0.0, 0.0]),
        (4, [9.9, 0.1, 0.0, 0.0]),
        (5, [0.0, 0.2, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    earr = emb.select(
        "vec_id", SF.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    assigned, cents = kmeans_fit(earr, k=3, iters=2)
    got = sorted((r.vec_id, r.cluster, r.d2) for r in assigned.collect())
    # cluster 1's centroid survived its empty iteration and re-acquired
    # the origin vectors in iteration 2
    kept = {r.cid: r.cvec for r in cents.collect()}
    assert kept[1] == [0.0, 0.0, 0.0, 0.0]
    assert {c for _, c, _ in got} == {0, 1, 2}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, {v}::FLOAT[])" for i, v in data)
        + ") t(vec_id, embedding)"
    )
    exp = con.execute(
        f"WITH {_kmeans_ctes(3, 2, 4)} "
        "SELECT vec_id, cid, d2 FROM a3 ORDER BY vec_id"
    ).fetchall()
    con.close()
    assert [tuple(r) for r in exp] == got
