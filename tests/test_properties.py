"""Property-based tests (hypothesis) for the composed operators whose
logic Spark doesn't provide natively — the union+window as-of join and
the gap-based batch sessionizer — checked against naive single-machine
reference implementations on randomized small inputs.

hypothesis drives the INPUT GENERATION only; each example runs through
the same Spark code paths the registered queries use. Spark-side runs
are slow (~1s each), so max_examples stays small — the value is in the
adversarial shapes (ties, empty sides, duplicate timestamps), which
hypothesis finds quickly and the fixture data never contains.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window as W
from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1)

# (user_id, minutes_offset, kind) — tiny domains force collisions:
# same-user same-ts click+purchase ties, duplicate click timestamps,
# users with purchases but no clicks, and vice versa.
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),
        st.integers(min_value=0, max_value=10),
        st.sampled_from(["click", "purchase"]),
    ),
    min_size=0,
    max_size=12,
)


def _spark_asof(spark, rows, chunk_days=30):
    """The c_join_asof union + forward-fill formulation applied to
    ad-hoc rows, through the REAL chunked helper: chunk_days=None
    exercises the classic single-window form, an int the chunked one."""
    from opay_datalake_script_spark.operators.windows import (
        with_chunked_last_nonnull,
    )

    # anchor 23:55 so the 0..10-minute offsets straddle the midnight
    # chunk boundary under chunk_days=1 (clicks and purchases split
    # across chunks, carries across the boundary, ties AT midnight)
    base = T0 - dt.timedelta(minutes=5)
    ev = spark.createDataFrame(
        [
            (i, u, base + dt.timedelta(minutes=m), k)
            for i, (u, m, k) in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("click_id"), "event_id",
    )
    out = (
        with_chunked_last_nonnull(
            clicks.unionByName(purch),
            "user_id",
            "ts",
            ["kind", "click_id"],
            {"last_click_id": F.col("click_id")},
            chunk_days=chunk_days,
        )
        .where(F.col("kind") == 1)
        .select("event_id", "last_click_id")
        .collect()
    )
    return {r["event_id"]: r["last_click_id"] for r in out}


def _naive_asof(rows):
    """Reference: for each purchase, the max-event_id click at the latest
    click ts <= purchase ts for the same user; None if no such click."""
    out = {}
    for i, (u, m, k) in enumerate(rows):
        if k != "purchase":
            continue
        cands = [
            (mm, j)
            for j, (uu, mm, kk) in enumerate(rows)
            if kk == "click" and uu == u and mm <= m
        ]
        if not cands:
            out[i] = None
        else:
            best_ts = max(mm for mm, _ in cands)
            out[i] = max(j for mm, j in cands if mm == best_ts)
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=events_strategy)
def test_asof_join_matches_naive(spark, rows):
    """Both plan shapes of the as-of forward fill — the classic single
    window and the chunked form with a 1-day chunk that forces
    midnight-boundary carries — must match the naive reference."""
    expected = _naive_asof(rows)
    assert _spark_asof(spark, rows, chunk_days=1) == expected
    assert _spark_asof(spark, rows, chunk_days=None) == expected


sessions_strategy = st.lists(
    st.integers(min_value=0, max_value=200),  # minute offsets, gap = 30 min
    min_size=0,
    max_size=15,
)


# anchor 23:00 so the 0..200-minute offsets straddle the midnight chunk
# boundary of the chunked sessionizer (sessions spanning midnight,
# events exactly at midnight, gaps of exactly 30 min across it)
T0_SESS = dt.datetime(2023, 12, 31, 23, 0)


def _op_sessionize(spark, offsets, chunk_days):
    """The REAL sessionize operator helper on ad-hoc rows."""
    from opay_datalake_script_spark.operators.windows import sessionize

    if not offsets:
        return []
    ev = spark.createDataFrame(
        [(i, 1, T0_SESS + dt.timedelta(minutes=m)) for i, m in enumerate(offsets)],
        "event_id long, user_id long, ts timestamp",
    )
    out = sessionize(ev, chunk_days=chunk_days).collect()
    return sorted((r["sid"], r["n"], r["s"], r["e"]) for r in out)


def _naive_sessionize(offsets):
    """Reference: full (sid, n, start, end) per session, 1-based sids in
    time order."""
    if not offsets:
        return []
    ts = sorted(offsets)
    groups, cur = [], [ts[0]]
    for a, b in zip(ts, ts[1:]):
        if b - a > 30:
            groups.append(cur)
            cur = [b]
        else:
            cur.append(b)
    groups.append(cur)
    return sorted(
        (
            sid + 1,
            len(g),
            T0_SESS + dt.timedelta(minutes=g[0]),
            T0_SESS + dt.timedelta(minutes=g[-1]),
        )
        for sid, g in enumerate(groups)
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(offsets=sessions_strategy)
def test_sessionize_matches_naive(spark, offsets):
    """Both plan shapes of the registered sessionizer (chunked default
    incl. a 1-day chunk that forces boundary stitching, and the classic
    single-window form) must produce identical full session rows —
    sids, sizes, and bounds — matching the naive reference."""
    expected = _naive_sessionize(offsets)
    assert _op_sessionize(spark, offsets, chunk_days=1) == expected
    assert _op_sessionize(spark, offsets, chunk_days=None) == expected


def test_approx_percentile_error_bound(spark):
    """`d_approx_percentile` has no oracle (sketches differ per engine);
    instead bound its error against the exact `percentile`: with accuracy
    10000 on ~1.5k rows/group the sketch is effectively exact, so allow
    only rank-level slack (0.5% of the value range per group)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    approx = {
        r["o_orderpriority"]: (r["p50"], r["p90"])
        for r in QUERIES["d_approx_percentile"](spark, SF_DIR).collect()
    }
    from opay_datalake_script_spark.sources.io import load

    exact_df = (
        load(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9))).alias("pctl"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("rng"),
        )
    )
    for r in exact_df.collect():
        tol = 0.005 * r["rng"]
        for a, e in zip(approx[r["o_orderpriority"]], r["pctl"]):
            assert abs(a - e) <= tol, (r["o_orderpriority"], a, e, tol)


def test_hll_merge_error_bound(spark):
    """`d_hll_partial_merge` has no oracle (Datasketches HLL estimates are
    engine-specific); bound the merged monthly estimate against the exact
    per-month distinct-user count instead. lgK=12 (Spark default) gives
    ~1.6% relative standard error; allow 5% (3 sigma)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    from .conftest import SF_DIR

    load_all_queries()
    approx = {
        r["month"]: r["approx_users"]
        for r in QUERIES["d_hll_partial_merge"](spark, SF_DIR).collect()
    }
    exact = {
        r["month"]: r["exact"]
        for r in load(spark, SF_DIR, "events")
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM").alias("month"))
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(approx) == set(exact)
    for month, est in approx.items():
        assert abs(est - exact[month]) <= 0.05 * exact[month], (month, est, exact[month])


def test_stratified_sample_fractions(spark):
    """k_stratified_sample: each language stratum's realized keep-rate
    must be near the 0.3 target (binomial tolerance at fixture sizes),
    and resampling with the same seed must be identical."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    from .conftest import SF_DIR

    load_all_queries()
    sample = QUERIES["k_stratified_sample"](spark, SF_DIR)
    base = {
        r["lang"]: r["n"]
        for r in load(spark, SF_DIR, "documents").groupBy("lang").agg(
            F.count("*").alias("n")
        ).collect()
    }
    got = {r["lang"]: r["n"] for r in sample.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in base.items():
        frac = got.get(lang, 0) / n
        assert 0.15 <= frac <= 0.45, (lang, frac)
    again = QUERIES["k_stratified_sample"](spark, SF_DIR)
    assert sorted(r["doc_id"] for r in sample.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


# (key,) lists with heavy duplication — global_row_number must still
# emit exactly 1..n, ordered by (key, id tiebreak), under any range
# partitioning the sampler picks.
keys_strategy = st.lists(
    st.integers(min_value=0, max_value=5), min_size=1, max_size=40
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=keys_strategy)
def test_global_row_number_is_total_order(spark, keys):
    """Distributed global ranking property: for ANY key multiset the
    appended rn column is a permutation of 1..n that sorts by
    (key, id) — i.e. the range-repartition + offset stitch is
    value-identical to a single-machine sort, ties broken by the unique
    id column. Guards the offset arithmetic against partition-boundary
    bugs hypothesis finds and fixtures don't (empty partitions, all-equal
    keys, n < #partitions)."""
    from opay_datalake_script_spark.operators.relational import global_row_number

    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "id long, k long"
    )
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, "k", "id", parts=4).collect()
    }
    want = {
        i: rank + 1
        for rank, (k, i) in enumerate(
            sorted((k, i) for i, k in enumerate(keys))
        )
    }
    assert got == want


def test_shard_manifest_conservation(spark):
    """Manifest invariants at sf0.01: shard doc counts sum to the corpus
    size, token totals sum to the corpus token count, and the XOR of the
    per-shard checksums equals the corpus-wide XOR (the property that
    makes shard-level verification equivalent to whole-corpus
    verification)."""
    from functools import reduce

    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    from .conftest import SF_DIR

    load_all_queries()
    man = QUERIES["k_shard_manifest"](spark, SF_DIR).collect()
    d = load(spark, SF_DIR, "documents")
    n_docs = d.count()
    n_tokens = d.select(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("t")
    ).first()["t"]
    assert sum(r["n_docs"] for r in man) == n_docs
    assert sum(r["n_tokens"] for r in man) == n_tokens
    corpus_xor = d.select(
        F.bit_xor(
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
        ).alias("x")
    ).first()["x"]
    assert reduce(lambda a, b: a ^ b, (r["content_xor"] for r in man)) == corpus_xor


def test_gap_fill_grid_is_dense_and_filled(spark):
    """e_gap_fill_forward invariants on the fixture: per user the hour
    grid is contiguous (span hours == rows, no holes, no dupes), the
    first grid row is never a gap (it's the user's first observed hour),
    and v_filled is non-null everywhere (forward fill from a non-null
    start)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    pdf = (
        QUERIES["e_gap_fill_forward"](spark, SF_DIR)
        .toPandas()
        .sort_values(["user_id", "hr"])
    )
    assert not pdf["v_filled"].isna().any()
    for _, g in pdf.groupby("user_id"):
        span = (g["hr"].iloc[-1] - g["hr"].iloc[0]).total_seconds() / 3600 + 1
        assert len(g) == span, "hour grid has holes or duplicates"
        assert not g["is_gap"].iloc[0], "first grid hour must be observed"
        assert g["hr"].is_unique


def test_interleave_positions_are_stride_ordered(spark):
    """k_interleave_sources invariants: pos is a permutation of
    1..n_docs; within each source, pos is strictly increasing in
    src_rank (the stream never reorders a source against itself); and
    each source's share of any epoch prefix tracks its weight share
  (stride scheduling, checked at the half-way point with 25% slack)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    pdf = QUERIES["k_interleave_sources"](spark, SF_DIR).toPandas()
    n = len(pdf)
    assert sorted(pdf["pos"]) == list(range(1, n + 1))
    for _, g in pdf.groupby("source"):
        assert g.sort_values("src_rank")["pos"].is_monotonic_increasing
    half = pdf[pdf["pos"] <= n // 2]
    tot_w = pdf.groupby("source")["weight"].first().sum()
    for src, g in half.groupby("source"):
        w = pdf[pdf["source"] == src]["weight"].iloc[0]
        expected = (n // 2) * w / tot_w
        n_src_docs = (pdf["source"] == src).sum()
        # a source can exhaust before the half-way mark; then it simply
        # contributes everything it has
        expected = min(expected, n_src_docs)
        assert abs(len(g) - expected) <= 0.25 * expected + 2, (
            src, len(g), expected
        )


def test_vocab_coverage_is_monotone_to_one(spark):
    """k_vocab_coverage invariants: rank is 1..V in cnt-desc order,
    cum_coverage is non-decreasing and ends at 1.0."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    pdf = (
        QUERIES["k_vocab_coverage"](spark, SF_DIR)
        .toPandas()
        .sort_values("rank")
    )
    assert list(pdf["rank"]) == list(range(1, len(pdf) + 1))
    assert pdf["cnt"].is_monotonic_decreasing
    assert pdf["cum_coverage"].is_monotonic_increasing
    assert abs(pdf["cum_coverage"].iloc[-1] - 1.0) < 1e-9


def test_heavy_hitters_guarantee_with_large_vocab(spark):
    """d_heavy_hitters' MG guarantee on data that actually exercises the
    decrement/evict path (vocab 5005 >> capacity 256, unlike the
    31-token fixture): the two-pass result must equal the exact
    phi-heavy-hitter set computed by a full groupBy, including exact
    frequencies."""
    from pyspark.sql import functions as F

    from opay_datalake_script_spark.operators.aggregates import d_heavy_hitters

    # 60k tokens: 5 hot terms ~30% of mass, 5000-term uniform tail
    toks = spark.range(60_000).select(
        F.when(F.col("id") % 10 < 3, F.concat(F.lit("hot"), (F.col("id") % 5).cast("string")))
        .otherwise(F.concat(F.lit("tail"), (F.col("id") % 5000).cast("string")))
        .alias("tok")
    )
    # exact reference
    total = toks.count()
    exact = {
        r["tok"]: r["freq"]
        for r in toks.groupBy("tok").agg(F.count("*").alias("freq")).collect()
        if r["freq"] >= total / 64.0
    }
    assert exact, "test data must contain heavy hitters"

    # run the registered op's pipeline on this synthetic stream by
    # monkey-loading: reuse its internals via a temp view + the same code
    # path (documents-shaped frame with one token per 'text')
    import opay_datalake_script_spark.operators.aggregates as agg

    real_load = agg.load
    try:
        agg.load = lambda _s, _d, _t: toks.select(F.col("tok").alias("text"))
        got = {r["tok"]: r["freq"] for r in d_heavy_hitters(spark, "ignored").collect()}
    finally:
        agg.load = real_load
    assert got == exact


def test_bpe_train_merge_table_invariants(spark):
    """BPE merge-table invariants: (a) top-pair weighted counts are
    non-increasing across rounds — any pair involving a merged symbol
    covers a subset of the occurrences its constituents covered, so no
    later round can beat an earlier top; (b) the merged symbol is the
    pair with its separator removed; (c) a known toy dict learns the
    textbook merges greedily (banana x3: 'a n' wins round 1 with 6,
    then 'an a')."""
    from opay_datalake_script_spark.llmdata.textstats import k_bpe_train

    rows = sorted(
        k_bpe_train(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["rnd"],
    )
    assert [r["rnd"] for r in rows] == [1, 2, 3]
    counts = [r["w_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["merged"] == r["pair"].replace(" ", "")

    import opay_datalake_script_spark.llmdata.textstats as ts

    toy = spark.createDataFrame(
        [("banana",), ("banana",), ("banana",), ("bans",)], "text string"
    )
    real_load = ts.load
    try:
        ts.load = lambda _s, _d, _t: toy
        learned = sorted(
            k_bpe_train(spark, "ignored").collect(), key=lambda r: r["rnd"]
        )
    finally:
        ts.load = real_load
    # banana: pairs (b,a) 4, (a,n) 3*2+1=7, (n,a) 6, (n,s) 1
    assert (learned[0]["pair"], learned[0]["w_count"]) == ("a n", 7)
    # after merge: banana = b an an a -> pairs (b,an) 4, (an,an) 3, (an,a) 3
    assert (learned[1]["pair"], learned[1]["w_count"]) == ("b an", 4)


def test_weighted_median_matches_bruteforce(spark):
    """d_weighted_median == the definitional brute force (expand each
    value `weight` times, take the lower median) on the sf0.001 fixture."""
    import numpy as np

    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    load_all_queries()
    got = {
        r["l_returnflag"]: (r["wmedian_e4"], r["total_weight"])
        for r in QUERIES["d_weighted_median"](spark, "/root/testdata/sf0.001").collect()
    }
    li = load(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 10000, 0).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    pdf = li.toPandas()
    for g, grp in pdf.groupby("l_returnflag"):
        expanded = np.sort(np.repeat(grp["v"].to_numpy(), grp["w"].to_numpy()))
        tw = int(grp["w"].sum())
        # smallest v whose cumulative weight reaches half: element at
        # ceil(tw/2) - 1 of the expanded sorted array
        brute = int(expanded[(tw + 1) // 2 - 1])
        assert got[g] == (brute, tw), (g, got[g], brute, tw)


def test_random_projection_preserves_norms_jl(spark):
    """Johnson-Lindenstrauss sanity — test what the lemma actually
    guarantees at k=16: squared norms are preserved in expectation
    (E[||y||^2] = ||x||^2) with relative sd sqrt(2/k) ~ 0.35, and
    pairwise cosine error stays inside the ~1/sqrt(k) noise band.
    (Cosine CORRELATION is the wrong assertion here: this fixture's
    true cosines have sd ~0.12, smaller than the k=16 noise floor, so
    r ~ 0.4 is the theoretically expected value, not a bug — measured
    0.408 vs predicted 0.12/sqrt(0.12^2+0.25^2) = 0.43.)"""
    import numpy as np

    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    load_all_queries()
    emb = (
        load(spark, "/root/testdata/sf0.001", "embeddings")
        .where(F.col("vec_id") < 40)
        .orderBy("vec_id")
        .toPandas()
    )
    X = np.array(emb["embedding"].tolist(), dtype=np.float64)
    proj = (
        QUERIES["k_random_projection"](spark, "/root/testdata/sf0.001")
        .where(F.col("vec_id") < 40)
        .orderBy("vec_id")
        .toPandas()
    )
    Y = proj[[c for c in proj.columns if c.startswith("y")]].to_numpy()

    ratio = (Y**2).sum(axis=1) / (X**2).sum(axis=1)
    assert 0.9 < ratio.mean() < 1.1, ratio.mean()
    assert ratio.std() < 0.5, ratio.std()

    def cos_mat(M):
        n = M / np.linalg.norm(M, axis=1, keepdims=True)
        return (n @ n.T)[np.triu_indices(len(M), k=1)]

    mae = np.abs(cos_mat(X) - cos_mat(Y)).mean()
    assert mae < 0.3, mae  # ~0.8/sqrt(k) noise band for k=16


def test_incremental_dedup_labels_are_sound(spark):
    """k_incremental_dedup soundness: every dup_exact new doc has an
    existing doc with byte-identical normalized text; every keep doc
    has NO exact normalized twin in the existing corpus."""
    from opay_datalake_script_spark.llmdata.dedup import normalized_text
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    load_all_queries()
    labels = {
        r["doc_id"]: r["label"]
        for r in QUERIES["k_incremental_dedup"](spark, "/root/testdata/sf0.001").collect()
    }
    d = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", normalized_text().alias("norm")
    ).toPandas()
    existing = set(d[d.doc_id % 10 != 0]["norm"])
    for _, row in d[d.doc_id % 10 == 0].iterrows():
        if labels[row.doc_id] == "dup_exact":
            assert row.norm in existing, row.doc_id
        elif labels[row.doc_id] == "keep":
            assert row.norm not in existing, row.doc_id


# -- min_label_components: label propagation vs union-find ----------------
#
# The five component jobs share one propagation loop; their oracles only
# see fixture graphs. Random small graphs here carry isolated nodes,
# repeated pairs and pairs given in both directions, and the labels must
# equal min(doc_id) per component from a Python union-find.


@st.composite
def _small_graphs(draw):
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=1000),
            min_size=1,
            max_size=10,
            unique=True,
        )
    )
    node = st.sampled_from(ids)
    pairs = draw(st.lists(st.tuples(node, node), max_size=14))
    pairs = [(a, b) for a, b in pairs if a != b]
    n_rev = draw(st.integers(min_value=0, max_value=len(pairs)))
    return ids, pairs + [(b, a) for a, b in pairs[:n_rev]]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(graph=_small_graphs())
def test_min_label_components_matches_union_find(spark, graph):
    from opay_datalake_script_spark.llmdata.pipeline import min_label_components

    ids, pairs = graph
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in ids}

    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["comp"] for r in min_label_components(nodes, edges).collect()}
    assert got == want


def test_min_label_components_round_cap(spark):
    """A path of k nodes whose min sits at one end needs k rounds (k - 1
    hops, then the round that sees no change): it converges at
    max_rounds = k and raises one node later."""
    import pytest

    from opay_datalake_script_spark.llmdata.pipeline import min_label_components

    def path(k):
        nodes = spark.createDataFrame([(i,) for i in range(k)], "doc_id long")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(k - 1)], "doc_a long, doc_b long"
        )
        return nodes, pairs

    got = min_label_components(*path(4), max_rounds=4).collect()
    assert {r["comp"] for r in got} == {0} and len(got) == 4
    with pytest.raises(RuntimeError, match="did not converge within 4 rounds"):
        min_label_components(*path(5), max_rounds=4)


@st.composite
def _grouped_measures(draw):
    """(g, o, v) rows: group 0 holds most rows, so with 4 range shards it
    spans several of them; group 1 is small and group 2 is one row, so it
    sits in one shard. o is unique (the total order); v is drawn from
    0..3 and group 0's first row is always 0."""
    sizes = [
        draw(st.integers(min_value=8, max_value=30)),
        draw(st.integers(min_value=0, max_value=5)),
        1,
    ]
    orders = draw(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=sum(sizes),
            max_size=sum(sizes),
            unique=True,
        )
    )
    vals = draw(
        st.lists(
            st.integers(min_value=0, max_value=3),
            min_size=sum(sizes),
            max_size=sum(sizes),
        )
    )
    vals[0] = 0
    groups = [g for g, n in enumerate(sizes) for _ in range(n)]
    return list(zip(groups, orders, vals))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_grouped_measures())
def test_global_running_sums_by_group_matches_cumsum(spark, rows):
    """`global_running_sums(..., by=["g"])` must equal a per-group cumsum
    in o order, and a running sum of 1 must equal the per-group
    enumerate position, whichever shards each group's rows land in."""
    from opay_datalake_script_spark.operators.relational import global_running_sums

    want = {}
    for g in {r[0] for r in rows}:
        cum = 0
        for i, (_, o, v) in enumerate(sorted(r for r in rows if r[0] == g)):
            cum += v
            want[o] = (cum, i + 1)
    df = spark.createDataFrame(rows, "g long, o long, v long")
    got = global_running_sums(
        df, ["o"], {"s": F.col("v"), "rn": F.lit(1)}, by=["g"], parts=4
    )
    assert {r["o"]: (r["s"], r["rn"]) for r in got.collect()} == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=120), min_size=1, max_size=40
    )
)
def test_merge_intervals_matches_sweep(spark, offsets):
    """e_merge_intervals vs a pure-Python sweep on generated interval
    sets: span count and total covered microseconds must match the
    definitional union of [t, t+10min) windows for any input."""
    import datetime as dtm

    import opay_datalake_script_spark.operators.windows as wmod
    from opay_datalake_script_spark.operators.windows import e_merge_intervals
    from opay_datalake_script_spark.registry import load_all_queries

    load_all_queries()
    base = dtm.datetime(2024, 1, 1)
    # event_id: the unique tiebreaker the chunked sweep threads through
    # both stages (r8; duplicate offsets are the peer-order case)
    rows = [(i, 1, base + dtm.timedelta(minutes=m)) for i, m in enumerate(offsets)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")

    real_load = wmod.load
    try:
        wmod.load = lambda _s, _d, _t: ev
        got = e_merge_intervals(spark, "ignored").collect()
    finally:
        wmod.load = real_load
    assert len(got) == 1
    got_spans, got_us = got[0]["n_spans"], got[0]["covered_us"]

    ivs = sorted((m * 60, m * 60 + 600) for m in offsets)
    merged = []
    for s, e in ivs:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    assert got_spans == len(merged)
    assert got_us == sum((e - s) for s, e in merged) * 1_000_000


def test_attribution_shares_conserve_purchase_totals(spark):
    """r_attribution_linear's integer split must conserve money: the
    attributed_e4 shares of each purchase sum back to EXACTLY its
    round(value*1e4) — the floor-division remainder goes to the
    last touch, so no ten-thousandth is created or destroyed (the
    double value/n split fails this under summation)."""
    from opay_datalake_script_spark.registry import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["r_attribution_linear"](spark, sf_dir).toPandas()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v4 = {
        r["event_id"]: r["v4"]
        for r in ev.where(F.col("event_type") == "purchase")
        .select("event_id", F.round(F.col("value") * 10000, 0).cast("long").alias("v4"))
        .collect()
    }
    got = out.groupby("purchase_event_id")["attributed_e4"].sum()
    assert len(got) > 0
    for pid, tot in got.items():
        assert tot == v4[pid], (pid, tot, v4[pid])


def test_floor_division_semantics_on_negative_values(spark):
    """The attribution split and the bitmap block/bit math once agreed
    between engines only because fixture values are nonnegative. Measured ground truth: BOTH Spark `div` and DuckDB
    `//` truncate toward zero (-7 // 3 = -2 in DuckDB), so the fix
    spells FLOOR division explicitly on both sides via the nonnegative
    remainder. Pin, on negatives the fixtures never contain:
    * the Spark share expression == Python floor-div == the oracle's
      subtract-pmod-then-divide form in DuckDB,
    * conservation: (n-1) equal shares + remainder share == v4,
    * the bitmap (block, bit) pair has bit in 0..61 and reconstructs
      user_id exactly, identically in both engines."""
    import duckdb

    rows = [(-7, 3), (-1, 4), (7, 3), (-10, 5), (10, 3), (-9999999999, 7)]
    df = spark.createDataFrame(rows, "v4 long, n long")
    got = {
        (r["v4"], r["n"]): (r["share"], r["rem_share"])
        for r in df.selectExpr(
            "v4",
            "n",
            "(v4 - pmod(v4, n)) div n AS share",
            "v4 - (n - 1) * ((v4 - pmod(v4, n)) div n) AS rem_share",
        ).collect()
    }
    for v4, n in rows:
        share = v4 // n  # Python floor-division is the spec
        assert got[(v4, n)][0] == share, (v4, n, got[(v4, n)])
        assert (n - 1) * share + got[(v4, n)][1] == v4
        duck = duckdb.sql(
            f"SELECT ({v4} - ((({v4} % {n}) + {n}) % {n})) // {n}"
        ).fetchone()[0]
        assert duck == share, (v4, n, duck, share)

    ids = spark.createDataFrame(
        [(-125,), (-62,), (-1,), (0,), (61,), (62,)], "user_id long"
    )
    for r in ids.selectExpr(
        "user_id",
        "(user_id - pmod(user_id, 62)) div 62 AS block",
        "cast(pmod(user_id, 62) as int) AS bit",
    ).collect():
        assert 0 <= r["bit"] < 62
        assert r["block"] * 62 + r["bit"] == r["user_id"]
        duck_block, duck_bit = duckdb.sql(
            f"SELECT ({r['user_id']} - ((({r['user_id']} % 62) + 62) % 62)) // 62,"
            f" (({r['user_id']} % 62) + 62) % 62"
        ).fetchone()
        assert (duck_block, duck_bit) == (r["block"], r["bit"])


def _events_sf0001(spark):
    from opay_datalake_script_spark.sources.io import load

    return load(spark, "/root/testdata/sf0.001", "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).collect()


def test_peak_concurrency_matches_bruteforce(spark):
    """e_peak_concurrency's boundary sweep vs a definitional Python
    sweep over the same fixture: each event opens [ts, ts+10min); peak
    = max simultaneous open; at an exact touch the close sorts first
    (delta in the sort key), so touching intervals never overlap."""
    from opay_datalake_script_spark.registry import load_all_queries

    QUERIES = load_all_queries()
    per_user = {}
    for r in _events_sf0001(spark):
        per_user.setdefault(r["user_id"], []).append(r["us"])
    expected = {}
    for uid, starts in per_user.items():
        bounds = [(t, 1) for t in starts] + [(t + 600_000_000, -1) for t in starts]
        cur = peak = 0
        for _, d in sorted(bounds):
            cur += d
            peak = max(peak, cur)
        if peak >= 2:
            expected[uid] = peak
    got = {
        r["user_id"]: r["peak_concurrent"]
        for r in QUERIES["e_peak_concurrency"](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected


def test_streaks_islands_matches_bruteforce(spark):
    """e_streaks_islands' date-minus-row_number islands vs a direct
    consecutive-day run scan in Python."""
    import datetime as _dt

    from opay_datalake_script_spark.registry import load_all_queries

    QUERIES = load_all_queries()
    per_user = {}
    for r in _events_sf0001(spark):
        per_user.setdefault(r["user_id"], set()).add(
            _dt.date.fromisoformat(r["day"])
        )
    expected = {}
    for uid, days in per_user.items():
        ds = sorted(days)
        runs = []
        run = 1
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                run += 1
            else:
                runs.append(run)
                run = 1
        runs.append(run)
        expected[uid] = (max(runs), len(runs), ds[0].isoformat())
    got = {
        r["user_id"]: (r["longest_streak"], r["n_streaks"], r["first_streak_start"])
        for r in QUERIES["e_streaks_islands"](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected


def test_latency_histogram_matches_bruteforce(spark):
    """d_latency_histogram's length(bin(x)) bucketing vs Python's exact
    int.bit_length() over definitionally-recomputed per-(user, type)
    gaps — pins that the msb bucket is exact integer arithmetic (a
    float log2 would misplace exact powers of two)."""
    from opay_datalake_script_spark.registry import load_all_queries

    QUERIES = load_all_queries()
    series = {}
    for r in _events_sf0001(spark):
        series.setdefault((r["user_id"], r["event_type"]), []).append(
            (r["us"], r["event_id"])
        )
    expected = {}
    for (uid, et), rows in series.items():
        rows.sort()
        for (a, _), (b, _) in zip(rows, rows[1:]):
            gap = b - a
            if gap > 0:
                key = (et, gap.bit_length())
                n, lo, hi = expected.get(key, (0, gap, gap))
                expected[key] = (n + 1, min(lo, gap), max(hi, gap))
    got = {
        (r["event_type"], r["bucket_log2"]): (r["n"], r["min_gap_us"], r["max_gap_us"])
        for r in QUERIES["d_latency_histogram"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expected


def test_revenue_bridge_matches_bruteforce_and_conserves(spark):
    """r_revenue_bridge vs a definitional Python recomputation from
    orders, plus the decomposition identity the docstring claims:
    volume_effect + price_effect == n0 * delta EXACTLY in integers
    (effects are emitted scaled by n0 to stay float-free). Rounding to
    e4 uses Decimal ROUND_HALF_UP on the exact binary double — the same
    semantics as Spark's BigDecimal round."""
    from decimal import ROUND_HALF_UP, Decimal

    from opay_datalake_script_spark.registry import load_all_queries
    from opay_datalake_script_spark.sources.io import load as _load

    QUERIES = load_all_queries()
    sf_dir = "/root/testdata/sf0.001"
    rows = _load(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("mo"), "o_totalprice"
    ).collect()
    months = {}
    for r in rows:
        n, s = months.get(r["mo"], (0, 0))
        e4 = int(
            (Decimal(r["o_totalprice"]) * 10000).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        months[r["mo"]] = (n + 1, s + e4)
    mos = sorted(months)
    expected = {}
    for prev, cur in zip(mos, mos[1:]):
        n0, s0 = months[prev]
        n, s = months[cur]
        expected[cur] = (n, s, s - s0, (n - n0) * s0, n0 * s - n * s0)
    got = {}
    for r in QUERIES["r_revenue_bridge"](spark, sf_dir).collect():
        got[r["mo"]] = (
            r["n"], r["s_e4"], r["delta_e4"],
            r["volume_effect_n0e4"], r["price_effect_n0e4"],
        )
        # the identity: volume + price = n0 * delta, with n0 recovered
        # from the brute-forced month table
        n0 = months[mos[mos.index(r["mo"]) - 1]][0]
        assert (
            r["volume_effect_n0e4"] + r["price_effect_n0e4"]
            == n0 * r["delta_e4"]
        )
    assert got == expected


def test_count_min_sketch_one_sided_error(spark):
    """CMS hard guarantee: the min-over-rows point estimate NEVER
    underestimates (every occurrence of a key lands in all d of its
    cells); and on this fixture the overestimate stays within the
    textbook 2eN/w expectation band (fixture-pinned, not probabilistic
    — the data and hash family are deterministic)."""
    from opay_datalake_script_spark.registry import load_all_queries
    from opay_datalake_script_spark.sources.io import load as _load

    QUERIES = load_all_queries()
    sf_dir = "/root/testdata/sf0.001"
    ev = _load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    bound = (2 * 2.718281828 * n_events) / 256
    out = QUERIES["d_count_min_sketch"](spark, sf_dir).collect()
    assert len(out) == min(20, n_users)
    for r in out:
        assert r["est_cnt"] >= r["true_cnt"], r
        assert r["est_cnt"] - r["true_cnt"] <= bound, r


def test_e4_wave_display_sums_match_decimal_bruteforce(spark):
    """The round-7 e4 hardening wave (Q3/Q5/Q6/Q7/Q10/Q17/Q18/Q19/Q22):
    spot-check the three distinct shapes against a pure-Python Decimal
    recomputation at sf0.001 — a scalar sum (Q6), a thresholded group
    sum where the cut itself must be integer-exact (Q18), and a
    membership cut via exact cross-multiplication (Q22). Exactness here
    means the displayed 2-dp value equals round(sum(e4)/1e4, 2) of the
    Decimal ground truth, independent of summation order."""
    from decimal import ROUND_HALF_UP, Decimal

    from opay_datalake_script_spark.registry import load_all_queries
    from opay_datalake_script_spark.sources.io import load as _load

    def e4(x: float) -> int:
        return int(
            (Decimal(x) * 10000).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    QUERIES = load_all_queries()
    sf_dir = "/root/testdata/sf0.001"

    # Q6: scalar revenue
    li = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    ).collect()
    s6 = sum(
        e4(r["l_extendedprice"] * r["l_discount"])
        for r in li
        if "1997-01-01" <= str(r["l_shipdate"])[:10] < "1998-01-01"
        and 0.05 <= r["l_discount"] <= 0.07
        and r["l_quantity"] < 24
    )
    got6 = QUERIES["t_q06_forecast_revenue"](spark, sf_dir).collect()[0]["revenue"]
    assert got6 == float(
        (Decimal(s6) / 10000).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    )

    # Q18: per-order quantity sums; the >250 cut compares e4 integers
    per_order: dict = {}
    for r in li:
        per_order[r["l_orderkey"]] = per_order.get(r["l_orderkey"], 0) + e4(
            r["l_quantity"]
        )
    big = {k: v for k, v in per_order.items() if v > 2_500_000}
    got18 = {
        r["o_orderkey"]: r["total_qty"]
        for r in QUERIES["t_q18_large_volume_customer"](spark, sf_dir).collect()
    }
    assert set(got18) == set(big)
    for k, v in big.items():
        assert got18[k] == float(
            (Decimal(v) / 10000).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )

    # Q22: membership via e4(bal) * cnt > sum_e4 must equal bal > avg
    nations = {1, 3, 5, 7, 9, 11, 13}
    cust = _load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).collect()
    picked = [r for r in cust if r["c_nationkey"] in nations]
    pos = [r for r in picked if r["c_acctbal"] > 0.0]
    bal_e4, cnt = sum(e4(r["c_acctbal"]) for r in pos), len(pos)
    rich = {r["c_custkey"] for r in picked if e4(r["c_acctbal"]) * cnt > bal_e4}
    # exact-rational equivalence: e4 is lossless on 2-dp balances
    rich_rational = {
        r["c_custkey"]
        for r in picked
        if Decimal(e4(r["c_acctbal"])) / 10000 > Decimal(bal_e4) / (10000 * cnt)
    }
    assert rich == rich_rational
    ords = _load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate").collect()
    recent = {
        r["o_custkey"] for r in ords if str(r["o_orderdate"])[:10] >= "2000-01-01"
    }
    idle_rich = rich - recent
    by_nation: dict = {}
    bal_by_ck = {r["c_custkey"]: (r["c_nationkey"], e4(r["c_acctbal"])) for r in picked}
    for ck in idle_rich:
        nk, b = bal_by_ck[ck]
        n, s = by_nation.get(nk, (0, 0))
        by_nation[nk] = (n + 1, s + b)
    got22 = {
        r["cntrycode"]: (r["numcust"], r["totacctbal"])
        for r in QUERIES["t_q22_idle_rich_customers"](spark, sf_dir).collect()
    }
    assert got22 == {
        nk: (
            n,
            float((Decimal(s) / 10000).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)),
        )
        for nk, (n, s) in by_nation.items()
    }


def test_lsh_bucket_cap_bounds_candidates_and_keeps_connectivity(spark):
    """The LSH bucket-width guard: a boilerplate
    corpus (many identical docs -> one giant (band, bucket) group per
    band) must yield O(B) star candidates, not O(B^2) — while still
    keeping the whole cluster one connected component via its hub.
    Also pins the no-op property: at the default cap the sf0.001
    fixture's candidate set is identical to the uncapped one, and
    band_bucket_stats reports exactly the oversized buckets."""
    from opay_datalake_script_spark.llmdata.dedup import (
        band_bucket_stats,
        band_candidate_pairs,
    )

    n = 120
    boiler = spark.createDataFrame(
        [(i, "the same boilerplate footer text repeated everywhere") for i in range(n)]
        + [(1000 + i, f"alpha{i} bravo{i} charlie{i} delta{i} echo{i}") for i in range(5)],
        "doc_id long, text string",
    )
    capped = {(r["doc_a"], r["doc_b"])
              for r in band_candidate_pairs(boiler, max_bucket_size=16).collect()}
    # the star set — hub=0 paired with each of the other 119 boilerplate
    # docs — must be present; salted chains add at most
    # LSH_CHAIN_SALTS*(n-1) more pairs per band (identical orderings
    # across bands collapse under distinct); unique docs share no band
    from opay_datalake_script_spark.llmdata.dedup import LSH_CHAIN_SALTS

    assert {(0, i) for i in range(1, n)} <= capped
    boiler_ids = set(range(n))
    assert all(a in boiler_ids and b in boiler_ids for a, b in capped)
    # connectivity: union-find over the capped edges merges the cluster
    parent = {i: i for i in range(n)}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in capped:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n)}) == 1
    # O(B) bound: star + salted chains stay linear — the cap cut
    # <= (1+salts)(n-1) vs 7140 all-pairs
    assert len(capped) <= (1 + LSH_CHAIN_SALTS) * (n - 1) < n * (n - 1) // 2

    stats = {r["band"]: r for r in band_bucket_stats(boiler, max_bucket_size=16).collect()}
    assert len(stats) == 8
    for r in stats.values():
        assert r["n_oversized"] == 1 and r["max_width"] == n
        assert r["rows_star_expanded"] == n
        # hub-miss exposure: C(n-1, 2) member-member combinations per
        # oversized bucket are deferred to star/chain transitivity
        assert r["member_pairs_deferred"] == (n - 1) * (n - 2) // 2

    # fixture no-op at the default cap: same candidate set as uncapped
    from opay_datalake_script_spark.sources.io import load as _load

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in band_candidate_pairs(docs).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in band_candidate_pairs(docs, max_bucket_size=1 << 40).collect()
    }
    assert got == uncapped


def test_e4_display_rounding_exact_on_half_cent_tails(spark):
    """Regression: the e4 display rounding must not
    round a DOUBLE quotient — Spark rounds doubles via their shortest
    decimal repr while DuckDB rounds the binary value, so an e4 sum
    ending in ...50 (exactly half a cent) diverged: 6227586950/1e4 gave
    622758.70 in Spark but 622758.69 in DuckDB. Pin both engines to
    exact HALF_UP away from zero on constructed half-cent tails."""
    from decimal import ROUND_HALF_UP, Decimal

    from opay_datalake_script_spark.operators.tpch import (
        _sql_sum_e4_2dp,
        _sum_e4_2dp,
    )

    # each value is one "row" whose e4 is the whole group sum
    tails = [6227586950, 150, 250, -150, -250, 1050, 999999999950]
    rows = [(i, t / 10000.0) for i, t in enumerate(tails)]
    df = spark.createDataFrame(rows, "g long, v double")
    got = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(_sum_e4_2dp(F.col("v")).alias("s")).collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = {
        g: s
        for g, s in con.execute(
            f"SELECT g, {_sql_sum_e4_2dp('v')} AS s FROM t GROUP BY g"
        ).fetchall()
    }
    con.close()
    for i, t in enumerate(tails):
        expected = float(
            (Decimal(t) / 10000).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )
        assert got[i] == expected, (t, got[i], expected)
        assert oracle[i] == expected, (t, oracle[i], expected)


def test_round_div_identity_three_way_fuzz(spark):
    """Pin the core exact-display identity itself (not just its query
    uses): for seeded random integer (s, q, dp), Spark's round_div_e4,
    DuckDB's sql_round_div_e4, and Python Decimal HALF_UP must agree
    exactly — including negative sums, tiny/huge denominators, and
    constructed exact-half quotients. Generation stays inside the
    documented exactness domain |s/q|*10^dp < 2^52 (the display double
    itself cannot represent more; past it all three diverge in the
    last ulp by necessity)."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from opay_datalake_script_spark.functions.exact import (
        round_div_e4,
        sql_round_div_e4,
    )

    rng = random.Random(711)
    cases = []
    for _ in range(120):
        dp = rng.choice([2, 4, 6])
        q = rng.choice([10000, 70000, 12345, 3, 999983]) * rng.randint(1, 50)
        s_max = min(10**13, (2**52 // 10**dp) * q)
        s = rng.randrange(-s_max, s_max)
        cases.append((s, q, dp))
        # constructed exact-half quotient: s/q = k + 0.5*10^-dp
        k = rng.randrange(0, 10**6)
        half = 2 * k * q * (10**dp) + q  # s*2*10^dp = this -> quotient half
        if half % (2 * 10**dp) == 0:
            cases.append((half // (2 * 10**dp), q, dp))
    df = spark.createDataFrame(
        [(i, s, q, dp) for i, (s, q, dp) in enumerate(cases)],
        "i long, s long, q long, dp int",
    )
    got = {}
    for dp in (2, 4, 6):
        part = df.where(F.col("dp") == dp).select(
            "i",
            round_div_e4(
                F.col("s").cast("decimal(20,0)"), F.col("q"), dp
            ).alias("v"),
        )
        got.update({r["i"]: r["v"] for r in part.collect()})
    con = duckdb.connect()
    for i, (s, q, dp) in enumerate(cases):
        expected = float(
            (Decimal(s) / Decimal(q)).quantize(
                Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP
            )
        )
        duck = con.execute(
            f"SELECT {sql_round_div_e4(str(s) + '::HUGEINT', str(q), dp)}"
        ).fetchone()[0]
        assert got[i] == expected, (s, q, dp, got[i], expected)
        assert duck == expected, (s, q, dp, duck, expected)
    con.close()


def test_e4_accumulator_survives_past_int64_and_cancellation(spark):
    """Adversarial-magnitude proof of the exact-sum
    layer, beyond the seeded identity fuzz.

    (a) OVERFLOW: a group whose TRUE e4 sum exceeds int64 must still
        sum exactly — e4() accumulates in decimal(30,0); a long
        accumulator wraps silently here and this test fails. Spark,
        DuckDB (HUGEINT) and Python Decimal must agree on the display.
    (b) CANCELLATION: +x/-x pairs leaving a half-cent residual (e4
        sum = 50) must display 0.01 exactly in both engines — the
        HALF_UP boundary a double accumulator resolves by summation
        order.
    (c) MARGIN: the 100 TB headroom is asserted explicitly — row count
        x max practical |e4| clears the decimal(30,0) accumulator cap
        by ~5 orders of magnitude while exceeding int64 (which is why
        long sums are not an option).
    (d) 2^53 EDGE: at e4 magnitudes near the double-exactness limit the
        two engines must still agree bit-for-bit (both compute
        round(v*10000) on the SAME double).
    """
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from opay_datalake_script_spark.functions.exact import (
        sql_sum_e4_2dp,
        sum_e4_2dp,
    )

    # (c) static margin: 1e13 rows (generous for 100 TB) x 1e12 max
    # practical |e4| (a $100M money value) = 1e25 — inside decimal(30,0)
    # by 5 orders, far past int64
    rows_100tb, max_abs_e4 = 10**13, 10**12
    assert rows_100tb * max_abs_e4 < 10**30  # decimal(30,0) cap holds
    assert rows_100tb * max_abs_e4 > 2**63  # a long sum would wrap

    # (a) 10_000 rows of 5e11 -> e4 sum 5e19 > 2^63 = 9.22e18
    big = [(0, 500_000_000_000.0)] * 10_000
    # (b) cancellation: 300 +/- pairs of 123456.7891 + one 0.0050 row
    cancel = [(1, 123456.7891), (1, -123456.7891)] * 300 + [(1, 0.0050)]
    # (d) e4 near 2^53: 4dp values whose e4 is within 40 of 2^53
    edge = [(2, (2**53 - 8) / 10000.0), (3, (2**53 - 40) / 10000.0)]
    df = spark.createDataFrame(big + cancel + edge, "g long, v double")
    got = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(sum_e4_2dp(F.col("v")).alias("s")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", big + cancel + edge)
    duck = {
        g: s
        for g, s in con.execute(
            f"SELECT g, {sql_sum_e4_2dp('v')} AS s FROM t GROUP BY g"
        ).fetchall()
    }
    con.close()
    # ground truth: Decimal HALF_UP on per-row e4 of the exact binary
    # doubles, summed exactly
    import collections

    sums = collections.defaultdict(Decimal)
    for g, v in big + cancel + edge:
        sums[g] += (Decimal(v) * 10000).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
    for g, s_e4 in sums.items():
        expected = float(
            (s_e4 / 10000).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )
        assert got[g] == expected, (g, got[g], expected)
        assert duck[g] == expected, (g, duck[g], expected)
    assert sums[0] > 2**63  # the overflow case genuinely exceeded int64
    assert got[1] == 0.01  # the half-cent residual survived cancellation


def test_lsh_chain_salts_reconnect_dense_family(spark, monkeypatch):
    """Measured at sf0.1: when an
    oversized bucket holds a DENSE near-dup family whose members are
    not all similar to the hub, star-only candidates shatter the
    cluster after exact-Jaccard verification (sf0.1: 407 truth
    clusters -> 993 star-only); the salted chains restore connectivity
    at O(B) cost (sf0.1: 478 clusters, 97.9% co-cluster pair
    preservation). This test pins the mechanism on a constructed dense
    family — a 130-token core shared by 60 docs, 'light' docs adding
    10 unique tokens and 'heavy' docs 60, so light-light (0.87) and
    light-heavy (0.65) pairs verify at 0.6 but heavy-heavy (0.52) do
    not, and the hub (doc 0, heavy) is dissimilar to every other heavy:
    with chains the verified graph is ONE component; with salts
    monkeypatched to 0 (star-only) the heavies shatter. Chains must
    stay O(B): candidate count <= (1+salts)*bands*(B-1)."""
    from opay_datalake_script_spark.llmdata import dedup as dd

    core = " ".join(f"core{i:03d}" for i in range(130))
    rows = []
    for d in range(60):
        u = 60 if d % 2 == 0 else 10  # doc 0 (the hub) is heavy
        uniq = " ".join(f"u{d:02d}x{k:02d}" for k in range(u))
        rows.append((d, core + " " + uniq))
    fam = spark.createDataFrame(rows, "doc_id long, text string")
    toks = fam.select(
        "doc_id",
        F.lit("en").alias("lang"),
        F.array_distinct(F.split("text", " ")).alias("tset"),
    )

    def verified_components(cap):
        cand = dd.band_candidate_pairs(fam, max_bucket_size=cap)
        sc = dd.exact_jaccard_scores(toks, cand, "tset", min_jaccard=0.6)
        pairs = [(r["doc_a"], r["doc_b"]) for r in sc.collect()]
        parent = {i: i for i in range(60)}
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in pairs:
            parent[find(a)] = find(b)
        return len({find(i) for i in range(60)}), cand.count()

    # sanity: uncapped truth is one cluster (heavies attach via lights)
    n_un, _ = verified_components(1 << 40)
    assert n_un == 1
    # star-only (salts -> 0) shatters: every heavy except those
    # verifying against the heavy hub (none: heavy-heavy 0.52, and
    # heavy-light probes don't exist in a pure star) stays isolated
    monkeypatch.setattr(dd, "LSH_CHAIN_SALTS", 0)
    n_star, _ = verified_components(16)
    assert n_star > 1, "star-only unexpectedly reconnected the family"
    # with the default salted chains the family reconnects, at O(B)
    monkeypatch.setattr(dd, "LSH_CHAIN_SALTS", 4)
    n_chain, n_cand = verified_components(16)
    assert n_chain == 1, f"chains failed to reconnect ({n_chain} components)"
    assert n_cand <= (1 + 4) * 8 * 59  # (1+salts) * bands * (B-1)


def test_sessionize_chunked_equals_single_window_on_celebrity_skew(spark):
    """The chunked sessionizer must (a) produce
    exactly the single-window form's output on a celebrity-skewed
    corpus — one user owning 20k events across 90 days (incl. a
    continuous multi-day run that chains chunk merges) among 200 normal
    users — and (b) partition its event-grain window by (user_id,
    chunk), so the heaviest task holds one user's busiest chunk, not
    their lifetime."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import sessionize

    t0 = dtm.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # celebrity: user 7 — 20k events, 10-minute spacing (continuous
    # 30-min-gap chains spanning many midnights), plus scattered bursts
    for k in range(20000):
        rows.append((eid, 7, t0 + dtm.timedelta(minutes=10 * k))); eid += 1
    # normal users: 3 sessions of 3 events each
    for u in range(100, 300):
        for s in range(3):
            for j in range(3):
                rows.append(
                    (eid, u, t0 + dtm.timedelta(days=s, minutes=5 * j))
                ); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    chunked = sessionize(ev, chunk_days=7)
    single = sessionize(ev, chunk_days=None)
    a = sorted(tuple(r) for r in chunked.collect())
    b = sorted(tuple(r) for r in single.collect())
    assert a == b
    # celebrity's continuous 10-min spacing = ONE session spanning ~139
    # days -> the chunk-merge chain worked across ~20 chunk boundaries
    celeb = [r for r in a if r[0] == 7]
    assert len(celeb) == 1 and celeb[0][2] == 20000
    plan = (
        chunked._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # the event-grain window must be keyed by (user_id, chunk)
    assert "windowspecdefinition(user_id" in plan and "chunk" in plan


def test_cosine_chain_identity_cross_engine_fuzz(spark):
    """The exact-chain cosine scheme (k_ann_grid / k_knn_query /
    k_hard_negatives) rests on one claim: Spark's sequential
    F.aggregate fold and DuckDB's explicit left-associated chain
    compute the SAME double, so floor(x*1e6+0.5) quantizes identically.
    Pin it on seeded random float32 vectors (including near-parallel,
    near-orthogonal, and sign-flipped pairs — negative sims exercise
    floor's toward--inf behavior on both sides)."""
    import random
    import struct as _struct

    import duckdb

    from opay_datalake_script_spark.llmdata.similarity import _dot_chain_sql

    rng = random.Random(808)
    def f32(x):
        return _struct.unpack("f", _struct.pack("f", x))[0]
    vecs = []
    base = [f32(rng.uniform(-1, 1)) for _ in range(64)]
    for i in range(60):
        if i % 3 == 0:  # near-parallel to base (high positive sim)
            v = [f32(b + rng.uniform(-0.01, 0.01)) for b in base]
        elif i % 3 == 1:  # sign-flipped (negative sim)
            v = [f32(-b + rng.uniform(-0.01, 0.01)) for b in base]
        else:  # independent (near-zero sim)
            v = [f32(rng.uniform(-1, 1)) for _ in range(64)]
        vecs.append((i, v))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qrow = df.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qd = F.transform(F.col("qv"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(e, qd, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda v: F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    sim_e6 = F.floor(dot / (norm(e) * norm(qd)) * F.lit(1000000.0) + F.lit(0.5))
    got = {
        r["vec_id"]: r["s"]
        for r in df.crossJoin(F.broadcast(qrow))
        .select("vec_id", sim_e6.alias("s"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", vecs)
    duck = dict(
        con.execute(f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM emb
        ),
        q AS (SELECT ev AS qv FROM base WHERE vec_id = 0)
        SELECT vec_id,
               CAST(floor(({_dot_chain_sql("base.ev", "q.qv")}
                           / (sqrt({_dot_chain_sql("base.ev", "base.ev")})
                              * sqrt({_dot_chain_sql("q.qv", "q.qv")})))
                          * 1000000.0 + 0.5) AS BIGINT)
        FROM base CROSS JOIN q
        """).fetchall()
    )
    con.close()
    assert got == duck
    # the fuzz covered both signs and the full range
    assert min(got.values()) < -900_000 and max(got.values()) == 1_000_000


def test_raw_e4_long_display_sites_need_decimal_accumulator(spark):
    """Regression pin for the round-8 accumulator sweep (t_q11 total,
    r_observed_load_metrics, r_pareto_deciles, r_revenue_bridge,
    k_winsorize_clip, i_stream_fanout_sinks, a_scan_dynamic_pruning):
    queries whose DISPLAY contract is a raw e4 long must still
    accumulate in decimal. Under this engine's ANSI default (Spark 4)
    `sum(e4_long)` KILLS THE JOB with ARITHMETIC_OVERFLOW the moment a
    group's true sum passes int64 — i.e. the query stops scaling — and
    under a caller session with ANSI off the same sum wraps silently,
    which is worse. `sum(e4 as decimal(38,0))` completes and carries
    the exact value (checked against Python int math) at any group
    size. The fixed sites all use the decimal shape; a revert
    reintroduces the failure this test demonstrates."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    n, v = 10_000, 500_000_000_000.0  # e4 = 5e15 each; sum 5e19 > 2^63
    df = spark.createDataFrame([(v,)] * n, "v double")
    e4_long = F.round(F.col("v") * 10000, 0).cast("long")
    e4_dec = F.round(F.col("v") * 10000, 0).cast("decimal(38,0)")
    true_sum = n * 5_000_000_000_000_000  # exact int math
    row = df.agg(F.sum(e4_dec).alias("exact_dec")).first()
    assert int(row["exact_dec"]) == true_sum
    # the long-accumulator shape cannot produce this number: ANSI kills
    # the job at the first partial sum past 2^63
    with _pytest.raises(ArithmeticException):
        df.agg(F.sum(e4_long).alias("s")).first()


def _shift_fixture_rows():
    """Boundary-adversarial + celebrity rows for the chunked lag family:
    events exactly AT midnight chunk boundaries (chunk_days=1), runs
    straddling them, single-event chunks chaining through many empty
    days, a NULL value right after a boundary (pins that the stitch
    distinguishes "lead is null because last-in-chunk" from "next value
    IS null"), and a celebrity user whose 2,000-event stream spans ~14
    daily chunks."""
    import datetime as dtm

    t0 = dtm.datetime(2024, 1, 1)
    rows, eid = [], 0

    def add(u, minutes, value):
        nonlocal eid
        rows.append((eid, u, t0 + dtm.timedelta(minutes=minutes), value))
        eid += 1

    # user 1: dense run straddling the day-1/day-2 midnight, with events
    # exactly at the boundary and a NULL value as the first row of day 2
    for m, v in [(1430, 1.0), (1439, 2.0), (1440, None), (1441, 3.0), (2880, 4.0)]:
        add(1, m, v)
    # user 2: one event per day for 6 days — every chunk is single-row,
    # so every lag/lead crosses a chunk boundary
    for d in range(6):
        add(2, d * 1440 + 7, float(d))
    # user 3: a single event (lag and lead both NULL)
    add(3, 42, 9.5)
    # user 7: celebrity — 2000 events at 10-minute spacing (~14 chunks)
    for k in range(2000):
        add(7, 10 * k, float(k % 17))
    return rows


def test_chunked_shifts_equal_single_window_on_boundaries_and_celebrity(spark):
    """`with_chunked_shifts` (the sessionize chunking generalized to
    the lag family) must reproduce the classic single
    user-keyed window EXACTLY on boundary-adversarial and celebrity
    inputs, while keying its event-grain window on (user_id, chunk)."""
    from opay_datalake_script_spark.operators.windows import with_chunked_shifts

    ev = spark.createDataFrame(
        _shift_fixture_rows(),
        "event_id long, user_id long, ts timestamp, value double",
    )
    kw = dict(lags={"prev_ts": "ts", "prev_value": "value"},
              leads={"next_value": "value", "next_ts": "ts"})
    chunked = with_chunked_shifts(ev, "user_id", "ts", "event_id",
                                  chunk_days=1, **kw)
    classic = with_chunked_shifts(ev, "user_id", "ts", "event_id",
                                  chunk_days=None, **kw)
    a = sorted(tuple(r) for r in chunked.collect())
    b = sorted(tuple(r) for r in classic.collect())
    assert a == b
    plan = (
        chunked._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "windowspecdefinition(user_id" in plan and "_chunk" in plan


def test_chunked_running_sums_equal_single_window_on_boundaries_and_celebrity(spark):
    """`with_chunked_running_sums` must reproduce the classic inclusive
    running-sum window exactly — integer/decimal measures make the
    chunked prefix stitch bit-exact — including the exclusive-frame
    derivation (incl - indicator) r_event_order_violations uses."""
    from opay_datalake_script_spark.functions.exact import e4
    from opay_datalake_script_spark.operators.windows import (
        with_chunked_running_sums,
    )

    ev = spark.createDataFrame(
        [r for r in _shift_fixture_rows() if r[3] is not None],
        "event_id long, user_id long, ts timestamp, value double",
    ).withColumn("ind", (F.col("event_id") % 3 == 0).cast("int"))
    sums = {"cum4": e4(F.col("value")), "cum_ind": F.col("ind")}
    chunked = with_chunked_running_sums(
        ev, "user_id", "ts", "event_id", sums, chunk_days=1
    ).withColumn("before", F.col("cum_ind") - F.col("ind"))
    classic = with_chunked_running_sums(
        ev, "user_id", "ts", "event_id", sums, chunk_days=None
    ).withColumn("before", F.col("cum_ind") - F.col("ind"))
    a = sorted(tuple(r) for r in chunked.collect())
    b = sorted(tuple(r) for r in classic.collect())
    assert a == b
    assert all(r[-1] >= 0 for r in a)  # exclusive counts are never negative


def test_chunked_trailing_range_count_equals_single_window(spark):
    """`with_chunked_trailing_range_count` (the time-bounded tail carry
    for range frames) must reproduce the classic trailing-window count
    exactly on boundary-adversarial inputs: rows exactly AT the daily
    chunk boundary, pairs exactly window-distance apart straddling it
    (inclusive frame edge), duplicate timestamps (RANGE peers), a
    single-event chunk following an empty chunk, and a celebrity burst
    stream spanning several chunks."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import (
        with_chunked_trailing_range_count,
    )

    t0 = dtm.datetime(2024, 1, 1)
    rows, eid = [], 0

    def add(u, seconds):
        nonlocal eid
        rows.append((eid, u, t0 + dtm.timedelta(seconds=seconds)))
        eid += 1

    DAY = 86_400
    WIN_US = 7_200_000_000  # 2 h, the r_velocity_flags window
    # user 1: events at the boundary minus-window edge, just inside,
    # exactly at midnight, and just after — plus a duplicate timestamp
    for s in [DAY - 7200, DAY - 7199, DAY - 1, DAY, DAY, DAY + 1, DAY + 7200]:
        add(1, s)
    # user 2: one event, then an EMPTY day, then another (carry must not
    # leak across the empty chunk)
    add(2, 10)
    add(2, 2 * DAY + 10)
    # user 7: celebrity — 3000 events at 90 s spacing (~3 daily chunks,
    # every 2 h frame holds 81 rows and many frames straddle midnights)
    for k in range(3000):
        add(7, 90 * k)
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    chunked = with_chunked_trailing_range_count(
        ev, "user_id", "ts", WIN_US, "burst", chunk_days=1
    )
    classic = with_chunked_trailing_range_count(
        ev, "user_id", "ts", WIN_US, "burst", chunk_days=None
    )
    a = sorted(tuple(r) for r in chunked.collect())
    b = sorted(tuple(r) for r in classic.collect())
    assert a == b
    # the emitted row set is exactly the input (carries never leak out)
    assert len(a) == len(rows)
    import pytest as _pytest

    with _pytest.raises(ValueError):  # window wider than the chunk span
        with_chunked_trailing_range_count(
            ev, "user_id", "ts", 2 * 86_400_000_000, "burst", chunk_days=1
        )


def test_peak_concurrency_chunked_equals_classic_running_sum(spark):
    """e_peak_concurrency's boundary-sweep running sum must be invariant
    to the chunked rewrite even with duplicate (t, delta) sort keys
    (equal-delta ties yield the same running-value multiset in any
    order; only the per-user max is emitted)."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import (
        with_chunked_running_sums,
    )

    t0 = dtm.datetime(2024, 1, 1)
    rows = []
    # duplicate start times (two +1 at the same t), exact touches at the
    # daily boundary, and a celebrity pile-up
    for u, s in [(1, 0), (1, 0), (1, 300), (1, 86_400), (1, 86_400)] + [
        (7, 60 * k) for k in range(2000)
    ]:
        rows.append((u, t0 + dtm.timedelta(seconds=s), 1))
        rows.append((u, t0 + dtm.timedelta(seconds=s + 600), -1))
    bounds = spark.createDataFrame(rows, "user_id long, t timestamp, delta int")
    peak = lambda df: sorted(  # noqa: E731
        tuple(r)
        for r in df.groupBy("user_id")
        .agg(F.max("concurrent").alias("peak"))
        .collect()
    )
    chunked = with_chunked_running_sums(
        bounds, "user_id", "t", "delta", {"concurrent": F.col("delta")}, chunk_days=1
    )
    classic = with_chunked_running_sums(
        bounds, "user_id", "t", "delta", {"concurrent": F.col("delta")}, chunk_days=None
    )
    assert peak(chunked) == peak(classic)


def test_chunked_running_max_merge_intervals_equal_classic(spark):
    """`with_chunked_running_max_excl` + the chunked span labels must
    reproduce the classic interval sweep exactly: duplicate intervals
    (peer-order invariance), spans straddling the daily chunk boundary,
    an interval whose END crosses into the next chunk while later rows
    still compare against it (the prefix-max stitch), and a celebrity
    user with a multi-chunk continuous span."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import (
        with_chunked_running_max_excl,
        with_chunked_running_sums,
    )

    t0 = dtm.datetime(2024, 1, 1)
    rows, eid = [], 0
    DAY = 86_400

    def add(u, seconds):
        nonlocal eid
        rows.append((eid, u, t0 + dtm.timedelta(seconds=seconds)))
        eid += 1

    # user 1: duplicate intervals (the peer-order hazard: the two stages
    # sort independently, so the sweep threads a unique eid tiebreaker —
    # a non-total (s, e) order attached stage-1 flags to a different
    # stage-2 peer order and split a span, the bug this test caught),
    # a boundary-straddling interval, and a later row inside the
    # straddler's carry-over end
    for s in [0, 0, 300, DAY - 300, DAY + 100, DAY + 900, 2 * DAY]:
        add(1, s)
    # user 2: isolated events two days apart (every chunk single-row)
    for d in range(4):
        add(2, 2 * d * DAY + 50)
    # user 7: celebrity — 3000 events at 5-minute spacing (continuous
    # overlap chain across ~10 daily chunks)
    for k in range(3000):
        add(7, 300 * k)
    ev = spark.createDataFrame(rows, "eid long, user_id long, ts timestamp")
    iv = ev.select(
        "user_id",
        "eid",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )

    def sweep(chunk_days):
        flagged = with_chunked_running_max_excl(
            iv, "user_id", "s", "eid", "e", "_pm", chunk_days=chunk_days
        ).select(
            "user_id", "eid", "s", "e",
            F.when(F.col("s") <= F.col("_pm"), 0).otherwise(1).alias("is_new"),
        )
        grouped = with_chunked_running_sums(
            flagged, "user_id", "s", "eid", {"grp": F.col("is_new")},
            chunk_days=chunk_days,
        )
        spans = grouped.groupBy("user_id", "grp").agg(
            F.min("s").alias("s0"), F.max("e").alias("e1"), F.count("*").alias("n")
        )
        return sorted(
            tuple(r)
            for r in spans.groupBy("user_id")
            .agg(
                F.count("*").alias("n_spans"),
                F.sum(
                    F.unix_micros("e1") - F.unix_micros("s0")
                ).alias("covered_us"),
            )
            .collect()
        )

    assert sweep(1) == sweep(None)
    # celebrity's 5-min spacing < 10-min window: ONE span across ~10 chunks
    celeb = [r for r in sweep(1) if r[0] == 7]
    assert celeb[0][1] == 1


def test_chunked_lead_seq_equals_single_window(spark):
    """`with_chunked_lead_seq` (lead-k via per-chunk head arrays + a
    chunk-grain continuation) must reproduce the classic lead-1/lead-2
    window exactly on the shapes that stress the continuation: chunks
    holding exactly ONE row (lead-2 must chain across TWO following
    present chunks), two-row chunks, empty chunks between present ones,
    end-of-stream NULL leads, and a celebrity stream spanning many
    chunks."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import with_chunked_lead_seq

    t0 = dtm.datetime(2024, 1, 1)
    rows, eid = [], 0
    DAY = 86_400

    def add(u, seconds, kind):
        nonlocal eid
        rows.append((eid, u, t0 + dtm.timedelta(seconds=seconds), kind))
        eid += 1

    kinds = ["view", "click", "purchase", "signup"]
    # user 1: one event per day for 6 days — every within-chunk lead is
    # NULL, lead-1 comes from the next chunk's head, lead-2 from the
    # chunk after (the two-hop continuation)
    for d in range(6):
        add(1, d * DAY + 30, kinds[d % 4])
    # user 2: two-row chunks with an EMPTY day between — lead-2 of the
    # second row must skip the empty chunk to the next present one
    for d in (0, 2, 4):
        add(2, d * DAY + 10, kinds[d % 4])
        add(2, d * DAY + 20, kinds[(d + 1) % 4])
    # user 3: single event — both leads NULL
    add(3, 99, "view")
    # user 7: celebrity — 2500 events at 90 s spacing (~3 daily chunks)
    for k in range(2500):
        add(7, 90 * k, kinds[k % 4])
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    kw = dict(src="event_type", outs=["e2", "e3"])
    chunked = with_chunked_lead_seq(
        ev, "user_id", "ts", "event_id", chunk_days=1, **kw
    )
    classic = with_chunked_lead_seq(
        ev, "user_id", "ts", "event_id", chunk_days=None, **kw
    )
    a = sorted(tuple(r) for r in chunked.collect())
    b = sorted(tuple(r) for r in classic.collect())
    assert a == b


def test_window_distinct_chunked_equals_classic(spark):
    """e_window_distinct's chunked running-distinct (prefix-set union)
    must equal the classic single-window collect_set form on adversarial
    shapes: values reappearing across chunk boundaries (the prefix union
    must dedupe, not double-count), single-row chunks, and a celebrity
    key spanning many chunks."""
    import datetime as dtm

    import opay_datalake_script_spark.operators.windows as wmod
    from opay_datalake_script_spark.operators.windows import e_window_distinct
    from opay_datalake_script_spark.registry import load_all_queries

    load_all_queries()
    t0 = dtm.datetime(2024, 1, 1)
    rows, oid = [], 0

    def add(cust, days, prio):
        nonlocal oid
        rows.append((cust, oid, t0 + dtm.timedelta(days=days), prio))
        oid += 1

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-LOW"]
    # cust 1: the same priority reappears in every 30-day chunk (prefix
    # union must not inflate the count), one new value per later chunk
    for m in range(5):
        add(1, 30 * m + 1, "1-URGENT")
        add(1, 30 * m + 2, prios[m])
    # cust 2: single-order chunks, alternating two values
    for m in range(4):
        add(2, 60 * m, prios[m % 2])
    # cust 7: celebrity — 2000 orders across ~36 chunks cycling all 5
    for k in range(2000):
        add(7, k % 1080, prios[k % 5])
    ev = spark.createDataFrame(
        rows,
        "o_custkey long, o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )

    real_load = wmod.load
    try:
        wmod.load = lambda _s, _d, _t: ev
        got = sorted(tuple(r) for r in e_window_distinct(spark, "ignored").collect())
    finally:
        wmod.load = real_load

    from pyspark.sql import Window as W2

    w = (
        W2.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W2.unboundedPreceding, W2.currentRow)
    )
    want = sorted(
        tuple(r)
        for r in ev.select(
            "o_custkey",
            "o_orderkey",
            F.size(F.collect_set("o_orderpriority").over(w))
            .cast("long")
            .alias("distinct_prios"),
        ).collect()
    )
    assert got == want


def test_chunked_trailing_rows_sums_equal_classic(spark):
    """`with_chunked_trailing_rows_sums` (the rows-frame tail carry) must
    reproduce the classic ROWS BETWEEN 6 PRECEDING frame exactly:
    one-row chunks forcing SIX-chunk-deep carries, histories SHORTER
    than the frame (the slice(x, -n, n)-returns-empty guard), frames
    straddling chunk boundaries mid-stream, and a celebrity key."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import (
        with_chunked_trailing_rows_sums,
    )

    t0 = dtm.datetime(2024, 1, 1)
    rows, oid = [], 0
    DAY = 86_400

    def add(u, seconds, v):
        nonlocal oid
        rows.append((oid, u, t0 + dtm.timedelta(seconds=seconds), v))
        oid += 1

    # user 1: ONE row per day for 10 days — every frame spans 7 chunks
    for d in range(10):
        add(1, d * DAY + 5, d + 1)
    # user 2: history SHORTER than the frame (3 rows over 3 days)
    for d in range(3):
        add(2, d * DAY + 9, 10 * (d + 1))
    # user 3: bursts of 4 around midnights (frames straddle boundaries)
    for d in range(4):
        for j in range(4):
            add(3, d * DAY - 600 + 300 * j, d * 10 + j)
    # user 7: celebrity — 3000 rows at 90 s spacing
    for k in range(3000):
        add(7, 90 * k, k % 13)
    ev = spark.createDataFrame(
        rows, "o_orderkey long, user_id long, ts timestamp, v int"
    )
    sums = {"s7": F.col("v").cast("long"), "n7": F.lit(1)}
    chunked = with_chunked_trailing_rows_sums(
        ev, "user_id", "ts", "o_orderkey", sums, n_prev=6, chunk_days=1
    )
    classic = with_chunked_trailing_rows_sums(
        ev, "user_id", "ts", "o_orderkey", sums, n_prev=6, chunk_days=None
    )
    a = sorted(tuple(r) for r in chunked.collect())
    b = sorted(tuple(r) for r in classic.collect())
    assert a == b
    assert len(a) == len(rows)  # carries never leak into the output


def test_chunk_family_pre_epoch_floor_division(spark):
    """Chunk ids must be FLOOR division of epoch-micros:
    Spark's `div` truncates toward zero, so pre-1970 timestamps would
    all collapse into a double-width chunk 0 spanning (-chunk, +chunk),
    breaking the one-chunk tail/boundary carries across the -1/0 chunk
    boundary. Events straddling the epoch must produce identical
    results from the chunked and classic forms for every helper family
    member (shift, running sum, trailing range count, sessionize)."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import (
        sessionize,
        with_chunked_shifts,
        with_chunked_running_sums,
        with_chunked_trailing_range_count,
    )

    epoch = dtm.datetime(1970, 1, 1)
    rows, eid = [], 0

    def add(u, seconds):
        nonlocal eid
        rows.append((eid, u, epoch + dtm.timedelta(seconds=seconds)))
        eid += 1

    DAY = 86_400
    # user 1: pairs exactly 2h apart straddling the epoch and the
    # chunk -1/0 boundary; duplicates at the boundary itself
    for s in [-DAY - 10, -7200, -7199, -1, 0, 0, 1, 7199, 7200, DAY + 10]:
        add(1, s)
    # user 2: entirely pre-epoch, multi-chunk (floor must separate
    # chunk -3 / -2 / -1 correctly, not merge them toward zero)
    for d in range(3):
        for j in range(5):
            add(2, -(d + 1) * DAY + 1800 * j)
    # user 3: dense pre-to-post stream at 90 s spacing over 4 days
    for k in range(3840):
        add(3, -2 * DAY + 90 * k)
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")

    WIN_US = 7_200_000_000
    a = with_chunked_trailing_range_count(
        ev, "user_id", "ts", WIN_US, "burst", chunk_days=1
    )
    b = with_chunked_trailing_range_count(
        ev, "user_id", "ts", WIN_US, "burst", chunk_days=None
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    a = with_chunked_shifts(
        ev, "user_id", "ts", "event_id", lags={"p": "event_id"},
        leads={"n": "event_id"}, chunk_days=1,
    )
    b = with_chunked_shifts(
        ev, "user_id", "ts", "event_id", lags={"p": "event_id"},
        leads={"n": "event_id"}, chunk_days=None,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    sums = {"cum": F.lit(1)}
    a = with_chunked_running_sums(
        ev, "user_id", "ts", "event_id", sums, chunk_days=1
    )
    b = with_chunked_running_sums(
        ev, "user_id", "ts", "event_id", sums, chunk_days=None
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    gap = 30 * 60 * 1_000_000
    a = sessionize(ev, gap_micros=gap, chunk_days=1)
    b = sessionize(ev, gap_micros=gap, chunk_days=None)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_chunk_helper_name_guard(spark):
    """The chunk helpers inject generated internal columns (_l_<out>,
    _lag_<out>, _tr, _cr, ...) plus the caller's output names; a caller
    column with one of those names must raise loudly instead of
    producing ambiguous-column errors or silently wrong selects."""
    import datetime as dtm

    import pytest

    from opay_datalake_script_spark.operators.windows import (
        with_chunked_running_sums,
        with_chunked_shifts,
        with_chunked_trailing_rows_sums,
    )

    t0 = dtm.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, t0)], "event_id long, user_id long, ts timestamp"
    )
    # caller column collides with a generated internal name
    bad = ev.withColumn("_lag_p", F.lit(0))
    with pytest.raises(ValueError, match="internals"):
        with_chunked_shifts(bad, "user_id", "ts", "event_id", lags={"p": "event_id"})
    bad = ev.withColumn("_l_cum", F.lit(0))
    with pytest.raises(ValueError, match="internals"):
        with_chunked_running_sums(bad, "user_id", "ts", "event_id", {"cum": F.lit(1)})
    bad = ev.withColumn("_cr", F.lit(0))
    with pytest.raises(ValueError, match="internals"):
        with_chunked_trailing_rows_sums(
            bad, "user_id", "ts", "event_id", {"s": F.lit(1)}, n_prev=2
        )
    # output name shadowing an existing column (both forms must refuse)
    with pytest.raises(ValueError, match="already exist"):
        with_chunked_running_sums(
            ev, "user_id", "ts", "event_id", {"event_id": F.lit(1)}
        )
    with pytest.raises(ValueError, match="already exist"):
        with_chunked_running_sums(
            ev, "user_id", "ts", "event_id", {"event_id": F.lit(1)}, chunk_days=None
        )
    # output name colliding with this call's internal namespace
    with pytest.raises(ValueError, match="internal"):
        with_chunked_shifts(
            ev, "user_id", "ts", "event_id", lags={"_chunk": "event_id"}
        )
    # the same output name requested twice in ONE call (lags and leads
    # share a key) — previously passed the guard and produced a frame
    # with duplicate columns, failing only on the first downstream
    # reference with AMBIGUOUS_REFERENCE
    with pytest.raises(ValueError, match="more than once"):
        with_chunked_shifts(
            ev, "user_id", "ts", "event_id",
            lags={"x": "event_id"}, leads={"x": "event_id"},
        )
    with pytest.raises(ValueError, match="more than once"):
        with_chunked_shifts(
            ev, "user_id", "ts", "event_id",
            lags={"x": "event_id"}, leads={"x": "event_id"}, chunk_days=None,
        )


def test_window_distinct_hll_matches_exact_at_fixture_domain(spark):
    """`e_window_distinct_hll` (the bounded-state scale variant of the
    running distinct count) must agree with the
    exact form at the fixture's 5-value priority domain, where lgK=12
    HLL is collision-free: per (custkey, orderkey) the estimate equals
    the exact count. This pins the accepted-error contract's easy end;
    the sketch's general error bound is DataSketches' published
    1.04/sqrt(2^lgK)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    exact = {
        (r[0], r[1]): r[2]
        for r in QUERIES["e_window_distinct"](spark, SF_DIR).collect()
    }
    approx = QUERIES["e_window_distinct_hll"](spark, SF_DIR).collect()
    assert len(approx) == len(exact)
    for r in approx:
        assert r[2] == exact[(r[0], r[1])], (
            f"HLL estimate {r[2]} != exact {exact[(r[0], r[1])]} "
            f"for cust={r[0]} order={r[1]}"
        )


def test_banded_point_join_equals_naive_theta(spark):
    """`banded_point_join` (the c_join_range rewrite) must return exactly
    the naive crossJoin+BETWEEN result on boundary-adversarial data:
    values at EXACT band edges (point == center +/- hw, inclusive both
    ends), negative values (floor, not truncation, places the bucket),
    points/centers exactly on bucket boundaries, and a non-unit
    half_width. The bucket replication must neither drop an edge match
    nor double-count a pair (each point's bucket is unique)."""
    from opay_datalake_script_spark.operators.joins import banded_point_join

    import pyspark.sql.functions as F

    vals = [-3.0, -2.5, -2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0,
            -2.75, -0.25, 0.25, 2.75, 1e-12, -1e-12]
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pid long, p double"
    )
    bnds = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(vals)], "bid long, c double"
    )
    for hw in (1.0, 0.5, 2.0):
        got = sorted(
            map(tuple,
                banded_point_join(pts, "p", bnds, "c", half_width=hw)
                .select("pid", "bid").collect())
        )
        want = sorted(
            map(tuple,
                pts.crossJoin(bnds)
                .where(F.col("p").between(F.col("c") - hw, F.col("c") + hw))
                .select("pid", "bid").collect())
        )
        assert got == want, f"half_width={hw}: banded != naive theta"
        assert len(got) == len(set(got)), f"half_width={hw}: duplicate pairs"


def test_hll_distinct_scan_error_bound_high_cardinality(spark):
    """The accepted-error contract's HARD end: at the fixture domain the
    HLL running distinct is exactly the exact count (pinned above), but
    the variant exists FOR high cardinality — so pin DataSketches'
    published bound there too. One celebrity key receives 20,000 events
    whose value cardinality grows along the timeline (value = i // 2, so
    the running distinct climbs to 10,000 across 4 chunk boundaries);
    the chunked HLL estimate at EVERY prefix must stay within 5x the
    lgK=12 standard error (1.04/sqrt(4096) ~ 1.63%, so +/-8.1%) of the
    true running count — wide enough to never flake, tight enough that
    a broken prefix stitch (which under- or over-counts by whole chunks,
    i.e. ~25%+) fails loudly."""
    import datetime as dtm

    from opay_datalake_script_spark.operators.windows import (
        chunked_scan,
        hll_distinct_scan,
    )

    n = 20_000
    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + dtm.timedelta(minutes=9 * i), str(i // 2))
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "k long, rid long, ts timestamp, v string"
    )
    est = chunked_scan(
        ev, "k", ["ts", "rid"], {"sk": hll_distinct_scan("v")}, chunk_days=30
    ).select("rid", F.hll_sketch_estimate("sk").alias("est"))
    got = {r.rid: r.est for r in est.collect()}
    assert len(got) == n
    # true running distinct of i // 2 over the first rid+1 rows
    worst = 0.0
    for rid, e in got.items():
        true = rid // 2 + 1
        rel = abs(e - true) / true
        worst = max(worst, rel)
    assert worst <= 0.081, f"worst relative error {worst:.4f} exceeds 5 sigma"
    # sanity: the timeline really crossed chunk boundaries (9 min * 20k
    # = 125 days = 4+ chunks), so the prefix stitch was exercised
    n_chunks = ev.select(
        F.countDistinct(F.expr("unix_micros(ts) div 2592000000000"))
    ).first()[0]
    assert n_chunks >= 4


def test_banded_point_join_input_guards(spark):
    """The generic band join must fail fast on degenerate inputs instead
    of silently degrading: non-positive half_width collapses every
    positive value into one bucket (a sign-partitioned near-cross-join
    that only explodes at scale), and overlapping column names between
    the two sides produce ambiguous output columns."""
    import pytest

    from opay_datalake_script_spark.operators.joins import banded_point_join

    pts = spark.createDataFrame([(1, 0.5)], "pid long, p double")
    bnds = spark.createDataFrame([(2, 0.6)], "bid long, c double")
    with pytest.raises(ValueError, match="half_width"):
        banded_point_join(pts, "p", bnds, "c", half_width=0.0)
    with pytest.raises(ValueError, match="half_width"):
        banded_point_join(pts, "p", bnds, "c", half_width=-1.0)
    shared = spark.createDataFrame([(2, 0.6)], "pid long, c double")
    with pytest.raises(ValueError, match="BOTH sides"):
        banded_point_join(pts, "p", shared, "c", half_width=1.0)
    tainted = pts.withColumn("_bkt", F.lit(1))
    with pytest.raises(ValueError, match="_bkt"):
        banded_point_join(tainted, "p", bnds, "c", half_width=1.0)


def test_banded_point_join_degenerate_skew(spark, tmp_path):
    """The band join's pathological distribution —
    constant / near-constant values that funnel EVERY point into ONE
    bucket. Three invariants make the shape survivable at scale:

    1. Correctness never degrades: the single-bucket result still
       equals the naive theta join. (When every point really is inside
       every band, the output is quadratic by SEMANTICS — the plan's
       job is only not to make it worse.)
    2. The band-side replication fan-out is STRUCTURAL, not
       data-dependent: each band row lands in at most
       floor((c+hw)/hw) - floor((c-hw)/hw) + 1 <= 3 buckets no matter
       how the values cluster — a constant column cannot amplify it.
    3. The plan stays a bucket-keyed EQUI-join in both regimes:
       broadcast-hash under autoBroadcastJoinThreshold (the probe/point
       side is never shuffled, so one hot bucket cannot create a hot
       reducer), and past it — with auto-broadcast disabled to simulate
       a genuinely large band side — a shuffled SortMergeJoin, never
       CartesianProduct: the partition-level skew that remains is
       exactly the shape AQE's OptimizeSkewedJoin subdivides at
       runtime, which no nested-loop plan offers.
    """
    from opay_datalake_script_spark.operators.joins import banded_point_join

    hw = 1.0
    # 120 points all at (or within 1e-9 of) 0.0; 40 bands all at 0.25:
    # every pair matches, every point hashes to bucket 0 or -1.
    # Written to parquet and read back so Catalyst has REAL size stats —
    # a createDataFrame over a Python list estimates as unknown/huge and
    # never auto-broadcasts, leaving the broadcast regime untested.
    spark.createDataFrame(
        [(i, 0.0 if i % 3 else (1e-9 if i % 2 else -1e-9))
         for i in range(120)],
        "pid long, p double",
    ).write.parquet(str(tmp_path / "pts"))
    spark.createDataFrame(
        [(1000 + i, 0.25) for i in range(40)], "bid long, c double"
    ).write.parquet(str(tmp_path / "bnds"))
    pts = spark.read.parquet(str(tmp_path / "pts"))
    bnds = spark.read.parquet(str(tmp_path / "bnds"))

    # The scenario must be genuinely degenerate: all points in <=2
    # adjacent buckets (the -1e-9 jitter rows floor into bucket -1).
    pt_buckets = {
        r[0]
        for r in pts.select(F.floor(F.col("p") / hw)).distinct().collect()
    }
    assert pt_buckets <= {-1, 0}, pt_buckets

    # (2) structural fan-out bound on the replicated band side.
    replicated = bnds.select(
        F.explode(
            F.sequence(
                F.floor((F.col("c") - hw) / hw),
                F.floor((F.col("c") + hw) / hw),
            )
        )
    ).count()
    assert replicated <= 3 * bnds.count(), (
        f"band replication {replicated} exceeds the 3x structural bound"
    )

    # (1) exact parity with the naive theta join, broadcast regime.
    joined = banded_point_join(pts, "p", bnds, "c", half_width=hw)
    got = sorted(map(tuple, joined.select("pid", "bid").collect()))
    want = sorted(
        map(
            tuple,
            pts.crossJoin(bnds)
            .where(F.col("p").between(F.col("c") - hw, F.col("c") + hw))
            .select("pid", "bid")
            .collect(),
        )
    )
    assert got == want
    assert len(got) == 120 * 40, "degenerate case must be all-pairs"

    # (3a) under the threshold: broadcast-hash, point side never shuffled.
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan

    # (3b) past auto-broadcast: the fallback is a shuffled equi-join on
    # the bucket key — AQE-splittable — never a nested loop. Results
    # identical.
    auto_prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        over = banded_point_join(pts, "p", bnds, "c", half_width=hw)
        oplan = over._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in oplan
        assert "BroadcastNestedLoopJoin" not in oplan
        assert "SortMergeJoin" in oplan or "ShuffledHashJoin" in oplan, oplan
        got_over = sorted(
            map(tuple, over.select("pid", "bid").collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto_prev)
    assert got_over == want, "shuffled fallback must be semantics-preserving"


# Values spanning sign changes, bucket-boundary exactness (multiples of
# the widths below), absorption-scale magnitudes (1e15: c +/- hw may
# round back to c), and sub-width jitter. Floor-division monotonicity —
# a <= b implies floor(a/hw) <= floor(b/hw) for positive hw, in IEEE
# floats too — is the property under test: every BETWEEN-matching pair
# must land in a shared bucket regardless of value placement.
_band_values = st.lists(
    st.one_of(
        st.floats(min_value=-5.0, max_value=5.0, allow_nan=False,
                  allow_infinity=False),
        st.integers(min_value=-8, max_value=8).map(lambda i: i * 0.25),
        st.integers(min_value=-3, max_value=3).map(lambda i: i * 1e15),
    ),
    min_size=0,
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pvals=_band_values, cvals=_band_values,
       hw=st.sampled_from([0.25, 0.3, 1.0, 3.0]))
def test_banded_point_join_matches_naive_fuzz(spark, pvals, cvals, hw):
    """Randomized cross-check of `banded_point_join` against the naive
    crossJoin+BETWEEN theta join — empty sides, duplicate values, mixed
    magnitudes, and a non-dyadic width (0.3: p/hw is inexact, but floor
    monotonicity still guarantees bucket agreement between the point's
    bucket and the band's replicated range)."""
    from opay_datalake_script_spark.operators.joins import banded_point_join

    schema_p, schema_b = "pid long, p double", "bid long, c double"
    pts = spark.createDataFrame(list(enumerate(pvals)), schema_p)
    bnds = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(cvals)], schema_b
    )
    got = sorted(
        map(tuple,
            banded_point_join(pts, "p", bnds, "c", half_width=hw)
            .select("pid", "bid").collect())
    )
    want = sorted(
        map(tuple,
            pts.crossJoin(bnds)
            .where(F.col("p").between(F.col("c") - hw, F.col("c") + hw))
            .select("pid", "bid").collect())
    )
    assert got == want, f"hw={hw} pvals={pvals} cvals={cvals}"
    assert len(got) == len(set(got)), "duplicate pairs emitted"


def test_capped_vocab_is_projection_of_full_tokenizer(spark):
    """Semantic cross-check beyond the oracle: `k_tokenize_capped_vocab`
    must be EXACTLY the full tokenizer's output passed through the cap —
    per position, id' = id if id <= VOCAB_TOP_N else 0 — because both
    rank the vocabulary by the same (cnt DESC, tok) order and the cap
    only truncates that ranking. n_oov must equal the number of capped
    positions. Catches a divergence in ranking/tie-break/ordering
    between the two implementations that both oracles would individually
    miss (each oracle mirrors its own op's rule)."""
    from opay_datalake_script_spark.llmdata.pipeline import VOCAB_TOP_N
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    full = {
        r["doc_id"]: r["ids"]
        for r in QUERIES["k_tokenize_to_ids"](spark, SF_DIR).collect()
    }
    capped = QUERIES["k_tokenize_capped_vocab"](spark, SF_DIR).collect()
    assert len(capped) == len(full)
    for r in capped:
        fids = [int(x) for x in full[r["doc_id"]].split(",")]
        want = [i if i <= VOCAB_TOP_N else 0 for i in fids]
        got = [int(x) for x in r["ids"].split(",")]
        assert got == want, f"doc {r['doc_id']}: capped != projected full"
        assert r["n_oov"] == sum(1 for i in fids if i > VOCAB_TOP_N)
        assert r["n_tokens"] == len(fids)


def test_winnow_fingerprints_reference_and_locality(spark):
    """`winnow_fingerprints` (the k_winnow_fingerprints expression)
    against a naive Python reference on constructed docs covering the
    three length regimes (< k tokens -> whole-doc shingle; k <= n <
    k+w-1 -> single window; full path), PLUS the algorithm's defining
    locality guarantee: two documents sharing a token run of at least
    w + k - 1 (= 8) tokens MUST share at least one fingerprint — the
    property that makes winnowed fingerprints a sound band key for
    near-dup detection (Schleimer et al., SIGMOD 2003)."""
    import hashlib

    from opay_datalake_script_spark.llmdata.textstats import (
        winnow_fingerprints,
    )

    K, W = 5, 4

    def ref(text):
        toks = text.split(" ")
        n = len(toks)
        if n >= K:
            grams = [" ".join(toks[i:i + K]) for i in range(n - K + 1)]
        else:
            grams = [" ".join(toks)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if n >= K + W - 1:
            mins = [min(hs[j:j + W]) for j in range(len(hs) - W + 1)]
        else:
            mins = [min(hs)]
        return sorted(set(mins))

    shared = "q r s t u v w x"  # 8 tokens = w + k - 1: must co-fingerprint
    docs = [
        (0, "a"),                                  # n=1 < k
        (1, "a b c d"),                            # n=4 < k
        (2, "a b c d e"),                          # n=5 = k, single window
        (3, "a b c d e f g"),                      # n=7 < k+w-1
        (4, "a b c d e f g h"),                    # n=8, exactly full path
        (5, "m n o p " + shared + " y z"),         # shared run, left ctx
        (6, shared + " aa bb cc dd ee ff gg hh"),  # shared run, right ctx
        (7, " ".join(f"t{i % 3}" for i in range(40))),  # heavy duplicates
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", winnow_fingerprints(F.col("text"), k=K, w=W).alias("fps")
    )
    got = {r["doc_id"]: list(r["fps"]) for r in df.collect()}
    for doc_id, text in docs:
        assert got[doc_id] == ref(text), f"doc {doc_id}: spark != reference"
    assert set(got[5]) & set(got[6]), (
        "locality guarantee violated: docs sharing an 8-token run "
        "selected disjoint fingerprint sets"
    )


# Tiny token alphabet forces duplicate shingles (hash ties) and repeated
# runs; lengths straddle both guard boundaries (k=5, k+w-1=8).
_winnow_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=1, max_size=20)
    .map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_winnow_docs, kw=st.sampled_from([(5, 4), (4, 3), (3, 2)]))
def test_winnow_fingerprints_fuzz(spark, texts, kw):
    """Randomized winnowing cross-check: documents built from a 4-token
    alphabet (maximal shingle-hash ties and repeats) at lengths 1-20
    tokens, each compared against the naive Python reference. Hash ties
    inside a window make min selection ambiguous only at the POSITION
    level; the value-set contract this engine exposes must stay
    deterministic regardless. (k, w) is SAMPLED, not pinned at the
    production point, so a boundary off-by-one that cancels at (5, 4)
    — e.g. a guard hardcoding 8 instead of k+w-1 — still fails."""
    import hashlib

    from opay_datalake_script_spark.llmdata.textstats import (
        winnow_fingerprints,
    )

    K, W = kw

    def ref(text):
        toks = text.split(" ")
        n = len(toks)
        grams = (
            [" ".join(toks[i:i + K]) for i in range(n - K + 1)]
            if n >= K
            else [" ".join(toks)]
        )
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        mins = (
            [min(hs[j:j + W]) for j in range(len(hs) - W + 1)]
            if n >= K + W - 1
            else [min(hs)]
        )
        return sorted(set(mins))

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", winnow_fingerprints(F.col("text"), k=K, w=W).alias("fps"))
    got = {r["doc_id"]: list(r["fps"]) for r in df.collect()}
    for i, text in enumerate(texts):
        assert got[i] == ref(text), f"doc {i} ({text!r}): spark != reference"


def test_winnow_candidates_exclude_null_text(spark):
    """Null-text docs must be EXCLUDED from winnow banding:
    Spark's concat_ws('') would otherwise fingerprint a null doc as
    md5('') and pair every null doc with every empty doc through one
    sentinel bucket, while the DuckDB oracle's NULL-propagating md5
    emits nothing — a cross-engine divergence invisible at fixture
    scale (0 null texts). Empty-STRING docs remain legitimate members
    of the md5('') bucket on both sides."""
    from opay_datalake_script_spark.llmdata.dedup import (
        winnow_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "")],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_candidate_pairs(docs).collect()
    }
    assert pairs == {(3, 4)}, (
        f"null docs must not band; empty docs must: {pairs}"
    )


def test_corpus_dedup_winnow_catches_containment_pair(spark, tmp_path):
    """The two-source pipeline's reason to exist:
    a short document quoted VERBATIM inside a much longer one shares a
    long exact token run (winnow guarantee: any shared >= 8-token run
    collides a fingerprint bucket) while its whole-document token
    Jaccard is diluted far below the 0.6 near-dup edge — MinHash-LSH
    banding + Jaccard verify alone structurally misses it. The shingle
    containment verify (|S_a ∩ S_b| / min >= 0.5) accepts exactly this
    shape. Asserts: (1) the pair's token Jaccard really is < 0.6 (the
    scenario is genuinely out of reach of the Jaccard edge), (2) the
    pipeline clusters quote and source into one component via
    near_dup, (3) an unrelated doc keeps its own component."""
    import uuid

    from opay_datalake_script_spark.llmdata.pipeline import (
        k_corpus_dedup_winnow,
    )

    rng_tokens = [f"w{i}" for i in range(400)]
    quote = " ".join(f"q{i}" for i in range(12))  # 12-token exact run
    long_doc = " ".join(rng_tokens[:200]) + " " + quote + " " + " ".join(
        rng_tokens[200:]
    )
    docs = [
        (1, long_doc, "en"),
        (2, quote, "en"),
        (3, " ".join(f"z{i}" for i in range(30)), "en"),
    ]
    sf_dir = str(tmp_path / f"sf_{uuid.uuid4().hex[:8]}")
    import os

    os.makedirs(sf_dir)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    # (1) the quote's whole-doc Jaccard against its source is diluted
    ta, tb = set(long_doc.split(" ")), set(quote.split(" "))
    jac = len(ta & tb) / len(ta | tb)
    assert jac < 0.6, f"scenario broken: jaccard {jac} reaches the edge"

    rows = {r["doc_id"]: r for r in k_corpus_dedup_winnow(spark, sf_dir).collect()}
    assert rows[2]["canonical_id"] == 1 and rows[2]["reason"] == "near_dup", rows[2]
    assert rows[1]["kept"] and rows[1]["reason"] == "kept", rows[1]
    assert rows[3]["kept"] and rows[3]["canonical_id"] == 3, rows[3]


def _write_interval_events(path, rows):
    """events.parquet with the full fixture schema, timestamp[us] (the
    current driver encoding) — (event_id, ts_us, user_id, event_type)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        path,
    )


def test_interval_joins_degenerate_one_cell_skew(spark, tmp_path):
    """The banded_point_join degenerate-skew pin,
    ported to the interval family: EVERY interval funnels into ONE grid
    cell (all activity inside a single hour of a single day — the
    flash-sale / bot-burst shape). Invariants, mirroring
    test_banded_point_join_degenerate_skew:

    1. Replication stays STRUCTURAL: each interval explodes to
       hour-span buckets; same-hour spans add exactly one bucket row
       each, so a value collision cannot amplify fan-out.
    2. Correctness never degrades: the one-bucket result equals the
       naive theta join (the output is all-pairs by SEMANTICS — every
       span really overlaps every other).
    3. The plan stays a bucket-keyed EQUI-join in both broadcast
       regimes — with auto-broadcast on (default) and forced off — and
       never CartesianProduct / BroadcastNestedLoopJoin: the hot bucket
       lands in ONE join partition, which is the shape AQE's skew-join
       can subdivide, unlike any nested-loop plan.

    Covers c_join_interval_overlap (interval x interval self-join) and
    c_join_interval_grid (interval x generated promo grid) through the
    registered ops against a constructed events fixture.
    """
    from opay_datalake_script_spark.operators.joins import (
        c_join_interval_grid,
        c_join_interval_overlap,
    )

    base_us = 1_705_312_800_000_000  # 2024-01-15T10:00:00Z (inside the
    # generated promo grid's 30-day span, so the grid op has matches)
    rows, eid = [], 0
    for u in range(40):  # 40 users, spans all inside hour 10, all overlap
        for off in (u, 1_800_000_000 + u):  # span [10:00:00.0000uu, 10:30:00.0000uu]
            eid += 1
            rows.append((eid, base_us + off, u + 1, "purchase"))
    # controls: a user on another day (no cross-day pairs) and a
    # single-purchase user (degenerate span filtered by HAVING >= 2)
    rows.append((9001, base_us + 86_400_000_000, 999, "purchase"))
    rows.append((9002, base_us + 86_400_000_000 + 60_000_000, 999, "purchase"))
    rows.append((9003, base_us + 120, 1000, "purchase"))
    sf = tmp_path / "sf_iv"
    sf.mkdir()
    _write_interval_events(str(sf / "events.parquet"), rows)
    sf_dir = str(sf)

    # (1) structural replication: every span sits inside one hour ->
    # exactly one (day, hr) bucket row per interval.
    from opay_datalake_script_spark.sources.io import load as _load

    iv = (
        _load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"),
             F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    n_iv = iv.count()
    n_bkt = iv.select(
        F.explode(F.sequence(F.hour("s"), F.hour("e")))
    ).count()
    assert n_iv == 41 and n_bkt == n_iv, (n_iv, n_bkt)

    def _no_nested_loop(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert any(j in plan for j in
                   ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), plan

    # (2)+(3) overlap self-join: parity with the naive theta form.
    ov = c_join_interval_overlap(spark, sf_dir)
    got = sorted(map(tuple, ov.collect()))
    a = iv.select("day", F.col("user_id").alias("user_a"),
                  F.col("s").alias("s_a"), F.col("e").alias("e_a"))
    b = iv.select(F.col("day").alias("day_b"), F.col("user_id").alias("user_b"),
                  F.col("s").alias("s_b"), F.col("e").alias("e_b"))
    theta_ov = F.unix_micros(F.least("e_a", "e_b")) - F.unix_micros(
        F.greatest("s_a", "s_b"))
    want = sorted(map(tuple, (
        a.join(b, (F.col("day") == F.col("day_b"))
               & (F.col("user_a") < F.col("user_b")))
        .where(theta_ov > 0)
        .select("day", "user_a", "user_b", theta_ov.alias("overlap_us"))
        .collect())))
    assert got == want
    assert len(got) == 40 * 39 // 2, "one-cell case must be all-pairs by semantics"
    _no_nested_loop(ov)

    # grid op: parity with its naive theta twin + plan shape.
    gr = c_join_interval_grid(spark, sf_dir)
    got_g = sorted(map(tuple, gr.collect()))
    u = (
        _load(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("dt"))
        .agg(F.min("ts").alias("u_start"), F.max("ts").alias("u_end"))
    )
    p = spark.range(180).select(
        F.col("id").cast("int").alias("promo_id"),
        (F.lit("2024-01-01").cast("timestamp")
         + F.col("id").cast("int") * F.expr("INTERVAL 4 HOURS")).alias("p_start"),
        (F.lit("2024-01-01").cast("timestamp")
         + F.col("id").cast("int") * F.expr("INTERVAL 4 HOURS")
         + F.expr("INTERVAL 6 HOURS")).alias("p_end"),
    )
    want_g = sorted(map(tuple, (
        u.crossJoin(p)
        .where((F.col("u_start") <= F.col("p_end"))
               & (F.col("p_start") <= F.col("u_end")))
        .select("user_id", "dt", "promo_id").collect())))
    assert got_g == want_g and len(got_g) > 0
    _no_nested_loop(gr)

    # (3b) forced past auto-broadcast: still an equi-join, results equal.
    auto_prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ov2 = c_join_interval_overlap(spark, sf_dir)
        _no_nested_loop(ov2)
        assert sorted(map(tuple, ov2.collect())) == got
        gr2 = c_join_interval_grid(spark, sf_dir)
        _no_nested_loop(gr2)
        assert sorted(map(tuple, gr2.collect())) == got_g
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto_prev)


def test_capped_bucket_pairs_null_bucket_key_still_chains(spark):
    """The helper's contract is 'ANY (doc_id, band, bucket)
    relation'. The earlier window implementation — and the oracle's
    PARTITION BY — group a NULL bucket key into ONE group, so an
    oversized null-keyed group chained (it never starred: the star
    self-join is an equi-join that drops null keys on both engines).
    The window-free rewrite must preserve that: sizing + chain join
    back are null-safe. Expected pairs computed by a pure-Python replay
    of the chain rule (md5(doc_id:salt) order, consecutive links, all
    salts, minus nothing — one chunk at this width)."""
    import hashlib

    from opay_datalake_script_spark.llmdata.dedup import (
        LSH_CHAIN_SALTS,
        capped_bucket_pairs,
    )

    members = [10, 11, 12, 13, 14]
    buckets = spark.createDataFrame(
        [(d, 0, None) for d in members],
        "doc_id long, band int, bucket string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in capped_bucket_pairs(buckets, max_bucket_size=2).collect()
    }
    want = set()
    for s in range(LSH_CHAIN_SALTS):
        order = sorted(
            members,
            key=lambda d: (hashlib.md5(f"{d}:{s}".encode()).hexdigest(), d),
        )
        for x, y in zip(order, order[1:]):
            want.add((min(x, y), max(x, y)))
    assert got == want and len(got) > 0, (sorted(got), sorted(want))


def test_grouped_row_number_null_group_matches_window(spark):
    """grouped_row_number must treat a NULL group key as ONE
    group, exactly like the Window.partitionBy semantics it replaces —
    the stats join back is null-safe, so null-group rows neither vanish
    nor each form their own group. Compared against the classic window
    form on a mixed null/non-null fixture."""
    from pyspark.sql import Window as W

    from opay_datalake_script_spark.operators.relational import (
        grouped_row_number,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, None), (6, "b")],
        "v long, g string",
    )
    got = {
        (r["g"], r["v"], r["grn"], r["gn"])
        for r in grouped_row_number(df, ["g"], ["v"]).collect()
    }
    w = W.partitionBy("g")
    want = {
        tuple(r)
        for r in df.select(
            "g", "v",
            F.row_number().over(w.orderBy("v")).cast("long").alias("grn"),
            F.count(F.lit(1)).over(w).cast("long").alias("gn"),
        ).collect()
    }
    assert got == want, (sorted(got), sorted(want))


def test_embed_near_dup_matches_brute_force_on_planted_pairs(spark, tmp_path):
    """k_embed_near_dup returns no rows on any fixture (every pair
    cosine there is below 0.9), so its oracle check only proves the
    output is empty. Plant pairs well above 0.9 (small perturbations,
    a scaled copy) and well below (large perturbations, a negated
    copy) and require exactly numpy's brute-force pair set."""
    import numpy as np
    import pandas as pd

    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.schemas import SCHEMAS

    rng = np.random.default_rng(11)
    base = rng.standard_normal((48, 64))
    noise = rng.standard_normal((10, 64))
    vecs = np.vstack([
        base,
        base[:4] + 0.05 * noise[:4],   # cos ~0.999
        base[4:8] + 1.2 * noise[4:8],  # cos ~0.64
        3.0 * base[8:9],               # cos 1.0
        -base[9:10],                   # cos -1.0
    ]).astype(np.float32)
    n = len(vecs)
    ids = rng.permutation(10 * n)[:n].astype(np.int64)
    pdf = pd.DataFrame({
        "vec_id": ids,
        "embedding": [v.tolist() for v in vecs],
        "label": rng.integers(0, 5, n).astype(np.int32),
    })
    spark.createDataFrame(pdf, SCHEMAS["embeddings"]).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )

    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    sims = unit @ unit.T
    iu, ju = np.triu_indices(n, k=1)
    pair_sims = sims[iu, ju]
    assert not ((pair_sims > 0.8) & (pair_sims < 0.95)).any(), "no pair near 0.9"
    want = {
        (min(ids[i], ids[j]), max(ids[i], ids[j])): s
        for i, j, s in zip(iu, ju, pair_sims)
        if s >= 0.9
    }
    assert len(want) == 5

    load_all_queries()
    got = {
        (r.vec_a, r.vec_b): r.sim
        for r in QUERIES["k_embed_near_dup"](spark, str(tmp_path)).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 1e-5 for k in want)


def test_block_pairing_scores_every_pair_exactly_once(spark):
    """`_block_pair_scores` with a tile function that keeps every pair
    scores each unordered pair vec_a < vec_b in exactly one tile, for
    block counts 1-5 (with 3 vectors, some blocks are empty, so some
    block pairs have one empty side), and its cosines equal numpy's
    brute force."""
    import collections

    import numpy as np
    import pandas as pd

    from opay_datalake_script_spark.llmdata.similarity import _block_pair_scores

    def tile_all(diagonal, ids_a, ids_b, sims):
        va = np.repeat(ids_a, len(ids_b))
        vb = np.tile(ids_b, len(ids_a))
        sv = sims.ravel()
        if diagonal:
            keep = va < vb
            va, vb, sv = va[keep], vb[keep], sv[keep]
        return pd.DataFrame(
            {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb), "sim": sv}
        )

    rng = np.random.default_rng(5)
    for n in (3, 37):
        vecs = rng.standard_normal((n, 8))
        ids = rng.permutation(1000)[:n].astype(np.int64)
        emb = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<double>",
        )
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        sims = unit @ unit.T
        want = {
            (min(ids[i], ids[j]), max(ids[i], ids[j])): sims[i, j]
            for i in range(n)
            for j in range(i + 1, n)
        }
        for n_blocks in range(1, 6):
            rows = _block_pair_scores(emb, n_blocks, tile_all).collect()
            seen = collections.Counter((r.vec_a, r.vec_b) for r in rows)
            assert set(seen) == set(want), (n, n_blocks)
            assert max(seen.values()) == 1, (n, n_blocks)
            for r in rows:
                assert abs(r.sim - want[(r.vec_a, r.vec_b)]) <= 1e-9, (n, n_blocks)


def test_semdedup_keeper_invariants(spark):
    """Pins the SemDeDup keeper semantics independent of the oracle:
    (1) exactly one output row per input vector, (2) within every
    cluster whose minimum displayed cent_sim is UNIQUE, the member
    with the minimum (cent_sim, vec_id) — which by construction has
    no 'better' duplicate partner — is ALWAYS kept (the paper keeps
    the LOWEST-centroid-similarity member of a dup pair; the
    uniqueness restriction exists because the keeper rule compares
    RAW cs while the output column is q6-quantized — two raw-distinct
    values collapsing to one displayed value would make the displayed
    min ambiguous), and (3) the fixture genuinely
    exercises drops (kept=False rows exist; trivially-true kept
    columns would make the oracle differential vacuous, the
    k_embed_near_dup >= 0.9 lesson)."""
    from .conftest import SF_DIR
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    load_all_queries()
    out = QUERIES["k_semdedup"](spark, SF_DIR)
    rows = out.collect()
    n = load(spark, SF_DIR, "embeddings").count()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    assert any(not r.kept for r in rows), "fixture produced no drops"
    best_per_cluster: dict = {}
    min_sim_count: dict = {}
    for r in rows:
        key = (r.cent_sim, r.vec_id)
        if r.cluster not in best_per_cluster or key < best_per_cluster[r.cluster][0]:
            best_per_cluster[r.cluster] = (key, r.kept)
    for r in rows:
        if r.cent_sim == best_per_cluster[r.cluster][0][0]:
            min_sim_count[r.cluster] = min_sim_count.get(r.cluster, 0) + 1
    unambiguous = [
        kept
        for cl, (_, kept) in best_per_cluster.items()
        if min_sim_count[cl] == 1
    ]
    assert unambiguous, "every cluster min collided at q6 — invariant untestable"
    assert all(unambiguous)


def test_kmeans_and_semdedup_plans_stay_distributed(spark):
    """The iterative Lloyd fit must never plan a CartesianProduct (the
    centroid fan-out is a K-row scalar-bounded BNLJ — the e_ntile
    adjudication class) and the SemDeDup candidate stage must stay the
    shared capped equi-join, not an all-pairs theta join. Coverage
    split: k_kmeans_clusters' LAZY plan carries the whole
    fit, so it is the check on the Lloyd stages; k_semdedup's
    localCheckpoints truncate the fit out of its inspected plan, so
    its assertion covers only the post-checkpoint candidate /
    centroid-sim / keeper stages."""
    from .conftest import SF_DIR
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    for name in ("k_kmeans_clusters", "k_semdedup"):
        plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name


# -- d_triangle_count: degree-ordered orientation vs brute force ------------
#
# The DuckDB oracle mirrors the SAME orientation algorithm, so the
# differential check proves engine parity only. This pins the
# triangle SEMANTICS: hypothesis-generated random simple graphs are
# counted by brute-force 3-subset enumeration in Python and must agree
# node-for-node with the distributed orientation pipeline — including
# graphs with hubs (the degree-tie comparator path) and triangle-free
# graphs (empty result).

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges_strategy)
def test_triangle_participation_matches_brute_force(spark, raw):
    from opay_datalake_script_spark.operators.aggregates import (
        triangle_participation,
    )

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw if u != v})
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expected: dict[int, int] = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b not in adj[a]:
                continue
            for c in nodes:
                if c > b and c in adj[a] and c in adj[b]:
                    for n in (a, b, c):
                        expected[n] = expected.get(n, 0) + 1
    if edges:
        pairs = spark.createDataFrame(edges, "u long, v long")
    else:
        pairs = spark.createDataFrame([], "u long, v long")
    got = {
        r["node"]: r["n_tri"]
        for r in triangle_participation(pairs).collect()
    }
    assert got == expected


def test_session_window_native_boundary_semantics(spark):
    """Pins the probed native session_window semantics the
    e_session_window_native oracle mirrors: an exactly-gap-wide
    interval MERGES (strictly-greater break), one second past the gap
    SPLITS, and the session end is last event + gap. If a Spark
    upgrade ever flips the boundary rule, this fails before the
    differential suite starts mismatching wholesale."""
    rows = [
        (1, T0), (1, T0 + dt.timedelta(minutes=45)),
        (2, T0), (2, T0 + dt.timedelta(minutes=45, seconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["user_id"], r["session_window"]["start"]): r
        for r in df.groupBy(
            "user_id", F.session_window("ts", "45 minutes")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # exactly 45 min apart -> ONE merged session ending at last + gap
    merged = out[(1, T0)]
    assert merged["n"] == 2
    assert merged["session_window"]["end"] == T0 + dt.timedelta(minutes=90)
    # 45 min 1 s apart -> TWO sessions
    assert out[(2, T0)]["n"] == 1
    assert (2, T0 + dt.timedelta(minutes=45, seconds=1)) in out


def test_np_half_away_int_guard_and_boundaries():
    """The shared worker-side quantizer: half-AWAY rounding at exact .5
    boundaries for both signs (np.rint would give half-to-even), 2D
    arrays accepted (the embedding matvec site), and a LOUD failure on
    NaN — the silent platform-defined int64 cast is the latent bug the
    helper exists to prevent."""
    import numpy as np
    import pytest as _pytest

    from opay_datalake_script_spark.functions.udfs import _np_half_away_int

    x = np.array([2.5, 3.5, -2.5, -3.5, 0.0, 1.49999, -1.49999])
    assert _np_half_away_int(x).tolist() == [3, 4, -3, -4, 0, 1, -1]
    m = _np_half_away_int(np.array([[0.5, -0.5], [1.5, -1.5]]))
    assert m.tolist() == [[1, -1], [2, -2]]
    with _pytest.raises(ValueError, match="NaN"):
        _np_half_away_int(np.array([1.0, float("nan")]))


def test_attribution_degenerate_bot_user_window_grain(spark, tmp_path):
    """r_attribution_linear's surviving window
    partitions on pid (purchase id); its width equals the purchase's
    matched-click fan-in, which is bounded by ONE USER'S 24 h click
    volume, not by any corpus property. Pin that adjudication on the
    degenerate shape it's about: a bot user with one purchase and 500
    clicks inside the trailing 24 h (plus controls outside the window
    and on another user).

    Invariants:
    1. Output grain IS (purchase, click): the bot purchase yields
       exactly its 500 in-window clicks, the stale click (>24 h
       before) and the future click are excluded.
    2. Money conserves per purchase under the degenerate fan-in: the
       500 integer shares sum back to the purchase's exact e4 value,
       remainder on the most recent touch.
    3. The window partitions by pid in the plan (a per-user or
       unpartitioned window would make the bot's OTHER activity, or
       the corpus, the width bound instead).
    """
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    base_us = 1_705_312_800_000_000  # 2024-01-15T10:00:00Z
    hour_us = 3_600_000_000
    rows = []
    # bot: 500 clicks in the 24h before the purchase at base_us
    for i in range(500):
        rows.append((1000 + i, base_us - (i % 23 + 1) * hour_us - i, 1, "click"))
    rows.append((1, base_us, 1, "purchase"))
    # controls: a click 25h before (stale) and one after the purchase
    rows.append((2000, base_us - 25 * hour_us, 1, "click"))
    rows.append((2001, base_us + hour_us, 1, "click"))
    # a second user: 1 purchase, 2 in-window clicks
    rows.append((3000, base_us - hour_us, 2, "click"))
    rows.append((3001, base_us - 2 * hour_us, 2, "click"))
    rows.append((3, base_us, 2, "purchase"))
    sf = tmp_path / "sf_attr"
    sf.mkdir()
    _write_interval_events(str(sf / "events.parquet"), rows)

    df = QUERIES["r_attribution_linear"](spark, str(sf))
    pdf = df.toPandas()
    by_pid = pdf.groupby("purchase_event_id")
    assert set(pdf["purchase_event_id"]) == {1, 3}
    assert len(by_pid.get_group(1)) == 500
    assert len(by_pid.get_group(3)) == 2
    # exclusions: stale + future clicks never appear
    assert not set(pdf["click_event_id"]) & {2000, 2001}
    # conservation: integer shares sum to the exact e4 purchase value
    for pid, grp in by_pid:
        assert grp["attributed_e4"].sum() == 10000, (pid, grp)
        assert (grp["n_touches"] == len(grp)).all()
    # plan: the ranking window partitions by pid
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert win_lines and all("pid#" in ln for ln in win_lines), win_lines


def test_weighted_median_banded_contains_exact(spark):
    """d_weighted_median_banded is the documented 100 TB escape hatch
    for unbounded value domains; its guarantee is CONTAINMENT, not
    approximation-by-luck: banded cumulative weight at band B equals
    exact cumulative weight at B's last value, so the smallest band
    crossing the half-threshold is exactly the band holding the true
    weighted median. Pin that (plus identical total weights) against
    the exact op on the real fixture."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries

    from .conftest import SF_DIR

    load_all_queries()
    exact = {
        r["l_returnflag"]: r
        for r in QUERIES["d_weighted_median"](spark, SF_DIR).collect()
    }
    banded = {
        r["l_returnflag"]: r
        for r in QUERIES["d_weighted_median_banded"](spark, SF_DIR).collect()
    }
    assert set(exact) == set(banded) and exact
    for g, e in exact.items():
        b = banded[g]
        assert (
            b["wmedian_band_lo_e4"] <= e["wmedian_e4"] <= b["wmedian_band_hi_e4"]
        ), (g, e.asDict(), b.asDict())
        assert e["total_weight"] == b["total_weight"], g
