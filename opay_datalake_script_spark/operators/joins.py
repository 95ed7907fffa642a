"""Join operators (SURVEY.md §2-C).

Reference analogs: Hive equi-joins (inner + LEFT OUTER dominate), LEFT
SEMI JOIN as the EXISTS idiom, and auto-mapjoin of dimension tables —
re-expressed as Spark joins where Catalyst/AQE pick the physical strategy
(broadcast-hash for small sides, sort-merge for fact-fact). Scale notes
inline per operator: at 100 TB the fact tables shuffle on their join keys
once, dimensions always broadcast, and the non-equi joins are designed to
keep one side tiny so broadcast-nested-loop stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import sql_sum_e4_2dp, sum_e4_2dp
from ..registry import register
from ..sources.io import load


@register(
    "c_join_inner",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_orderstatus,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def c_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi inner join; sort-merge at scale (both sides shuffle
    on the key once; AQE converts to broadcast if one side turns out small)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey",
        "l_linenumber",
        "o_orderstatus",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@register(
    "c_join_broadcast",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_brand, p_type
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def c_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive auto-mapjoin analog: Catalyst broadcasts the dimension side
    while it is under ``autoBroadcastJoinThreshold``, so the fact table
    is not shuffled; past it the join shuffles both sides."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_brand", "p_type"
    )


@register(
    "c_join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def c_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: keep customers without orders (nulls on the right)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "c_join_right",
    oracle="""
    SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity
    FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
    """,
)
def c_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER: keep orders without lineitems."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey, "right").select(
        "o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"
    )


@register(
    "c_join_full",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_customers
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey, n_customers, n_suppliers
    FROM cn FULL JOIN sn ON cn.nk = sn.nk
    """,
)
def c_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two aggregates keyed by nation."""
    cn = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"), "n_customers", "n_suppliers"
    )


@register(
    "c_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def c_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI JOIN — Hive's EXISTS idiom: customers with >=1 order.
    Semi join never duplicates the left side and only ships the key column
    of the right side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "c_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def c_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI JOIN: customers with no orders (NOT EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "c_join_cross",
    oracle="""
    SELECT r_name, status
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders)
    """,
)
def c_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dimension sets."""
    r = load(spark, sf_dir, "region").select("r_name")
    statuses = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderstatus").alias("status"))
        .distinct()
    )
    return r.crossJoin(statuses)


@register(
    "c_join_range",
    oracle="""
    SELECT s_suppkey, c_custkey,
           round(s_acctbal, 2) AS s_bal, round(c_acctbal, 2) AS c_bal
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 1.0 AND s_acctbal + 1.0
    """,
)
def c_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/band join, distributed as a BANDED EQUI-JOIN: each customer
    belongs to exactly ONE unit-width balance bucket (floor(c_acctbal)),
    each supplier replicates to the <=3 buckets its +/-1.0 band can
    touch, candidates meet in a bucket-keyed equi-join, and the exact
    BETWEEN predicate runs as a residual filter. No pair matches twice
    (the customer's bucket is unique), so no dedup is needed.

    This is the shape that survives any scale: both sides shuffle on a
    bounded-fan-out integer key instead of nesting loops. Catalyst
    broadcasts the (3x-replicated) supplier side at fixture scale, under
    ``autoBroadcastJoinThreshold``; past it the SAME equi-join simply
    shuffles — the graceful fallback a pure non-equi condition cannot
    offer (with no equi-key, an unbroadcast side would leave
    CartesianProduct as the only plan)."""
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return banded_point_join(
        c, "c_acctbal", s, "s_acctbal", half_width=1.0
    ).select(
        "s_suppkey",
        "c_custkey",
        F.round("s_acctbal", 2).alias("s_bal"),
        F.round("c_acctbal", 2).alias("c_bal"),
    )


def banded_point_join(
    points: DataFrame,
    point_col: str,
    bands: DataFrame,
    center_col: str,
    half_width: float,
) -> DataFrame:
    """Points x bands where ``point BETWEEN center - hw AND center + hw``,
    as a bucket-keyed equi-join (bucket width == half_width): each point
    keys on its unique bucket ``floor(point / hw)``, each band replicates
    to the <=3 buckets its interval can touch, and the exact BETWEEN runs
    as a residual filter. Floor monotonicity guarantees every matching
    point's bucket lies in the replicated range; the point bucket being
    unique guarantees no pair matches twice (no dedup needed). No hint:
    Catalyst plans broadcast-hash while the replicated band side is
    under ``autoBroadcastJoinThreshold``, and above it the same join
    shuffles on the integer bucket key.

    Both sides pass through whole, so project each to the columns the
    caller needs FIRST: the output would otherwise carry duplicate
    names (rejected below)."""
    hw = float(half_width)
    if hw <= 0:
        raise ValueError(f"half_width must be positive, got {half_width}")
    if "_bkt" in points.columns or "_bkt" in bands.columns:
        raise ValueError("column '_bkt' collides with the band-join internal key")
    overlap = sorted(set(points.columns) & set(bands.columns))
    if overlap:
        raise ValueError(
            f"column(s) {overlap!r} exist on BOTH sides — project/rename "
            "before the band join or the output is ambiguous"
        )
    bb = bands.select(
        "*",
        F.explode(
            F.sequence(
                F.floor((F.col(center_col) - hw) / hw),
                F.floor((F.col(center_col) + hw) / hw),
            )
        ).alias("_bkt"),
    )
    pb = points.select("*", F.floor(F.col(point_col) / hw).alias("_bkt"))
    cond = pb[point_col].between(
        bb[center_col] - hw, bb[center_col] + hw
    )
    return pb.join(bb, "_bkt").where(cond).drop("_bkt")


@register(
    "c_join_asof",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purch AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, c.click_id, c.ts AS click_ts
    FROM purch p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def c_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest prior-or-equal click
    of the same user.

    Spark has no native ASOF JOIN; the scalable formulation is union +
    forward-fill — no range-join blowup: tag both streams, order by
    (ts, kind, click_id) within user, carry the last click forward with
    the last-non-null fill, keep purchase rows. The click_id ordering
    makes the max-event_id click win among same-ts clicks (the oracle's
    dedup rule) without a separate pre-dedup groupBy. The fill rides
    the celebrity-immune chunked form (`with_chunked_last_nonnull` —
    last-non-null is associative, so within-(user, 30-day-chunk) fills
    stitch through a chunk-grain prefix; hash-identical to the classic
    single user-keyed sort, which a windowed bot/celebrity user would
    funnel through one task).
    """
    from .windows import with_chunked_last_nonnull

    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("click_id"),
        "event_id",
    )
    tagged = clicks.unionByName(purch)
    filled = with_chunked_last_nonnull(
        tagged,
        "user_id",
        "ts",
        ["kind", "click_id"],
        {
            "last_click_id": F.col("click_id"),
            "last_click_ts": F.when(F.col("kind") == 0, F.col("ts")),
        },
    )
    return (
        filled.where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("last_click_id").alias("click_id"),
            F.col("last_click_ts").alias("click_ts"),
        )
    )


@register(
    "c_join_multiway",
    oracle=f"""
    SELECT n_name, {sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def c_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star join: revenue by nation in ASIA (TPC-H Q5 shape).

    One streaming pass over the fact table: the bounded dimension sides
    (nation/region) carry explicit broadcast hints, while the orders and
    customer edges are UNhinted — both grow linearly with scale, and an
    explicit broadcast hint would override the size threshold and OOM
    executors at 100 TB. Left to the planner, they still broadcast at
    bench scale (they sit under the 64 MB autoBroadcastJoinThreshold)
    while at 100 TB those edges degrade gracefully to shuffled joins;
    the nation/region chain still broadcasts. The region filter
    prunes before anything heavy runs — Catalyst pushes it below the
    joins.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            sum_e4_2dp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "c_join_skew_salted",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def c_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join, result-identical to the plain join (the
    oracle is the unsalted SQL): the fact side gets a deterministic salt
    in [0, N) and the dim side is replicated N ways, so the join key
    becomes (key, salt) and one hot key spreads across N reducers.

    At 100 TB this is the manual fallback when AQE's skew-join split
    can't help (a single hot key that exceeds one reducer's memory);
    locally it costs an N-way dim blow-up, which is why it's a separate
    operator rather than the default join path. The salt must be
    deterministic (hash of a fact-side column, never rand()) to keep
    reruns idempotent and the oracle hash stable.
    """
    N = 8
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(N)).cast("int")
    )
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N - 1)))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            sum_e4_2dp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "c_join_bucketed",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n_items,
           {sql_sum_e4_2dp("l_quantity")} AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def c_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on bucketed tables: both sides are written
    bucketBy(16, orderkey) + sortBy, so the join consumes the bucket
    layout directly — ZERO shuffle for the join itself (the only Exchange
    left is the 5-group aggregate; tests/test_plans.py pins this).

    This is the storage-layout answer to the biggest 100 TB cost: a
    fact-fact join re-shuffling both sides on every run. Bucketing pays
    the shuffle once at write time and every downstream join/aggregation
    on the bucket key is exchange-free. Result is oracle-identical to the
    plain join.
    """
    import re

    from ..sources.io import fixture_tag, scratch_path

    tag = fixture_tag(sf_dir)
    ident = re.sub(r"\W", "_", tag)  # catalog names are identifiers
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        (
            load(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(16, key)
            .sortBy(key)
            .option("path", scratch_path(f"bucketed_{tag}", name))
            .saveAsTable(f"bkt_{name}_{ident}")
        )
    li = spark.table(f"bkt_lineitem_{ident}")
    o = spark.table(f"bkt_orders_{ident}")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            sum_e4_2dp(F.col("l_quantity")).alias("total_qty"),
        )
    )


@register(
    "c_join_fuzzy",
    oracle="""
    WITH names AS (
        SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS noun FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def c_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (edit-distance entity matching): find near-
    identical part names. The non-negotiable scale ingredient is the
    BLOCKING KEY — comparing only names that share a noun turns the
    O(n^2) all-pairs distance matrix into small per-block products, the
    same blocked-comparison shape as k_jaccard_pairs (dedup.py). The
    distance itself is the JVM `levenshtein` built-in, and distinct-name
    extraction first means blocks are over the name vocabulary, not the
    row count. At 100 TB: block on a cheap canopy (phonetic key, length
    band, first token), keep blocks bounded (salt oversized ones), and
    never ship an unblocked cross join."""
    p = load(spark, sf_dir, "part")
    names = (
        p.select("p_name")
        .distinct()
        .withColumn("noun", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)))
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= 4)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("long").alias("dist"),
        )
    )


@register(
    "c_join_interval_grid",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS dt,
               min(ts) AS u_start, max(ts) AS u_end
        FROM events GROUP BY 1, 2),
    p AS (
        SELECT CAST(i AS INT) AS promo_id,
               TIMESTAMP '2024-01-01'
                   + CAST(i AS INT) * INTERVAL 4 HOUR AS p_start,
               TIMESTAMP '2024-01-01'
                   + CAST(i AS INT) * INTERVAL 4 HOUR + INTERVAL 6 HOUR AS p_end
        FROM range(0, 180) AS t(i))
    SELECT u.user_id, u.dt, p.promo_id
    FROM u JOIN p ON u.u_start <= p.p_end AND p.p_start <= u.u_end
    """,
)
def c_join_interval_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed interval-vs-interval join against a GENERATED
    promo-window dimension — the equi-join rewrite that c_join_range's
    docstring promises. (Registered as its own ID in round 8: it was
    added in round 7 as `c_join_interval_overlap`, then a second
    operator registered the same ID hours later and — register() being
    last-wins at the time — silently shadowed this one out of the
    registry; register() now raises on duplicate IDs.)
    Per-(user, day) activity spans
    [first event, last event] matched against overlapping 6-hour promo
    windows on a 4-hour grid. Both interval sets explode to the grid
    cells they span (map-side, a handful of cells per interval), the
    join keys on the CELL (hash-partitionable equi-join — no
    nested-loop, no broadcast requirement), and the exact overlap
    predicate re-verifies candidates after the join with a distinct to
    collapse multi-cell matches.

    This is the shape that survives 100 TB x 100 TB: a theta join's BNL
    cost is |A| x |B| per executor, while the grid join shuffles each
    interval O(span/cell) times and only co-bucketed candidates meet.
    Cell width tunes replication vs candidate precision exactly like
    LSH banding. The DuckDB oracle runs the plain theta join — same
    result, different plan class.
    """
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id", F.to_date("ts").alias("dt")).agg(
        F.min("ts").alias("u_start"), F.max("ts").alias("u_end")
    )
    p = spark.range(180).select(
        F.col("id").cast("int").alias("promo_id"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.col("id").cast("int") * F.expr("INTERVAL 4 HOURS")
        ).alias("p_start"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.col("id").cast("int") * F.expr("INTERVAL 4 HOURS")
            + F.expr("INTERVAL 6 HOURS")
        ).alias("p_end"),
    )

    def cell(col):
        return F.floor(F.unix_timestamp(col) / 14400)

    uc = u.withColumn(
        "cell", F.explode(F.sequence(cell(F.col("u_start")), cell(F.col("u_end"))))
    )
    pc = p.withColumn(
        "cell", F.explode(F.sequence(cell(F.col("p_start")), cell(F.col("p_end"))))
    )
    return (
        uc.join(pc, "cell")
        .where(
            (F.col("u_start") <= F.col("p_end"))
            & (F.col("p_start") <= F.col("u_end"))
        )
        .select("user_id", "dt", "promo_id")
        .distinct()
    )


@register(
    "c_join_null_safe",
    oracle="""
    WITH lhs AS (
        SELECT o_orderkey, nullif(o_orderstatus, 'P') AS k FROM orders
    ),
    dim AS (
        SELECT DISTINCT nullif(o_orderstatus, 'P') AS k,
               coalesce(nullif(o_orderstatus, 'P'), 'parked') AS label
        FROM orders
    )
    SELECT lhs.o_orderkey, dim.label
    FROM lhs JOIN dim ON lhs.k IS NOT DISTINCT FROM dim.k
    """,
)
def c_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the
    dimension-lookup idiom where NULL is a legitimate key value (here an
    'unknown/parked' status bucket synthesized with NULLIF): a plain
    equality join silently DROPS every NULL-keyed fact row, the classic
    Hive-era lost-rows bug; eqNullSafe keeps them matched to the NULL
    dim row.

    Spark still plans `<=>` as a hash join (the operator hashes the
    null-bucketed key), and the dim side broadcasts — same shape as
    c_join_broadcast, only the equality semantics differ. NULL keys all
    hash to one bucket, so at 100 TB a NULL-heavy fact side is a skew
    key like any other — salt it or pre-split the NULL slice if the
    unknown bucket dominates.
    """
    o = load(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    lhs = o.select("o_orderkey", k.alias("k"))
    dim = (
        o.select(k.alias("k"), F.coalesce(k, F.lit("parked")).alias("label"))
        .distinct()
    )
    return lhs.join(F.broadcast(dim), lhs["k"].eqNullSafe(dim["k"])).select(
        "o_orderkey", "label"
    )


@register(
    "c_join_exists_flag",
    oracle="""
    SELECT c.c_custkey,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderstatus = 'O') AS has_open_order
    FROM customer c
    """,
)
def c_join_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS projected as a boolean column — keep EVERY left row and
    flag matches, the segmentation idiom between semi join (drops
    non-matches) and left join (duplicates on multi-match): distinct
    match keys + left join + flag, so a customer with 10 open orders
    still yields ONE row. Planned as one shuffle on the uniform
    custkey after the match-key side is reduced to distinct keys
    (smaller than the fact table by the match multiplicity).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    open_keys = (
        o.where(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return c.join(open_keys, "c_custkey", "left").select(
        "c_custkey", F.coalesce("_hit", F.lit(False)).alias("has_open_order")
    )


@register(
    "c_join_scd2_asof",
    oracle="""
    WITH dim AS (
        SELECT o_custkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS version_no,
               o_orderdate AS valid_from,
               coalesce(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                        TIMESTAMP '9999-12-31') AS valid_to
        FROM orders
    ),
    fact AS (
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_linenumber = 1
    )
    SELECT f.l_orderkey, f.l_linenumber,
           CAST(d.version_no AS BIGINT) AS version_no
    FROM fact f JOIN dim d
      ON d.o_custkey = f.o_custkey
     AND f.l_shipdate >= d.valid_from
     AND f.l_shipdate <  d.valid_to
    """,
)
def c_join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity join — "which VERSION of the dimension was true when
    the fact happened": every shipment is matched to the customer
    version (order-history timeline, half-open [valid_from, valid_to)
    windows) in force at its ship date. THE slowly-changing-dimension
    lookup of a Hive-era DWD layer, and the join shape matters: the
    validity predicate alone would plan as a nested-loop range join, so
    it rides on the custkey EQUI-join (hash join on the uniform key)
    with the interval test applied as a residual filter — per-key
    version counts are small (a customer's history), so the per-row
    fan-in is bounded and no interval index is needed. Half-open
    windows make the match unique even when a version closes the same
    instant the next opens.

    The dim build rides the celebrity-immune chunked forms (r8 window
    wave): version_no is a chunked running count and valid_to a chunked
    lead-1, composed over the TOTAL (o_orderdate, o_orderkey) order (the
    multi-stage tie rule) — hash-identical to the classic per-customer
    window, whose one task would otherwise sort a power account's whole
    version history. Zero-length [d, d) versions from same-instant order
    ties are unmatched by construction, keeping the mapping
    deterministic.
    """
    from .windows import with_chunked_running_sums, with_chunked_shifts

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    dim0 = with_chunked_shifts(
        o.select("o_custkey", "o_orderkey", "o_orderdate"),
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        leads={"_nxt": "o_orderdate"},
    )
    dim = with_chunked_running_sums(
        dim0, "o_custkey", "o_orderdate", "o_orderkey", {"_vn": F.lit(1)}
    ).select(
        "o_custkey",
        F.col("_vn").cast("long").alias("version_no"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.col("_nxt"), F.lit("9999-12-31").cast("timestamp")
        ).alias("valid_to"),
    )
    fact = li.join(
        o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey
    ).select("l_orderkey", "l_linenumber", "o_custkey", "l_shipdate")
    return (
        fact.join(dim, "o_custkey")
        .where(
            (F.col("l_shipdate") >= F.col("valid_from"))
            & (F.col("l_shipdate") < F.col("valid_to"))
        )
        .select("l_orderkey", "l_linenumber", "version_no")
    )


@register(
    "c_join_lateral_topk",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
    """,
)
def c_join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-k join — "for each customer, their 2
    priciest orders" written the way an analyst thinks (a per-row
    correlated subquery with ORDER BY .. LIMIT), executed the way a
    cluster needs: Catalyst DECORRELATES the lateral subquery into a
    partitioned row_number window + equi-join, so the physical plan is
    the same single-shuffle shape as e_topk_per_group — never one
    subquery execution per outer row (the O(n) round-trip disaster a
    naive engine makes of this syntax; verified by the Window node in
    the executed plan, pinned in test_plans).

    Both ORDER BYs carry the unique o_orderkey tiebreak so tied prices
    cannot legitimately differ between engines (the LIMIT-oracle rule).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    c.createOrReplaceTempView("lat_customer")
    o.createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
        FROM lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        """
    )


@register(
    "c_join_asof_nearest",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
    cand AS (
        SELECT p.user_id, p.ts AS purchase_ts, c.click_ts,
               abs(date_diff('microsecond', c.click_ts, p.ts)) AS abs_us,
               date_diff('microsecond', c.click_ts, p.ts) AS lag_us
        FROM p JOIN c ON p.user_id = c.user_id
         AND c.click_ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts + INTERVAL 1 DAY
    )
    SELECT user_id, purchase_ts, click_ts, lag_us FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, purchase_ts
            ORDER BY abs_us, click_ts) AS rn
        FROM cand
    ) WHERE rn = 1
    """,
)
def c_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor as-of join — sensor/stream alignment where the
    best match may be on EITHER side of the probe time (c_join_asof and
    j_cogroup_asof are backward-only): each purchase aligns to the
    closest click within a +/-1 day tolerance, ties (equidistant
    before/after) broken toward the earlier click so both engines pick
    identically.

    Relational shape: the tolerance turns the per-user pairing into a
    bounded band join — user equi-join with the interval as residual
    filter (the c_join_scd2_asof rule: ride the equi-key, never a
    nested-loop time join), then one (user, purchase) window keeps the
    arg-min distance. At 100 TB the tolerance bounds per-probe fan-in;
    without one, nearest-asof degrades to all-pairs per key — that's a
    design property, not an implementation detail, so the API requires
    it.

    Lags are signed integer microseconds (positive = click preceded
    purchase); abs/compare/rank all integer-exact.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    cand = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 DAY"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("INTERVAL 1 DAY")),
    ).select(
        "user_id",
        "purchase_ts",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )
    w = W.partitionBy("user_id", "purchase_ts").orderBy(
        F.abs(F.col("lag_us")), "click_ts"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "purchase_ts", "click_ts", "lag_us")
    )


@register(
    "c_join_bloom_prefilter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def c_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit Bloom-filter pre-filter on the fact
    side — the shuffle-reduction pattern for a selective dim filter
    whose surviving key set is still too large to broadcast as an
    exact IN-list: ship an m-bit Bloom instead, drop most
    non-matching fact rows BEFORE they shuffle, and let the exact
    semi join clean up the false positives. Correctness never depends
    on the filter (Bloom has no false negatives: a real match sets
    all its bits), which is exactly what the plain-IN oracle checks.

    The filter here is built from first principles with the md5 hash
    family (k=3 hashes into m=16384 bits) so the construction itself
    is deterministic; the bit set is carried as a sorted int array on
    a 1-row broadcast (the t_q11 scalar-broadcast shape) and probed
    with JVM `array_contains`. Production Spark automates the same
    idea as runtime bloom-filter injection
    (spark.sql.optimizer.runtime.bloomFilter.enabled) with a real
    bitmap; the manual form is the one you reach for when the build
    side is an arbitrary subquery the optimizer won't inject across
    — semantics and plan shape are identical.

    At 100 TB: bloom size is O(dim keys) bits independent of fact
    size; fact rows that fail the probe never enter the semi-join
    exchange — for a 5%-selective dim filter that is a ~20x shuffle
    cut for one broadcast of a few KB.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    m, hashes = 16384, 3

    def pos(j, key):
        h = F.md5(F.concat_ws(":", F.lit(j), key.cast("string")))
        return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % m).cast("int")

    dim_keys = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bloom = dim_keys.select(
        F.explode(
            F.array(*[pos(j, F.col("c_custkey")) for j in range(hashes)])
        ).alias("p")
    ).agg(F.sort_array(F.collect_set("p")).alias("bm"))
    probed = o.crossJoin(F.broadcast(bloom)).where(
        F.expr(
            "forall(array("
            + ",".join(
                f"cast(conv(substr(md5(concat({j}, ':', cast(o_custkey as string))),"
                " 1, 15), 16, 10) as bigint) % 16384"
                for j in range(hashes)
            )
            + "), p -> array_contains(bm, cast(p as int)))"
        )
    )
    return probed.join(
        dim_keys.hint("shuffle_hash"),
        probed.o_custkey == dim_keys.c_custkey,
        "left_semi",
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "c_join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               min(ts) AS s, max(ts) AS e
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1, 2
        HAVING count(*) >= 2
    )
    SELECT a.day,
           a.user_id AS user_a, b.user_id AS user_b,
           CAST(epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s))
                AS BIGINT) AS overlap_us
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
    WHERE least(a.e, b.e) > greatest(a.s, b.s)
    """,
)
def c_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join — BOTH sides are intervals (daily
    purchase-activity spans per user, kept only when >= 2 purchases
    make the span non-degenerate), and the answer is every same-day
    user pair whose spans overlap, with the exact overlap duration.
    This is the one interval-join flavor the c_join_range / asof /
    scd2 family doesn't cover: there one side is points.

    Distributed shape — the textbook bucketed interval join: each
    interval explodes to the HOUR buckets it covers (bounded fan-out:
    <= 24/day), candidate pairs meet in a shared (day, hour) bucket
    equi-join, duplicates from multi-bucket overlaps collapse with
    one distinct, and the exact residual test + duration runs on the
    candidate pairs only. The oracle is the direct quadratic same-day
    join — affordable for DuckDB at fixture scale, which is exactly
    why it can serve as ground truth for the bucketed plan. At 100 TB
    the quadratic form is impossible while the bucketed form's cost
    is O(intervals x bucket-span + true-candidate pairs); bucket
    width trades fan-out against candidate precision (the LSH-banding
    tradeoff, in time rather than hash space).

    Durations are exact integer microseconds (the e_merge_intervals
    rule: second-granular forms truncate differently per engine).
    """
    ev = load(spark, sf_dir, "events")
    iv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
        .drop("n")
    )
    buckets = iv.select(
        "user_id",
        "day",
        "s",
        "e",
        F.explode(
            F.sequence(F.hour("s"), F.hour("e"))
        ).alias("hr"),
    )
    a = buckets.select(
        F.col("day"),
        F.col("hr"),
        F.col("user_id").alias("user_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = buckets.select(
        F.col("day").alias("day_b"),
        F.col("hr").alias("hr_b"),
        F.col("user_id").alias("user_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("day") == F.col("day_b"))
            & (F.col("hr") == F.col("hr_b"))
            & (F.col("user_a") < F.col("user_b")),
        )
        .select("day", "user_a", "user_b", "s_a", "e_a", "s_b", "e_b")
        .distinct()
    )
    ov = F.unix_micros(F.least("e_a", "e_b")) - F.unix_micros(
        F.greatest("s_a", "s_b")
    )
    return cand.where(ov > 0).select(
        "day", "user_a", "user_b", ov.alias("overlap_us")
    )
