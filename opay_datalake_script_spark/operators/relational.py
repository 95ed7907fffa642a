"""Projection / filter / sort / set-op operators (SURVEY.md §2-B, §2-F, §2-G).

Reference analogs: HiveQL SELECT-list arithmetic with aliases, compound
WHERE predicates, CASE WHEN report bucketing, SELECT DISTINCT dimension
extraction, UNION ALL of homogeneous extracts, and CLUSTER/SORT BY write
locality (SURVEY.md §2 provenance column). All are single-pass Catalyst
plans: projections and filters fuse into the parquet scan (predicate
pushdown + column pruning), sorts use range partitioning, and global
top-N plans as TakeOrderedAndProject (no full sort at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.io import load


def global_running_sums(
    df: DataFrame,
    order_cols: list,
    sums: dict[str, Column],
    by: list[str] | tuple = (),
    parts: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Distributed running sums over a global total order (per ``by``
    group when given) WITHOUT the single-partition WindowExec that
    `Window.orderBy(...)` (no partitionBy) forces — that plan funnels
    the whole table through one task, the classic 100 TB global-rank
    bottleneck; a window partitioned by a few ``by`` values alone gives
    one task per value. Returns ``df`` plus one column per entry of
    ``sums`` (output name -> measure Column evaluated against ``df``):
    the inclusive running sum of the measure.

    Scalable shape: (1) range-repartition + sort on (*by, *order_cols),
    so shard ``_pid`` holds a contiguous key range; (2) per-(_pid, *by)
    measure totals; (3) an exclusive offsets window over ``by`` ordered
    by ``_pid`` — a #shards x #groups-row table, broadcast back;
    (4) the inclusive running sum within each (_pid, *by) plus its
    offset. The local sums use an explicit ROWS frame: an ordered
    window's default RANGE frame would give tied rows one value. Output
    is independent of the sampled range bounds whenever (*by,
    *order_cols) is a total order (unique tiebreaker), which every
    caller guarantees.

    ``by`` suits bounded group domains only (the broadcast offsets table
    grows with #groups); `grouped_row_number` is the form for unbounded
    groups. ``by`` keys must be non-NULL: the offsets join back is an
    equi-join. ``parts`` defaults to the session's shuffle parallelism —
    a hardcoded count would cap the sort at that many tasks on any
    cluster.

    The totals branch and the sums branch must see the SAME
    partitioning: RangePartitioner bounds are sample-based, so if the
    two plan references to the ranged subtree were planned separately
    (exchange reuse disabled, divergent AQE replan) the offsets would
    come from a different partitioning than the local sums.
    localCheckpoint materializes the ranged+pid data once and both
    branches read the same blocks — deterministic by construction, not
    by optimizer courtesy. (``checkpoint=False`` exists only so plan
    tests can inspect the pre-materialization logical shape.)
    """
    from pyspark.sql import Window as W

    by = list(by)
    if parts is None:
        parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keys = [*by, *order_cols]
    ranged = df.repartitionByRange(parts, *keys).sortWithinPartitions(*keys)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    if checkpoint:
        with_pid = with_pid.localCheckpoint()
    totals = with_pid.groupBy("_pid", *by).agg(
        *[F.sum(m).alias(f"_t_{o}") for o, m in sums.items()]
    )
    earlier = W.partitionBy(*by).orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *by,
        *[
            F.coalesce(F.sum(f"_t_{o}").over(earlier), F.lit(0)).alias(f"_o_{o}")
            for o in sums
        ],
    )
    local = (
        W.partitionBy("_pid", *by)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return with_pid.join(F.broadcast(offsets), ["_pid", *by]).select(
        *[F.col(c) for c in df.columns],
        *[
            (F.sum(m).over(local) + F.col(f"_o_{o}")).alias(o)
            for o, m in sums.items()
        ],
    )


def global_row_number(
    df: DataFrame, *order_cols, parts: int | None = None, checkpoint: bool = True
) -> DataFrame:
    """Distributed global row_number: `global_running_sums` of 1 over
    ``order_cols``, which must be a total order (unique tiebreaker).
    Returns ``df`` with an appended long ``rn`` column."""
    return global_running_sums(
        df, list(order_cols), {"rn": F.lit(1)}, parts=parts, checkpoint=checkpoint
    )


def grouped_row_number(
    df: DataFrame, group_cols: list, order_cols: list, parts: int | None = None
) -> DataFrame:
    """Distributed PER-GROUP row_number + group size, without the
    whole-group sort task that `Window.partitionBy(group).orderBy(...)`
    pins when groups are corpus-scale (few giant groups — the order-
    priority / event-type shape: 5 keys x tens of billions of rows
    means one sort task per key no matter how many executors exist;
    AQE never splits a window partition).

    Shape: rank GLOBALLY over the group-prefixed total order
    (global_row_number's range-repartition + per-partition rank — each
    group spreads across many range partitions, all sorting in
    parallel), then rank-within-group = global rank − the group's
    first global rank + 1. Group minima and sizes are ONE partial-
    combining aggregate joined back with no hint (one row per group;
    group cardinality is the caller's domain, not always bounded, so
    Catalyst broadcasts it only under ``autoBroadcastJoinThreshold``).

    ``order_cols`` must make (group_cols + order_cols) a total order
    (unique tiebreaker) — same contract as global_row_number. NULL
    group keys rank as one group, exactly like Window.partitionBy
    (the stats join back is NULL-SAFE — a plain equi-join
    would silently drop null-group rows). Cost note: the inner
    global_row_number localCheckpoints the ranged frame once; callers
    that ALSO need an independent global order afterwards (the
    interleave) pay a second materialization — the trade for removing
    the one-task-per-group sort, which dominates at scale. Returns
    ``df`` plus ``grn`` (1-based rank within group, long) and ``gn``
    (group size, long)."""
    from functools import reduce

    ranked = global_row_number(df, *group_cols, *order_cols, parts=parts)
    stats = ranked.groupBy(*group_cols).agg(
        F.min("rn").alias("_rn0"), F.count(F.lit(1)).alias("gn")
    )
    renamed = stats
    for c in group_cols:
        renamed = renamed.withColumnRenamed(c, f"_g_{c}")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_g_{c}")) for c in group_cols],
    )
    return (
        ranked.join(renamed, cond)
        .withColumn("grn", (F.col("rn") - F.col("_rn0") + 1).cast("long"))
        .drop("rn", "_rn0", *[f"_g_{c}" for c in group_cols])
    )


# ---------------------------------------------------------------------------
# §2-B projection / filter / predicates
# ---------------------------------------------------------------------------


@register(
    "b_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount)               AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           l_quantity * 2.0                                 AS qty_double
    FROM lineitem
    """,
)
def b_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with arithmetic + aliases (net price SELECT-list idiom).

    Row-level IEEE arithmetic on identical inputs is bit-identical across
    engines, so no rounding — round() itself is the only divergence risk
    here (engines disagree on exact-half decimals; SURVEY.md §5.3)."""
    li = load(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged"),
        (F.col("l_quantity") * 2.0).alias("qty_double"),
    )


@register(
    "b_filter_compound",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           (nullif(c_mktsegment, 'FURNITURE') IS NOT DISTINCT FROM 'BUILDING')
               AS is_building
    FROM customer
    WHERE c_acctbal BETWEEN 100.0 AND 9000.0
      AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
      AND c_name LIKE '%1%'
      AND NOT (c_nationkey = 3)
      AND nullif(c_mktsegment, 'HOUSEHOLD') IS NOT NULL
    """,
)
def b_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND/OR/NOT, BETWEEN, IN, LIKE, IS NULL, <=>."""
    c = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("FURNITURE"))
    return (
        c.where(
            F.col("c_acctbal").between(100.0, 9000.0)
            & F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
            & F.col("c_name").like("%1%")
            & ~(F.col("c_nationkey") == 3)
            & F.nullif(F.col("c_mktsegment"), F.lit("HOUSEHOLD")).isNotNull()
        )
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            seg.eqNullSafe("BUILDING").alias("is_building"),
        )
    )


@register(
    "b_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000  THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS price_tier,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              ELSE 'other' END AS status_label
    FROM orders
    """,
)
def b_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing (report dimension derivation idiom)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("price_tier"),
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_label"),
    )


@register(
    "b_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INTEGER)        AS qty_int,
           CAST(l_orderkey AS VARCHAR)        AS key_str,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
           CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip,
           TRY_CAST(l_returnflag AS INTEGER)  AS flag_as_int
    FROM lineitem
    """,
)
def b_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit casts including failing-cast -> NULL (try_cast)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        # date -> string: DATE-typed result columns round-trip differently
        # through pandas in Spark vs DuckDB (date vs midnight datetime);
        # ISO strings compare identically.
        F.col("l_shipdate").cast("date").cast("string").alias("ship_date"),
        F.col("l_quantity").cast("string").cast("double").alias("qty_roundtrip"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
    )


@register(
    "b_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def b_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT dimension extraction."""
    return load(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# §2-F sorts, limits, top-k
# ---------------------------------------------------------------------------


@register(
    "f_order_multi",
    oracle="""
    SELECT c_custkey,
           row_number() OVER (
               ORDER BY (CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
                              ELSE c_acctbal END) DESC NULLS LAST,
                        c_custkey
           ) AS rn
    FROM customer
    """,
)
def f_order_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with NULLS LAST, made hash-observable via row_number
    over the same total order (order-insensitive hashing can't see a bare
    ORDER BY). Ranked via the distributed global_row_number — a bare
    `Window.orderBy` would single-partition the whole table."""
    c = load(spark, sf_dir, "customer")
    masked = F.when(F.col("c_mktsegment") == "BUILDING", F.lit(None)).otherwise(
        F.col("c_acctbal")
    )
    ranked = global_row_number(
        c.withColumn("_m", masked),
        F.col("_m").desc_nulls_last(),
        F.col("c_custkey"),
    )
    return ranked.select("c_custkey", "rn")


@register(
    "f_top_n",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def f_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N with total order (tiebreaker key) — plans as
    TakeOrderedAndProject: each partition keeps N rows, no full sort."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register("f_sort_within_partitions", oracle="SELECT * FROM customer")
def f_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER BY / SORT BY analog: co-partition by key then sort inside
    each partition (write-locality idiom). Partition-local ORDER is not
    SQL-observable, but the CONTENT is: the driver compare is
    order-insensitive, so the oracle pins that clustering is a pure
    reorganization — every source row survives unchanged."""
    return (
        load(spark, sf_dir, "customer")
        .repartition(8, "c_nationkey")
        .sortWithinPartitions("c_nationkey", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# §2-G set operations
# ---------------------------------------------------------------------------


@register(
    "g_union_all",
    oracle="""
    SELECT o_orderkey, o_custkey, 'finished' AS src FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_custkey, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
    """,
)
def g_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of homogeneous extracts (by name, not position)."""
    o = load(spark, sf_dir, "orders")
    fin = o.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", F.lit("finished").alias("src")
    )
    opn = o.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey", F.lit("open").alias("src")
    )
    return fin.unionByName(opn)


@register(
    "g_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def g_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with dedup: nations having customers or suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "g_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def g_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers with both finished and open orders."""
    o = load(spark, sf_dir, "orders")
    f_keys = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_keys = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_keys.intersect(o_keys)


@register(
    "g_except",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def g_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiplicity-preserving difference)."""
    o = load(spark, sf_dir, "orders")
    all_keys = o.select("o_custkey")
    f_keys = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return all_keys.exceptAll(f_keys)


@register(
    "g_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('F', 'P')
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('O', 'P')
    """,
)
def g_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag-semantics intersection (min multiplicity per
    key), completing the set-op family next to g_intersect's DISTINCT
    form: a customer with 3 F/P orders and 2 O/P orders contributes the
    key TWICE. Spark plans intersectAll as one aggregate counting per
    branch + a generate replaying min(count) copies — a single shuffle
    on the key, no join."""
    o = load(spark, sf_dir, "orders")
    lhs = o.where(F.col("o_orderstatus").isin("F", "P")).select("o_custkey")
    rhs = o.where(F.col("o_orderstatus").isin("O", "P")).select("o_custkey")
    return lhs.intersectAll(rhs)


@register(
    "f_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100 OFFSET 200
    """,
)
def f_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LIMIT/OFFSET pagination (page 3 of a price-ranked
    listing) — the report-export idiom. Spark has no OFFSET pushdown
    worth leaning on for deep pages: the naive `orderBy().limit(offset+
    page)` plans a global TakeOrdered of offset+page rows on the driver,
    which degrades linearly with page depth (page 10 000 of a 100 TB
    listing = shipping 1M rows to one task). This uses the distributed
    global_row_number (range repartition + per-partition rank +
    broadcast offsets) and filters the [201, 300] rank band — constant
    work per page regardless of depth, pages served straight from the
    ranked partitions. The (o_totalprice DESC, o_orderkey) key is a
    total order, so the page content is engine-independent.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_row_number(o, F.col("o_totalprice").desc(), "o_orderkey")
    return (
        ranked.where(F.col("rn").between(201, 300))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "b_mask_export",
    oracle="""
    SELECT c_custkey,
           md5('pepper:' || c_name)                      AS name_token,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END                          AS balance_band,
           substr(c_mktsegment, 1, 1) || '***'           AS segment_hint
    FROM customer
    """,
)
def b_mask_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking for a privacy-tiered export — the
    de-identified extract a warehouse ships to analysts without
    row-level entitlements: names tokenized with a peppered hash
    (joinable across exports, not reversible without the pepper),
    balances coarsened to bands, categorical fields reduced to a
    prefix hint. Complements k_pii_scrub (free-text PII) and
    k_anonymity_check (does the masked table still over-identify?)
    as the structured-column leg of the privacy pipeline.

    Map-only projection — every mask is a JVM expression, no shuffle,
    no UDF; at 100 TB this is a pass-through transcode.
    """
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.concat(F.lit("pepper:"), F.col("c_name"))).alias("name_token"),
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_band"),
        F.concat(F.substring("c_mktsegment", 1, 1), F.lit("***")).alias(
            "segment_hint"
        ),
    )


@register(
    "g_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('F', 'P')
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('O', 'P')
    """,
)
def g_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag-semantics difference (multiplicity = left count
    minus right count, floored at zero), the last member of the set-op
    family (g_except is the DISTINCT form, g_intersect_all the bag
    intersection): a customer with 3 F/P orders and 1 O/P order
    contributes the key TWICE — the "remaining occurrences" semantics
    reconciliation reports need (shipments minus invoices). Same plan
    class as intersectAll: one aggregate counting per branch + a
    generate replaying the surplus, a single shuffle on the key, no
    join.
    """
    o = load(spark, sf_dir, "orders")
    lhs = o.where(F.col("o_orderstatus").isin("F", "P")).select("o_custkey")
    rhs = o.where(F.col("o_orderstatus").isin("O", "P")).select("o_custkey")
    return lhs.exceptAll(rhs)


@register(
    "f_keyset_pagination",
    oracle="""
    WITH cur AS (
        SELECT o_totalprice AS p0, o_orderkey AS k0
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1 OFFSET 199
    )
    SELECT o_orderkey, o_totalprice
    FROM orders, cur
    WHERE o_totalprice < p0 OR (o_totalprice = p0 AND o_orderkey > k0)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def f_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYSET (cursor) pagination — the other half of the pagination
    story next to f_offset_pagination: instead of a rank-band filter,
    the client passes the LAST KEY it saw and the server returns the
    next page with a pure predicate + top-k. The predicate pushes into
    the scan and TakeOrderedAndProject keeps k rows per partition —
    constant work per page with NO global rank structure at all, which
    is why every API paginates this way (and why the sort key must be
    a unique composite: a bare price cursor skips or repeats ties).

    The cursor here is the (price, orderkey) pair of rank-200 — looked
    up in the oracle by subquery, fixed on the Spark side by the same
    deterministic ordering. Descending-price keyset needs the explicit
    tie-aware predicate (p < p0) OR (p = p0 AND k > k0) on BOTH sides:
    a SQL row-value comparison (p, k) < (p0, k0) points the key leg the
    WRONG WAY for a mixed DESC/ASC sort and only coincidentally matches
    on tie-free fixtures.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cursor = (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey").limit(200)
        .orderBy(F.asc("o_totalprice"), F.desc("o_orderkey")).limit(1)
        .first()
    )
    p0, k0 = cursor["o_totalprice"], cursor["o_orderkey"]
    after = (F.col("o_totalprice") < p0) | (
        (F.col("o_totalprice") == p0) & (F.col("o_orderkey") > k0)
    )
    return (
        o.where(after)
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "f_global_sort_export",
    oracle="""
    SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rank,
           o_orderkey, o_totalprice
    FROM orders
    """,
)
def f_global_sort_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totally-ordered export — the full-table ORDER BY at scale: the
    table is written as N range-partitioned files such that file i's
    rows ALL precede file i+1's in the sort order and every row carries
    its exact global rank, so a downstream consumer reads the files in
    name order and sees one sorted stream (the ship-a-ranked-report
    shape the reference exported to MySQL; here the sorted parquet IS
    the deliverable).

    The rank comes from global_row_number's distributed two-phase
    prefix-sum — a naive Window.orderBy would funnel 100 TB through
    one task, and a bare .orderBy().write would sort correctly but
    emit no rank to prove it. The behavior test reads the landed files
    back and checks max(rank) of file i < min(rank) of file i+1 — the
    cross-file order contract a range-partitioned sort must satisfy
    and a hash-partitioned write silently wouldn't.

    The oracle is the textbook single-ORDER-BY row_number: exactly the
    semantics, impossible shape at scale — which is the point of
    checking the distributed form against it.
    """
    from ..sources.io import scratch_path

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_row_number(
        o, F.desc("o_totalprice"), F.asc("o_orderkey"), parts=16
    ).select(F.col("rn").alias("rank"), "o_orderkey", "o_totalprice")
    from ..sources.io import fixture_tag

    out = scratch_path("global_sort", f"orders_ranked_{fixture_tag(sf_dir)}")
    (
        ranked.repartitionByRange(16, "rank")
        .sortWithinPartitions("rank")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.schema(ranked.schema).parquet(out)
