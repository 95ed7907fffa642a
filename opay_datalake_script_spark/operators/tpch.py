"""Full analytical query suite (TPC-H-shaped; public TPC-H spec).

The per-operator registry entries (§2 B-H) prove each relational piece
in isolation; this module proves they compose: all 22 classic TPC-H
queries re-expressed on the trimmed fixture schema (no partsupp table,
no commit/receipt dates, no ship modes, no phone/comment columns — the
handful of predicates that touched those columns are adapted in-place
and the adaptation is noted per query).

Spark-first plan notes that hold at 100 TB:
- region/nation are always broadcast (25 rows at any scale);
- part/supplier are broadcast AFTER their selective filters (a
  brand/type filter keeps the build side in the tens of MB even at
  sf100k); unfiltered customer/orders/lineitem joins shuffle on their
  keys once and AQE re-plans skew;
- every aggregate is a partial (map-side combine) before its single
  shuffle; scalar subqueries (Q15's max, Q17's per-part avg, Q22's
  avg balance) are either window functions sharing the main shuffle or
  1-row broadcast cross joins — never a driver collect.

Every displayed money/quantity sum accumulates in exact integer
ten-thousandths (the Q1/Q9/Q11 fixed-point "e4" scheme, `_e4` below) in
BOTH engines: fixture values carry <= 4 decimals, so e4 is lossless, and
integer sums are order-insensitive — no 2-dp rounding boundary can flip
between summation orders or engines, regardless of fixture generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.io import load

def _rev():
    # Built lazily (inside query functions): constructing a Column at
    # import time requires an active SparkContext, and the driver imports
    # this module to read oracle_sql() before any session exists.
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# Shared exact fixed-point display arithmetic — see functions/exact.py
# for the two-layer hazard (sum order + double-quotient rounding) and
# the engine-parity proofs.
from ..functions.exact import (  # noqa: E402
    display_2dp as _display_2dp,
    e4 as _e4,
    round_div_e4 as _round_div_e4,
    sql_display_2dp as _sql_display_2dp,
    sql_round_div_e4 as _sql_round_div_e4,
    sql_sum_e4 as _sql_sum_e4,
    sql_sum_e4_2dp as _sql_sum_e4_2dp,
    sum_e4_2dp as _sum_e4_2dp,
)


@register(
    "t_q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_sum_e4_2dp("l_quantity")} AS sum_qty,
           {_sql_sum_e4_2dp("l_extendedprice")} AS sum_base_price,
           {_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
               AS sum_charge,
           {_sql_round_div_e4(_sql_sum_e4("l_quantity"), "count(*) * 10000", 6)}
               AS avg_qty,
           {_sql_round_div_e4(_sql_sum_e4("l_extendedprice"), "count(*) * 10000", 6)}
               AS avg_price,
           {_sql_round_div_e4(_sql_sum_e4("l_discount"), "count(*) * 10000", 6)}
               AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def t_q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 complete (d_agg_basic is the 5-column teaser): one scan,
    map-side partial agg, 6-row shuffle regardless of input size.

    All money/average columns sum in exact integer ten-thousandths (the
    Q9/Q11 fixed-point scheme) so no rounding boundary can flip between
    summation orders; fixture values carry <= 4 decimals, so e4 is
    lossless here. The accumulator is decimal, not long: Q1 has only 6
    groups, so at 100 TB a group sums ~1e12 rows x ~1e9 e4-units ~ 1e21,
    past int64 — Spark's long sum would wrap silently while DuckDB's
    widens to HUGEINT.
    """
    li = load(spark, sf_dir, "lineitem")

    disc = _rev()
    n4 = F.count(F.lit(1)) * 10000
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_e4_2dp(F.col("l_quantity")).alias("sum_qty"),
            _sum_e4_2dp(F.col("l_extendedprice")).alias("sum_base_price"),
            _sum_e4_2dp(disc).alias("sum_disc_price"),
            _sum_e4_2dp(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            _round_div_e4(F.sum(_e4(F.col("l_quantity"))), n4, 6).alias("avg_qty"),
            _round_div_e4(F.sum(_e4(F.col("l_extendedprice"))), n4, 6).alias(
                "avg_price"
            ),
            _round_div_e4(F.sum(_e4(F.col("l_discount"))), n4, 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "t_q03_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate  > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def t_q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 unshipped orders by revenue. Both joins are key
    equi-joins that shuffle once; the final top-10 is TakeOrderedAndProject
    (per-partition heaps, no global sort). l_orderkey tie-breaks the sort
    so the LIMIT is deterministic across engines; revenue itself is an
    exact e4 integer sum, so the top-10 SET (not just its display) is
    engine- and order-stable."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_sum_e4_2dp(_rev()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "t_q04_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def t_q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: the fixture has no commit/receipt dates, so
    "late" = a lineitem shipped >60 days after the order date). EXISTS
    becomes a left-semi join with the non-equi residual evaluated on the
    matched pairs — still one key shuffle, no row explosion."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "t_q05_local_supplier",
    oracle=f"""
    SELECT n_name, {_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def t_q05_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-table star-ish join where customer and supplier must be
    in the SAME nation. region/nation broadcast (25 rows at any scale);
    supplier broadcasts under AQE while small; the c_nationkey =
    s_nationkey residual rides on the customer join."""
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_e4_2dp(_rev()).alias("revenue"))
    )


@register(
    "t_q06_forecast_revenue",
    oracle=f"""
    SELECT {_sql_sum_e4_2dp("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def t_q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-sum; all three predicates push into the
    parquet scan (min/max row-group pruning on l_shipdate at scale)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_sum_e4_2dp(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "t_q07_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {_sql_sum_e4_2dp("volume")} AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
              OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
            AND l_shipdate BETWEEN TIMESTAMP '1997-01-01'
                               AND TIMESTAMP '1998-12-31') AS shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def t_q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year. The
    two nation lookups broadcast; the symmetric pair filter is applied
    after both joins on broadcast-resident name columns."""
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1998-12-31").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("ck"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_sum_e4_2dp(_rev()).alias("revenue"))
    )


@register(
    "t_q08_market_share",
    oracle=f"""
    SELECT o_year,
           {_sql_round_div_e4(
               "sum(CASE WHEN nation = 'NATION_5' THEN volume_e4 ELSE 0 END)",
               "sum(volume_e4)", 6)} AS mkt_share
    FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                 CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                      AS BIGINT) AS volume_e4,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
            AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                AND TIMESTAMP '1997-12-31'
            AND p_type = 'PROMO') AS all_nations
    GROUP BY o_year
    """,
)
def t_q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted: single-word p_type, nation names are fixture
    names): NATION_5's share of PROMO-part revenue into AMERICA. The
    p_type filter shrinks part before its broadcast; both nation sides
    and region broadcast."""
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_regionkey").alias("crk"))
    n2 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation"))
    # decimal accumulator: per-year groups at 100 TB overflow int64
    vol = F.round(_rev() * 10000, 0).cast("decimal(20,0)").alias("volume_e4")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("ck"))
        .join(F.broadcast(r), F.col("crk") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sk"))
        .select(F.year("o_orderdate").alias("o_year"), vol, "nation")
        .groupBy("o_year")
        .agg(
            # Fixed-point e4 sums (same scheme as Q9/Q11): the ratio of
            # two exact integer sums is rounded with the pure-integer
            # HALF_UP identity (functions/exact.py) — no double is ever
            # rounded, so no boundary-adjacent group can flip.
            _round_div_e4(
                F.sum(
                    F.when(F.col("nation") == "NATION_5", F.col("volume_e4")).otherwise(
                        F.lit(0).cast("decimal(20,0)")
                    )
                ),
                F.sum("volume_e4"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "t_q09_product_profit",
    oracle=f"""
    SELECT nation, o_year, {_sql_display_2dp("sum(amount_e4)")} AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                 CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                      AS BIGINT) AS amount_e4
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%widget%') AS profit
    GROUP BY nation, o_year
    """,
)
def t_q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp table, so profit = net revenue
    without supply cost). The p_name LIKE filter shrinks part before
    broadcast; nation broadcasts; lineitem-orders is the one big
    shuffle join. Revenue is summed in exact integer ten-thousandths
    (2-decimal prices x 2-decimal discounts) so the aggregate is
    summation-order-independent — one fixture group lands exactly on a
    half-cent boundary where last-ulp float sums disagree."""
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            F.round(_rev() * 10000, 0).cast("long").alias("amount_e4"),
        )
        .groupBy("nation", "o_year")
        .agg(
            _display_2dp(F.sum(F.col("amount_e4").cast("decimal(20,0)"))).alias(
                "sum_profit"
            )
        )
    )


@register(
    "t_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1998-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def t_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned revenue in a quarter.
    Returnflag + date filters push to the scans; top-20 via
    TakeOrderedAndProject with c_custkey tie-break."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_e4_2dp(_rev()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "t_q12_late_lines_by_priority",
    oracle="""
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                THEN 'late' ELSE 'ontime' END AS ship_status,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def t_q12_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: no shipmode column — buckets are late/ontime
    by ship lag instead). One fact-fact shuffle join, then a 2-row agg."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_status",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                "late",
            ).otherwise("ontime"),
        )
        .groupBy("ship_status")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "t_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) AS c_orders
    GROUP BY c_count
    """,
)
def t_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (adapted: the comment-pattern exclusion becomes a
    priority exclusion). Left join keeps zero-order customers; two
    cascaded aggs, the second over a tiny distinct-count domain."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "t_q14_promo_effect",
    oracle=f"""
    SELECT {_sql_round_div_e4(
        "(100 * sum(CASE WHEN p_type = 'PROMO'"
        " THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)"
        " ELSE 0 END))",
        "sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))",
        4)} AS promo_revenue_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def t_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of one month's revenue. part broadcasts
    (only p_partkey/p_type survive pruning); single scalar agg."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    # Fixed-point e4 sums (same scheme as Q9/Q11): integer numerator and
    # denominator make the 4-decimal round summation-order-proof; decimal
    # accumulator because a single global group at 100 TB passes int64.
    rev_e4 = F.round(_rev() * 10000, 0).cast("decimal(20,0)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            _round_div_e4(
                F.sum(
                    F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(
                        F.lit(0).cast("decimal(20,0)")
                    )
                )
                * 100,
                F.sum(rev_e4),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "t_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                        AS BIGINT)) AS rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, {_sql_display_2dp("rev_e4")} AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND rev_e4 = (SELECT max(rev_e4) FROM revenue)
    """,
)
def t_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the max quarterly revenue. The scalar
    max subquery is a 1-row ``agg(max)`` broadcast back onto the
    per-supplier aggregate (same pattern as Q11's global total,
    t_q11_important_share) — NOT an empty-partition window, which would
    funnel millions of per-supplier rows through ONE task at scale. The
    revenue view is computed once and reused for both sides of the
    comparison; no second lineitem scan, no driver collect.

    Revenue accumulates in exact integer ten-thousandths and the
    max-equality compares the INTEGERS: an equality on 2-dp-rounded
    double sums could flip the winning-supplier SET itself when one
    engine's reassociated sum lands on a half-cent boundary — the
    worst case of the hazard class the e4 scheme exists for (Q1/Q8/
    Q9/Q11/Q14 precedent). The display column divides+rounds once."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        # long accumulator is safe HERE: TPC-H scales supplier count with
        # SF, so lineitems-per-supplier (~600, ~50 in the 3-month slice)
        # is constant at any corpus size — rows x max|e4| << 2^63.
        .agg(F.sum(F.round(_rev() * 10000, 0).cast("long")).alias("rev_e4"))
    )
    mx = rev.agg(F.max("rev_e4").alias("mx"))
    top = rev.join(F.broadcast(mx)).where(F.col("rev_e4") == F.col("mx"))
    s = load(spark, sf_dir, "supplier")
    return top.join(s, top.supplier_no == s.s_suppkey).select(
        "s_suppkey",
        "s_name",
        _display_2dp(F.col("rev_e4").cast("decimal(20,0)")).alias("total_revenue"),
    )


@register(
    "t_q16_part_supplier_breadth",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def t_q16_part_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: supplier breadth observed from lineitem since
    there is no partsupp). Distinct-count plans as expand+two-phase agg;
    the part filter broadcasts."""
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "t_q17_small_quantity_revenue",
    oracle=f"""
    SELECT {_sql_sum_e4_2dp("l_extendedprice", denom=70000)} AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def t_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders. The correlated
    per-part avg is a window over l_partkey sharing the join's partition
    — one shuffle total. Quantities are integer-valued doubles, so the
    0.2*avg threshold compares identically in both engines."""
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(_sum_e4_2dp(F.col("l_extendedprice"), denom=70000).alias("avg_yearly"))
    )


@register(
    "t_q18_large_volume_customer",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           {_sql_sum_e4_2dp("l_quantity")} AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING sum(CAST(round(l_quantity * 10000, 0) AS BIGINT))
                                > 2500000)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def t_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with very large orders (threshold tuned to
    the fixture's ~100-avg per-order quantity). lineitem is scanned
    ONCE: the classic HAVING-subquery-then-rejoin re-aggregates the very
    sum the subquery computed, so the per-order agg is joined directly
    to orders/customer instead (o_orderkey is unique — the regroup was
    a no-op). Locally the two-scan shape times slightly better (its
    second lineitem leg broadcast-joins with no shuffle, and sub-100 ms
    runs are dominated by stage boundaries), but at scale this one is
    strictly cheaper: it never rescans the fact table, reusing the one
    groupBy shuffle both shapes must pay. The quantity sum accumulates
    in exact e4 integers, so both the > 250 cut and the displayed
    total_qty are engine-stable on any fixture."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_e4(F.col("l_quantity"))).alias("sq"))
        .where(F.col("sq") > 2500000)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            # decimal division + round (see _sum_e4_2dp: never round a double)
            F.round(F.col("sq") / 10000, 2).cast("double").alias("total_qty"),
        )
    )


@register(
    "t_q19_discounted_revenue",
    oracle=f"""
    SELECT {_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
    """,
)
def t_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted: no shipmode/shipinstruct legs). The OR-of-ANDs
    predicate evaluates post-join; part broadcasts so each disjunct sees
    broadcast-resident brand/size."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(_sum_e4_2dp(_rev()).alias("revenue"))
    )


@register(
    "t_q20_heavy_widget_shippers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%widget%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey HAVING sum(l_quantity) > 400)
    """,
)
def t_q20_heavy_widget_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: shipped volume from lineitem replaces partsupp
    availability). The inner agg produces a tiny keeper set that
    semi-joins (broadcast under AQE) against supplier."""
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%")).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 400)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    return s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi").select(
        "s_name", "s_acctbal"
    )


@register(
    "t_q21_last_shipper",
    oracle="""
    WITH per_supp AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
        FROM lineitem GROUP BY l_orderkey, l_suppkey),
    per_order AS (
        SELECT l_orderkey, max(l_shipdate) AS ord_last,
               count(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY l_orderkey)
    SELECT s_name, count(*) AS numwait
    FROM per_supp
    JOIN per_order USING (l_orderkey)
    JOIN orders   ON o_orderkey = per_supp.l_orderkey
    JOIN supplier ON s_suppkey = per_supp.l_suppkey
    WHERE n_supp >= 2 AND supp_last = ord_last AND o_orderstatus = 'F'
    GROUP BY s_name
    """,
)
def t_q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: no receipt/commit dates — "kept the order
    waiting" = was the last supplier to ship on a finished multi-supplier
    order). lineitem is scanned ONCE and never self-joined: the
    per-order stats (latest ship date, supplier count) are a window over
    the per-(order, supplier) agg — a groupBy-then-rejoin formulation
    duplicates the whole aggregate subtree because Spark's exchange
    reuse doesn't canonicalize the two consumers together (pinned by
    test_q18_q21_scan_lineitem_once). Supplier broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last")
    )
    w = W.partitionBy("l_orderkey")
    stats = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "supp_last",
        F.max("supp_last").over(w).alias("ord_last"),
        F.count("*").over(w).alias("n_supp"),
    )
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    return (
        stats.where((F.col("n_supp") >= 2) & (F.col("supp_last") == F.col("ord_last")))
        .join(o, stats.l_orderkey == o.o_orderkey, "left_semi")
        .join(s, stats.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "t_q22_idle_rich_customers",
    oracle=f"""
    WITH picked AS (
        SELECT * FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
    avg_bal AS (
        SELECT sum(CAST(round(c_acctbal * 10000, 0) AS BIGINT)) AS bal_e4,
               count(*) AS cnt
        FROM picked WHERE c_acctbal > 0.0)
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           {_sql_sum_e4_2dp("c_acctbal")} AS totacctbal
    FROM picked, avg_bal
    WHERE CAST(round(c_acctbal * 10000, 0) AS BIGINT) * cnt > bal_e4
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def t_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: country code = c_nationkey since the fixture
    has no phone column): well-funded customers in 7 nations with no
    RECENT orders (every fixture customer has some order, so the classic
    no-orders-ever predicate would be vacuously empty). The scalar avg is
    a 1-row broadcast cross join; the NOT EXISTS is a left-anti join on
    the date-filtered order keys.

    The "above average balance" cut avoids the double-avg ulp hazard by
    cross-multiplying exact integers: e4(bal) * cnt > sum_e4 is the same
    inequality as bal > avg with zero division or rounding anywhere, so
    the member SET is engine-stable (sum_e4 ~ 1e8-units x 1e9 customers
    fits decimal/HUGEINT; the product is decimal(38,0) in Spark)."""
    nations = [1, 3, 5, 7, 9, 11, 13]
    c = load(spark, sf_dir, "customer").where(F.col("c_nationkey").isin(nations))
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(_e4(F.col("c_acctbal"))).alias("bal_e4"), F.count("*").alias("cnt")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(_e4(F.col("c_acctbal")) * F.col("cnt") > F.col("bal_e4"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            _sum_e4_2dp(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "t_q02_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem),
    cat AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
        FROM ps
        JOIN part     ON p_partkey = partkey
        JOIN supplier ON s_suppkey = suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE p_size <= 10 AND r_name = 'EUROPE')
    SELECT p_partkey, p_name, s_suppkey, s_name,
           round(s_acctbal, 2) AS s_acctbal, n_name
    FROM (SELECT *, min(s_acctbal) OVER (PARTITION BY p_partkey) AS mn
          FROM cat)
    WHERE s_acctbal = mn
    """,
)
def t_q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: no partsupp — the part-supplier catalog is the
    DISTINCT pairs observed in lineitem, and the preference scalar is
    s_acctbal since supply cost doesn't exist): per qualifying part, the
    supplier(s) with the minimum balance in EUROPE. The correlated min
    subquery is a groupBy min + join back on p_partkey — NOT a
    min-OVER-partition window (r12): real TPC-H bounds a part at 4
    suppliers, but the synthetic fixtures don't follow that
    construction (measured max distinct suppliers/part: 10 at sf0.001,
    41 at sf0.01, 52 at sf0.1 — GROWING with SF), so a per-part window
    was the same few-giant-groups sort-task risk the r11 keeper
    conversions removed. Catalyst folds the `s_acctbal = mn` filter
    INTO the join condition, so the keeper selection executes as an
    equi-join keyed on (normalized s_acctbal, p_partkey) — a finer
    composite key than the window's p_partkey partitioning, meaning a
    mega-part's suppliers spread across tasks by balance instead of
    funneling into one sort task (shape pinned in test_plans under
    both broadcast regimes). The catalog subtree is evaluated on both
    join sides — a constant-factor second scan, accepted in exchange
    for removing the single-task cliff; no broadcast hint on the mins
    side so the at-scale regime is plain SMJ. The min compares stored
    doubles with no arithmetic, so equality is engine-stable. Ties on
    the min balance keep every tied supplier, same as the window."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    p = load(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cat = (
        ps.join(p, ps.partkey == p.p_partkey)
        .join(s, ps.suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    mins = cat.groupBy("p_partkey").agg(F.min("s_acctbal").alias("mn"))
    return (
        cat.join(mins, "p_partkey")
        .where(F.col("s_acctbal") == F.col("mn"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "n_name",
        )
    )


@register(
    "t_q11_important_share",
    oracle=f"""
    WITH v AS (
        SELECT l_partkey AS partkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                        AS BIGINT)) AS val_e4
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY l_partkey)
    SELECT partkey, {_sql_display_2dp("val_e4")} AS value
    FROM v
    WHERE val_e4 * 1000 > (SELECT sum(val_e4) FROM v)
    """,
)
def t_q11_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: "stock value" = net revenue shipped by EUROPE
    suppliers since there is no partsupp): parts whose value exceeds
    0.001 of the regional total. The global-total scalar subquery is a
    1-row broadcast cross join against the per-part agg — NOT a global
    window, which would funnel every part through one partition at
    scale. Values are summed in exact integer ten-thousandths so the
    share threshold compares identically in both engines."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    e4 = F.round(_rev() * 10000, 0).cast("long")
    v = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(e4).alias("val_e4"))
    )
    # Global-total accumulator in decimal: per-part val_e4 is bounded by a
    # part's own lineitems (long is safe), but the corpus-wide total sums
    # EVERY part and passes int64 around SF ~4e3 — a long sum overflows
    # there (ANSI job-kill; silent wrap under ANSI-off caller sessions)
    # while the oracle's HUGEINT widens.
    total = v.agg(F.sum(F.col("val_e4").cast("decimal(38,0)")).alias("tot"))
    return (
        v.join(F.broadcast(total))
        # exact integer share cut: val > 0.001 * tot as 1000*val > tot
        # (no double 0.001 literal, which is not exactly 1/1000)
        .where(F.col("val_e4") * 1000 > F.col("tot"))
        .select(
            "partkey",
            _display_2dp(F.col("val_e4").cast("decimal(20,0)")).alias("value"),
        )
    )
