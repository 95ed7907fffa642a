"""Grouped aggregation operators (SURVEY.md §2-D).

Reference analog: Hive GROUP BY report queries with map-side (partial)
aggregation; grouping-sets multi-level reports; ``sum(CASE WHEN ...)``
manual pivots (SURVEY.md §2-D provenance column). Spark runs
partial->final hash aggregation automatically; every query here is plain
DataFrame/SQL so Catalyst keeps the whole pipeline in whole-stage codegen.

Determinism (SURVEY.md §5.3): every float aggregate is rounded identically
in the engine and in the oracle SQL; DuckDB integer sums are cast to
BIGINT to match Spark's long.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import (
    e4,
    round_div_e4,
    spark_sql_sum_e4_2dp,
    sql_round_div_e4,
    sql_sum_e4,
    sql_sum_e4_2dp,
    sum_e4_2dp,
)
from ..registry import register
from ..sources.io import load


@register(
    "d_agg_basic",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_e4_2dp("l_quantity")}                     AS sum_qty,
           {sql_sum_e4_2dp("l_extendedprice")}                AS sum_base,
           {sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS sum_disc,
           {sql_round_div_e4(sql_sum_e4("l_quantity"), "count(*) * 10000", 6)}
                                                              AS avg_qty,
           count(*)                                           AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def d_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary group-agg on lineitem (the flagship; TPC-H Q1 shape).

    One shuffle on the (low-cardinality) grouping keys; partial aggregation
    happens map-side so the shuffle carries 6 rows per input partition, not
    60k — the plan that survives a 100x scale-up.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_e4_2dp(F.col("l_quantity")).alias("sum_qty"),
            sum_e4_2dp(F.col("l_extendedprice")).alias("sum_base"),
            sum_e4_2dp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc"
            ),
            round_div_e4(
                F.sum(e4(F.col("l_quantity"))), F.count(F.lit(1)) * 10000, 6
            ).alias("avg_qty"),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "d_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def d_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type. Spark plans this as a two-phase
    expand+aggregate, so the distinct set never concentrates on one node."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register("d_approx_count_distinct")
def d_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (rows-only: sketches are
    engine-specific so values can never hash-match another engine).
    The 100 TB path for distinct-user counts: one pass, fixed memory."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
    )


@register(
    "d_agg_filtered_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_sum_e4_2dp("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")}
               AS finished_total,
           {sql_sum_e4_2dp("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")}
               AS open_total,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
    FROM orders GROUP BY o_orderpriority
    """,
)
def d_agg_filtered_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(CASE WHEN ...) manual pivot — the reference's report-column
    idiom (one pass, no PIVOT operator needed)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        sum_e4_2dp(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0)
        ).alias("finished_total"),
        sum_e4_2dp(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0)
        ).alias("open_total"),
        F.count(F.when(F.col("o_orderstatus") == "P", F.lit(1))).alias("n_pending"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "d_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def d_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class pivot on event_type with an explicit value list
    (explicit values keep the plan deterministic and skip the extra
    distinct-values job). Missing combinations coalesce to 0 to match
    the FILTER-based oracle."""
    piv = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


@register(
    "d_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS c,
           {sql_sum_e4_2dp("o_totalprice")} AS s
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def d_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level report in one pass (Hive GROUPING SETS idiom): detail,
    subtotal and grand total share a single scan + shuffle."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS c,
               {spark_sql_sum_e4_2dp("o_totalprice")} AS s
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "d_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS c,
           {sql_sum_e4_2dp("o_totalprice")} AS s,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def d_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority with grouping_id disambiguation."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("c"),
        sum_e4_2dp(F.col("o_totalprice")).alias("s"),
        F.grouping_id().cast("int").alias("gid"),
    )


@register(
    "d_rollup",
    oracle=f"""
    SELECT r_name, n_name, count(*) AS n_customers,
           {sql_sum_e4_2dp("c_acctbal")} AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def d_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region -> nation (hierarchical subtotals)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        sum_e4_2dp(F.col("c_acctbal")).alias("total_bal"),
    )


@register(
    "d_having",
    oracle="""
    SELECT c_nationkey, count(*) AS n
    FROM customer GROUP BY c_nationkey HAVING count(*) >= 50
    """,
)
def d_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 50)
    )


@register(
    "d_collect_list",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers
    FROM lineitem GROUP BY l_orderkey
    """,
)
def d_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group value list, sorted for determinism (collect_list order is
    otherwise partition-dependent). The checked output is the sorted list
    joined to one string: the driver's pandas canonicalizer cannot hash
    array cells (round-1 `unhashable type: 'list'` crash)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("l_linenumber"))).alias(
                "linenumbers"
            )
        )
    )


@register(
    "d_collect_set",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def d_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distinct set, sorted then string-joined (scalar output —
    see d_collect_list)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"))
    )


@register(
    "d_string_agg",
    oracle="""
    SELECT n_name, string_agg(seg, ',' ORDER BY seg) AS segments
    FROM (
        SELECT DISTINCT n_name, c_mktsegment AS seg
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    GROUP BY n_name
    """,
)
def d_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_concat idiom: sorted, comma-joined distinct values per group."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments")
        )
    )


@register(
    "d_percentile",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def d_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolating percentiles (median/p90) of order totals."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        # 6dp, not 2: quantile interpolation midpoints of 2-decimal money
        # hit exact .005 halves where engine rounding modes diverge.
        F.round(F.percentile("o_totalprice", 0.5), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 6).alias("p90"),
    )


@register(
    "d_stats",
    oracle="""
    SELECT event_type,
           round(stddev_samp(value), 6) AS sd,
           round(var_pop(value), 6)     AS vp,
           round(corr(value, CAST(props ->> '$.k' AS DOUBLE)), 6) AS cr
    FROM events GROUP BY event_type
    """,
)
def d_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution statistics: stddev/variance/correlation per group."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.var_pop("value"), 6).alias("vp"),
        F.round(F.corr(F.col("value"), k), 6).alias("cr"),
    )


@register("d_approx_percentile")
def d_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (KLL-style sketch) of order totals per
    priority — the sketch twin of exact `d_percentile`. Rows-only like
    `d_approx_count_distinct`: sketch internals differ across engines so
    values can never hash-match; `tests/test_properties.py` bounds the
    error against the exact quantiles instead. At 100 TB this replaces
    the exact sort-based percentile: mergeable sketches, one shuffle of
    constant-size state per group. Emitted as scalar p50/p90 columns (one
    sketch, two queried quantiles) — array outputs crash the driver's
    canonicalizer."""
    o = load(spark, sf_dir, "orders")
    pctl = F.percentile_approx("o_totalprice", F.array(F.lit(0.5), F.lit(0.9)), 10000)
    return o.groupBy("o_orderpriority").agg(
        pctl.getItem(0).alias("p50"),
        pctl.getItem(1).alias("p90"),
        F.count("*").alias("n"),
    )


@register("d_hll_partial_merge")
def d_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: daily HLL sketches of distinct users,
    unioned into a monthly distinct-user estimate — the incremental
    pattern behind every "monthly active users" report. At 100 TB you
    never re-scan a month of raw events for a distinct count: each daily
    job persists one KB-sized Datasketches HLL blob per grain, and the
    monthly (or all-time) rollup unions the sketches — `hll_union_agg`
    shuffles bytes-per-day, not rows. The two-level aggregation here is
    exactly that shape: level 1 scans events once into per-day sketches,
    level 2 merges 31 blobs. Rows-only (sketch estimates are
    engine-specific by nature); `tests/test_properties.py` bounds the
    estimate against the exact per-month distinct count instead."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("dt")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n"),
    )
    return (
        daily.groupBy(F.date_format("dt", "yyyy-MM").alias("month"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_days"),
        )
        .orderBy("month")
    )


@register(
    "d_bitmap_tags",
    oracle="""
    WITH tags AS (
        SELECT user_id,
               bit_or(CASE event_type
                   WHEN 'view' THEN 1 WHEN 'click' THEN 2
                   WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                   ELSE 16 END) AS tag_bits
        FROM events GROUP BY user_id
    )
    SELECT CAST(tag_bits AS BIGINT) AS tag_bits, count(*) AS n_users
    FROM tags GROUP BY 1
    """,
)
def d_bitmap_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-tag bitmaps — the audience-segmentation idiom: fold each
    user's behavior into one integer of OR-ed tag bits (view=1, click=2,
    purchase=4, signup=8, error=16), then histogram the segment
    combinations. At 100 TB the bitmap IS the compression: per-user
    state is a single long regardless of event volume, bit_or is
    associative so the map side pre-folds before the user_id shuffle,
    and downstream segment queries ("purchasers who never clicked")
    become bitwise predicates on one column instead of joins. The
    second aggregation is over |distinct bit patterns| <= 2^5 rows."""
    ev = load(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    tags = ev.groupBy("user_id").agg(F.bit_or(bit).alias("tag_bits"))
    return tags.groupBy(F.col("tag_bits").cast("long").alias("tag_bits")).agg(
        F.count("*").alias("n_users")
    )


@register(
    "d_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    n AS (SELECT count(*) AS total FROM toks)
    SELECT tok, CAST(count(*) AS BIGINT) AS freq
    FROM toks CROSS JOIN n
    GROUP BY tok, n.total
    HAVING count(*) >= n.total / 64.0
    """,
)
def d_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy hitters (freq >= n/64) via the two-pass sketch
    design — the only shape that works at 100 TB, where a plain
    groupBy(term) shuffles the whole term universe: pass 1 runs a
    Misra-Gries summary (capacity 256) INSIDE each partition with
    mapInPandas, so only <= 256 (term, est) rows per partition ever
    shuffle; merged MG estimates underestimate a term's true count by
    at most n/256 total (sum of per-partition MG error bounds), so
    every true phi=1/64 heavy hitter survives the est >= n/64 - n/256
    candidate cut; pass 2 exact-counts ONLY the candidate terms
    (broadcast isin filter on the token stream) and applies the exact
    threshold. Output = exact frequencies of exactly the true heavy
    hitters — deterministic regardless of partitioning, which is what
    makes an approximate-sketch pipeline fully oracle-checkable.

    The scan runs twice (sketch + verify) — the standard trade: two
    cheap map passes instead of one full-vocabulary shuffle. The
    per-batch MG loop is plain Python over a dict, capped at 256
    entries — CPU-trivial next to Arrow IO and honest about the
    algorithm (a vectorized value_counts-then-truncate would have a
    weaker guarantee).
    """
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    total = toks.count()
    cap = 256

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["tok"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < cap:
                    counters[t] = 1
                else:
                    # decrement step: all counters shrink by 1, zeros evicted
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame(
                {"tok": list(counters), "est": list(counters.values())}
            )

    summaries = toks.mapInPandas(mg_partition, schema="tok string, est long")
    cand = (
        summaries.groupBy("tok")
        .agg(F.sum("est").alias("est"))
        .where(F.col("est") >= total / 64.0 - total / float(cap))
        .select("tok")
    )
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= total / 64.0)
    )


@register(
    "d_unpivot",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_cnt,
               CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_cnt,
               CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p_cnt
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n
    FROM wide
    UNPIVOT (n FOR status IN (f_cnt, o_cnt, p_cnt))
    """,
)
def d_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of d_pivot: a wide per-status count
    report folded back to long (key, measure) rows, the step that turns
    a spreadsheet-shaped upstream table back into something joinable.
    Spark's native `unpivot` (3.4+) compiles to a map-side Expand — one
    input row fans to 3 output rows with zero shuffle beyond the
    aggregation that built the wide table. DuckDB's UNPIVOT keeps
    column-name labels verbatim, so both engines emit identical
    (status, n) pairs.
    """
    o = load(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("f_cnt"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("o_cnt"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("p_cnt"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["f_cnt", "o_cnt", "p_cnt"],
        variableColumnName="status",
        valueColumnName="n",
    )


@register(
    "d_argmax_aggregates",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, o_totalprice)  AS biggest_order,
           min_by(o_orderkey, o_totalprice)  AS smallest_order,
           max(o_totalprice)                 AS max_price,
           arg_max(o_orderstatus,
                   CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey)
                                             AS latest_status
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def d_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates (max_by / min_by) — "the key of the row
    that maximizes X" in ONE aggregation, replacing the Hive-era
    self-join-back-on-max idiom (two scans + a join) and the window
    row_number + filter idiom (a full sort per group): one hash agg,
    one shuffle, carries a single (value, arg) pair per group upstream.

    Determinism note: ties in the maximized value make max_by
    engine-dependent — multiple orders share a date, so latest_status
    maximizes a PACKED key (epoch-seconds * 1e6 + orderkey: a total
    order in one BIGINT, since DuckDB's arg_max takes no composite
    key). o_totalprice is tie-free in the fixture; real data would
    pack those too.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.max_by(
            "o_orderstatus",
            F.unix_timestamp("o_orderdate") * 1000000 + F.col("o_orderkey"),
        ).alias("latest_status"),
    )


@register(
    "d_boolean_aggs",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)        AS all_over_1k,
           bool_or(o_orderstatus = 'P')         AS any_pending,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(count(*) FILTER (o_totalprice > 300000) AS BIGINT) AS n_large
    FROM orders GROUP BY o_orderpriority
    """,
)
def d_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate battery — every(), some(), count_if(): the
    assertion-style rollups data-quality checks are made of ("ALL rows
    priced", "ANY stuck in pending", "how many matched"). One hash agg,
    partial-aggregated map-side like any min/max — booleans fold to a
    byte per group upstream.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_totalprice") > 300000).alias("n_large"),
    )


@register(
    "d_mode",
    oracle="""
    WITH qcnt AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ), pcnt AS (
        SELECT o.o_orderstatus, o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS c
        FROM orders o GROUP BY 1, 2
    )
    SELECT q.l_returnflag, q.mode_qty, p.mode_priority, p.n_modal_orders
    FROM (SELECT l_returnflag,
                 arg_max(qty, c * 1000 - qty) AS mode_qty
          FROM qcnt GROUP BY l_returnflag) q
    CROSS JOIN (
          SELECT arg_max(o_orderpriority,
                         c * 1000 - CAST(ascii(o_orderpriority) AS BIGINT))
                     AS mode_priority,
                 max(c) AS n_modal_orders
          FROM pcnt WHERE o_orderstatus = 'O') p
    """,
)
def d_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE — the most-frequent value per group (the
    categorical analog of median; "what quantity do customers usually
    order", "which priority dominates open orders"). Built-in
    F.mode()/DuckDB mode() are both UNSPECIFIED on frequency ties, so a
    differential pipeline can never use them raw; this is the two-level
    shape: count per (group, value), then argmax over a PACKED key
    (count * 1000 - value_order) that folds the smallest-value-wins
    tiebreak into one bigint (same rule as d_argmax_aggregates — DuckDB
    arg_max takes no composite key). The string mode packs via
    ascii(first char), which totally orders the priority domain
    ('1-'..'5-'); wider domains pack a dictionary id instead.

    Scale shape: two hash aggregations, both keyed on uniform
    (group, value) then group — each with map-side partial combine;
    the second agg's input is at most |group-domain| x |value-domain|
    rows. No window, no sort, no self-join-back-on-max.
    """
    li = load(spark, sf_dir, "lineitem")
    qcnt = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    ).agg(F.count("*").alias("c"))
    qmode = qcnt.groupBy("l_returnflag").agg(
        F.max_by("qty", F.col("c") * 1000 - F.col("qty")).alias("mode_qty")
    )
    o = load(spark, sf_dir, "orders")
    pcnt = (
        o.where(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("c"))
    )
    pmode = pcnt.agg(
        F.max_by(
            "o_orderpriority",
            F.col("c") * 1000 - F.ascii("o_orderpriority").cast("long"),
        ).alias("mode_priority"),
        F.max("c").alias("n_modal_orders"),
    )
    return qmode.crossJoin(F.broadcast(pmode)).select(
        "l_returnflag", "mode_qty", "mode_priority", "n_modal_orders"
    )


@register(
    "d_weighted_median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS val,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    agg AS (
        SELECT g, val, CAST(sum(wt) AS BIGINT) AS w FROM v GROUP BY g, val
    ),
    cum AS (
        SELECT g, val, w,
               CAST(sum(w) OVER (PARTITION BY g ORDER BY val) AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tw
        FROM agg
    )
    SELECT g AS l_returnflag,
           min(val) AS wmedian_e4,
           min(tw) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY g
    """,
)
def d_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median — the quantity-weighted "typical unit price"
    (each line votes with its quantity, so one 50-unit order counts
    like fifty 1-unit orders; the plain median over-weights small
    orders). Definition: the smallest value whose cumulative weight
    reaches half the total — all-integer (2*cw >= tw avoids the half),
    so there is NO interpolation and both engines agree exactly with
    zero rounding. No built-in does this in either engine; the
    relational form is pre-aggregate weights per (group, value) ->
    cumulative-weight window -> threshold argmin.

    Scale shape: the per-(group, value) pre-aggregation bounds the
    window input at |value domain| rows per group (the fact stream
    never enters a window), one uniform-key shuffle each for the agg
    and the group-partitioned cumsum. At 100 TB with an unbounded
    value domain, band values first (the k_doc_len_histogram bucket
    rule) or switch to approx weighted quantiles.
    """
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 10000, 0).cast("long").alias("val"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    agg = v.groupBy("g", "val").agg(F.sum("wt").alias("w"))
    wg = W.partitionBy("g")
    cum = agg.select(
        "g",
        "val",
        F.sum("w").over(wg.orderBy("val")).alias("cw"),
        F.sum("w").over(wg.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("tw"),
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("g").alias("l_returnflag"))
        .agg(F.min("val").alias("wmedian_e4"), F.min("tw").alias("total_weight"))
    )


_WMEDIAN_BAND_E4 = 100_000  # $10 bands in exact ten-thousandths


@register(
    "d_weighted_median_banded",
    oracle=f"""
    WITH v AS (
        SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 10000, 0) AS BIGINT)
                   // {_WMEDIAN_BAND_E4} AS band,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    agg AS (
        SELECT g, band, CAST(sum(wt) AS BIGINT) AS w FROM v GROUP BY g, band
    ),
    cum AS (
        SELECT g, band, w,
               CAST(sum(w) OVER (PARTITION BY g ORDER BY band) AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tw
        FROM agg
    )
    SELECT g AS l_returnflag,
           min(band) * {_WMEDIAN_BAND_E4} AS wmedian_band_lo_e4,
           min(band) * {_WMEDIAN_BAND_E4} + {_WMEDIAN_BAND_E4} - 1
               AS wmedian_band_hi_e4,
           min(tw) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY g
    """,
)
def d_weighted_median_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB ESCAPE HATCH d_weighted_median's docstring promises:
    when the value domain is unbounded (so the exact per-(group, value)
    grid no longer bounds the cumulative window's input), band values
    into fixed-width buckets FIRST — the k_doc_len_histogram bucket
    rule — and run the identical cumulative-threshold argmin on the
    bands. The window input is then at most |value range| / band-width
    rows per group (here $10 bands over list prices: ~10k bands)
    REGARDLESS of how many distinct values the corpus holds, and the
    answer is the band [lo, hi] containing the true weighted median —
    error bounded by the band width by construction, which the
    property test pins against the exact op. All arithmetic is exact
    integer e4 (values are non-negative so `div` == floor on both
    engines); deterministic, hence oracle-checked rather than
    rows-only."""
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("g"),
        F.expr(
            f"CAST(round(l_extendedprice * 10000, 0) AS BIGINT) div {_WMEDIAN_BAND_E4}"
        ).alias("band"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    agg = v.groupBy("g", "band").agg(F.sum("wt").alias("w"))
    wg = W.partitionBy("g")
    cum = agg.select(
        "g",
        "band",
        F.sum("w").over(wg.orderBy("band")).alias("cw"),
        F.sum("w")
        .over(wg.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("tw"),
    )
    lo = F.min("band") * _WMEDIAN_BAND_E4
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("g").alias("l_returnflag"))
        .agg(
            lo.alias("wmedian_band_lo_e4"),
            (lo + (_WMEDIAN_BAND_E4 - 1)).alias("wmedian_band_hi_e4"),
            F.min("tw").alias("total_weight"),
        )
    )


@register(
    "d_percentile_disc",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        FROM orders
    )
    SELECT o_orderpriority,
           min(n) AS n,
           min(o_totalprice) AS p90_disc
    FROM ranked
    WHERE rn = (9 * n + 9) // 10
    GROUP BY o_orderpriority
    """,
)
def d_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentile — the p90 as an ACTUAL ROW's value, never an
    interpolated midpoint (for "show me the order at the 90th
    percentile" and for types where interpolation is meaningless —
    timestamps, ids, enums). Both engines select the element at rank
    ceil(0.9*n) computed as (9n+9) div 10 in INTEGER arithmetic — the
    float form ceil(0.9*n) is a trap: 0.9 is not binary-exact, so
    0.9*10 = 9.000000000000002 and ceil() jumps a whole rank. Rank
    ties carry the unique o_orderkey tiebreak (the LIMIT-oracle rule),
    so the selected row is identical in both engines with no rounding
    anywhere.

    Scale shape (r11): the naive form — row_number + count(*) OVER
    (PARTITION BY priority) — pins each priority's ENTIRE order set to
    one sort task (5 giant window partitions at 100 TB, unsplittable
    by AQE). Ranks now come from `grouped_row_number`: a global
    range-repartitioned rank over (priority, price, key) — every
    priority spread across all partitions, sorting in parallel — with
    rank-within-group recovered by subtracting the group's first
    global rank (one 5-row aggregate joined back). The discrete
    SEMANTICS and the oracle are unchanged.
    """
    from .relational import grouped_row_number

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    ranked = grouped_row_number(
        o, ["o_orderpriority"], ["o_totalprice", "o_orderkey"]
    )
    return (
        ranked.where(F.col("grn") == F.expr("(9 * gn + 9) div 10"))
        .groupBy("o_orderpriority")
        .agg(F.min("gn").alias("n"), F.min("o_totalprice").alias("p90_disc"))
    )


@register(
    "d_count_min_sketch",
    oracle="""
    WITH hp AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
    cells AS (
        SELECT i,
               ('0x' || substr(md5(i || ':' || user_id), 1, 15))::BIGINT % 256
                   AS col,
               count(*) AS c
        FROM events CROSS JOIN hp
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT user_id, count(*) AS true_cnt
        FROM events GROUP BY user_id
        ORDER BY true_cnt DESC, user_id LIMIT 20
    )
    SELECT p.user_id, CAST(p.true_cnt AS BIGINT) AS true_cnt,
           CAST(min(c.c) AS BIGINT) AS est_cnt
    FROM probe p
    CROSS JOIN hp
    JOIN cells c
      ON c.i = hp.i
     AND c.col = ('0x' || substr(md5(hp.i || ':' || p.user_id), 1, 15))::BIGINT
                 % 256
    GROUP BY 1, 2
    """,
)
def d_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode-Muthukrishnan), built and probed with a
    DETERMINISTIC md5-derived hash family so the whole sketch — not just
    a recall bound — is oracle-checked: cell counts AND the min-over-rows
    point estimates are reproduced bit-for-bit in DuckDB.

    Shape: depth d=4, width w=256 -> the sketch is a fixed 1,024-cell
    table no matter the stream size. One map-side Expand (explode of the
    4 per-row (row, col) coordinates) feeds one hash aggregation whose
    output is O(d*w), so at 100 TB the shuffle carries only partial
    cells per map task — this is the classic mergeable-summary shape
    (partial sketches combine by cell-wise +). Probing broadcasts the
    1,024-cell table back to the top-20 keys (taken from the exact
    per-key counts so the oracle's probe set is identical) and takes
    min over the d cells; CMS guarantees est >= true with overestimate
    bounded by eps*N at confidence 1-delta.

    The exact per-user count table used for probe selection is
    corpus-sublinear (|users| rows); its top-20 cut is a
    driver-independent orderBy+limit (TakeOrderedAndProject).
    """
    ev = load(spark, sf_dir, "events")
    depth, width = 4, 256

    def col_i(i, key):
        h = F.md5(F.concat_ws(":", F.lit(i), key.cast("string")))
        return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % width).alias(
            "col"
        )

    coords = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row"), col_i(i, F.col("user_id")))
                for i in range(depth)
            ]
        )
    ).alias("rc")
    cells = (
        ev.select(coords)
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(20)
    )
    probe_coords = probe.select(
        "user_id",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), col_i(i, F.col("user_id")))
                    for i in range(depth)
                ]
            )
        ).alias("rc"),
    )
    return (
        probe_coords.join(
            F.broadcast(cells),
            (F.col("rc.row") == cells.row) & (F.col("rc.col") == cells.col),
        )
        .groupBy("user_id", "true_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )


@register(
    "d_corr_covar",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(hour(ts) AS BIGINT)                      AS x,
               CAST(round(value * 100, 0) AS BIGINT)         AS y
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(count(*)   AS BIGINT) AS n,
               CAST(sum(x)     AS BIGINT) AS sx,
               CAST(sum(y)     AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_xy,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 100.0, 6)
               AS covar_samp_cents,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
               AS covar_pop_cents
    FROM s
    """,
)
def d_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covar_samp / covar_pop per event_type — computed from
    EXACT bigint power sums (n, Sx, Sy, Sxx, Syy, Sxy) instead of the
    built-in double-accumulator aggregates, the r_user_trend_slope
    scheme: reassociating double sums across partitions makes
    F.corr/F.covar_samp order-sensitive in the last ulps, while integer
    sums commute exactly, and the final closed-form expression is the
    IDENTICAL left-associated float expression in both engines.

    x = event hour (0-23), y = value in exact cents. One hash
    aggregation (map-side partial sums), 5-row output. Int64 headroom:
    |Sxy| <= n * 23 * 5e4, so n*Sxy stays under 2^63 to ~3e11 rows per
    group; past that, swap the accumulator to decimal(38,0) — same
    plan shape (documented, not needed at fixture scale).
    """
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "event_type",
        "n",
        F.round(num / F.sqrt(vx * vy), 6).alias("corr_xy"),
        F.round(
            num / F.col("n").cast("double") / (F.col("n") - 1).cast("double") / 100.0,
            6,
        ).alias("covar_samp_cents"),
        F.round(
            num / F.col("n").cast("double") / F.col("n").cast("double") / 100.0, 6
        ).alias("covar_pop_cents"),
    )


@register(
    "d_kmv_distinct_sketch",
    oracle="""
    WITH base AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    exact AS (
        SELECT event_type, count(*) AS n_users FROM base GROUP BY event_type
    ),
    hashed AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h
        FROM base
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               count(*)    OVER (PARTITION BY event_type)             AS nd
        FROM hashed
    ),
    est AS (
        SELECT event_type,
               CAST(CASE WHEN min(nd) < 32 THEN min(nd)
                    ELSE CAST(round(31.0 / (max(h) / 1152921504606846976.0), 0)
                              AS BIGINT) END AS BIGINT) AS est_distinct
        FROM ranked
        WHERE rn <= 32
        GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(x.n_users AS BIGINT) AS exact_distinct,
           e.est_distinct
    FROM est e JOIN exact x USING (event_type)
    """,
)
def d_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group — the
    mergeable-summary COMPANION to d_approx_count_distinct: where
    Spark's HLL is engine-opaque (rows-only check by design), KMV
    with the deterministic md5 hash family is fully oracle-checked —
    DuckDB replays the identical hashes, the identical k smallest,
    and the identical (k-1)/h_(k) estimator (Bar-Yossef et al. 2002).

    Sketch state per group = the k=32 smallest distinct 60-bit hash
    values; mergeable by union + re-truncate, so partial sketches
    combine associatively across partitions / days — the property
    that makes it a warehouse sketch rather than a query trick. When
    a group has fewer than k distinct keys the sketch IS the exact
    answer.

    Plan: one distinct-(group, user) base feeds BOTH legs — the true
    ``countDistinct(user_id)`` baseline (the previous
    'exact' column counted distinct 60-bit HASHES, so a collision
    would understate it while both engines still agreed — the
    differential oracle could never catch it) and the distinct-hash
    sketch leg (per-group window keeps rank <= k, the e_topk_per_group
    shape bounded at k rows per group out). The two legs rejoin on the
    group key — a tiny (n_groups-row) join. The estimator divides by
    2^60 once and rounds once; both engines fold the same constants.
    """
    ev = load(spark, sf_dir, "events")
    k = 32
    base = ev.select("event_type", "user_id").distinct()
    exact = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    hashed = base.select(
        "event_type",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    # nd (distinct-hash count per group) as its own partial-combining
    # aggregate, NOT count(*) OVER the rank window (r11): a second
    # whole-partition window function in the same spec DEFEATS the
    # WindowGroupLimit pushdown the docstring promises — Spark can only
    # map-side-limit a window whose sole functions are rank-like, so
    # the old plan sorted every group's full distinct-hash set in one
    # task. With rn alone + the rn <= k filter the pushdown engages
    # (plan pinned in test_plans), and nd joins back as one tiny
    # domain-bounded row per event type.
    nd = hashed.groupBy("event_type").agg(F.count(F.lit(1)).alias("nd"))
    wp = W.partitionBy("event_type")
    topk = hashed.select(
        "event_type",
        "h",
        F.row_number().over(wp.orderBy("h")).alias("rn"),
    ).where(F.col("rn") <= k)
    est = (
        topk.groupBy("event_type")
        .agg(F.max("h").alias("hk"))
        .join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            F.when(F.col("nd") < k, F.col("nd"))
            .otherwise(
                F.round((k - 1.0) / (F.col("hk") / float(1 << 60)), 0).cast("long")
            )
            .alias("est_distinct"),
        )
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        F.col("n_users").alias("exact_distinct"),
        "est_distinct",
    )


@register(
    "d_bitmap_audience_overlap",
    oracle="""
    WITH member AS (
        SELECT event_type, user_id FROM events
        GROUP BY event_type, user_id
        HAVING count(*) >= 14
    ),
    bm AS (
        SELECT event_type,
               -- floor-div/pmod pair (DuckDB // TRUNCATES: -7 // 3 = -2,
               -- so subtract the nonnegative remainder first to floor)
               (user_id - (((user_id % 62) + 62) % 62)) // 62     AS block,
               bit_or(1::BIGINT << (((user_id % 62) + 62) % 62))  AS bits
        FROM member
        GROUP BY 1, 2
    )
    SELECT a.event_type AS seg_a, b.event_type AS seg_b,
           CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_overlap
    FROM bm a JOIN bm b
      ON a.block = b.block AND a.event_type <= b.event_type
    GROUP BY 1, 2
    """,
)
def d_bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap audience overlap — the ClickHouse/Doris ``bitmapAnd``
    growth-analytics idiom (how many users are in BOTH segments?) on
    plain int64 blocks: segment = "users with >= 14 events of this
    type" (an engagement cut that actually differentiates the
    segments), each segment's membership is packed 62 users
    per bigint (block = floor(user_id / 62), bit = pmod(user_id, 62) —
    the floor/pmod pair keeps both engines consistent even for negative
    ids), segments
    intersect with a bitwise AND per block, and overlap cardinality is
    a popcount sum. Everything integer-exact, fully oracle-checked.
    The diagonal (seg <= seg) doubles as each segment's cardinality.

    Why 62-bit blocks: DuckDB raises on `1::BIGINT << 63` (checked
    shift) where Spark wraps to the sign bit — capping the bit index
    at 61 keeps both engines in defined territory with 3% block
    overhead.

    The 100 TB story is compression-by-construction: after the
    distinct-membership agg, a segment's bitmap is |users|/62 rows no
    matter how many EVENTS produced it, and segment-pair intersection
    is a block equi-join over those compressed rows — this is why the
    OLAP engines ship a bitmap type for exactly this query. Per-block
    AND is embarrassingly parallel; the final rollup is k^2 cells.
    """
    ev = load(spark, sf_dir, "events")
    member = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 14)
        .select("event_type", "user_id")
    )
    bm = (
        member.select(
            "event_type",
            # floor-div + nonnegative-mod pair (pmod(x,62) = x - 62*floor(x/62))
            # so a negative user_id still lands a valid 0..61 bit in the
            # right block in BOTH engines. Spark div/% AND DuckDB // all
            # truncate toward zero (measured), so floor is spelled
            # explicitly on both sides rather than trusting either's
            # native operator.
            F.expr("(user_id - pmod(user_id, 62)) div 62").alias("block"),
            F.expr("shiftleft(1L, cast(pmod(user_id, 62) as int))").alias("bit"),
        )
        .groupBy("event_type", "block")
        .agg(F.bit_or("bit").alias("bits"))
    )
    a = bm.alias("a")
    b = bm.select(
        F.col("event_type").alias("b_event_type"),
        F.col("block").alias("b_block"),
        F.col("bits").alias("b_bits"),
    )
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b_block"))
            & (F.col("a.event_type") <= F.col("b_event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("seg_a"),
            F.col("b_event_type").alias("seg_b"),
        )
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b_bits"))))
            .cast("long")
            .alias("n_overlap")
        )
    )


@register(
    "d_kmv_sketch_merge",
    oracle="""
    WITH hashed AS (
        SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h
        FROM events
    ),
    daily AS (
        SELECT day, h,
               row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM hashed
    ),
    daily_sketch AS (
        SELECT day, h FROM daily WHERE rn <= 32
    ),
    merged AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM daily_sketch)
    ),
    direct AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM hashed)
    )
    SELECT CAST((SELECT count(DISTINCT day) FROM daily_sketch) AS BIGINT)
               AS n_daily_sketches,
           CAST(CASE WHEN (SELECT count(*) FROM merged) < 32
                     THEN (SELECT count(*) FROM merged)
                ELSE round(31.0 / ((SELECT max(h) FROM merged WHERE rn <= 32)
                                   / 1152921504606846976.0), 0) END AS BIGINT)
               AS merged_est,
           CAST(CASE WHEN (SELECT count(*) FROM direct) < 32
                     THEN (SELECT count(*) FROM direct)
                ELSE round(31.0 / ((SELECT max(h) FROM direct WHERE rn <= 32)
                                   / 1152921504606846976.0), 0) END AS BIGINT)
               AS direct_est
    """,
)
def d_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA — the property that makes sketches warehouse
    primitives rather than query tricks: per-day sketches (k smallest
    distinct user hashes per day) merged by union + re-truncate must
    give the IDENTICAL month-level estimate as sketching the raw month
    directly, because the k smallest of a union of per-day k-smallest
    sets ARE the k smallest overall (each day's sketch retains every
    hash that could be globally top-k). The query emits both estimates
    side by side; the oracle recomputes both, and a pinned test
    asserts merged == direct — that equality failing would mean the
    merge lost a candidate hash.

    This is the pre-aggregation pattern for 100 TB: land one O(k) row
    set per day-partition at ingest, answer ANY date-range distinct
    count later by merging sketch rows — never rescanning the facts.
    The merge input here is <= 31 days x 32 hashes; its global sort is
    corpus-sublinear by construction (the r_mom_yoy_report rule).
    """
    ev = load(spark, sf_dir, "events")
    k = 32
    hashed = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    daily_sketch = (
        hashed.withColumn(
            "rn", F.row_number().over(W.partitionBy("day").orderBy("h"))
        )
        .where(F.col("rn") <= k)
        .select("day", "h")
    )

    merged = (
        daily_sketch.select("h").distinct().orderBy("h").limit(k).agg(
            F.max("h").alias("kth_m"), F.count(F.lit(1)).alias("nd_m")
        )
    )
    direct = hashed.select("h").distinct().orderBy("h").limit(k).agg(
        F.max("h").alias("kth_d"), F.count(F.lit(1)).alias("nd_d")
    )
    n_days = daily_sketch.agg(
        F.countDistinct("day").cast("long").alias("n_daily_sketches")
    )

    def est(kth, nd):
        return (
            F.when(F.col(nd) < k, F.col(nd))
            .otherwise(
                F.round((k - 1.0) / (F.col(kth) / float(1 << 60)), 0)
            )
            .cast("long")
        )

    return (
        n_days.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(direct))
        .select(
            "n_daily_sketches",
            est("kth_m", "nd_m").alias("merged_est"),
            est("kth_d", "nd_d").alias("direct_est"),
        )
    )


@register(
    "d_pagerank_fixed_iters",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               min(ts) AS s, max(ts) AS e
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    pairs AS (
        SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        FROM iv a JOIN iv b
          ON a.day = b.day AND a.user_id < b.user_id
        WHERE least(a.e, b.e) > greatest(a.s, b.s)
    ),
    edges AS (
        SELECT ua AS src, ub AS dst FROM pairs
        UNION ALL
        SELECT ub AS src, ua AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    nv AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS v, (1000000000 // (SELECT n FROM nv)) AS r FROM deg),
    r1 AS (
        SELECT d.src AS v,
               (150000000 // (SELECT n FROM nv))
               + (85 * sum(r0.r // sd.outdeg)) // 100 AS r
        FROM deg d
        JOIN edges e ON e.dst = d.src
        JOIN r0 ON r0.v = e.src
        JOIN deg sd ON sd.src = e.src
        GROUP BY d.src
    ),
    r2 AS (
        SELECT d.src AS v,
               (150000000 // (SELECT n FROM nv))
               + (85 * sum(r1.r // sd.outdeg)) // 100 AS r
        FROM deg d
        JOIN edges e ON e.dst = d.src
        JOIN r1 ON r1.v = e.src
        JOIN deg sd ON sd.src = e.src
        GROUP BY d.src
    ),
    r3 AS (
        SELECT d.src AS v,
               (150000000 // (SELECT n FROM nv))
               + (85 * sum(r2.r // sd.outdeg)) // 100 AS r
        FROM deg d
        JOIN edges e ON e.dst = d.src
        JOIN r2 ON r2.v = e.src
        JOIN deg sd ON sd.src = e.src
        GROUP BY d.src
    )
    SELECT r3.v AS user_id,
           CAST(deg.outdeg AS BIGINT) AS degree,
           CAST(r3.r AS BIGINT)       AS rank_e9
    FROM r3 JOIN deg ON deg.src = r3.v
    """,
)
def d_pagerank_fixed_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 fixed iterations, EXACT integer arithmetic — the
    iterative-algorithm representative next to the connected-components
    loop (k_dedup_components): driver-side control flow over fully
    distributed join+agg steps, with per-step state a (node, rank)
    table. Ranks live in integer billionths; each contribution is
    rank div outdeg and the damping mix is (85*sum) div 100 — both
    engines truncate identically, so after any fixed number of
    iterations the state is bit-equal and the DuckDB oracle simply
    unrolls the same three steps as CTEs. (Float PageRank would
    reassociate partial sums per partition — the usual hash hazard;
    integer division loses bounded mass per step, which is harmless
    for ranking and the price of exactness.)

    The graph is the purchase co-activity graph (same-day overlapping
    purchase spans, both directions), reusing c_join_interval_overlap's
    bucketed construction — every node has degree >= 1 by construction
    so there are no dangling-mass corrections.

    Scale shape per iteration: edges join ranks on src (edge table
    shuffles once on src, then once on dst for the sum) — the standard
    Pregel-as-joins layout; 3 iterations = a fixed pipeline of 6
    uniform-key shuffles over |E| rows. localCheckpoint between
    iterations truncates lineage exactly as the components loop does.
    """
    from .joins import c_join_interval_overlap

    pairs = (
        c_join_interval_overlap(spark, sf_dir)
        .select(F.col("user_a").alias("ua"), F.col("user_b").alias("ub"))
        .distinct()
    )
    edges = pairs.select(
        F.col("ua").alias("src"), F.col("ub").alias("dst")
    ).unionByName(pairs.select(F.col("ub").alias("src"), F.col("ua").alias("dst")))
    edges = edges.localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_v = deg.count()
    e9 = 1_000_000_000
    base = (15 * e9 // 100) // n_v
    ranks = deg.select("src", F.lit(e9 // n_v).alias("r"))
    for _ in range(3):
        contribs = (
            edges.join(ranks, "src")
            .join(deg, "src")
            .select("dst", F.expr("r div outdeg").alias("c"))
        )
        ranks = (
            contribs.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .select(
                F.col("dst").alias("src"),
                (F.lit(base) + F.expr("(85 * sc) div 100")).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.join(deg, "src").select(
        F.col("src").alias("user_id"),
        F.col("outdeg").cast("long").alias("degree"),
        F.col("r").cast("long").alias("rank_e9"),
    )


@register(
    "d_theta_sketch_intersection",
    oracle="""
    WITH member AS (
        SELECT event_type,
               ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h,
               user_id
        FROM events
        GROUP BY event_type, user_id
        HAVING count(*) >= 14
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM member
    ),
    sk AS (SELECT event_type, h FROM ranked WHERE rn <= 32),
    theta AS (
        SELECT event_type, max(h) AS th, count(*) AS nd
        FROM sk GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS seg_a, b.event_type AS seg_b,
               least(ta.th, tb.th) AS th,
               ta.nd AS nd_a, tb.nd AS nd_b
        FROM theta ta JOIN theta tb ON ta.event_type < tb.event_type
        JOIN (SELECT DISTINCT event_type FROM sk) a
          ON a.event_type = ta.event_type
        JOIN (SELECT DISTINCT event_type FROM sk) b
          ON b.event_type = tb.event_type
    ),
    common AS (
        SELECT p.seg_a, p.seg_b, p.th,
               count(*) AS n_common
        FROM pairs p
        JOIN sk sa ON sa.event_type = p.seg_a
        JOIN sk sb ON sb.event_type = p.seg_b AND sb.h = sa.h
        WHERE sa.h < p.th
        GROUP BY 1, 2, 3
    ),
    exact AS (
        SELECT a.event_type AS seg_a, b.event_type AS seg_b,
               count(*) AS n_exact
        FROM member a JOIN member b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT e.seg_a, e.seg_b,
           CAST(e.n_exact AS BIGINT) AS exact_overlap,
           CAST(round(coalesce(c.n_common, 0)
                      / (c.th / 1152921504606846976.0), 0) AS BIGINT)
               AS est_overlap
    FROM exact e LEFT JOIN common c
      ON c.seg_a = e.seg_a AND c.seg_b = e.seg_b
    """,
)
def d_theta_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set INTERSECTION (the Apache DataSketches algebra)
    on the same deterministic md5 KMV sketches as d_kmv_distinct_sketch
    — segments are the d_bitmap_audience_overlap engagement cut
    (>= 14 events of the type), so the estimates can be read against
    that op's exact bitmap overlaps — completing the sketch suite:
    CMS answers point frequency, KMV
    answers per-set distinct, union merges losslessly
    (d_kmv_sketch_merge), and intersection is where theta earns its
    name: clamp both sketches to theta = min(theta_a, theta_b), count
    the COMMON retained hashes below theta, and scale by 1/theta — an
    unbiased estimate of |A intersect B| from two O(k) summaries,
    without ever co-scanning the raw sets.

    The estimate is compared against the exact overlap side by side
    (same output shape as d_count_min_sketch's true/est columns), so
    the driver hash pins estimator arithmetic, not just plumbing.
    Small-k caveat documented rather than hidden: with k=32 the
    intersection estimate carries ~1/sqrt(|common kept|) relative
    error — segment pairs here estimate within ~2x, which is the
    honest behavior of theta at tiny k, and exactly why production
    sketches run k=4096+ (same algebra, same plan shape, k rows more
    state per group).

    Plan shape: one distinct-membership agg, one per-group top-k
    window (e_topk_per_group class), then joins over <= 5 x 32-row
    sketch tables — everything after the membership agg is
    corpus-independent.
    """
    ev = load(spark, sf_dir, "events")
    k = 32
    member = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 14)
        .select(
            "event_type",
            "user_id",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    sk = (
        member.withColumn(
            "rn", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
        )
        .where(F.col("rn") <= k)
        .select("event_type", "h")
    )
    theta = sk.groupBy("event_type").agg(F.max("h").alias("th"))
    ta = theta.select(F.col("event_type").alias("seg_a"), F.col("th").alias("th_a"))
    tb = theta.select(F.col("event_type").alias("seg_b"), F.col("th").alias("th_b"))
    pairs = ta.join(tb, F.col("seg_a") < F.col("seg_b")).select(
        "seg_a", "seg_b", F.least("th_a", "th_b").alias("th")
    )
    sa = sk.select(F.col("event_type").alias("seg_a"), F.col("h"))
    sb = sk.select(F.col("event_type").alias("sb_seg"), F.col("h").alias("h_b"))
    common = (
        pairs.join(F.broadcast(sa), "seg_a")
        .join(
            F.broadcast(sb),
            (F.col("seg_b") == F.col("sb_seg")) & (F.col("h") == F.col("h_b")),
        )
        .where(F.col("h") < F.col("th"))
        .groupBy("seg_a", "seg_b", "th")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ma = member.select(F.col("event_type").alias("seg_a"), "user_id")
    mb = member.select(F.col("event_type").alias("seg_b"), "user_id")
    exact = (
        ma.join(mb, "user_id")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return exact.join(common, ["seg_a", "seg_b"], "left").select(
        "seg_a",
        "seg_b",
        F.col("exact_overlap").cast("long").alias("exact_overlap"),
        F.round(
            F.coalesce(F.col("n_common"), F.lit(0))
            / (F.col("th") / float(1 << 60)),
            0,
        )
        .cast("long")
        .alias("est_overlap"),
    )


@register(
    "d_latency_histogram",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(length(bin(gap_us)) AS BIGINT) AS bucket_log2,
           CAST(count(*) AS BIGINT)            AS n,
           CAST(min(gap_us) AS BIGINT)         AS min_gap_us,
           CAST(max(gap_us) AS BIGINT)         AS max_gap_us
    FROM gaps
    WHERE gap_us IS NOT NULL AND gap_us > 0
    GROUP BY 1, 2
    """,
)
def d_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed latency histogram — the ops-observability shape
    (think HdrHistogram / Prometheus exponential buckets) applied to
    per-user inter-event gaps: bucket = position of the gap's most
    significant bit, giving exponentially-wider bins with EXACT
    integer bucketing. The msb comes from length(bin(x)) — a string
    length, not floor(log2(x)), because float log puts exact powers
    of two ON a bucket boundary where one engine's ulp rounds down
    and the other's up (the k_char_entropy class of bug, in a
    bucketer).

    Plan shape: the lag rides the celebrity-immune chunked form on the
    COMPOSITE (user, event_type) key (`with_chunked_shifts` — a bot's
    click stream is one compound key, so the bare window would hot-spot
    exactly on it), feeding one hash aggregate whose output is
    O(types x 64 buckets) — at 100 TB the histogram is the classic
    mergeable pre-aggregate: per-partition partial counts combine by
    +, so a day-partitioned warehouse can roll latency SLOs across
    any period without touching raw events (the d_kmv_sketch_merge
    argument, for distributions instead of distinct counts).
    """
    from .windows import with_chunked_shifts

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", F.unix_micros("ts").alias("um")
    )
    gaps = with_chunked_shifts(
        ev, ["user_id", "event_type"], "ts", "event_id", lags={"prev_um": "um"}
    ).select(
        "event_type", (F.col("um") - F.col("prev_um")).alias("gap_us")
    ).where(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
    return gaps.groupBy(
        "event_type",
        F.length(F.bin("gap_us")).cast("long").alias("bucket_log2"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "d_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses,
           count(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def d_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native LISTAGG (Spark 4.0 / ISO 9075) with DISTINCT and WITHIN
    GROUP ordering — the standard spelling of d_string_agg's
    concat_ws(array_sort(collect_set)) composition, lowered by Catalyst
    to the same collect-then-format aggregate. The WITHIN GROUP order
    plus DISTINCT makes the string deterministic regardless of row
    order; the value domain (order statuses per priority) is bounded
    at 3, so the aggregated string can never grow with the corpus
    (the collect_list discipline)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(DISTINCT o_orderstatus, ',') "
            "WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
        F.count("*").alias("cnt"),
    )


@register(
    "d_triangle_count",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM pairs
            UNION ALL
            SELECT v AS node FROM pairs
        ) GROUP BY node
    ),
    ori AS (
        SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                    THEN p.u ELSE p.v END AS s,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                    THEN p.v ELSE p.u END AS t,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                    THEN dv.d ELSE du.d END AS td
        FROM pairs p
        JOIN deg du ON du.node = p.u
        JOIN deg dv ON dv.node = p.v
    ),
    tri AS (
        SELECT w.apex, w.lo, w.hi
        FROM (
            SELECT e1.s AS apex,
                   CASE WHEN (e1.td < e2.td)
                             OR (e1.td = e2.td AND e1.t < e2.t)
                        THEN e1.t ELSE e2.t END AS lo,
                   CASE WHEN (e1.td < e2.td)
                             OR (e1.td = e2.td AND e1.t < e2.t)
                        THEN e2.t ELSE e1.t END AS hi
            FROM ori e1 JOIN ori e2
              ON e1.s = e2.s AND e1.t < e2.t
        ) w
        JOIN ori e3 ON e3.s = w.lo AND e3.t = w.hi
    )
    SELECT part_id, CAST(count(*) AS BIGINT) AS n_tri
    FROM (
        SELECT apex AS part_id FROM tri
        UNION ALL SELECT lo FROM tri
        UNION ALL SELECT hi FROM tri
    ) GROUP BY part_id
    """,
)
def d_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the co-purchase graph (parts
    co-ordered in one order), per-node participation counts — the graph
    representative for clustering-coefficient / community-density
    analytics next to d_pagerank_fixed_iters' iterative ranking.

    The naive wedge join (every 2-path against the edge list) explodes
    on hub nodes: a degree-D part generates D^2 wedges, and real
    co-purchase graphs are heavy-tailed. The classic fix (node-iterator
    with degree ordering, a.k.a. edge orientation) makes the whole job
    O(|E|^1.5) REGARDLESS of skew: orient every undirected edge from
    its lower (degree, id) endpoint to its higher one — out-degree is
    then bounded by O(sqrt |E|) for EVERY node, hub or not — and only
    pair OUT-neighbors. Each triangle {a,b,c} with rank a<b<c is found
    exactly once, as the wedge (b,c) at apex a closed by the oriented
    edge b->c; the wedge pair is re-ordered by the SAME (degree, id)
    rank so the closing lookup is a plain equi-join on (s, t) — no
    OR-of-orientations, no theta join.

    Scale shape: the edge list is a per-order self-join (fan-out
    bounded by order width, <= C(7,2) per TPC-H order construction),
    then DISTINCT; degrees are one partial-combining aggregate; the
    orientation is two equi-joins against the degree table (node-keyed
    shuffles, AQE-splittable — the degree table grows with the corpus,
    so it is NEVER hard-broadcast); the wedge self-join shuffles on the
    apex and the closing join on the (lo, hi) pair — both uniform
    equi-keys. Every stage is a join or aggregate: no windows, no
    driver traffic, nothing whole-group.
    """
    from .reports import basket_items, co_order_part_pairs

    li = load(spark, sf_dir, "lineitem")
    pairs = co_order_part_pairs(basket_items(li)).select("u", "v").distinct()
    return triangle_participation(pairs).select(
        F.col("node").alias("part_id"), "n_tri"
    )


def triangle_participation(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts for an undirected simple graph given as
    DISTINCT (u, v) edge rows with u < v — the degree-ordered
    orientation core of d_triangle_count, factored out so the property
    test can pin its semantics against brute-force enumeration on
    synthetic graphs (the DuckDB oracle mirrors the SAME algorithm, so
    the differential check proves engine parity, not triangle-ness).
    Returns (node, n_tri) for every node in at least one triangle.

    Both the edge list and the oriented edges are localCheckpointed
    (the d_pagerank discipline): pairs feeds the degree aggregate AND
    the orientation, and ori feeds BOTH wedge sides plus the closing
    join — without materialization Catalyst replays the upstream
    self-join lineage for every consumer (measured: 90 parquet scans,
    0 ReusedExchange in the un-checkpointed sf0.01 plan)."""
    pairs = pairs.localCheckpoint()
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ori = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("td"),
        )
        .localCheckpoint()
    )
    e1 = ori.alias("e1")
    e2 = ori.alias("e2")
    t1_first = (F.col("e1.td") < F.col("e2.td")) | (
        (F.col("e1.td") == F.col("e2.td")) & (F.col("e1.t") < F.col("e2.t"))
    )
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(
        F.col("e1.s").alias("apex"),
        F.when(t1_first, F.col("e1.t")).otherwise(F.col("e2.t")).alias("lo"),
        F.when(t1_first, F.col("e2.t")).otherwise(F.col("e1.t")).alias("hi"),
    )
    closing = ori.select(F.col("s").alias("lo"), F.col("t").alias("hi"))
    tri = wedges.join(closing, ["lo", "hi"])
    return (
        tri.select(F.col("apex").alias("node"))
        .unionByName(tri.select(F.col("lo").alias("node")))
        .unionByName(tri.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
