"""Composite ADS-layer report queries — the reference's end-product shape.

The Opay warehouse's ADS layer assembles multi-level daily business
reports (GMV/order metrics by day x dimension with subtotals, and
event-funnel conversion) from the DWD/DWS joins below it; these two
queries exercise that full shape end-to-end: star join + date bucketing +
grouping sets in one pass, and JSON-free funnel pivoting over the event
stream. Each individual operator is covered by its own §2 query; these
prove the composition.

At 100 TB: one scan + one shuffle feeds every subtotal level (grouping
sets share the aggregation), dimensions broadcast, and the report output
is tiny — the classic wide-in / narrow-out ADS job that exports to a
dashboard store (see sources/io.py write_jdbc). Report dates are emitted
as yyyy-MM-dd strings: DATE values round-trip differently through each
engine's pandas conversion (DuckDB upcasts to midnight datetime64),
so strings keep the differential comparison unambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import (
    display_2dp,
    e4,
    round_div_e4,
    sql_display_2dp,
    sql_round_div_e4,
    sql_sum_e4,
    sql_sum_e4_2dp,
    sum_e4_2dp,
)
from ..registry import register
from ..sources.io import load, local_rows


@register(
    "r_ads_daily_report",
    oracle=f"""
    SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS dt,
           n_name,
           count(*) AS n_orders,
           {sql_sum_e4_2dp("o_totalprice")} AS gmv,
           count(DISTINCT o_custkey) AS n_buyers,
           CAST(GROUPING(strftime(date_trunc('day', o_orderdate), '%Y-%m-%d'),
                         n_name) AS INTEGER) AS gid
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((1, 2), (1), ())
    """,
)
def r_ads_daily_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily GMV report by (day, nation) with per-day subtotals and a grand
    total — one scan, one shuffle, all levels (the ADS daily-report idiom:
    star join + grouping sets + money rounding)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("dt", F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    return joined.groupingSets(
        [["dt", "n_name"], ["dt"], []], "dt", "n_name"
    ).agg(
        F.count("*").alias("n_orders"),
        sum_e4_2dp(F.col("o_totalprice")).alias("gmv"),
        F.countDistinct("o_custkey").alias("n_buyers"),
        F.grouping_id().cast("int").alias("gid"),
    )


@register(
    "r_funnel_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           count(*) FILTER (WHERE event_type = 'view') AS views,
           count(*) FILTER (WHERE event_type = 'click') AS clicks,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           round(CAST(count(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
                 / nullif(count(*) FILTER (WHERE event_type = 'view'), 0), 6)
               AS view_to_purchase
    FROM events GROUP BY 1
    """,
)
def r_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event funnel: stage counts via filtered aggregation (the
    sum(CASE WHEN) report-pivot idiom) + conversion ratio with an explicit
    null-safe divide."""
    ev = load(spark, sf_dir, "events")
    stage = lambda s: F.count(F.when(F.col("event_type") == s, 1))  # noqa: E731
    return (
        ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(
            stage("view").alias("views"),
            stage("click").alias("clicks"),
            stage("purchase").alias("purchases"),
            F.round(
                F.try_divide(
                    stage("purchase").cast("double"), F.nullif(stage("view"), F.lit(0))
                ),
                6,
            ).alias("view_to_purchase"),
        )
    )


@register(
    "r_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_n
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(day_n AS BIGINT) AS day_n,
           count(*) AS active_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def r_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each subsequent active day — the cohort comes from a user-grain
    MIN AGGREGATE joined back (r8 window-skew wave: the full-partition
    min window buffered a celebrity user's events in one task, while the
    aggregate partial-combines and the user_id equi-join is
    AQE-skew-splittable), then the tiny (cohort, day_n) aggregate. The
    standard growth-analytics query shape.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(firsts, "user_id")
        .select("user_id", "cohort_day", F.datediff("day", "cohort_day").alias("day_n"))
        .distinct()
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.col("day_n").cast("long").alias("day_n"),
        )
        .agg(F.count("*").alias("active_users"))
    )


@register(
    "r_scd2_dim",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
                    '9999-12-31') AS valid_to,
           CAST(lead(o_orderdate) OVER w IS NULL AS INTEGER) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def r_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 "zipper table" build: each customer's order history
    becomes versioned rows with [valid_from, valid_to) intervals and an
    is_current flag — the DWD dimension-snapshot idiom (lead() closes each
    interval with the next version's start; open intervals get the
    9999-12-31 sentinel). The lead rides the celebrity-immune chunked
    form (`with_chunked_shifts` — a power account's whole version
    history would otherwise sort in one task); dates emitted as strings
    and the flag as int per the differential-comparison rules.
    """
    from .windows import with_chunked_shifts

    o = load(spark, sf_dir, "orders")
    led = with_chunked_shifts(
        o, "o_custkey", "o_orderdate", "o_orderkey", leads={"_nxt": "o_orderdate"}
    )
    return led.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format("_nxt", "yyyy-MM-dd"), F.lit("9999-12-31")).alias(
            "valid_to"
        ),
        F.col("_nxt").isNull().cast("int").alias("is_current"),
    )


@register(
    "r_incremental_daily_agg",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           event_type,
           count(*) AS n,
           {sql_sum_e4_2dp("value")} AS v
    FROM events
    GROUP BY 1, 2
    """,
)
def r_incremental_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent incremental rebuild — the Airflow daily-job discipline
    itself, verified end-to-end: land the full daily aggregate once
    (bootstrap/backfill), then re-run ONE day's slice exactly as a daily
    DAG task would and dynamic-partition-overwrite it into the table.
    The oracle checks the final landed table equals a clean one-shot
    aggregation — i.e. the partition-scoped rerun replaced only its own
    partition and left every other day untouched (rerun-safety of
    INSERT OVERWRITE ... PARTITION(dt)).

    At 100 TB this is THE cost lever of a daily warehouse: the nightly
    run scans one day (~1/365 of history), not the table; dynamic
    overwrite mode scopes the commit to partitions present in the write,
    so reruns are idempotent and concurrent days don't clobber each
    other. The rerun day is a fixed mid-range date (fixtures span
    2024-01), keeping the query deterministic with no driver-side reads.
    """
    from ..sources.io import fixture_tag, scratch_path

    ev = load(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy("dt", "event_type").agg(
            F.count("*").alias("n"), sum_e4_2dp(F.col("value")).alias("v")
        )

    out = scratch_path("incr_agg", f"daily_{fixture_tag(sf_dir)}")
    # partitionOverwriteMode set on the writer (per-write since Spark 3.0),
    # not inherited from the session: under a caller-built session with the
    # default 'static' mode the one-day rerun would truncate every other
    # partition and the landed table would hold a single day.
    full = daily(ev)
    full.write.partitionBy("dt").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(out)
    rerun_day = "2024-01-15"
    daily(ev.where(F.col("dt") == rerun_day)).write.partitionBy("dt").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(out)
    # Read back with the written schema, so `dt` stays the string the
    # differential contract emits report dates as (module docstring).
    landed = spark.read.schema(full.schema).parquet(out)
    return landed.select("dt", "event_type", "n", "v")


@register(
    "r_dq_referential",
    oracle="""
    SELECT 'lineitem->orders' AS fk, count(*) AS orphans
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', count(*)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', count(*)
    FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def r_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — the nightly DQC job that
    guards every downstream join: orphan counts for the three FK edges of
    the order star, as left-anti probes. Complements the single-table
    gates in `quality.py` (null/unique/accepted-values run in one scan);
    FK checks are inherently two-table, so each edge is its own anti-join.

    At 100 TB: each anti-join shuffles on its key like the production
    join it protects — or broadcasts when the parent side is a dimension
    (customer->nation). A zero-orphan result is the precondition the
    reference's sensor-then-load DAG ordering enforced; landing the
    counts as a table makes the check auditable instead of implicit."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")

    def orphans(child: DataFrame, parent: DataFrame, cond, label: str) -> DataFrame:
        return (
            child.join(parent, cond, "left_anti")
            .agg(F.count("*").alias("orphans"))
            .select(F.lit(label).alias("fk"), "orphans")
        )

    return (
        orphans(li, o, li.l_orderkey == o.o_orderkey, "lineitem->orders")
        .unionByName(
            orphans(o, c, o.o_custkey == c.c_custkey, "orders->customer")
        )
        .unionByName(
            orphans(
                c, F.broadcast(n), c.c_nationkey == n.n_nationkey, "customer->nation"
            )
        )
    )


@register(
    "r_active_users_rolling",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    e AS (
        SELECT user_id, day + unnest(range(0, 7)) * INTERVAL 1 DAY AS day7
        FROM du
    )
    SELECT strftime(day7, '%Y-%m-%d') AS dt,
           count(DISTINCT user_id) AS active_7d
    FROM e GROUP BY 1
    """,
)
def r_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the DAU/WAU dashboard tile
    every tracking warehouse lands nightly. Rolling COUNT(DISTINCT) has
    no window-frame form in any engine (distinctness does not compose
    across frame slides), so the scalable shape is contribute-and-count:
    dedupe to (day, user) first (collapses each user's intra-day events
    to one row BEFORE any fan-out), explode each pair to the 7 report
    days it contributes to, then one distinct-count per day.

    At 100 TB: the fan-out factor is exactly the window length (7x on
    the deduped daily actives, NOT on raw events), both shuffles key on
    (day[, user]) which are uniform, and no per-user state or sort is
    held anywhere — this beats the self-join formulation (window x scan)
    and stays embarrassingly parallel as history grows. The same shape
    scales to WAU/MAU by swapping the range.
    """
    ev = load(spark, sf_dir, "events")
    du = ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day7"),
    )
    return contrib.groupBy(
        F.date_format("day7", "yyyy-MM-dd").alias("dt")
    ).agg(F.countDistinct("user_id").alias("active_7d"))


@register(
    "r_mom_yoy_report",
    oracle=f"""
    WITH m AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               {sql_sum_e4("o_totalprice")} AS rev_e4,
               count(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT month, {sql_display_2dp("rev_e4")} AS revenue, n_orders,
           {sql_display_2dp("(rev_e4 - lag(rev_e4, 1) OVER (ORDER BY month))")}
               AS mom_delta,
           {sql_round_div_e4("rev_e4",
                             "nullif(lag(rev_e4, 12) OVER (ORDER BY month), 0)",
                             6)}
               AS yoy_ratio
    FROM m
    """,
)
def r_mom_yoy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month / year-over-year revenue report — the headline
    finance-dashboard idiom of the Hive-era warehouse: monthly revenue
    with the MoM delta (lag 1) and the YoY ratio (lag 12) on one month
    axis.

    Revenue sums in exact integer ten-thousandths (the t_q09 scheme) so
    the month totals — and therefore every derived delta/ratio — are
    ulp-stable across engines. The lag windows run over the MONTH-LEVEL
    aggregate (~tens of rows for years of data, corpus-sublinear), so
    the unpartitioned ORDER BY window is a deliberate non-issue: the
    heavy work is the one uniform month-keyed aggregation shuffle; the
    window input is a driver-screen-sized table. (Contrast
    k_vocab_coverage, where the windowed table can be vocabulary-sized
    and gets the distributed prefix-sum instead.)
    """
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.sum(e4(F.col("o_totalprice"))).alias("rev_e4"),
        F.count("*").alias("n_orders"),
    )
    w = W.orderBy("month")
    # deltas and ratios derive from the INTEGER month totals (not the
    # rounded display), so every derived column is engine-exact too
    lag1 = F.lag("rev_e4", 1).over(w)
    lag12 = F.nullif(F.lag("rev_e4", 12).over(w), F.lit(0).cast("decimal(20,0)"))
    return m.select(
        "month",
        display_2dp(F.col("rev_e4")).alias("revenue"),
        "n_orders",
        display_2dp(F.col("rev_e4") - lag1).alias("mom_delta"),
        round_div_e4(F.col("rev_e4"), lag12, 6).alias("yoy_ratio"),
    )


@register(
    "r_dq_anomaly_zscore",
    oracle=f"""
    WITH d AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
               {sql_sum_e4_2dp("value")} AS v,
               count(*) AS n
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT avg(v) AS mu, stddev_samp(v) AS sd FROM d
    )
    SELECT dt, v, n,
           round((v - mu) / sd, 6)       AS z,
           abs(round((v - mu) / sd, 6)) >= 2.0 AS is_anomaly
    FROM d CROSS JOIN s
    """,
)
def r_dq_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality anomaly monitor — the daily-metric sanity gate every
    warehouse load runs before publishing: z-score each day's total
    event value against the trailing distribution and flag |z| >= 2
    days (a collapsed upstream feed or a double-load shows up as an
    extreme day). Complements r_dq_referential (structural integrity)
    with statistical integrity.

    The mean/stddev come from a 1-row aggregate over the DAY-level
    rollup (corpus-sublinear) broadcast back to the days — no global
    window over raw events; the only corpus-sized work is the one
    day-keyed aggregation shuffle. The anomaly flag compares the
    ROUNDED z (6 dp), so engines agree by construction whenever the
    hashed z values agree. A production variant would window mu/sd over
    a trailing N days per metric — same shape, partitioned by metric.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt")
    ).agg(sum_e4_2dp(F.col("value")).alias("v"), F.count("*").alias("n"))
    s = d.agg(F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd"))
    z = F.round((F.col("v") - F.col("mu")) / F.col("sd"), 6)
    return d.join(F.broadcast(s)).select(
        "dt", "v", "n", z.alias("z"), (F.abs(z) >= 2.0).alias("is_anomaly")
    )


@register(
    "r_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def r_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (Markov counts of consecutive event pairs
    per user) — the journey-analysis idiom behind sankey dashboards and
    next-action models: one lag window per user stream, then a tiny
    (from, to) count. (ts, event_id) is a total order within each user,
    so the transition pairs are engine-independent even with same-second
    events.

    One (user, chunk)-keyed lag window (`with_chunked_shifts`, the
    celebrity-immune form — hash-identical to the classic single
    user-keyed shuffle) + one k²-cell aggregate (k = event types); the
    matrix output is constant-size regardless of corpus.
    """
    from .windows import with_chunked_shifts

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    seq = with_chunked_shifts(
        ev, "user_id", "ts", "event_id", lags={"prev_type": "event_type"}
    ).select("event_type", "prev_type")
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "r_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate)  AS last_order,
               count(*)          AS frequency,
               {sql_sum_e4_2dp("o_totalprice")} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               CASE WHEN last_order >= TIMESTAMP '2000-01-01' THEN 'recent'
                    WHEN last_order >= TIMESTAMP '1998-01-01' THEN 'lapsing'
                    ELSE 'dormant' END AS r_band,
               CASE WHEN frequency >= 15 THEN 'frequent'
                    WHEN frequency >= 8  THEN 'regular'
                    ELSE 'rare' END    AS f_band,
               CASE WHEN monetary >= 2000000 THEN 'whale'
                    WHEN monetary >= 1000000 THEN 'mid'
                    ELSE 'small' END   AS m_band
        FROM per_cust
    )
    SELECT r_band, f_band, m_band,
           count(*) AS n_customers
    FROM scored GROUP BY r_band, f_band, m_band
    """,
)
def r_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the growth-analytics workhorse: per-customer
    Recency / Frequency / Monetary metrics banded into segments and
    cross-tabulated (who is a recent frequent whale vs a dormant rare
    small). Bands use FIXED business thresholds rather than ntile
    quantile cuts: quantile band edges sit exactly on tied customers
    and flip between engines, while fixed thresholds on exact
    integers/e4 sums cannot. The e4 rule keeps monetary itself
    ulp-stable.

    Two aggregations, both on uniform keys (custkey, then the
    3³-cell segment tuple); the segment matrix output is
    constant-size.
    """
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        sum_e4_2dp(F.col("o_totalprice")).alias("monetary"),
    )
    scored = per_cust.select(
        F.when(F.col("last_order") >= "2000-01-01", "recent")
        .when(F.col("last_order") >= "1998-01-01", "lapsing")
        .otherwise("dormant")
        .alias("r_band"),
        F.when(F.col("frequency") >= 15, "frequent")
        .when(F.col("frequency") >= 8, "regular")
        .otherwise("rare")
        .alias("f_band"),
        F.when(F.col("monetary") >= 2000000, "whale")
        .when(F.col("monetary") >= 1000000, "mid")
        .otherwise("small")
        .alias("m_band"),
    )
    return scored.groupBy("r_band", "f_band", "m_band").agg(
        F.count("*").alias("n_customers")
    )


@register(
    "r_user_path_topk",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def r_user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent 3-step user journeys (the sankey / next-
    action path-mining idiom behind funnel exploration dashboards):
    each user's event stream ordered by time yields sliding event-type
    trigrams via two leads over ONE user-partitioned window, then a
    uniform-key count with a deterministic (n DESC, path) top-k.

    Extends r_event_transitions (the order-1 Markov matrix) to order-2
    paths. Tie-break: ts collisions within a user are ordered by
    event_id so both engines walk the identical sequence; count ties
    order lexicographically.

    Scale shape: trigram formation rides the celebrity-immune lead-k
    chunking (`with_chunked_lead_seq` — per-chunk head arrays feed a
    chunk-grain continuation, hash-identical to the classic single
    user-keyed window; no self-join — the naive form is two self-joins
    on consecutive ranks, i.e. two more fact shuffles), then a
    k^3-bounded aggregate and TakeOrderedAndProject.
    """
    from .windows import with_chunked_lead_seq

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    seq = with_chunked_lead_seq(
        ev, "user_id", "ts", "event_id", "event_type", ["e2", "e3"]
    ).select("event_type", "e2", "e3").where(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@register(
    "r_user_trend_slope",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '2020-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS x,
               CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS y
        FROM events WHERE user_id < 100
        GROUP BY 1, 2
    ), sums AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT)   AS n,
               CAST(sum(x) AS BIGINT)     AS sx,
               CAST(sum(y) AS BIGINT)     AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY user_id
    )
    SELECT user_id, n AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_e4_per_day
    FROM sums WHERE n >= 2
    """,
)
def r_user_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend trend: least-squares slope of daily totals over
    the day index (growth/churn scoring — positive slope = ramping
    user). The built-in regr_slope aggregates double products in
    arbitrary order, which is cross-engine unstable (the Q1/Q8/Q14
    ratio lesson); instead the slope is assembled from EXACT integer
    accumulators — x is a day ordinal, y an e4-integer daily sum, so
    n, Σx, Σy, Σxy, Σx² are all exact bigints in any aggregation order
    — and (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) divides two identical doubles.
    No rounding anywhere, and the result is the bit-exact OLS slope.

    Single-day users are excluded (denominator zero: no trend from one
    point). Magnitudes: day ordinals ~2e4, e4 daily sums ~1e7 →
    Σxy ~1e13·days, well inside int64 even at 100 TB per-user volumes
    (the per-USER day count, not corpus size, bounds the sum).

    Scale shape: two chained uniform-key aggregations (user×day, then
    user) with map-side partial combine; no window, no join, no sort.
    """
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 100)
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.to_date(F.date_trunc("day", "ts")), F.lit("2020-01-01")).alias("x"),
    ).agg(F.sum(e4(F.col("value"))).cast("long").alias("y"))
    sums = daily.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        sums.where(F.col("n") >= 2)
        .select("user_id", F.col("n").alias("n_days"), (num / den).alias("slope_e4_per_day"))
    )


@register(
    "r_table_profile",
    oracle="""
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count(o_orderkey) AS BIGINT)   AS nn_k,
               CAST(count(DISTINCT o_orderkey) AS BIGINT)     AS nd_k,
               CAST(min(o_orderkey) AS DOUBLE) AS mn_k, CAST(max(o_orderkey) AS DOUBLE) AS mx_k,
               CAST(count(*) - count(o_custkey) AS BIGINT)    AS nn_c,
               CAST(count(DISTINCT o_custkey) AS BIGINT)      AS nd_c,
               CAST(min(o_custkey) AS DOUBLE) AS mn_c, CAST(max(o_custkey) AS DOUBLE) AS mx_c,
               CAST(count(*) - count(o_totalprice) AS BIGINT) AS nn_p,
               CAST(count(DISTINCT o_totalprice) AS BIGINT)   AS nd_p,
               min(o_totalprice) AS mn_p, max(o_totalprice) AS mx_p,
               CAST(count(*) - count(o_orderdate) AS BIGINT)  AS nn_d,
               CAST(count(DISTINCT o_orderdate) AS BIGINT)    AS nd_d,
               CAST(min(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS DOUBLE) AS mn_d,
               CAST(max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS DOUBLE) AS mx_d,
               CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nn_s,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT)   AS nd_s,
               min(o_orderstatus) AS mn_s, max(o_orderstatus) AS mx_s,
               CAST(count(*) - count(o_orderpriority) AS BIGINT) AS nn_o,
               CAST(count(DISTINCT o_orderpriority) AS BIGINT)   AS nd_o,
               min(o_orderpriority) AS mn_o, max(o_orderpriority) AS mx_o
        FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n_rows, nn_k AS n_null, nd_k AS n_distinct,
           mn_k AS min_num, mx_k AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM m
    UNION ALL
    SELECT 'o_custkey', n_rows, nn_c, nd_c, mn_c, mx_c, NULL, NULL FROM m
    UNION ALL
    SELECT 'o_totalprice', n_rows, nn_p, nd_p, mn_p, mx_p, NULL, NULL FROM m
    UNION ALL
    SELECT 'o_orderdate', n_rows, nn_d, nd_d, mn_d, mx_d, NULL, NULL FROM m
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nn_s, nd_s, NULL, NULL, mn_s, mx_s FROM m
    UNION ALL
    SELECT 'o_orderpriority', n_rows, nn_o, nd_o, NULL, NULL, mn_o, mx_o FROM m
    """,
)
def r_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — the schema-drift / DQ canary a warehouse runs
    after every load (rows, null count, cardinality, value range per
    column): ONE row per column, numeric ranges as doubles (dates as
    epoch-day ordinals), string ranges in their own typed pair. Next to
    r_dq_referential (FK orphans) and r_dq_anomaly_zscore (metric
    drift), this is the structural layer: a column suddenly going
    nullable, a key collapsing to one value, or a price range exploding
    all surface here.

    Scale shape: every metric folds in ONE aggregation pass over the
    table (the multi-distinct is Catalyst's Expand — one scan, k×
    shuffle rows, still far cheaper than k scans; at 100 TB swap the
    exact distincts for approx_count_distinct and the Expand
    disappears). The 1-row metric struct then UNPIVOTS map-side via
    stack() into the per-column report — never 6 per-column scans, and
    the oracle's UNION-ALL-from-CTE mirrors that single-pass shape.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "o_dateday", F.datediff(F.to_date(F.date_trunc("day", "o_orderdate")), F.lit("1970-01-01"))
    )

    def metrics(col, num_expr=None):
        num = num_expr if num_expr is not None else F.col(col)
        return [
            (F.count("*") - F.count(col)).alias(f"nn_{col}"),
            F.count_distinct(F.col(col)).alias(f"nd_{col}"),
            F.min(num).cast("double").alias(f"mn_{col}"),
            F.max(num).cast("double").alias(f"mx_{col}"),
        ]

    def str_metrics(col):
        return [
            (F.count("*") - F.count(col)).alias(f"nn_{col}"),
            F.count_distinct(F.col(col)).alias(f"nd_{col}"),
            F.min(col).alias(f"mns_{col}"),
            F.max(col).alias(f"mxs_{col}"),
        ]

    m = o.agg(
        F.count("*").alias("n_rows"),
        *metrics("o_orderkey"),
        *metrics("o_custkey"),
        *metrics("o_totalprice"),
        *[
            (F.count("*") - F.count("o_orderdate")).alias("nn_dt"),
            F.count_distinct("o_orderdate").alias("nd_dt"),
            F.min("o_dateday").cast("double").alias("mn_dt"),
            F.max("o_dateday").cast("double").alias("mx_dt"),
        ],
        *str_metrics("o_orderstatus"),
        *str_metrics("o_orderpriority"),
    )
    return m.selectExpr(
        """stack(6,
            'o_orderkey',      n_rows, nn_o_orderkey,    nd_o_orderkey,    mn_o_orderkey,    mx_o_orderkey,    CAST(NULL AS STRING), CAST(NULL AS STRING),
            'o_custkey',       n_rows, nn_o_custkey,     nd_o_custkey,     mn_o_custkey,     mx_o_custkey,     CAST(NULL AS STRING), CAST(NULL AS STRING),
            'o_totalprice',    n_rows, nn_o_totalprice,  nd_o_totalprice,  mn_o_totalprice,  mx_o_totalprice,  CAST(NULL AS STRING), CAST(NULL AS STRING),
            'o_orderdate',     n_rows, nn_dt,            nd_dt,            mn_dt,            mx_dt,            CAST(NULL AS STRING), CAST(NULL AS STRING),
            'o_orderstatus',   n_rows, nn_o_orderstatus, nd_o_orderstatus, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mns_o_orderstatus, mxs_o_orderstatus,
            'o_orderpriority', n_rows, nn_o_orderpriority, nd_o_orderpriority, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mns_o_orderpriority, mxs_o_orderpriority
        ) AS (col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str, max_str)"""
    )


@register(
    "r_observed_load_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) AS BIGINT)
               AS revenue_e4,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
           max(o_totalprice) AS max_price
    FROM orders
    """,
)
def r_observed_load_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-time observability via the Observation API: the metrics a
    DQ gate needs (row count, exact e4 revenue, open-order count, max
    price) are captured DURING the landing write itself — Spark folds
    the observe() aggregates into the write job, so the table is
    scanned ONCE for load + metrics together. The naive form (write,
    then re-aggregate the written table) doubles the scan cost, which
    at 100 TB is the whole bill; this is the free-metrics idiom every
    ingestion job should ship with (quality.run_gates is the
    one-extra-pass cousin for checks that must gate AFTER landing).

    The op returns the observed metrics as a 1-row DataFrame; the
    oracle recomputes the same aggregates relationally, so a metric
    silently dropped or double-counted by the observed write breaks
    the hash. Observation restricts aggregates to shuffle-free forms
    (no distinct) — exactly the ones that piggyback on a write.
    """
    from pyspark.sql import Observation

    from ..sources.io import fixture_tag, scratch_path

    tag = fixture_tag(sf_dir)
    out = scratch_path("observed_load", f"orders_{tag}")
    obs = Observation(f"load_metrics_{tag}")
    o = load(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # decimal accumulator (the e4() rule): this is a WHOLE-TABLE sum,
        # the first place a long accumulator overflows at corpus scale —
        # ANSI kills the load job; ANSI-off wraps and the bad metric
        # silently passes the DQ gate.
        F.sum(F.round(F.col("o_totalprice") * 10000, 0).cast("decimal(38,0)")).alias(
            "revenue_e4"
        ),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.max("o_totalprice").alias("max_price"),
    )
    o.write.mode("overwrite").parquet(out)  # the action that feeds obs
    m = obs.get
    return local_rows(
        spark,
        [(m["n_rows"], int(m["revenue_e4"]), m["n_open"], m["max_price"])],
        "n_rows long, revenue_e4 long, n_open long, max_price double",
    )


@register(
    "r_pareto_deciles",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) AS BIGINT)
                   AS rev_e4
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, rev_e4,
               row_number() OVER (ORDER BY rev_e4 DESC, o_custkey) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM rev
    )
    SELECT CAST(floor((rn - 1) * 10 / n) AS BIGINT) + 1 AS decile,
           count(*) AS n_customers,
           CAST(sum(rev_e4) AS BIGINT) AS revenue_e4,
           round(CAST(sum(rev_e4) AS DOUBLE)
                 / (SELECT CAST(sum(rev_e4) AS DOUBLE) FROM rev), 6) AS revenue_share
    FROM ranked
    GROUP BY 1
    """,
)
def r_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 report): customers ranked by
    lifetime revenue, cut into deciles, each decile's share of total —
    the classic whale-curve input for account-management and fraud
    review ("do 10% of customers carry 60% of GMV?").

    The decile comes from ARITHMETIC on the distributed global rank
    ((rn-1)*10/n in integer math), not ntile() — an unpartitioned
    ntile()/row_number() window is the single-task global-sort
    bottleneck at 100 TB, while global_row_number ranks via
    range-partition + per-partition window + broadcast offsets (the
    e_ntile lesson; the oracle's textbook window is fine at sf0.01).
    Revenue is exact e4 integers end-to-end; the share divides two
    exactly-agreed doubles, so round(6) cannot flip.
    """
    from .relational import global_row_number

    o = load(spark, sf_dir, "orders")
    # Per-customer sums fit long, but the same column feeds the DECILE
    # sums (~10% of corpus revenue each) and the grand total — so the
    # accumulator is decimal end-to-end (the e4() rule) and only the
    # per-decile display casts back to long.
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 10000, 0).cast("decimal(38,0)")).alias(
            "rev_e4"
        )
    )
    ranked = global_row_number(rev, F.desc("rev_e4"), F.asc("o_custkey"))
    total = rev.agg(F.sum("rev_e4").cast("double").alias("tot"))
    n_row = rev.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            # floor() on both sides: DuckDB CAST(double AS BIGINT) ROUNDS
            # while Spark's cast truncates (the h_geo_grid_heatmap seam)
            F.floor((F.col("rn") - 1) * 10 / F.col("n")).cast("long").alias("dec0"),
            "rev_e4",
        )
        .groupBy((F.col("dec0") + 1).alias("decile"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("rev_e4").cast("long").alias("revenue_e4"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "revenue_e4",
            F.round(F.col("revenue_e4").cast("double") / F.col("tot"), 6).alias(
                "revenue_share"
            ),
        )
    )


@register(
    "r_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(ts) FILTER (event_type = 'signup')   AS signup_ts,
               min(ts) FILTER (event_type = 'purchase') AS first_buy_ts
        FROM events GROUP BY user_id
    ),
    lags AS (
        SELECT strftime(signup_ts, '%Y-%m') AS cohort,
               CASE WHEN first_buy_ts >= signup_ts
                    THEN date_diff('microsecond', signup_ts, first_buy_ts)
               END AS lag_us
        FROM firsts WHERE signup_ts IS NOT NULL
    )
    SELECT cohort,
           count(*) AS n_signups,
           CAST(count(lag_us) AS BIGINT) AS n_converted,
           round(CAST(count(lag_us) AS DOUBLE) / count(*), 6) AS conversion_rate,
           median(lag_us) AS median_lag_us
    FROM lags GROUP BY cohort
    """,
)
def r_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert by signup cohort — the activation metric behind
    every growth dashboard: for each user, the lag from first signup to
    first purchase AT-OR-AFTER it; per signup month, how many signed
    up, how many converted, and the median lag. Complements
    r_cohort_retention (did they come back) with how FAST they
    activated.

    Exactness: lags are integer microseconds (the e_merge_intervals
    rule), the median interpolates integers (IEEE-exact both engines),
    and the conversion rate divides two exact counts — round(6) safe.
    A user whose only purchases precede their signup counts as
    unconverted, not negative-lag (the FILTER + CASE guard).

    Scale shape: ONE pass over events builds both firsts via filtered
    min aggregates (no self-join of signups to purchases), then a
    cohort-month-bounded rollup. All keys uniform.
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_buy_ts"
        ),
    )
    lags = firsts.where(F.col("signup_ts").isNotNull()).select(
        F.date_format("signup_ts", "yyyy-MM").alias("cohort"),
        F.when(
            F.col("first_buy_ts") >= F.col("signup_ts"),
            F.unix_micros("first_buy_ts") - F.unix_micros("signup_ts"),
        ).alias("lag_us"),
    )
    return lags.groupBy("cohort").agg(
        F.count("*").alias("n_signups"),
        F.count("lag_us").alias("n_converted"),
        F.round(F.count("lag_us").cast("double") / F.count("*"), 6).alias(
            "conversion_rate"
        ),
        F.percentile("lag_us", 0.5).alias("median_lag_us"),
    )


@register(
    "r_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('day', ts)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT DISTINCT e.user_id, date_trunc('day', e.ts) AS day, f.first_day
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT strftime(day, '%Y-%m-%d') AS dt,
           CAST(count(*) FILTER (day = first_day) AS BIGINT)  AS new_users,
           CAST(count(*) FILTER (day > first_day) AS BIGINT)  AS returning_users,
           round(CAST(count(*) FILTER (day > first_day) AS DOUBLE) / count(*), 6)
               AS returning_share
    FROM daily GROUP BY dt
    """,
)
def r_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split NEW vs RETURNING — the growth chart
    every product dashboard leads with (and the denominator sanity
    check for r_cohort_retention's triangle): a user is "new" on their
    first-ever active day, "returning" on any later one.

    A user-grain min aggregate joined back (the r_cohort_retention r8
    shape: partial-combining agg + AQE-splittable join instead of a
    full-partition window) classifies every active (user, day); the
    rollup is calendar-bounded. The share divides two exact counts, so
    round(6) is safe.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        ev.join(firsts, "user_id")
        .select("user_id", "day", "first_day")
        .distinct()
    )
    return daily.groupBy(F.date_format("day", "yyyy-MM-dd").alias("dt")).agg(
        F.count_if(F.col("day") == F.col("first_day")).alias("new_users"),
        F.count_if(F.col("day") > F.col("first_day")).alias("returning_users"),
        F.round(
            F.count_if(F.col("day") > F.col("first_day")).cast("double")
            / F.count("*"),
            6,
        ).alias("returning_share"),
    )


@register(
    "r_event_order_violations",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               count(*) FILTER (event_type = 'view') OVER w  AS views_before,
               count(*) FILTER (event_type = 'click') OVER w AS clicks_before
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(*) FILTER (
               (event_type = 'click' AND coalesce(views_before, 0) = 0)
               OR (event_type = 'purchase' AND coalesce(clicks_before, 0) = 0)
           ) AS BIGINT) AS n_violations
    FROM seq GROUP BY event_type
    """,
)
def r_event_order_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-ORDER validation — the state-machine DQ gate for tracking
    streams (a click with no prior view, a purchase with no prior
    click, usually mean lost events, client clock skew, or binlog
    replay out of order — the reference-era pipelines' most common
    silent corruption): per user, running counts of prerequisite
    events feed a per-event legality flag, rolled up to violation
    counts per event type. Complements r_event_transitions (what
    transitions happen) with what transitions are ILLEGAL.

    The prerequisite counts are two running 0/1-indicator sums over the
    celebrity-immune chunked form (`with_chunked_running_sums` — hash-
    identical to the classic ONE user-partitioned sort); the 1-PRECEDING
    exclusive frame derives as inclusive-cum minus the row's own
    indicator (an event cannot satisfy its own prerequisite). Ties
    resolve by event_id in both engines. All counts exact integers.
    """
    from .windows import with_chunked_running_sums

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("_iv"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("_ic"),
    )
    seq = with_chunked_running_sums(
        ev,
        "user_id",
        "ts",
        "event_id",
        {"_cum_v": F.col("_iv"), "_cum_c": F.col("_ic")},
    ).select(
        "event_type",
        (F.col("_cum_v") - F.col("_iv")).alias("views_before"),
        (F.col("_cum_c") - F.col("_ic")).alias("clicks_before"),
    )
    viol = (
        (F.col("event_type") == "click") & (F.coalesce("views_before", F.lit(0)) == 0)
    ) | (
        (F.col("event_type") == "purchase")
        & (F.coalesce("clicks_before", F.lit(0)) == 0)
    )
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_if(viol).alias("n_violations"),
    )


@register(
    "r_revenue_bridge",
    oracle="""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mo,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) AS BIGINT)
                   AS s_e4
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT mo, n, s_e4,
               lag(n)    OVER (ORDER BY mo) AS n0,
               lag(s_e4) OVER (ORDER BY mo) AS s0
        FROM m
    )
    SELECT mo, n, s_e4,
           s_e4 - s0 AS delta_e4,
           (n - n0) * s0      AS volume_effect_n0e4,
           n0 * s_e4 - n * s0 AS price_effect_n0e4
    FROM lagged WHERE n0 IS NOT NULL
    """,
)
def r_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue BRIDGE (price/volume decomposition) — the month-over-
    month delta split every finance review asks for: how much of the
    change came from MORE ORDERS (volume effect, Δn x last month's
    average ticket) vs BIGGER ORDERS (price effect, this month's count
    x Δ average ticket). The two effects sum to the total delta by
    construction.

    Exactness: effects are emitted SCALED BY n0 — volume = (n-n0)*s0,
    price = n0*s_e4 - n*s0 — pure bigint arithmetic with zero floats,
    because the natural form divides by n0 and then a fine-precision
    round() diverges: DuckDB's round(double, 4) goes through x*1e4
    floating-point scaling while Spark rounds the exact binary value
    via BigDecimal, and the two disagree by one ulp exactly at a
    rounding boundary (observed live on the 1997-12 row). Dividing by
    n0 for display is a presentation-layer concern. The identity
    volume + price = n0 * delta holds EXACTLY in integers. The lag
    window runs over the MONTH table (corpus-sublinear, the
    r_mom_yoy_report rule), never the fact stream. Accumulator and
    count x sum products run in decimal(38,0) — a month of corpus
    revenue times a month's order count passes int64 long before 100
    TB — with only the month-grain display columns cast back to long.
    """
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mo")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 10000, 0).cast("decimal(38,0)")).alias(
            "s_e4"
        ),
    )
    w = W.orderBy("mo")
    lagged = m.select(
        "mo", "n", "s_e4",
        F.lag("n").over(w).alias("n0"),
        F.lag("s_e4").over(w).alias("s0"),
    ).where(F.col("n0").isNotNull())
    return lagged.select(
        "mo",
        "n",
        F.col("s_e4").cast("long").alias("s_e4"),
        (F.col("s_e4") - F.col("s0")).cast("long").alias("delta_e4"),
        ((F.col("n") - F.col("n0")) * F.col("s0")).cast("long").alias(
            "volume_effect_n0e4"
        ),
        (F.col("n0") * F.col("s_e4") - F.col("n") * F.col("s0")).cast("long").alias(
            "price_effect_n0e4"
        ),
    )


def basket_items(li: DataFrame) -> DataFrame:
    """Distinct (ok, item) basket rows from lineitem — multi-line
    repeats of one part collapse to one basket membership."""
    return li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()


def co_order_part_pairs(items: DataFrame) -> DataFrame:
    """One row per within-basket (u < v) part pair, from `basket_items`
    rows — the shared basket self-join behind r_copurchase_pairs (pair
    counts), r_association_rules (rule supports), and d_triangle_count
    (the distinct co-purchase edge list). One definition so the basket
    grain can never diverge between the three. Fan-out is keyed on the
    order and bounded by (lines-per-order choose 2) — single-digit
    squared per basket, never corpus-quadratic."""
    a = items.select("ok", F.col("item").alias("u"))
    b = items.select("ok", F.col("item").alias("v"))
    return a.join(b, "ok").where(F.col("u") < F.col("v")).select("ok", "u", "v")


@register(
    "r_copurchase_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
)
def r_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase mining — which part PAIRS appear in
    the same order (the bought-together signal behind recommendations
    and bundle pricing): distinct parts per order self-joined within
    the order key, pair counts, deterministic top-50 with a >= 2
    support floor.

    Scale shape: the pair join is keyed on l_orderkey, so fan-out is
    bounded by (lines-per-order choose 2) — single-digit squared per
    basket, NEVER corpus-quadratic (the same bounded-fan-in argument
    as c_join_scd2_asof); the distinct collapses multi-line repeats of
    one part first. Pair counts then aggregate on uniform (a, b) keys
    and finish in TakeOrderedAndProject. The support floor is the
    a-priori trick: it keeps the report the size of real signal.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        co_order_part_pairs(basket_items(li))
        .groupBy(F.col("u").alias("part_a"), F.col("v").alias("part_b"))
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "r_velocity_flags",
    oracle="""
    WITH bursts AS (
        SELECT user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 120 MINUTES PRECEDING
                                        AND CURRENT ROW) AS burst
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(max(burst) AS BIGINT) AS max_burst,
           CAST(count(*) FILTER (burst >= 4) AS BIGINT) AS n_flagged
    FROM bursts GROUP BY user_id
    HAVING max(burst) >= 4
    """,
)
def r_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VELOCITY check — the fraud/abuse primitive (N actions within a
    sliding wall-clock window; card-testing bursts, scraper loops,
    promo farming): for every event, the count of the same user's
    events in the trailing 2 hours via a RANGE frame over event
    TIME (not rows — a row frame miscounts whenever event density
    varies, which is exactly when velocity matters); users whose peak
    burst reaches 4 are reported with their flag counts.

    The range frame orders by integer microseconds on the Spark side
    so both engines bound the window with identical inclusive
    arithmetic (the e_range_frame rule). Counts are exact ints.

    Scale shape: the burst count rides the celebrity-immune
    time-bounded tail carry (`with_chunked_trailing_range_count` —
    a card-testing bot IS the celebrity key this op hunts, so the bare
    user-keyed window would hot-spot exactly on positives): each
    emitted row's 2 h frame completes inside its (user, 30-day chunk)
    window with the previous chunk's 2 h tail replicated in;
    hash-identical to the classic single sort. The HAVING keeps output
    at flagged-user size. Unlike e_sessionize_batch (gap splits) this
    measures sustained RATE — a steady half-hour drumbeat never
    sessionizes apart but still trips velocity. Window and threshold
    are tuned so the fixture actually flags users (max 10-min burst
    here is 3 — a vacuous always-empty gate verifies nothing).
    """
    from .windows import with_chunked_trailing_range_count

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    bursts = with_chunked_trailing_range_count(
        ev, "user_id", "ts", 7_200_000_000, "burst"
    ).select("user_id", "burst")
    return (
        bursts.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("burst").alias("max_burst"),
            F.count_if(F.col("burst") >= 4).alias("n_flagged"),
        )
        .where(F.col("max_burst") >= 4)
    )


@register(
    "r_attribution_linear",
    oracle="""
    WITH pur AS (
        SELECT event_id AS pid, user_id, ts AS pts,
               CAST(round(value * 10000, 0) AS BIGINT) AS v4
        FROM events WHERE event_type = 'purchase'
    ),
    clk AS (
        SELECT event_id AS cid, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    pairs AS (
        SELECT p.pid, p.v4, c.cid,
               count(*)    OVER (PARTITION BY p.pid) AS n,
               row_number() OVER (PARTITION BY p.pid
                                  ORDER BY c.cts DESC, c.cid DESC) AS rn
        FROM pur p JOIN clk c
          ON p.user_id = c.user_id
         AND c.cts >= p.pts - INTERVAL 24 HOUR
         AND c.cts < p.pts
    )
    SELECT pid AS purchase_event_id, cid AS click_event_id,
           CAST(n AS BIGINT) AS n_touches,
           -- FLOOR division spelled explicitly: DuckDB's // truncates
           -- toward zero (measured: -7 // 3 = -2), so subtract the
           -- nonnegative remainder first — the quotient is then exact
           -- and equals floor(v4/n) for any sign of v4, matching the
           -- Spark side's (v4 - pmod(v4, n)) div n.
           CAST(CASE WHEN rn = 1
                     THEN v4 - (n - 1) * ((v4 - (((v4 % n) + n) % n)) // n)
                     ELSE (v4 - (((v4 % n) + n) % n)) // n
                END AS BIGINT) AS attributed_e4
    FROM pairs
    """,
)
def r_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch marketing attribution: each purchase's value is
    split equally across every click by the same user in the trailing
    24 h, the standard growth-team alternative to last-touch
    (j_cogroup_asof / c_join_asof_nearest cover the single-touch leg).

    Money is split in EXACT integer ten-thousandths with the division
    remainder assigned to the most recent touch — integer floor-division
    shares sum back to the purchase total by construction (conservation
    is property-tested), where the naive value/n double split both
    leaks ulps and drifts between engines.

    Relational shape: purchase->click is the bounded band join again —
    user_id equi-join carries the shuffle, the 24 h interval is a
    residual filter, so per-purchase fan-in is bounded by one user's
    24 h click rate. The per-purchase count and remainder rank share
    ONE purchase-id-partitioned window sort. At 100 TB nothing here is
    corpus-quadratic; the output grain is (purchase, click) which is
    exactly the audit grain an attribution table ships.
    """
    ev = load(spark, sf_dir, "events")
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 10000, 0).cast("long").alias("v4"),
    )
    clk = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    pairs = pur.join(
        clk,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOUR"))
        & (F.col("cts") < F.col("pts")),
    )
    wp = W.partitionBy("pid")
    ranked = pairs.select(
        "pid",
        "cid",
        "v4",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.row_number()
        .over(wp.orderBy(F.desc("cts"), F.desc("cid")))
        .alias("rn"),
    )
    # FLOOR division in exact integer math. BOTH Spark's `div` AND
    # DuckDB's `//` truncate toward zero (measured: -7 // 3 = -2 in
    # DuckDB), so they agree, but truncation is the wrong semantics
    # for a money split (the remainder would change sign on refunds),
    # so both sides spell floor explicitly: pmod is the nonnegative
    # remainder, (v4 - pmod(v4, n)) is exactly divisible, and the
    # quotient equals floor(v4 / n) for any sign of v4.
    share = F.expr("(v4 - pmod(v4, n)) div n")
    return ranked.select(
        F.col("pid").alias("purchase_event_id"),
        F.col("cid").alias("click_event_id"),
        F.col("n").alias("n_touches"),
        F.when(F.col("rn") == 1, F.col("v4") - (F.col("n") - 1) * share)
        .otherwise(share)
        .alias("attributed_e4"),
    )


@register(
    "r_ltv_cohort",
    oracle=f"""
    WITH signup AS (
        SELECT user_id, min(ts) AS s_ts
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id
    ),
    cohort AS (
        SELECT user_id, s_ts,
               strftime(CAST(s_ts AS DATE), '%Y-%m-%d') AS cohort_day
        FROM signup
    ),
    sizes AS (
        SELECT cohort_day, count(*) AS n_users
        FROM cohort GROUP BY cohort_day
    ),
    rev AS (
        SELECT c.cohort_day,
               date_diff('day', CAST(c.s_ts AS DATE), CAST(e.ts AS DATE))
                   AS day_age,
               sum(CAST(round(e.value * 10000, 0) AS BIGINT)) AS rev_e4
        FROM events e JOIN cohort c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.s_ts
        GROUP BY 1, 2
    )
    SELECT r.cohort_day,
           CAST(r.day_age AS BIGINT)    AS day_age,
           CAST(s.n_users AS BIGINT)    AS n_users,
           CAST(sum(r.rev_e4) OVER (PARTITION BY r.cohort_day
                                    ORDER BY r.day_age) AS BIGINT) AS cum_rev_e4,
           {sql_round_div_e4(
               "sum(r.rev_e4) OVER (PARTITION BY r.cohort_day ORDER BY r.day_age)",
               "s.n_users * 10000", 4)} AS cum_arpu
    FROM rev r JOIN sizes s USING (cohort_day)
    """,
)
def r_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-LTV curve by signup cohort: for each signup day,
    cumulative post-signup purchase revenue per cohort user at each
    day of age — the money twin of r_cohort_retention\'s activity
    triangle and the table a growth team reads payback periods off.
    Daily grain because the fixture spans one month; a production
    monthly curve is the same program with date_trunc swapped in.

    Age is exact integer calendar-day arithmetic (datediff of DATEs),
    never months_between (fractional, engine-seamed). Revenue
    accumulates in exact e4 integers; ARPU divides once at the end.
    Purchases before the user\'s own signup (fixture noise) are
    excluded with the signup min-ts carried on the cohort row.

    Scale shape: the signup map is user-grain (one agg, broadcast to
    the fact join if users fit, shuffle join otherwise — here the
    user_id equi-join shuffles both sides uniformly once); the rollup
    is (cohort_day x day_age) — O(horizon^2) cells — so the
    cumulative window runs over the corpus-sublinear aggregate, not
    the events (the r_mom_yoy_report rule).
    """
    ev = load(spark, sf_dir, "events")
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    cohort = signup.select(
        "user_id",
        "s_ts",
        F.date_format("s_ts", "yyyy-MM-dd").alias("cohort_day"),
    )
    sizes = cohort.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .where(F.col("ts") >= F.col("s_ts"))
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.to_date("s_ts")).alias("day_age"),
        )
        # decimal accumulator end-to-end: the inner long sum
        # would wrap silently past int64 at corpus scale while DuckDB
        # widens to HUGEINT; downcast the per-(cohort, age) total back
        # to decimal(20,0) so the window sum widens once, not twice
        .agg(F.sum(e4(F.col("value"))).cast("decimal(20,0)").alias("rev_e4"))
    )
    wc = W.partitionBy("cohort_day").orderBy("day_age")
    cum = F.sum("rev_e4").over(wc)
    return (
        rev.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            F.col("day_age").cast("long").alias("day_age"),
            F.col("n_users").cast("long").alias("n_users"),
            cum.cast("long").alias("cum_rev_e4"),
            round_div_e4(
                cum,
                F.col("n_users") * 10000,
                4,
            ).alias("cum_arpu"),
        )
    )


@register(
    "r_ab_test_lift",
    oracle=f"""
    WITH assigned AS (
        SELECT ('0x' || substr(md5('exp1:' || user_id), 1, 15))::BIGINT % 2
                   AS arm,
               CAST(round(value * 10000, 0) AS BIGINT) AS v4
        FROM events
        WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT arm,
               CAST(count(*) AS BIGINT)       AS n,
               CAST(sum(v4) AS BIGINT)        AS sum_v4,
               CAST(sum(v4 * v4) AS BIGINT)   AS sum_sq_v4
        FROM assigned GROUP BY arm
    )
    SELECT a.n AS n_treat, b.n AS n_ctrl,
           {sql_round_div_e4("a.sum_v4", "a.n * 10000", 4)}  AS mean_treat,
           {sql_round_div_e4("b.sum_v4", "b.n * 10000", 4)}  AS mean_ctrl,
           round((a.sum_v4 / CAST(a.n AS DOUBLE) - b.sum_v4 / CAST(b.n AS DOUBLE))
                 / (b.sum_v4 / CAST(b.n AS DOUBLE)), 6) AS rel_lift,
           round((a.sum_v4 / CAST(a.n AS DOUBLE) - b.sum_v4 / CAST(b.n AS DOUBLE))
                 / sqrt(
                     (a.sum_sq_v4 / CAST(a.n AS DOUBLE)
                      - (a.sum_v4 / CAST(a.n AS DOUBLE))
                        * (a.sum_v4 / CAST(a.n AS DOUBLE))) / a.n
                   + (b.sum_sq_v4 / CAST(b.n AS DOUBLE)
                      - (b.sum_v4 / CAST(b.n AS DOUBLE))
                        * (b.sum_v4 / CAST(b.n AS DOUBLE))) / b.n
                   ), 4) AS z_stat
    FROM (SELECT * FROM s WHERE arm = 1) a
    CROSS JOIN (SELECT * FROM s WHERE arm = 0) b
    """,
)
def r_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the growth-analytics staple missing
    from the report layer: purchases are split into arms by a
    DETERMINISTIC hash assignment (md5 of 'experiment_id:user_id' —
    the industry-standard bucketing rule: stable across sessions,
    reproducible for audit, uniform across arms, and oracle-checkable
    where rand() is none of those), then the readout computes arm
    means, relative lift, and a two-sample z statistic.

    Every moment comes from exact bigint power sums (n, sum, sum of
    squares — the d_corr_covar scheme), so the only floats are the
    final closed-form expressions, identical and left-associated in
    both engines. One hash aggregation with a 2-row output; the
    z-score arithmetic is a scalar epilogue on the 1x1 joined arms.

    At 100 TB this extends per-dimension (arm x country x day) with
    the same partial-aggregate shape; CUPED or sequential-testing
    variants swap the epilogue formula, not the plan.
    """
    ev = load(spark, sf_dir, "events")
    assigned = ev.where(F.col("event_type") == "purchase").select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
        F.round(F.col("value") * 10000, 0).cast("long").alias("v4"),
    )
    # decimal accumulators: long sums wrap silently past
    # int64 at corpus scale (sum of v4^2 ~ 1e16/row gets there first)
    # while the DuckDB oracle widens to HUGEINT; v4 is cast to decimal
    # BEFORE squaring so the per-row product cannot wrap either
    vdec = F.col("v4").cast("decimal(20,0)")
    s = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("sum_v4"),
        F.sum(vdec * vdec).alias("sum_sq_v4"),
    )
    a = s.where(F.col("arm") == 1).select(
        F.col("n").alias("n_treat"),
        F.col("sum_v4").alias("sa"),
        F.col("sum_sq_v4").alias("qa"),
    )
    b = s.where(F.col("arm") == 0).select(
        F.col("n").alias("n_ctrl"),
        F.col("sum_v4").alias("sb"),
        F.col("sum_sq_v4").alias("qb"),
    )
    ma = F.col("sa") / F.col("n_treat").cast("double")
    mb = F.col("sb") / F.col("n_ctrl").cast("double")
    va = (
        F.col("qa") / F.col("n_treat").cast("double") - ma * ma
    ) / F.col("n_treat")
    vb = (
        F.col("qb") / F.col("n_ctrl").cast("double") - mb * mb
    ) / F.col("n_ctrl")
    return a.crossJoin(b).select(
        "n_treat",
        "n_ctrl",
        round_div_e4(F.col("sa"), F.col("n_treat") * 10000, 4).alias("mean_treat"),
        round_div_e4(F.col("sb"), F.col("n_ctrl") * 10000, 4).alias("mean_ctrl"),
        F.round((ma - mb) / mb, 6).alias("rel_lift"),
        F.round((ma - mb) / F.sqrt(va + vb), 4).alias("z_stat"),
    )


@register(
    "r_association_rules",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    nv AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
    isup AS (
        SELECT item, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY item
    ),
    psup AS (
        SELECT a.item AS pa, b.item AS pb, CAST(count(*) AS BIGINT) AS sup_ab
        FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    sized AS (
        SELECT pa, pb, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b
        FROM psup
        JOIN isup sa ON sa.item = psup.pa
        JOIN isup sb ON sb.item = psup.pb
    ),
    rules AS (
        SELECT pa AS antecedent, pb AS consequent, sup_ab,
               sup_a, sup_b FROM sized
        UNION ALL
        SELECT pb, pa, sup_ab, sup_b, sup_a FROM sized
    )
    SELECT antecedent, consequent, sup_ab,
           {sql_round_div_e4("sup_ab", "sup_a", 4)} AS confidence,
           {sql_round_div_e4("(CAST(sup_ab AS HUGEINT) * (SELECT n FROM nv))",
                             "(CAST(sup_a AS HUGEINT) * sup_b)", 4)} AS lift
    FROM rules
    ORDER BY lift DESC, confidence DESC, antecedent, consequent
    LIMIT 100
    """,
)
def r_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift)
    over co-ordered parts — the recommendation-report cousin of
    r_copurchase_pairs: for each directional rule a -> b, confidence =
    P(b|a) = sup_ab/sup_a and lift = N*sup_ab/(sup_a*sup_b), reported
    as the top-100 rules by (lift, confidence) with the unique
    (antecedent, consequent) pair as the final tie-break — both ratios
    displayed through the exact integer HALF_UP identity
    (round_div_e4), so the sort keys are bit-identical cross-engine
    and the LIMIT boundary cannot flip.

    Scale shape: basket items are one DISTINCT projection; pair
    supports come from the per-order self-join (fan-out bounded by
    order width, <= C(7,2) per TPC-H construction) plus a
    partial-combining aggregate; item supports join back on the item
    key (corpus-growing side, so NO hard broadcast — plain
    AQE-splittable shuffles); the basket total N is one driver-side
    scalar (the d_pagerank count precedent). The final top-100 is
    TakeOrdered — per-partition partial top-k, no global sort
    materialization. Numerators ride decimals: sup_ab * N can pass
    int64 at warehouse scale and Spark's long would wrap silently.
    """
    li = load(spark, sf_dir, "lineitem")
    # one materialization feeds the scalar count, both self-join sides,
    # and the item supports (the d_triangle_count discipline — without
    # it each consumer replays the scan + distinct)
    items = basket_items(li).localCheckpoint()
    n_orders = items.select("ok").distinct().count()
    psup = (
        co_order_part_pairs(items)
        .groupBy(F.col("u").alias("pa"), F.col("v").alias("pb"))
        .agg(F.count(F.lit(1)).alias("sup_ab"))
    )
    isup = items.groupBy("item").agg(F.count(F.lit(1)).alias("sup"))
    sized = (
        psup.join(isup.select(F.col("item").alias("pa"), F.col("sup").alias("sup_a")), "pa")
        .join(isup.select(F.col("item").alias("pb"), F.col("sup").alias("sup_b")), "pb")
        .select("pa", "pb", "sup_ab", "sup_a", "sup_b")
    )
    rules = sized.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "sup_ab",
        "sup_a",
        "sup_b",
    ).unionByName(
        sized.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "sup_ab",
            F.col("sup_b").alias("sup_a"),
            F.col("sup_a").alias("sup_b"),
        )
    )
    dec = "decimal(38,0)"
    out = rules.select(
        "antecedent",
        "consequent",
        "sup_ab",
        round_div_e4(
            F.col("sup_ab").cast(dec), F.col("sup_a").cast(dec), 4
        ).alias("confidence"),
        # cast each OPERAND before multiplying: long*long first would
        # wrap (or throw under ANSI) at exactly the warehouse scale the
        # decimal is there for
        round_div_e4(
            F.col("sup_ab").cast(dec) * F.lit(n_orders).cast(dec),
            F.col("sup_a").cast(dec) * F.col("sup_b").cast(dec),
            4,
        ).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(),
        F.col("confidence").desc(),
        "antecedent",
        "consequent",
    ).limit(100)
