"""HiveQL-text compatibility surface (SQL entry point, SURVEY.md §3.3).

The reference's jobs are HiveQL script files rendered by Airflow and sent
to HiveServer2 (SURVEY.md §3.1 `[R]`). Spark SQL parses the same dialect,
so those scripts can run *as text* with no rewrite: `LATERAL VIEW
explode`, `get_json_object`, `row_number() OVER` snapshot dedup, the
`/*+ MAPJOIN(dim) */` hint, and `DISTRIBUTE BY`/`SORT BY` all execute
through ``spark.sql`` here verbatim. Each query registers the fixture
tables as temp views first — the metastore-table analog — and then runs
one HiveQL string, proving the text path produces the same
Catalyst-optimized plans as the DataFrame builders (same pushdown,
broadcast, and shuffle shapes; the planner is shared from the parser
down).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.exact import spark_sql_sum_e4_2dp, sql_sum_e4_2dp
from ..registry import register
from ..sources.io import load

# uuid temp views created by s_sql_ddl_external_table, awaiting cleanup
# on the NEXT invocation (see its docstring's catalog-hygiene note).
# The lock only protects the list's pop/append against interleaving;
# the view-lifetime contract itself is consume-before-rebuild.
import threading

_DDL_VIEW_REGISTRY: list[str] = []
_DDL_VIEW_LOCK = threading.Lock()
# how many PREDECESSOR views stay live alongside the newest one: 2 keeps
# each of two interleaving callers' outstanding lazy results valid at
# action time while bounding the catalog at 3 ext_events
# views across any number of repeated driver/bench runs
_DDL_VIEW_KEEP = 2


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views (the metastore analog) so
    HiveQL text can name them; load() handles the nanos-timestamp table."""
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


@register(
    "s_hiveql_lateral_view",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE lang = 'en')
    GROUP BY tok
    """,
)
def s_hiveql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`LATERAL VIEW explode` — Hive's table-generating-function join,
    run as HiveQL text. Tokenizes the English corpus into per-token
    counts; the plan is Generate→partial agg→final agg (one shuffle)."""
    _views(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT tok, count(*) AS n
        FROM documents LATERAL VIEW explode(split(text, ' ')) t AS tok
        WHERE lang = 'en'
        GROUP BY tok
        """
    )


@register(
    "s_hiveql_binlog_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, ts, props ->> '$.k' AS k
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def s_hiveql_binlog_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature idiom — binlog snapshot dedup + JSON
    payload extraction — as one verbatim HiveQL string: subquery +
    `row_number() OVER (PARTITION BY ... ORDER BY ... DESC)` + `rn = 1`
    + `get_json_object`. Same single-shuffle plan as `e_dedupe_latest`."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_id, user_id, event_type, ts,
               get_json_object(props, '$.k') AS k
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) t WHERE rn = 1
        """
    )


@register(
    "s_hiveql_mapjoin_report",
    oracle=f"""
    SELECT r_name,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'normal' END AS prio,
           count(*) AS n_orders,
           {sql_sum_e4_2dp("o_totalprice")} AS gmv
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)
def s_hiveql_mapjoin_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join report with Hive's `/*+ MAPJOIN(dim) */` hint, run as
    text — Spark SQL accepts MAPJOIN as an alias for BROADCAST, so the
    reference's hinted scripts keep their broadcast plans unchanged.
    CASE WHEN bucketing + money rounding, grouped to a tiny ADS output."""
    _views(spark, sf_dir, "orders", "customer", "nation", "region")
    return spark.sql(
        f"""
        SELECT /*+ MAPJOIN(customer, nation, region) */
               r_name,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'high' ELSE 'normal' END AS prio,
               count(*) AS n_orders,
               {spark_sql_sum_e4_2dp("o_totalprice")} AS gmv
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1, 2
        """
    )


@register(
    "s_hiveql_distribute_sort",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    """,
)
def s_hiveql_distribute_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DISTRIBUTE BY ... SORT BY` — Hive's write-locality clustering,
    as text. Partition-local order is not SQL-observable (same reason as
    `f_sort_within_partitions`), but the content is: the clause must
    parse, produce a shuffle-on-key + per-partition sort plan, and pass
    every row through unchanged (order-insensitive hash vs the plain
    projection) — which is what makes downstream partitioned writes
    produce run-length clustered files at 100 TB."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
        FROM lineitem
        DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber
        """
    )


@register(
    "s_hiveql_multi_insert",
    oracle=f"""
    SELECT 'by_type' AS branch, event_type AS key, count(*) AS cnt,
           {sql_sum_e4_2dp("value")} AS val
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'by_user', CAST(user_id AS VARCHAR), count(*),
           {sql_sum_e4_2dp("value")}
    FROM events GROUP BY user_id
    """,
)
def s_hiveql_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert (`FROM src INSERT ... INSERT ...`) run as text —
    the reference's one-scan-many-report-tables ETL idiom: a single FROM
    clause fans out into two INSERT OVERWRITE targets (hourly-type and
    per-user report tables), then both landed tables are read back and
    returned as one tagged union so the whole round trip is
    hash-checked.

    Spark parses the Hive multi-insert syntax verbatim but plans each
    INSERT branch separately, so `CACHE TABLE` pins the shared source —
    one materialization feeding N output aggregations, which is exactly
    the semantics Hive's single-pass multi-insert promises; at 100 TB
    the cache becomes a persisted staging table (or the branches simply
    re-scan, trading IO for memory). Each branch is one partial-agg
    shuffle; outputs are report-table sized.
    """
    from pyspark.sql import functions as F

    from ..sources.io import fixture_tag, scratch_dir

    _views(spark, sf_dir, "events")
    tag = fixture_tag(sf_dir)
    p1 = scratch_dir("multi_insert", tag, "by_type")
    p2 = scratch_dir("multi_insert", tag, "by_user")
    by_type = f"""
              SELECT event_type, count(*) AS cnt,
                     {spark_sql_sum_e4_2dp("value")} AS val
              GROUP BY event_type"""
    by_user = f"""
              SELECT user_id, count(*) AS cnt,
                     {spark_sql_sum_e4_2dp("value")} AS val
              GROUP BY user_id"""
    spark.sql("CACHE TABLE events")
    try:
        spark.sql(
            f"""
            FROM events
            INSERT OVERWRITE DIRECTORY '{p1}' USING parquet {by_type}
            INSERT OVERWRITE DIRECTORY '{p2}' USING parquet {by_user}
            """
        )
    finally:
        spark.sql("UNCACHE TABLE events")
    # Each landed table reads back with the schema of its branch: the
    # same SELECT over events, analysed but never run.
    a = spark.read.schema(spark.sql(f"FROM events {by_type}").schema).parquet(p1).select(
        F.lit("by_type").alias("branch"),
        F.col("event_type").cast("string").alias("key"),
        "cnt",
        "val",
    )
    b = spark.read.schema(spark.sql(f"FROM events {by_user}").schema).parquet(p2).select(
        F.lit("by_user").alias("branch"),
        F.col("user_id").cast("string").alias("key"),
        "cnt",
        "val",
    )
    return a.unionByName(b)


@register(
    "s_hiveql_grouping_id",
    oracle=f"""
    SELECT coalesce(o_orderpriority, 'ALL') AS prio,
           coalesce(o_orderstatus,   'ALL') AS status,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
                AS BIGINT)                  AS gid,
           count(*)                          AS n,
           {sql_sum_e4_2dp("o_totalprice")}  AS gmv
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def s_hiveql_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive's `grouping__id` rollup-report idiom, run as SQL text: one
    GROUPING SETS pass emits detail, per-priority subtotal, and grand
    total rows, with the grouping-flag bitmask distinguishing the
    levels (the reference scripts branched report rows on
    `grouping__id`; Spark spells it `grouping_id()`/`grouping()` —
    emitted here as the explicit GROUPING arithmetic both engines
    define identically: bit i = column i is aggregated away).

    NULL group keys are coalesced to 'ALL' so subtotal rows are
    self-describing (and so the driver canonicalizer never compares
    bare NULLs). GMV sums in exact e4 integers. One expand + one hash
    agg — same plan family as d_grouping_sets, at text-dialect parity.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT coalesce(o_orderpriority, 'ALL') AS prio,
               coalesce(o_orderstatus,   'ALL') AS status,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT)                  AS gid,
               count(*)                          AS n,
               {spark_sql_sum_e4_2dp("o_totalprice")} AS gmv
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        """
    )


@register(
    "s_hiveql_script_transform",
    oracle="""
    SELECT band, count(*) AS n, CAST(sum(price_e4) AS BIGINT) AS total_e4
    FROM (
        SELECT CASE WHEN CAST(round(o_totalprice * 10000, 0) AS BIGINT) > 1500000000
                    THEN 'big' ELSE 'small' END AS band,
               CAST(round(o_totalprice * 10000, 0) AS BIGINT) AS price_e4
        FROM orders
    )
    GROUP BY band
    """,
)
def s_hiveql_script_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive `TRANSFORM ... USING 'script'` — the Hive-era escape hatch
    that streamed rows through an external process (python/awk/perl
    mappers predating UDFs); Spark SQL runs the same text in no-serde
    mode: rows leave as tab-separated strings, the script writes
    tab-separated lines back, output columns re-cast in SQL. Here an
    awk one-liner re-emits (band, price) with the banding done INSIDE
    the external script, so the oracle only matches if the subprocess
    pipe actually transformed every row (15k rows through the child
    process — a mangled row or dropped shard breaks the hash).

    Migration note (docstring-level, deliberately): this is the ONLY
    §2/S op whose hot path forks a per-executor child process — modern
    replacements are the pandas UDF surface (functions/udfs.py); keep
    TRANSFORM for verbatim legacy-script compatibility, not new code.
    Integer ten-thousandths cross the pipe as strings — exact; doubles
    would round-trip through decimal text and drift.
    """
    from ..sources.io import scratch_path

    _views(spark, sf_dir, "orders")
    # Two empirically-pinned gotchas:
    # 1. An inline awk program is shell-quoting quicksand inside a SQL
    #    string literal (a mangled quote silently NULLs casts downstream
    #    — caught by the dtype gate), so the program ships as a file,
    #    the way Hive's ADD FILE did.
    # 2. Spark's no-serde TRANSFORM delimits fields with Hive's \001
    #    (SOH), NOT tab — a tab-joined output line lands whole in the
    #    first output column with the rest NULL. The script must split
    #    AND join on \001 (verified by piping through tee).
    prog = scratch_path("hiveql", "band.awk")
    with open(prog, "w") as fh:
        fh.write('BEGIN { FS = OFS = "\\001" }\n')
        fh.write('{ print ($1 > 1500000000 ? "big" : "small"), $1 }\n')
    return spark.sql(
        f"""
        SELECT band, count(*) AS n,
               -- decimal accumulator (the e4() rule): two corpus-half
               -- bands overflow a long sum at scale (ANSI job-kill)
               CAST(sum(CAST(price_e4 AS DECIMAL(38,0))) AS BIGINT) AS total_e4
        FROM (
            SELECT TRANSFORM(CAST(round(o_totalprice * 10000, 0) AS BIGINT))
            USING 'awk -f {prog}'
            AS (band string, price_e4 string)
            FROM orders
        )
        GROUP BY band
        """
    )


@register(
    "s_sql_ddl_external_table",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
               AS value_e4
    FROM events
    GROUP BY event_type
    """,
)
def s_sql_ddl_external_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hive `CREATE EXTERNAL TABLE ... LOCATION` idiom as SQL text:
    a CSV landing directory (exported from the fixture the way an
    upstream system would drop files) is mounted as a table purely via
    DDL — explicit column list, USING csv, OPTIONS(path, header) — and
    then queried with ordinary SQL. No DataFrame reader in the query
    path: schema, format, and location all live in the DDL string,
    which is how the reference's warehouse declared every landing
    table (SURVEY.md §3.1 `[R]`).

    Round-trip hazards this pins: CSV has no types (every column
    DECLARED in the DDL, timestamps parsed via timestampFormat), and
    doubles survive text round-trip because the writer emits full
    precision. The aggregate runs in exact e4 integers as usual.

    At 100 TB the same DDL text targets a partitioned directory tree
    (add PARTITIONED BY + MSCK/ADD PARTITION); the scan parallelizes
    per file split — CSV's lack of pushdown/column pruning is exactly
    why a_sink_partitioned lands parquet instead, and that tradeoff
    belongs to the format, not to the DDL entry point.

    Concurrency + lifetime: the landing dir and the
    view name are uuid-fresh per invocation, so one call can never
    overwrite another's CSV or re-point its table mid-plan (the
    a_sink_orc scratch-race class), and the plan still shows the
    DDL-declared CSV FileScan (pinned in test_plans) — the proof that
    the text-DDL path, not a cached DataFrame, feeds the aggregate.
    Catalog hygiene with a GENERATION LAG: each invocation
    drops only views more than _DDL_VIEW_KEEP generations old (tracked
    in _DDL_VIEW_REGISTRY; registry mutation AND drops run under the
    lock), so the catalog stays bounded at _DDL_VIEW_KEEP + 1 live
    views while the lazy DataFrames of the last _DDL_VIEW_KEEP
    invocations remain valid at action time even when other callers
    interleave builds — an interleaved pair of callers each keeps its
    outstanding result usable. Only a caller holding a result more
    than _DDL_VIEW_KEEP rebuilds stale must collect before building
    again.
    """
    import uuid

    from ..sources.io import scratch_dir

    # The view name is uuid-fresh, so landing-dir write and CREATE VIEW
    # need no lock; the name is registered only AFTER the view exists
    # (registering before CREATE would let interleaved callers
    # slice a not-yet-created name out of the registry and no-op-drop
    # it, leaving the later-created view permanently untracked and the
    # catalog unbounded).
    tag = uuid.uuid4().hex
    csv_dir = scratch_dir("ddl_csv", tag)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.coalesce(4).write.mode("overwrite").option("header", True).csv(csv_dir)
    spark.sql(
        f"""
        CREATE TEMPORARY VIEW ext_events_{tag} (
            event_id BIGINT,
            user_id BIGINT,
            event_type STRING,
            value DOUBLE
        )
        USING csv
        OPTIONS (path '{csv_dir}', header 'true')
        """
    )
    with _DDL_VIEW_LOCK:
        _DDL_VIEW_REGISTRY.append(f"ext_events_{tag}")
        stale = _DDL_VIEW_REGISTRY[:-(_DDL_VIEW_KEEP + 1)]
        del _DDL_VIEW_REGISTRY[:-(_DDL_VIEW_KEEP + 1)]
        for v in stale:
            spark.sql(f"DROP VIEW IF EXISTS {v}")
    return spark.sql(
        f"""
        SELECT event_type,
               count(*) AS n,
               -- decimal accumulator (the e4() rule): per-type groups
               -- span ~1/k of the corpus, past int64 at scale
               CAST(sum(cast(round(value * 10000, 0) AS DECIMAL(38,0)))
                    AS BIGINT) AS value_e4
        FROM ext_events_{tag}
        GROUP BY event_type
        """
    )


@register(
    "s_sql_pipe_syntax",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_e4_2dp("l_quantity")} AS sum_qty,
           {sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def s_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, `|>`) — the third text entry point
    after HiveQL and ANSI: the Q1-teaser aggregation written as a
    linear pipeline (FROM |> WHERE |> AGGREGATE ... GROUP BY). The
    parser lowers pipes to the SAME logical plan as the clause form —
    one pruned scan, map-side partial agg, 6-row shuffle — so the
    oracle is ordinary SQL and the plan shape is identical to
    t_q01_pricing_summary's. Money sums follow the e4 fixed-point rule
    (decimal accumulator in exact ten-thousandths on both engines)."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> AGGREGATE
               {spark_sql_sum_e4_2dp("l_quantity")} AS sum_qty,
               {spark_sql_sum_e4_2dp("l_extendedprice * (1 - l_discount)")}
                   AS sum_disc_price,
               count(*) AS cnt
           GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "s_sql_lateral_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 1
    ) o
    """,
)
def s_sql_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (ANSI, Spark 3.4+/4.x) — top order
    per customer written the way an analyst writes it, with the
    per-row subquery carrying its own ORDER BY ... LIMIT 1 and a
    unique o_orderkey tie-break (the LIMIT-oracle rule). Catalyst
    DECORRELATES this into a join + per-key top-1 — the executed plan
    is a broadcast/shuffle hash join feeding a WindowGroupLimit-style
    rank, NOT a per-customer nested loop, so the text form inherits
    the same celebrity-safe shape as e_topk_per_group. Customers with
    no orders drop out (inner lateral) on both engines."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 1
        ) o
        """
    )
