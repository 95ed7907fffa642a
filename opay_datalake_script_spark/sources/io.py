"""Sources & sinks (SURVEY.md §2-A).

Reference analogs: Hive table scans over ORC/Parquet on HDFS/UFile,
Sqoop/JDBC import from MySQL, ``INSERT OVERWRITE ... PARTITION (dt)``
partitioned writes, and report exports back to MySQL (SURVEY.md §1.1).
Spark-first mapping: ``spark.read.parquet`` with explicit schemas (column
pruning + predicate pushdown reach the scan for free via Catalyst),
``write.partitionBy`` with dynamic partition overwrite, and
``read/write.jdbc`` for the OLTP edges.

Scratch output for round-trip queries (sinks, snapshots, checkpoints)
goes under ``SCRATCH_DIR``, a root of this process's own in the temp dir,
removed at exit — fixtures themselves are read-only.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..quality import Gate, run_gates
from ..registry import register
from ..schemas import SCHEMAS

# One scratch root per process: concurrent processes never share a path,
# and nothing an earlier or killed run left on disk is read back. No
# component starts with '.' or '_', which Spark's file listing hides. The
# directory is made on first use, never at import (Spark's Python workers
# import this package), and removed when the process exits.
SCRATCH_DIR = os.path.join(
    tempfile.gettempdir(), f"opay-scratch-{os.getpid()}-{uuid.uuid4().hex[:8]}"
)
atexit.register(shutil.rmtree, SCRATCH_DIR, ignore_errors=True)


# Timestamp columns that MAY be stored as TIMESTAMP(NANOS) in parquet,
# depending on how the fixture generator encoded them (the driver has
# shipped both ns- and us-encoded `events.ts` across rounds). Spark cannot
# read nanos as timestamps at all (PARQUET_TYPE_ILLEGAL); with
# spark.sql.legacy.parquet.nanosAsLong=true they arrive as epoch-nanos longs
# and are converted via integer division (truncation toward zero for
# positive epochs) — exactly how DuckDB, the correctness oracle, coerces
# nanos to its native microsecond timestamps. Applying that long-read path
# to a us-encoded file silently divides every timestamp by 1000 (2024 →
# 1970), so the encoding is sniffed from the parquet footer per file and
# the conversion applied only when the file really is nanos.
_MAYBE_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _nano_cols(path: str, table: str) -> tuple[str, ...]:
    """Which declared maybe-nanos columns are ACTUALLY timestamp[ns] in the
    parquet footer at `path` (a file or a directory of part files)."""
    candidates = _MAYBE_NANO_TS_COLS.get(table, ())
    if not candidates:
        return ()
    import glob as _glob

    import pyarrow.parquet as _pq

    target = path
    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not parts:  # empty staging dir: assume current (us) encoding
            return ()
        target = parts[0]
    # Cache keyed by the resolved file's (size, mtime_ns): a regenerated or
    # re-staged fixture gets a fresh footer sniff instead of a stale cached
    # encoding — no explicit invalidation hooks needed anywhere.
    st = os.stat(target)
    key = (target, table, st.st_size, st.st_mtime_ns)
    hit = _NANO_SNIFF_CACHE.get(key)
    if hit is not None:
        return hit
    footer = _pq.read_schema(target)
    out = tuple(
        c
        for c in candidates
        if c in footer.names and str(footer.field(c).type) == "timestamp[ns]"
    )
    for stale in [k for k in _NANO_SNIFF_CACHE if k[:2] == (target, table)]:
        del _NANO_SNIFF_CACHE[stale]
    _NANO_SNIFF_CACHE[key] = out
    return out


_NANO_SNIFF_CACHE: dict[tuple[str, str, int, int], tuple[str, ...]] = {}


def _read_schema(table: str, nanos: tuple[str, ...]) -> T.StructType:
    if not nanos:
        return SCHEMAS[table]
    return T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
            for f in SCHEMAS[table].fields
        ]
    )


def _convert_nanos(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load a fixture table with its declared schema (never inferred).

    Passing the schema up front skips footer-based inference and pins the
    engine to FIXTURES.md types; Catalyst still prunes columns and pushes
    predicates into the parquet scan. Nanosecond timestamp columns are
    normalized to Spark's microsecond TimestampType (footer-sniffed)."""
    path = f"{sf_dir}/{table}.parquet"
    nanos = _nano_cols(path, table)
    df = spark.read.schema(_read_schema(table, nanos)).parquet(path)
    return _convert_nanos(df, nanos)


def load_stream(spark: SparkSession, sf_dir: str, table: str = "events") -> DataFrame:
    """Streaming twin of :func:`load` over a staged file-source directory."""
    src_dir = stage_stream_dir(sf_dir, table)
    nanos = _nano_cols(src_dir, table)
    df = spark.readStream.schema(_read_schema(table, nanos)).parquet(src_dir)
    return _convert_nanos(df, nanos)


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small constant relation (``rows`` of tuples, ``schema`` a DDL
    string such as ``"source string, n_keep int"``) built on the JVM.

    ``spark.createDataFrame(<python list>)`` ships its rows through a
    Python RDD, so every job over it starts a Python worker task; this is
    one ``inline`` of a literal array of structs over ``spark.range``,
    which runs in the JVM alone and carries a size estimate Catalyst can
    use. An empty ``rows`` gives an empty relation of the same schema."""
    fields = T.DataType.fromDDL(schema).fields
    structs = [
        F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, fields, strict=True)]
        )
        for row in rows or [(None,) * len(fields)]
    ]
    return spark.range(1 if rows else 0).select(F.inline(F.array(*structs)))


def scratch_path(*parts: str) -> str:
    """A path under ``SCRATCH_DIR`` whose parent directory exists."""
    path = os.path.join(SCRATCH_DIR, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def scratch_dir(*parts: str) -> str:
    """A directory under ``SCRATCH_DIR``, created with its parents."""
    path = os.path.join(SCRATCH_DIR, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def fixture_tag(sf_dir: str) -> str:
    """Filesystem-safe tag for a fixture dir, so scratch outputs from
    different scale factors (or differently-located fixtures) never share a
    landing path — sharing one lets a dynamic partition overwrite leave a
    larger fixture's stale partitions visible to a smaller fixture's read."""
    return sf_dir.rstrip("/").replace("/", "_").lstrip("_")


def stage_stream_dir(sf_dir: str, table: str = "events") -> str:
    """Stage a fixture parquet file into a directory for the file stream
    source (Spark's FileStreamSource requires a directory path)."""
    dst_dir = scratch_dir("stream_src", f"{table}_{fixture_tag(sf_dir)}")
    src = f"{sf_dir}/{table}.parquet"
    dst = os.path.join(dst_dir, f"{table}.parquet")
    # Re-copy unless the recorded fixture stamp matches EXACTLY (same
    # discipline as the stream_cdc staging): a size/newer-mtime heuristic
    # misses a regenerated fixture restored with preserved (older)
    # timestamps and coincidentally equal size, leaving streaming queries
    # on a stale staged copy while batch ops and the oracle read fresh.
    # The marker's leading underscore hides it from Spark's file listing.
    st = os.stat(src)
    stamp = f"v1:{st.st_size}:{st.st_mtime_ns}"
    marker = os.path.join(dst_dir, "_fixture_stamp")
    fresh = os.path.exists(dst) and os.path.exists(marker)
    if fresh:
        with open(marker) as fh:
            fresh = fh.read() == stamp
    if not fresh:
        # Atomic publish (hidden temp + rename): a concurrent staging or a
        # mid-copy crash must never leave a partially-written parquet file
        # visible to Spark's file listing (leading '_'/'.' names are hidden).
        tmp = os.path.join(dst_dir, f"_tmp_{uuid.uuid4().hex}")
        shutil.copyfile(src, tmp)
        os.replace(tmp, dst)
        with open(marker, "w") as fh:
            fh.write(stamp)
    return dst_dir


# --------------------------------------------------------------------------
# §2-A queries
# --------------------------------------------------------------------------


@register("a_scan_parquet", oracle="SELECT * FROM region")
def a_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table scan (Hive table scan analog)."""
    return load(spark, sf_dir, "region")


@register(
    "a_scan_projected",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > 1000.0 AND c_mktsegment = 'BUILDING'
    """,
)
def a_scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned, predicate-pushed scan.

    ``.explain`` shows ReadSchema with only 4 columns and PushedFilters
    carrying both predicates into the parquet reader.
    """
    return (
        load(spark, sf_dir, "customer")
        .where((F.col("c_acctbal") > 1000.0) & (F.col("c_mktsegment") == "BUILDING"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "a_sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m') AS dt
    FROM orders
    """,
)
def a_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write + dynamic-partition overwrite + re-read.

    The reference's idempotent daily reload idiom
    (``INSERT OVERWRITE ... PARTITION (dt)``): writing the same month
    twice must not duplicate data and must not clobber other months.
    Oracle-checked end-to-end: the landed table must equal the full
    source (order-insensitive value hash) — if the one-month rerun
    truncated the other months (static overwrite mode) or duplicated
    its own, the hash differs. Both overwrite modes are exercised and
    set per-writer: the initial full reload uses STATIC mode so it
    truncates the whole landing (any stale partition from a prior
    fixture generation is wiped — under the session's dynamic default
    a month absent from the new fixture would silently survive and
    leak into the re-read), then the one-month rerun uses DYNAMIC mode
    so the other months must survive it. The landing is also tagged by
    fixture dir so scale factors never share partitions.
    """
    out = scratch_dir("sink_partitioned", f"orders_{fixture_tag(sf_dir)}")
    orders = load(spark, sf_dir, "orders").withColumn(
        "dt", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("dt").option(
        "partitionOverwriteMode", "static"
    ).mode("overwrite").parquet(out)
    # Dynamic overwrite of a single partition: rewrite one month only;
    # with partitionOverwriteMode=dynamic the other months must survive.
    one_month = orders.where(F.col("dt") == orders.select(F.min("dt")).first()[0])
    one_month.write.partitionBy("dt").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(out)
    back = spark.read.schema(orders.schema).parquet(out)
    return back.select("o_orderkey", "o_custkey", "dt")


@register(
    "a_sink_csv_json",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber = 1
    """,
)
def a_sink_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON export / re-import round trip (report export analog).

    Returns the union of both round-trips; the oracle is the exported
    subset twice, so a single lost/duplicated/corrupted row in either
    text format breaks the value hash. The checked columns are
    text-round-trip-exact (int keys + integral-valued quantity).
    """
    src = load(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    # fixture-tagged landing (round-8 sweep): untagged scratch shared
    # across fixture dirs lets one scale factor's re-read see another's
    # landing when invocations interleave in-process
    csv_out = scratch_path("sink_csv", f"lineitem_{fixture_tag(sf_dir)}")
    json_out = scratch_path("sink_json", f"lineitem_{fixture_tag(sf_dir)}")
    src.write.mode("overwrite").option("header", True).csv(csv_out)
    src.write.mode("overwrite").json(json_out)
    back_csv = spark.read.schema(SCHEMAS["lineitem"]).option("header", True).csv(csv_out)
    back_json = spark.read.schema(SCHEMAS["lineitem"]).json(json_out)
    return back_csv.unionByName(back_json).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "a_sink_orc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS dt
    FROM orders
    """,
)
def a_sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC export / re-import round trip — the second columnar format the
    Hive-era reference warehouse stored tables in (ORC was the Hive
    default; parquet the Spark default). Spark's ORC reader/writer is
    built in (no extra jar), so unlike Delta/Iceberg this format needs
    no env gating.

    Oracle-checked as a full-table identity: write orders to ORC with
    zlib compression, read it back with the declared schema, and return
    key + string + double + date columns — a type set that exercises
    ORC's distinct encodings (int RLE, dictionary strings, doubles,
    date). Any row lost, duplicated, or value-shifted by the
    encode/decode breaks the value hash against the parquet source.

    At 100 TB: a straight columnar transcode — map-only, zero shuffles;
    each input split writes its own ORC stripe set in parallel.
    """
    src = load(spark, sf_dir, "orders")
    tag = fixture_tag(sf_dir)
    out = scratch_path("sink_orc", f"orders_{tag}")
    src.write.mode("overwrite").option("compression", "zlib").orc(out)
    back = spark.read.schema(SCHEMAS["orders"]).orc(out)
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
    )


@register(
    "a_scan_partition_pruned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m') AS dt
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-06', '1997-06')
    """,
)
def a_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end — the `WHERE dt = ...` idiom every
    Hive-era daily job relied on to touch one partition of a years-deep
    table. Lands orders partitioned by month (the dt layout
    a_sink_partitioned writes), then reads it back with an equality
    filter on the partition column. Catalyst turns that filter into
    PartitionFilters on the scan — the listing skips every other
    month's directory, so at 100 TB the job reads 2 months, not 80
    (`test_partition_pruning_reaches_scan` pins PartitionFilters
    non-empty and PushedFilters-free-of-dt).

    Oracle-checked end-to-end: the pruned read must equal the
    dt-filtered source — a partition lost to the overwrite or a row
    mis-bucketed into the wrong dt directory breaks the hash.
    """
    tag = fixture_tag(sf_dir)
    out = scratch_path("scan_pruned", f"orders_{tag}")
    orders = load(spark, sf_dir, "orders").withColumn(
        "dt", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("dt").mode("overwrite").parquet(out)
    back = spark.read.schema(orders.schema).parquet(out)
    return back.where(F.col("dt").isin("1996-06", "1997-06")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "dt"
    )


@register(
    "a_scan_corrupt_records",
    oracle="""
    SELECT CASE WHEN event_id % 37 = 0 THEN '_corrupt' ELSE event_type END
               AS grp,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def a_scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingestion (PERMISSIVE mode) — the dirty-feed
    reality of binlog/tracking pipelines: a JSON-lines landing where
    some producer truncated its writes. Every event lands as one JSON
    line; lines for event_id % 37 == 0 are deterministically corrupted
    (tail chopped mid-object). The read uses the default PERMISSIVE
    mode with an explicit ``_corrupt_record`` column: bad lines parse
    to all-null data columns + the raw line in _corrupt_record, good
    lines parse normally — nothing is silently dropped (DROPMALFORMED)
    and nothing kills the job (FAILFAST); the quarantine count is the
    monitoring metric.

    Oracle-checked: group counts with corrupt rows bucketed under
    '_corrupt' must equal the source-side rule — a PERMISSIVE parse
    that mis-classifies a single line (or double-counts one) breaks
    the hash.

    At 100 TB: map-only text scan -> per-line JSON parse; the only
    shuffle is the final tiny group count.
    """
    ev = load(spark, sf_dir, "events")
    tag = fixture_tag(sf_dir)
    out = scratch_path("scan_corrupt", f"events_{tag}")
    line = F.to_json(F.struct("event_id", "event_type"))
    ev.select(
        F.when(
            F.col("event_id") % 37 == 0,
            line.substr(F.lit(1), F.length(line) - 5),
        )
        .otherwise(line)
        .alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.schema(
        "event_id LONG, event_type STRING, _corrupt_record STRING"
    ).json(out)
    return (
        back.groupBy(
            F.when(F.col("_corrupt_record").isNotNull(), "_corrupt")
            .otherwise(F.col("event_type"))
            .alias("grp")
        )
        .agg(F.count("*").alias("n"))
    )


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """Sqoop-import analog: snapshot an OLTP table over JDBC.

    Partitioned pulls (``partitionColumn``/``numPartitions``) parallelize
    the read across executors. No database is reachable offline, so this
    code path ships untested against a live server (SURVEY.md §2-A
    ``a_jdbc``: no declared query).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """Report-export analog: push an ADS aggregate to a dashboard DB."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


# A DuckDB JDBC driver jar (public Maven artifact org.duckdb:duckdb_jdbc)
# may be present in a local jar cache; when found it lets the Sqoop-import/
# report-export analog run for real instead of shipping as dead code.
# Loaded at runtime via ``ADD JAR`` — no install, location-agnostic glob.
def _find_jdbc_jar() -> str | None:
    import glob as _glob

    for root in (os.path.expanduser("~/.cache/coursier"), os.path.expanduser("~/.m2")):
        hits = _glob.glob(f"{root}/**/duckdb_jdbc-*.jar", recursive=True)
        if hits:
            return sorted(hits)[0]
    return None


JDBC_JAR = _find_jdbc_jar()
_JDBC_DRIVER = "org.duckdb.DuckDBDriver"


def _jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full JDBC export + import cycle against a DuckDB database file:
    Spark appends the nation snapshot over JDBC (report-export path),
    then reads it back over JDBC (Sqoop-import path). The target table
    is pre-created empty via the Python DuckDB API (same 1.0.0 storage
    format as the jar) because DuckDB's JDBC driver surfaces the
    table-exists probe as a prepare-time error that aborts Spark's
    overwrite/create path. Oracle: the round-trip must reproduce
    ``SELECT * FROM nation`` exactly."""
    import duckdb

    spark.sql(f"ADD JAR '{JDBC_JAR}'")
    tag = fixture_tag(sf_dir)
    db = scratch_path("jdbc", f"roundtrip_{tag}.db")
    if os.path.exists(db):
        os.remove(db)
    con = duckdb.connect(db)
    con.sql(
        f"CREATE TABLE nation_snap AS SELECT * FROM '{sf_dir}/nation.parquet' LIMIT 0"
    )
    con.close()
    url = f"jdbc:duckdb:{db}"
    src = load(spark, sf_dir, "nation")
    write_jdbc(src, url, "nation_snap", mode="append", driver=_JDBC_DRIVER)
    return read_jdbc(spark, url, "nation_snap", driver=_JDBC_DRIVER)


if JDBC_JAR is not None:
    register("a_jdbc_roundtrip", oracle="SELECT * FROM nation")(_jdbc_roundtrip)


@register(
    "a_cdc_upsert",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    ins AS (
        SELECT o_orderkey + 10000000 AS o_orderkey, 'N' AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 1
    ),
    touched AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % 100 = 0 OR o_orderkey % 100 = 50
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
    UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    """,
)
def a_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (binlog-sync upsert): apply a change batch — updates
    (status flip on key%100==0), inserts (new keys), deletes
    (key%100==50) — onto the orders snapshot. This is the reference's
    MySQL-binlog -> lake sync pattern, expressed as the jar-free MERGE
    analog: anti-join the snapshot against the touched keys, then union
    the surviving changes. Values pass through unmodified (no per-row
    arithmetic), so the result is bit-identical to the oracle's.

    Scale shape: the change batch of a daily sync is tiny next to the
    snapshot, so both the anti-join probe and the union's small side
    broadcast — the snapshot streams through map-side, one scan, no
    shuffle. With ACID table formats (Delta/Iceberg, jars absent here)
    the same logical MERGE compiles to their copy-on-write/merge-on-read
    paths; the dynamic-partition-overwrite sink (a_sink_partitioned)
    covers the write leg.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    ins = (
        o.where(F.col("o_orderkey") % 1000 == 1)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    touched = o.where(
        (F.col("o_orderkey") % 100 == 0) | (F.col("o_orderkey") % 100 == 50)
    ).select("o_orderkey")
    survivors = o.join(touched, "o_orderkey", "left_anti")
    return survivors.unionByName(upd).unionByName(ins)


@register(
    "a_snapshot_time_travel",
    oracle="""
    SELECT o_orderkey, 'update' AS change_type,
           o_orderstatus AS status_before,
           'X' AS status_after
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, 'delete', o_orderstatus, NULL
    FROM orders WHERE o_orderkey % 100 = 50
    UNION ALL
    SELECT o_orderkey + 10000000, 'insert', NULL, 'N'
    FROM orders WHERE o_orderkey % 1000 = 1
    """,
)
def a_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshots + as-of read + snapshot diff — the
    table-format capability (Delta/Iceberg time travel; jars absent
    offline, SURVEY §7.4-3) re-expressed on immutable parquet version
    directories, the layout the reference's daily `INSERT OVERWRITE`
    partitions already form: v1 = the orders snapshot, v2 = v1 with the
    CDC batch of a_cdc_upsert applied; both versions stay readable
    after the write (time travel), and the change feed between them is
    recovered by a full-outer join on the primary key, classifying each
    touched key as insert / update / delete.

    At 100 TB: each version is an immutable directory (writes never
    mutate v1, so as-of reads need no locking); the diff is ONE
    full-outer shuffle join keyed on the uniform primary key, and with
    both sides partition-pruned to changed partitions (the daily `dt`
    layout) it touches only the day's data. Values pass through
    unmodified so the diff is bit-identical to the oracle's change set.
    """
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tag = fixture_tag(sf_dir)
    v1p = scratch_dir("snapshots", tag, "v1")
    v2p = scratch_dir("snapshots", tag, "v2")
    base.write.mode("overwrite").parquet(v1p)
    v2 = a_cdc_upsert(spark, sf_dir)
    v2.write.mode("overwrite").parquet(v2p)
    s1 = spark.read.schema(base.schema).parquet(v1p).select(
        "o_orderkey", F.col("o_orderstatus").alias("status_before")
    )
    s2 = spark.read.schema(v2.schema).parquet(v2p).select(
        "o_orderkey", F.col("o_orderstatus").alias("status_after")
    )
    diff = s1.join(s2, "o_orderkey", "full_outer").where(
        F.col("status_before").isNull()
        | F.col("status_after").isNull()
        | (F.col("status_before") != F.col("status_after"))
    )
    change = (
        F.when(F.col("status_before").isNull(), "insert")
        .when(F.col("status_after").isNull(), "delete")
        .otherwise("update")
    )
    return diff.select(
        "o_orderkey",
        change.alias("change_type"),
        "status_before",
        "status_after",
    )


@register(
    "a_stream_file_source",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def a_stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source Structured Streaming landing (Kafka/binlog analog).

    Streams the events parquet through an availableNow trigger into a
    memory sink, then returns the landed table. Oracle-checked batch
    parity: the landed rows must value-hash-equal the batch table (the
    driver compare is order-insensitive, so streaming arrival order
    doesn't matter). The Kafka connector jar is absent offline; the
    file source exercises the same MicroBatchExecution path
    (SURVEY.md §3.4).
    """
    stream = load_stream(spark, sf_dir, "events")
    # uuid-fresh sink name: starting a memory sink under a name that is
    # already ACTIVE raises, so a fixed name breaks concurrent invocations
    # (an actively tested registry pattern) — same discipline as every
    # other memory-sink query in the repo.
    name = f"a_stream_file_source_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("event_id", "ts", "user_id", "event_type", "value")


@register(
    "a_compact_small_files",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def a_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lake-maintenance job every streaming/
    incremental ingest needs: micro-batches land hundreds of tiny files
    per partition, and scan throughput dies on open/seek overhead long
    before 100 TB. Rewrite with a coarse `repartition` so each output
    file approaches the HDFS-block / row-group sweet spot.

    Compaction must be a pure rewrite: the oracle pins the compacted
    table to value-hash-equal the source; the test additionally asserts
    the file count shrank. At cluster scale the same job runs per `dt=`
    partition with `maxRecordsPerFile` bounding file size.
    """
    import glob

    src = load(spark, sf_dir, "events")
    fragmented = scratch_path("compact", f"fragmented_{fixture_tag(sf_dir)}")
    compacted = scratch_path("compact", f"compacted_{fixture_tag(sf_dir)}")
    # Simulate micro-batch litter: 64 splinter files for one table.
    src.repartition(64).write.mode("overwrite").parquet(fragmented)
    spark.read.schema(src.schema).parquet(fragmented).repartition(4).write.mode(
        "overwrite"
    ).parquet(compacted)
    n_frag = len(glob.glob(os.path.join(fragmented, "*.parquet")))
    n_comp = len(glob.glob(os.path.join(compacted, "*.parquet")))
    assert n_comp < n_frag, (n_comp, n_frag)
    return spark.read.schema(src.schema).parquet(compacted).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "a_scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(NULL AS VARCHAR) AS channel
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'web' AS channel
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def a_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (`mergeSchema`) — ODS schema drift: a new
    upstream column appears mid-history, so old partitions lack it and
    new ones carry it. A merged-schema scan must read both generations,
    null-filling the old rows — Hive's add-column-on-read behavior.

    Oracle-checked: the merged scan must equal old-generation rows with
    a NULL channel plus new-generation rows with the literal — a wrong
    merge (dropped generation, mis-filled column) breaks the hash. At
    100 TB mergeSchema is turned on per-read (footer sampling has a
    cost), with the metastore schema as the steady-state contract.
    """
    out = scratch_path("schema_evolution", f"orders_{fixture_tag(sf_dir)}")
    o = load(spark, sf_dir, "orders")
    old_gen = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_gen = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit("web").alias("channel"),  # the column that appeared later
    )
    old_gen.write.mode("overwrite").parquet(os.path.join(out, "gen=old"))
    new_gen.write.mode("overwrite").parquet(os.path.join(out, "gen=new"))
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.select("o_orderkey", "o_custkey", "o_totalprice", "channel")


@register(
    "a_cluster_by_write",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_dt,
           l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def a_cluster_by_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-cluster rewrite for data skipping (the jar-free Z-order/
    CLUSTER BY analog): `repartitionByRange` on the dominant filter key
    plus `sortWithinPartitions` gives every output file a narrow
    l_shipdate span, so parquet row-group min/max stats prune a
    date-range scan to ~(range/history) of the files instead of all of
    them. The returned query re-reads the clustered table through a
    three-month predicate and is hash-checked against the raw table —
    proving the layout job is a pure rewrite (skipping changes I/O, never
    results).

    At 100 TB layout maintenance IS the scan-cost lever: a time-range
    query over a randomly-laid-out table touches every file; over a
    range-clustered table it touches the few files whose min/max overlap
    the predicate. On a real lake this runs per landing partition after
    compaction (same cadence as a_compact_small_files), and the range
    partitioner's sampled bounds keep output files balanced even under
    date skew.
    """
    li = load(spark, sf_dir, "lineitem")
    tag = fixture_tag(sf_dir)
    out = scratch_path("cluster_by", f"lineitem_{tag}")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    clustered = spark.read.schema(li.schema).parquet(out)
    return clustered.where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_dt"),
        "l_extendedprice",
    )


@register(
    "a_snapshot_retention",
    oracle="""
    SELECT 'v2' AS version, count(*) AS n_rows
    FROM orders WHERE o_orderkey % 100 <> 0
    UNION ALL
    SELECT 'v3', count(*)
    FROM orders WHERE o_orderkey % 100 <> 0 AND o_orderkey % 10 <> 0
    """,
)
def a_snapshot_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention / VACUUM analog on the immutable version-
    directory scheme of a_snapshot_time_travel: three versions land
    (v1 = full orders, v2 = v1 minus a delete batch, v3 = v2 minus
    another), then a keep-last-2 retention pass physically removes v1 —
    the Delta `VACUUM` / Iceberg `expire_snapshots` operation that
    bounds storage growth under daily INSERT OVERWRITE churn.

    The returned table reads the RETAINED versions back from disk, so
    the oracle checks both retention correctness (v2/v3 content intact
    after the vacuum — a retention bug that deletes a live version or a
    shared data file shows up as missing rows) and the version
    lineage's delete semantics. `test_snapshot_retention_vacuums_v1`
    pins the physical removal and that the expired version is truly
    unreadable.

    At 100 TB: retention is pure manifest/directory manipulation — no
    data is read or shuffled to expire a snapshot; only the survivors'
    footer listing happens at read time.
    """
    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    tag = "ret_" + fixture_tag(sf_dir)
    root = scratch_dir("snapshots", tag)
    v = {i: f"{root}/v{i}" for i in (1, 2, 3)}
    base.write.mode("overwrite").parquet(v[1])
    base.where(F.col("o_orderkey") % 100 != 0).write.mode("overwrite").parquet(v[2])
    base.where(
        (F.col("o_orderkey") % 100 != 0) & (F.col("o_orderkey") % 10 != 0)
    ).write.mode("overwrite").parquet(v[3])
    # keep-last-2 retention: expire v1 (directory removal = manifest drop;
    # immutability guarantees no retained version shares its files)
    shutil.rmtree(v[1], ignore_errors=True)
    out = None
    for i in (2, 3):
        part = (
            spark.read.schema(base.schema).parquet(v[i])
            .agg(F.count("*").alias("n_rows"))
            .select(F.lit(f"v{i}").alias("version"), "n_rows")
        )
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "a_scan_dynamic_pruning",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS dt,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) AS BIGINT)
               AS revenue_e4
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-04', '1996-05', '1996-06')
    GROUP BY 1
    """,
)
def a_scan_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the star-join upgrade of
    a_scan_partition_pruned: the fact filter is NOT a literal on the
    partition column but comes from a JOIN to a filtered calendar
    dimension ("all months of 1996-Q2"). Catalyst plants a
    DynamicPruningExpression on the fact scan that is fed by the dim
    side's broadcast at RUNTIME, so the partitioned fact still reads 3
    month directories of ~84 — without DPP this shape silently
    full-scans, which at 100 TB is the difference between touching 3%
    and 100% of the table (the pinned plan in
    test_dynamic_pruning_reaches_scan is the proof).

    The calendar dim is generated with sequence() (84 rows, no driver
    loop) and broadcast; the oracle collapses dim+join to the literal
    month list — same rows, so a mis-pruned or double-read partition
    breaks the hash.
    """
    tag = fixture_tag(sf_dir)
    out = scratch_path("scan_dpp", f"orders_{tag}")
    orders = load(spark, sf_dir, "orders").withColumn(
        "dt", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("dt").mode("overwrite").parquet(out)
    fact = spark.read.schema(orders.schema).parquet(out)

    months = spark.sql(
        "SELECT explode(sequence(to_date('1992-01-01'), to_date('1998-12-01'),"
        " interval 1 month)) AS m"
    ).select(
        F.date_format("m", "yyyy-MM").alias("dt"),
        F.concat(
            F.date_format("m", "yyyy"), F.lit("-Q"), F.quarter("m").cast("string")
        ).alias("qtr"),
    )
    dim = months.where(F.col("qtr") == "1996-Q2")
    return (
        fact.join(F.broadcast(dim), "dt")
        .groupBy("dt")
        .agg(
            F.count("*").alias("n_orders"),
            # decimal accumulator (the e4() rule): month groups are a fixed
            # fraction of the corpus, so a long sum overflows at scale
            # (ANSI job-kill, or a silent wrap under ANSI-off sessions).
            F.sum(F.round(F.col("o_totalprice") * 10000, 0).cast("decimal(38,0)"))
            .cast("long")
            .alias("revenue_e4"),
        )
    )


@register(
    "a_python_datasource",
    oracle="""
    SELECT tx_id % 8 AS bucket,
           count(*) AS n,
           CAST(sum(('0x' || substr(md5('tx:' || CAST(tx_id AS VARCHAR)), 1, 8))::BIGINT
                    % 100000) AS BIGINT) AS amount_e2
    FROM (SELECT unnest(generate_series(0, 9999)) AS tx_id)
    GROUP BY 1
    """,
)
def a_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python Data Source API — the
    no-JVM extensibility story: a DataSource subclass declares schema +
    partitions, each InputPartition's read() generator runs in parallel
    on the executors (8 partitions here), and the result is a normal
    DataFrame that every downstream operator composes with. This is the
    template for the long tail of sources the reference reached through
    Sqoop/scripts (internal REST feeds, message dumps, custom binary
    logs) when no first-class connector exists — the read path stays
    partition-parallel instead of a driver-side download.

    The source synthesizes a deterministic transaction feed (amounts
    md5-derived per tx_id, the repo's seeded-rand substitute), so the
    DuckDB oracle regenerates the identical rows arithmetically and the
    whole connector path — schema, partition planning, executor-side
    generators, aggregation — is value-hash-checked, not just smoke-run.

    Scale shape: partitions() is the parallelism contract (map one
    partition per shard/file/offset-range of the real feed); nothing
    touches the driver but the partition list.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SynthTxReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(8)]

        def read(self, partition):
            import hashlib

            base = partition.value * 1250
            for k in range(1250):
                tx_id = base + k
                amount = int(hashlib.md5(f"tx:{tx_id}".encode()).hexdigest()[:8], 16) % 100000
                yield (tx_id, amount)

    class SynthTxSource(DataSource):
        @classmethod
        def name(cls):
            return "synth_tx"

        def schema(self):
            return "tx_id bigint, amount_e2 bigint"

        def reader(self, schema):
            return _SynthTxReader()

    spark.dataSource.register(SynthTxSource)
    feed = spark.read.format("synth_tx").load()
    return feed.groupBy((F.col("tx_id") % 8).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("amount_e2").alias("amount_e2"),
    )


@register(
    "a_python_datasource_sink",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) AS BIGINT)
               AS revenue_e4
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python Data Source writer contract — the
    other half of a_python_datasource: each executor partition streams
    its rows through a Python DataSourceWriter.write() into one
    JSON-lines shard (the stand-in for any push-style target with no
    JVM connector — REST bulk endpoints, bespoke wire formats), and
    returns a WriterCommitMessage; commit() runs once on the driver
    with all shard manifests — the two-phase-commit hook where a real
    sink would atomically publish (rename temp shards, POST the
    manifest). Task retries mean write() can run twice for a
    partition — shard files are keyed by partition id, so replays
    overwrite instead of duplicating (idempotence, the
    i_foreach_batch_sink rule).

    Verified end-to-end, not smoke-run: the landed shards are read
    back with the JSON reader and aggregated; the oracle computes the
    same rollup from the source table, so a dropped shard, double
    write, or mangled row breaks the hash.
    """
    import glob as _glob
    import json as _json
    import os as _os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    tag = fixture_tag(sf_dir)
    out_dir = scratch_dir("pyds_sink", f"orders_{tag}")
    for old in _glob.glob(f"{out_dir}/part-*.jsonl*"):
        _os.remove(old)

    class _ShardWriter(DataSourceWriter):
        def __init__(self, path: str):
            self._path = path

        def write(self, iterator):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            shard = f"{self._path}/part-{pid:05d}.jsonl"
            # Temp file keyed by TASK ATTEMPT, not just partition: with
            # speculative execution (or a zombie task racing its retry)
            # two attempts of the same partition would otherwise open the
            # SAME .tmp — the second open truncates the first mid-write
            # and the interleaved file then gets atomically published.
            # Attempt-keyed temps make each attempt's rename a complete,
            # self-consistent shard; last rename wins, both are correct.
            tmp = f"{shard}.{ctx.taskAttemptId()}.tmp"
            n = 0
            with open(tmp, "w") as fh:
                for row in iterator:
                    fh.write(
                        _json.dumps(
                            {
                                "o_orderstatus": row["o_orderstatus"],
                                "price_e4": row["price_e4"],
                            }
                        )
                        + "\n"
                    )
                    n += 1
            _os.replace(tmp, shard)  # atomic per-shard publish
            return WriterCommitMessage()

        def commit(self, messages):
            pass  # all shards landed; a real sink publishes the manifest here

        def abort(self, messages):
            pass

    class ShardSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_shards"

        def writer(self, schema, overwrite):
            return _ShardWriter(self.options["path"])

    spark.dataSource.register(ShardSink)
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 10000, 0).cast("long").alias("price_e4"),
    )
    o.write.format("jsonl_shards").option("path", out_dir).mode("append").save()

    back = spark.read.schema("o_orderstatus string, price_e4 long").json(
        f"{out_dir}/part-*.jsonl"
    )
    # decimal accumulator (the e4() rule): each status group is a fixed
    # corpus fraction, so a long sum wraps past int64 at scale while the
    # DuckDB oracle widens to HUGEINT; display recasts to long.
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("price_e4").cast("decimal(38,0)")).cast("long").alias("revenue_e4"),
    )


def write_audit_publish(df: DataFrame, root: str, gates: Sequence[Gate]) -> DataFrame:
    """Write-Audit-Publish one table under ``root``: (1) WRITE ``df`` to
    ``root/_stage``, a path no reader knows about; (2) AUDIT the staged
    files with the quality ``gates`` (quality.run_gates); (3) PUBLISH by
    renaming the stage to ``root/published`` only if every gate passed,
    keeping the previous version as ``root/_prev``. A failed gate raises
    an AssertionError that names it and leaves ``root/published``
    untouched. Returns the published table, read back with the schema
    it was written with."""
    spark = df.sparkSession
    stage = f"{root}/_stage"
    published = f"{root}/published"
    df.write.mode("overwrite").parquet(stage)  # 1. WRITE (invisible)
    staged = spark.read.schema(df.schema).parquet(stage)
    run_gates(staged, gates).raise_if_failed()  # 2. AUDIT the landed files
    if os.path.exists(published):  # 3. PUBLISH (atomic swap)
        shutil.rmtree(f"{root}/_prev", ignore_errors=True)
        os.replace(published, f"{root}/_prev")
    os.replace(stage, published)
    return spark.read.schema(df.schema).parquet(published)


@register(
    "a_write_audit_publish",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 10000, 0) AS BIGINT) AS price_e4,
           strftime(o_orderdate, '%Y-%m') AS dt
    FROM orders
    """,
)
def a_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (WAP) — the production landing discipline the
    ACID-table world calls branch-and-merge, expressed on plain
    directories by :func:`write_audit_publish`: the derived table lands
    in a staging path, the declarative quality gates (row floor, key
    not-null + unique, accepted status domain) audit the staged files
    in one scan, and the stage is renamed into place only if every gate
    passed, so consumers only ever see audited data. A failed audit
    leaves the previous published version untouched and raises — bad
    data cannot be half-visible.

    The oracle compares the PUBLISHED read-back against the source
    projection row-for-row: a gate that silently mutated data, a
    partial publish, or a stale-version read all break the hash.

    At 100 TB the rename becomes the metastore pointer swap /
    table-format commit (a_snapshot_time_travel's version flip); the
    audit cost stays one scan of the new partition only.
    """
    from ..quality import accepted_values, not_null, row_count, unique_key

    derived = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 10000, 0).cast("long").alias("price_e4"),
        F.date_format("o_orderdate", "yyyy-MM").alias("dt"),
    )
    return write_audit_publish(
        derived,
        scratch_dir("wap", fixture_tag(sf_dir)),
        [
            row_count(min_rows=1),
            not_null("o_orderkey"),
            unique_key("o_orderkey"),
            accepted_values("o_orderstatus", ["F", "O", "P"]),
        ],
    )


@register(
    "a_zorder_clustered_write",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS od
    FROM orders
    WHERE o_custkey <= (SELECT min(o_custkey)
                               + (max(o_custkey) - min(o_custkey)) // 8
                        FROM orders)
      AND epoch_us(o_orderdate) < (SELECT min(epoch_us(o_orderdate))
                                   + (max(epoch_us(o_orderdate))
                                      - min(epoch_us(o_orderdate))) // 8
                                   FROM orders)
    """,
)
def a_zorder_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered rewrite — the Delta/Iceberg
    ``OPTIMIZE ... ZORDER BY (custkey, orderdate)`` analog, built from
    first principles so two-dimensional locality and its pruning
    payoff are inspectable: each row gets 8-bit RANK buckets per
    dimension (ranks, not raw values — Z-order needs uniform bucket
    occupancy, which is why the production implementations cluster on
    approximate ranks), the bucket bits interleave into a Morton code,
    and the table is range-repartitioned + sorted by that code before
    writing 16 files.

    The payoff is measured, not asserted by vibes:
    test_zorder_files_prune_on_both_dimensions reads the parquet
    footers and checks that a predicate selective on EITHER dimension
    overlaps a strict subset of files' min/max ranges — a 1-D sort
    would prune only its own column. The registered output re-reads
    the clustered table through a both-dimension corner predicate
    (lowest custkey octile AND earliest date octile, bounds derived
    from the data so every sf works) and must hash-equal the plain
    filter over the source.

    The per-dimension rank is `global_row_number` over the total order
    (dimension, o_orderkey) — no single-partition window at any scale;
    the global min/max bounds are a 1-row broadcast.
    """
    from ..operators.relational import global_row_number

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    out = scratch_path("zorder", f"orders_clustered_{fixture_tag(sf_dir)}")
    total = o.count()

    def rank_bucket(df, col, alias):
        # Exact integer bucket math: the double quotient
        # ((rank*256)/total) can round across a bucket boundary past
        # ~2^45 rows (and in principle reach 256); long `div` cannot.
        # rank = rn - 1 in [0, total-1], so (rank*256) div total <= 255.
        return (
            global_row_number(df, col, "o_orderkey", parts=16)
            .withColumn(alias, F.expr(f"cast(((rn - 1) * 256) div {total} as int)"))
            .drop("rn")
        )

    bx = rank_bucket(o, "o_custkey", "bx")
    bxy = rank_bucket(bx, "o_orderdate", "by")
    # Interleave 8+8 bits into the Morton code with a JVM expression.
    morton_bits = " + ".join(
        f"shiftleft(shiftright(bx, {i}) % 2, {2 * i + 1})"
        f" + shiftleft(shiftright(by, {i}) % 2, {2 * i})"
        for i in range(8)
    )
    # Store the date dimension as epoch-micros INT64: Spark's default
    # parquet timestamp encoding (INT96) writes NO column statistics, so
    # a timestamp column could never be footer-pruned — the clustered
    # layout keeps a stats-bearing physical type on purpose.
    z = bxy.withColumn("z", F.expr(morton_bits)).withColumn(
        "od_us", F.unix_micros("o_orderdate")
    )
    clustered = (
        z.repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .drop("bx", "by", "z", "o_orderdate")
    )
    clustered.write.mode("overwrite").parquet(out)
    back = spark.read.schema(clustered.schema).parquet(out).withColumn(
        "o_orderdate", F.timestamp_micros(F.col("od_us"))
    )
    bounds = o.agg(
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min(F.unix_micros("o_orderdate")).alias("od_lo"),
        F.max(F.unix_micros("o_orderdate")).alias("od_hi"),
    )
    b = bounds.first()  # driver-scalar probe: 1 row, builds literal bounds
    ck_cut = b["ck_lo"] + (b["ck_hi"] - b["ck_lo"]) // 8
    od_cut = b["od_lo"] + (b["od_hi"] - b["od_lo"]) // 8
    return back.where(
        (F.col("o_custkey") <= F.lit(ck_cut))
        & (F.unix_micros("o_orderdate") < F.lit(od_cut))
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
    )


@register(
    "a_scan_xml",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
)
def a_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round trip on Spark 4's NATIVE xml format (no
    spark-xml jar — the data source graduated into core in 4.0): the
    event stream is exported as <rows><row>...</row></rows> documents
    and read back with an EXPLICIT schema and rowTag, then checked as
    a whole-table identity against the parquet source — XML has no
    types, so every column's declared type, the full-precision double
    round trip, and row multiplicity are all on the hash.

    The reference-era warehouse ingested partner/vendor feeds exactly
    like this (XML drops into a landing dir, an external table reads
    it); the modern caveats are unchanged and documented here: one XML
    document per file limits read parallelism to file count (export
    many small documents, as this writer does per partition), schema
    inference over XML is quadratic-ish and nondeterministic about
    types — ALWAYS pass the schema — and timestamps should cross as
    strings or epoch integers (this feed carries only ids, enums, and
    doubles).
    """
    out = scratch_dir("xml_feed", f"events_{fixture_tag(sf_dir)}")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    (
        ev.repartition(8)
        .write.mode("overwrite")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .format("xml")
        .save(out)
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(out)
    )


@register(
    "a_scan_binaryfile",
    oracle="""
    SELECT 'd' || doc_id || '.bin' AS file_name,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           md5(hex(encode(text))) AS content_md5
    FROM documents WHERE doc_id < 100
    """,
)
def a_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — Spark's native ingest for per-asset file
    trees (image/audio dirs), the scan half of the multimodal story
    (k_multimodal_* process binary COLUMNS; this is how those columns
    get INTO a DataFrame from a file layout in the first place).

    The op is a self-contained round trip so the oracle needs no
    filesystem paths: a bounded, deterministic asset tree (one .bin
    file per document, doc_id < 100 — present at every fixture SF) is
    materialized EXECUTOR-SIDE via mapInPandas (each partition writes
    its own documents; no driver loop, no collect), then read back with
    `spark.read.format("binaryFile")` + pathGlobFilter. The check
    hashes the raw bytes end-to-end: md5(hex(content)) on the read-back
    bytes must equal DuckDB's md5(hex(encode(text))) on the documents
    view — both engines produce UPPERCASE hex, so the digests agree
    bit-for-bit (probed before registration).

    Scale notes: binaryFile parallelizes BY FILE (each file one row,
    split across tasks up to maxPartitionBytes), pushes pathGlobFilter
    and partition-dir pruning like any file source, and hard-caps
    single files at 2 GiB (content is one row's column) — chunk bigger
    assets upstream. The executor-side writer targets shared storage on
    a real cluster (object store / DBFS); local scratch here. Cited
    behavior: Spark SQL binary-file data source docs (public)."""
    out = scratch_dir("binfiles", f"docs_{fixture_tag(sf_dir)}")
    # Clear stale assets first: if the documents fixture is regenerated so
    # a doc_id < 100 disappears, a surviving d*.bin would re-enter via the
    # glob read-back and fail the oracle diff as a confusing extra row.
    # Driver-side unlink is fine — the landing dir is the job's own
    # scratch, and this runs before any executor write starts.
    for stale in glob.glob(os.path.join(out, "*.bin")):
        os.unlink(stale)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )

    def write_assets(batches):
        # Temp name includes the task ATTEMPT id: a speculative or retried
        # attempt of the same partition must not open the same tmp path
        # concurrently ('wb' would interleave, and os.replace would then
        # publish a corrupt file). Each attempt writes its own tmp; the
        # atomic rename makes last-publisher-wins safe because every
        # attempt writes identical bytes.
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        for pdf in batches:
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                tmp = os.path.join(out, f".d{did}.{attempt}.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(txt.encode("utf-8"))
                os.replace(tmp, os.path.join(out, f"d{did}.bin"))
            yield pdf[["doc_id"]].iloc[0:0]

    docs.mapInPandas(write_assets, "doc_id long").count()  # force writes
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length"),
            F.md5(F.hex(F.col("content"))).alias("content_md5"),
        )
    )
