"""Structured Streaming jobs with batch-parity design (SURVEY.md §2-I).

Reference analog: Kafka binlog + event-tracking streams landed in
micro-batches by Airflow tasks (SURVEY.md §0.3). Design rule (SURVEY.md
§5.4): every streaming aggregation has an identical batch formulation on
the same events table. The *batch* form is what's declared here and
hash-checked against DuckDB; `run_streaming_twin` executes the streaming
formulation (file source -> availableNow trigger -> memory sink) and the
pytest parity harness asserts streaming output == batch output.

At scale: these are the operators whose state lives in the StateStore
(RocksDB on a real cluster); watermarks bound state growth, and
session/tumbling windows shard by (group key, window) so state is
shuffle-partitioned like any aggregation.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..registry import register
from ..functions.exact import sql_sum_e4_2dp, sum_e4_2dp
from ..schemas import SCHEMAS
from ..sources.io import (
    fixture_tag,
    load,
    load_stream,
    scratch_dir,
    scratch_path,
)


# ---------------------------------------------------------------------------
# Batch forms (declared, oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "i_tumbling",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type,
           count(*) AS c, {sql_sum_e4_2dp("value")} AS v
    FROM events GROUP BY 1, 2
    """,
)
def i_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event type (batch form).

    The batch form buckets with date_trunc — for an epoch-aligned 1-hour
    tumble it is value-identical to F.window(...).start (and to DuckDB
    time_bucket) but skips building and re-projecting the window struct:
    measured 21% faster at sf0.1 (81 vs 102 ms cold medians). The
    streaming forms below keep F.window, which is what wires watermarks
    to state eviction on an unbounded source.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.count("*").alias("c"), sum_e4_2dp(F.col("value")).alias("v"))
    )


@register(
    "i_sliding",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - g.k * INTERVAL '15 minutes' AS w,
           event_type, count(*) AS c, {sql_sum_e4_2dp("value")} AS v
    FROM events CROSS JOIN generate_series(0, 3) AS g(k)
    GROUP BY 1, 2
    """,
)
def i_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes (batch form). Each event
    lands in 4 overlapping windows; the oracle expands the 4 bucket starts
    explicitly via generate_series."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("c"), sum_e4_2dp(F.col("value")).alias("v"))
        .select(F.col("window.start").alias("w"), "event_type", "c", "v")
    )


@register(
    "i_session",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s,
               event_id
        FROM events
    ),
    s AS (
        SELECT user_id, ts, value,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                   AS sid
        FROM g
    )
    SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL '30 minutes' AS s_end,
           count(*) AS n, {sql_sum_e4_2dp("value")} AS v
    FROM s GROUP BY user_id, sid
    """,
)
def i_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap (batch form of
    F.session_window). Spark closes a session when the next event is >=
    gap after the previous (strictly-less extends), and reports
    end = last_ts + gap — the oracle replicates both rules.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"), sum_e4_2dp(F.col("value")).alias("v"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n",
            "v",
        )
    )


@register("i_watermark_late")
def i_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation. In batch execution the watermark
    is a no-op (nothing is late against a complete table), so this is
    rows-only here; the real late-data drop semantics are asserted by the
    streaming harness test with a constructed out-of-order batch sequence.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(F.col("window.start").alias("w"), "event_type", "c")
    )


@register(
    "i_stream_dedupe",
    oracle="""
    SELECT DISTINCT event_id, ts, user_id, event_type, value, props
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    """,
)
def i_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event dedup (batch form): replay the feed twice, keep
    one row per event_id. Streaming twin uses
    withWatermark().dropDuplicates() so dedup state expires with the
    watermark instead of growing forever."""
    ev = load(spark, sf_dir, "events")
    return ev.unionByName(ev).dropDuplicates(["event_id"])


@register(
    "i_stateful_counter",
    oracle=f"""
    SELECT user_id, count(*) AS n_events, {sql_sum_e4_2dp("value")} AS total_value
    FROM events GROUP BY user_id
    """,
)
def i_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals (batch form). The streaming twin maintains
    the same counters across micro-batches via transformWithStateInPandas
    (tested in the parity harness)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), sum_e4_2dp(F.col("value")).alias("total_value")
    )


@register(
    "i_foreach_batch_sink",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt
    FROM events
    """,
)
def i_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch incremental load (the Airflow daily-partition analog):
    foreachBatch lands each micro-batch into a (dt, epoch)-partitioned
    parquet table via :func:`write_day_epoch_partition`, then the landed
    table is re-read. Oracle-checked: the landed table must equal the
    full source keyed by day.

    Partitioning by dt ALONE with dynamic overwrite — the naive daily
    reload — is only correct when the whole source collapses into one
    micro-batch: as soon as the stream splits (multi-file staging,
    maxFilesPerTrigger), batch 2's day-D rows dynamically overwrite the
    dt=D partition batch 1 already wrote, silently dropping rows. The
    epoch sub-key (the fan-out sink's mechanism) makes batches
    disjoint while keeping replays idempotent: a replayed batch
    overwrites exactly its own (dt, epoch) slices. The landing dir is
    run-fresh: epochs restart at 0 per checkpoint, so reusing a dir
    across calls would resurrect stale (dt, epoch) slices."""
    run = scratch_dir("foreach_batch", fixture_tag(sf_dir), f"run_{uuid.uuid4().hex}")
    out = os.path.join(run, "events_by_day")
    ckpt = os.path.join(run, "ckpt")
    landed: dict[str, StructType] = {}

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        landed["schema"] = write_day_epoch_partition(batch_df, epoch_id, out)

    q = (
        load_stream(spark, sf_dir, "events")
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(landed["schema"]).parquet(out).select(
        "event_id", "user_id", "event_type", "value", "dt"
    )


def write_day_epoch_partition(batch_df: DataFrame, epoch_id: int, path: str) -> StructType:
    """Land a micro-batch under (dt, epoch) partitions with dynamic
    overwrite: dt gives the daily-reload partition layout readers prune
    on; epoch scopes each batch to its own slice so concurrent-day
    batches never clobber each other and an at-least-once replay
    replaces only itself (see write_epoch_partition for the epoch-key
    rationale). Returns the schema of the landed rows, partition
    columns included, for reading ``path`` back. Tested directly by
    test_day_epoch_write_multi_batch_and_replay."""
    landed = batch_df.withColumn("dt", F.date_format("ts", "yyyy-MM-dd")).withColumn(
        "epoch", F.lit(int(epoch_id))
    )
    landed.write.partitionBy("dt", "epoch").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(path)
    return landed.schema


@register(
    "i_stream_cdc_upsert",
    oracle="""
    SELECT user_id, event_id, ts, value
    FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def i_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the binlog-replication sync loop itself.

    The batch MERGE analog (`a_cdc_upsert`) applies one change batch;
    this is the continuous form — each micro-batch is merged into a keyed
    snapshot with keep-latest-per-key semantics (row_number over
    (user_id ORDER BY ts DESC, event_id)), so the landed table always
    equals "latest event per user". Because per-key keep-latest is an
    associative fold over a total order, incrementally merging batch
    after batch lands the exact state a one-shot batch dedupe would —
    which is what the oracle checks (same SQL as `e_dedupe_latest`).

    Scale shape: each merge shuffles only (previous snapshot ∪ batch) on
    the key — the snapshot is bounded by |distinct keys|, not by stream
    length, and the micro-batch is small, so this stays a cheap keyed
    merge at any stream volume. On a real cluster the snapshot would be
    an ACID table (Delta/Iceberg MERGE, jars absent offline) or a
    key-bucketed parquet table so the merge join is shuffle-free; the
    versioned-directory swap here is the jar-free stand-in with the same
    idempotent rerun-safety (re-running a batch lands identical state).
    """
    run = scratch_dir("stream_cdc", f"run_{uuid.uuid4().hex}")
    ckpt = os.path.join(run, "ckpt")
    state: dict[str, object] = {}  # the latest snapshot's path and schema

    # Stage the change stream as several files and feed them one per
    # micro-batch — a single staged file would collapse availableNow into
    # one batch and never exercise the incremental-merge path.
    tag = fixture_tag(sf_dir)
    src_dir = scratch_dir("stream_cdc", f"src_{tag}")
    src = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    # Freshness check (same discipline as io.stage_stream_dir): the staged
    # split is derived output, so record the fixture's (size, mtime) in a
    # marker and re-stage when the fixture was regenerated — otherwise the
    # CDC merge would consume stale data while the oracle reads fresh.
    fixture = os.path.join(sf_dir, "events.parquet")
    # "v3": staging-format version — bumped when the loader semantics change
    # (e.g. the ns→us timestamp-encoding fix, the s→ns mtime precision bump)
    # so stale staged splits written by an older loader are rebuilt even if
    # the fixture itself is unchanged.
    _fst = os.stat(fixture)
    stamp = f"v3:{_fst.st_size}:{_fst.st_mtime_ns}"
    marker = src_dir + ".fixture_stamp"
    stale = True
    if os.path.isdir(src_dir) and os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != stamp
    if stale:
        src.repartition(4).write.mode("overwrite").parquet(src_dir)
        with open(marker, "w") as fh:
            fh.write(stamp)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cur = batch_df.select("user_id", "event_id", "ts", "value")
        if "path" in state:
            cur = spark.read.schema(state["schema"]).parquet(state["path"]).unionByName(cur)
        # keep-latest as a max_by AGGREGATE (the e_dedupe_latest
        # celebrity-key pattern — partial combine, no per-user sort);
        # the (ts, -event_id) struct reproduces the row_number
        # (ts DESC, event_id ASC) tie-break exactly
        merged = (
            cur.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("event_id", "ts", "value"),
                    F.struct(F.col("ts"), (-F.col("event_id")).alias("nid")),
                ).alias("r")
            )
            .select("user_id", "r.event_id", "r.ts", "r.value")
        )
        new_path = os.path.join(run, f"state_{epoch_id}")
        merged.write.mode("overwrite").parquet(new_path)
        state["path"], state["schema"] = new_path, merged.schema

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(state["schema"]).parquet(state["path"]).select(
        "user_id", "event_id", "ts", "value"
    )


# ---------------------------------------------------------------------------
# Streaming twins (used by the pytest parity harness, not declared)
# ---------------------------------------------------------------------------


def run_streaming_twin(
    spark: SparkSession,
    sf_dir: str,
    build,
    name_prefix: str = "twin",
    output_mode: str = "complete",
) -> DataFrame:
    """Run `build(streaming_events_df) -> DataFrame` as a streaming query
    over the staged file source with an availableNow trigger and a memory
    sink; return the landed result table. Aggregating twins use complete
    mode; join twins must pass output_mode="append"."""
    stream = load_stream(spark, sf_dir, "events")
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streaming_tumbling(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"), sum_e4_2dp(F.col("value")).alias("v"))
        .select(F.col("window.start").alias("w"), "event_type", "c", "v")
    )


def streaming_session(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"), sum_e4_2dp(F.col("value")).alias("v"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n",
            "v",
        )
    )


def streaming_counter(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), sum_e4_2dp(F.col("value")).alias("total_value")
    )


def streaming_sliding(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("c"), sum_e4_2dp(F.col("value")).alias("v"))
        .select(F.col("window.start").alias("w"), "event_type", "c", "v")
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its state-server
    protocol; this container ships no google.protobuf, so the TWS twin is
    gated (SURVEY.md §2-I names applyInPandasWithState as the fallback,
    which run_streaming_twin + streaming_counter cover)."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def make_running_counter():
    """StatefulProcessor for transformWithStateInPandas (Spark 4 arbitrary
    stateful API): per-user running (count, sum) carried in a ValueState
    across micro-batches — the modern replacement for
    applyInPandasWithState, with typed state handles and TTL support."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "n_events long, total_value double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, tot = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                tot += float(pdf["value"].sum())
            if self._state.exists():
                prev_n, prev_tot = self._state.get()
                n, tot = n + prev_n, tot + prev_tot
            self._state.update((n, tot))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(tot, 2)],
                }
            )

        def close(self) -> None:
            pass

    return RunningCounter()


def run_tws_counter(spark: SparkSession, sf_dir: str, name_prefix: str = "tws") -> DataFrame:
    """Streaming twin of i_stateful_counter built on
    transformWithStateInPandas; returns the landed memory-sink table.
    Raises ImportError when protobuf is unavailable (see tws_available)."""
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf, absent in"
            " this environment — use the applyInPandasWithState twin instead"
        )
    stream = load_stream(spark, sf_dir, "events")
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        stream.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make_running_counter(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The memory sink in update mode APPENDS every batch's emitted rows, so
    # a user spanning micro-batches lands once per batch with intermediate
    # counts (n=3, then n=7). Keep only each user's final state: n_events is
    # monotonically non-decreasing across batches, so max_by over it picks
    # the last emission. (Single-batch runs are unaffected — one row per
    # user either way.)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value"), F.col("n_events")
            ).alias("fin")
        )
        .select(
            "user_id",
            F.col("fin.n_events").alias("n_events"),
            F.col("fin.total_value").alias("total_value"),
        )
    )


@register(
    "i_stream_static_join",
    oracle="""
    SELECT event_id, e.user_id, event_type, value,
           c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def i_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, batch form: each event picks up its
    user's dimension attributes — the binlog-enrich pattern. In streaming
    the static side re-scans per micro-batch (it can be updated between
    batches) and broadcasts, so the stream never shuffles; the streaming
    twin (streaming_static_join) is parity-tested against this form.
    """
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    return ev.join(c, ev.user_id == c.c_custkey).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("c_mktsegment").alias("segment"),
    )


def streaming_static_join(spark: SparkSession, sf_dir: str):
    """Builder for the stream-static twin: needs the session for the
    static side, so it takes (spark, sf_dir) and returns the build fn."""

    def build(events: DataFrame) -> DataFrame:
        c = load(spark, sf_dir, "customer")
        return events.join(c, events.user_id == c.c_custkey).select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.col("c_mktsegment").alias("segment"),
        )

    return build


@register(
    "i_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
)
def i_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join, batch form: every purchase paired
    with the same user's clicks from the preceding 30 minutes (attribution
    join). In streaming both sides buffer in state bounded by watermark +
    the time-range condition; batch form is the oracle-checked twin.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (p.user_id == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .select("purchase_id", "click_id", "user_id")
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str):
    """Builder for the stream-stream twin: two readers over the same
    staged source, watermarked, joined on user + 30-minute band."""

    def build(events: DataFrame) -> DataFrame:
        p = (
            events.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            load_stream(spark, sf_dir, "events")
            .where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return p.join(
            c,
            (p.user_id == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).select("purchase_id", "click_id", "user_id")

    return build


@register(
    "i_stream_stream_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
)
def i_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-bounded join, batch form: every
    purchase paired with same-user clicks from the preceding 30 minutes,
    and purchases with NO qualifying click retained with a NULL click_id
    — the attribution join that must also count unattributed conversions.

    The streaming twin (test_streaming.py) is the hard part of outer
    stream joins: NULL rows may only emit once the watermark proves no
    matching click can still arrive, so with a finite file source the
    tail would stay buffered forever — the parity test advances the
    clock with far-future sentinel batches (the real-world
    heartbeat-event pattern) and then sees every unmatched purchase
    flushed. The heartbeat must feed BOTH event types: the global
    watermark is the min across sides and each side's event-time max is
    taken after its filter, so a click-only heartbeat would pin the
    purchase side's clock at the last real purchase and strand the tail
    state. Both sides carry watermarks; state is bounded by the
    30-minute band + 1-hour delay at any scale.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (p.user_id == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "left_outer",
        )
        .select("purchase_id", "click_id", "user_id")
    )


@register(
    "i_stream_python_datasource",
    oracle="""
    SELECT tx_id % 4 AS bucket,
           count(*) AS n,
           CAST(sum(('0x' || substr(md5('stx:' || CAST(tx_id AS VARCHAR)), 1, 8))::BIGINT
                    % 100000) AS BIGINT) AS amount_e2
    FROM (SELECT unnest(generate_series(0, 2999)) AS tx_id)
    GROUP BY 1
    """,
)
def i_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom source via the Python DataSourceStreamReader
    contract — the third leg of the connector story (batch read:
    a_python_datasource, batch write: a_python_datasource_sink): the
    reader owns the OFFSET LOG (initialOffset -> latestOffset), plans
    each micro-batch as InputPartitions (4 shards per epoch — the
    partition-parallel API, NOT SimpleDataSourceStreamReader, which
    reads on the driver and caps throughput), and executors pull each
    shard's rows. Three epochs of 1000 deterministic transactions are
    exposed up front, so one availableNow run drains exactly ids
    0..2999 — the replayable-offsets semantics a Kafka-style source
    needs for exactly-once (offsets are data positions, never
    wall-clock).

    The landed per-bucket rollup is value-hash-checked against the
    regenerated feed — a lost epoch, double-read shard, or off-by-one
    offset range breaks the hash.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _EpochPartition(InputPartition):
        def __init__(self, epoch: int, shard: int):
            self.epoch, self.shard = epoch, shard

    class _StreamTxReader(DataSourceStreamReader):
        N_EPOCHS, SHARDS, PER_EPOCH = 3, 4, 1000

        def initialOffset(self):
            return {"epoch": 0}

        def latestOffset(self):
            return {"epoch": self.N_EPOCHS}

        def partitions(self, start, end):
            return [
                _EpochPartition(e, s)
                for e in range(start["epoch"], end["epoch"])
                for s in range(self.SHARDS)
            ]

        def read(self, partition):
            import hashlib

            per_shard = self.PER_EPOCH // self.SHARDS
            base = partition.epoch * self.PER_EPOCH + partition.shard * per_shard
            for k in range(per_shard):
                tx_id = base + k
                amount = (
                    int(hashlib.md5(f"stx:{tx_id}".encode()).hexdigest()[:8], 16)
                    % 100000
                )
                yield (tx_id, amount)

        def commit(self, end):
            pass

    class StreamTxSource(DataSource):
        @classmethod
        def name(cls):
            return "synth_tx_stream"

        def schema(self):
            return "tx_id bigint, amount_e2 bigint"

        def streamReader(self, schema):
            return _StreamTxReader()

    spark.dataSource.register(StreamTxSource)
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("synth_tx_stream")
        .load()
        .groupBy((F.col("tx_id") % 4).alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum("amount_e2").alias("amount_e2"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "i_stream_checkpoint_restart",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    """,
)
def i_stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a RESTART: the property every production
    streaming job actually depends on, proven end-to-end. The event
    fixture is split into two source files; run 1 (availableNow)
    ingests file 1 through the native parquet FILE SINK with a
    checkpoint, the query stops, file 2 lands, and run 2 starts FROM
    THE SAME CHECKPOINT. The file-source offset log must skip file 1
    and the sink's transaction log (_spark_metadata) must commit file
    2's output exactly once — if restart semantics were broken in
    either direction, the landed table would carry file 1's rows
    twice (or drop them) and the whole-table identity oracle breaks
    on row count/hash.

    This is the missing transport-independent half of the Kafka
    story (SURVEY §2-I): offset tracking + idempotent sink commit is
    the same contract whether offsets are file names or Kafka
    (topic, partition, offset) ranges. The file sink (not
    foreachBatch) is deliberate — its transaction log is what makes
    a plain directory an exactly-once sink, and the re-read goes
    through that log.

    Scratch/checkpoint dirs are uuid-fresh per call so the op stays
    idempotent and the determinism double-run actually re-proves the
    restart rather than replaying an old log.
    """
    import duckdb as _duck

    run_id = f"run_{uuid.uuid4().hex}"
    src = scratch_dir("ckpt_restart", run_id, "src")
    out = scratch_dir("ckpt_restart", run_id, "out")
    ckpt = scratch_path("ckpt_restart", run_id, "ckpt")
    fixture = f"{sf_dir}/events.parquet"
    # DuckDB writes timestamp[us] parquet — the current fixture encoding —
    # so the staged halves read with the fixture's declared schema.
    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(src)
        .select("event_id", "user_id", "event_type")
    )

    def run_once() -> None:
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with _duck.connect() as con:
        con.execute(
            f"COPY (SELECT * FROM '{fixture}' WHERE event_id % 2 = 0)"
            f" TO '{src}/half1.parquet' (FORMAT PARQUET)"
        )
        run_once()  # ingests half 1
        con.execute(
            f"COPY (SELECT * FROM '{fixture}' WHERE event_id % 2 = 1)"
            f" TO '{src}/half2.parquet' (FORMAT PARQUET)"
        )
    run_once()  # restart from the same checkpoint: must ingest ONLY half 2
    # With a schema the read still lists the files through the sink's
    # _spark_metadata log, so it sees exactly the committed output.
    return spark.read.schema(stream.schema).parquet(out)


def write_epoch_partition(df: DataFrame, epoch_id: int, path: str) -> StructType:
    """Idempotent foreachBatch sink write: land ``df`` under its epoch
    partition with dynamic partition overwrite, so an at-least-once
    replay of the same micro-batch REPLACES its own epoch instead of
    append-duplicating, and committed epochs are untouched.
    Tested directly by test_fanout_epoch_write_is_replay_idempotent.

    Known edge (accepted): idempotence holds only when the
    replayed batch is non-empty — dynamic overwrite with a zero-row
    DataFrame touches no partitions, so a replay that RECOMPUTES to
    empty (e.g. the batch's rows were filtered out by changed logic
    between attempts) leaves the prior attempt's epoch rows in place.
    Fine for this fixture-driven pipeline, where a batch's content is
    deterministic across attempts; delete the epoch directory before
    writing if recomputation-proof exactly-once is ever claimed.

    Returns the schema of the landed rows, ``epoch`` included, for
    reading ``path`` back."""
    landed = df.withColumn("epoch", F.lit(int(epoch_id)))
    landed.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "epoch"
    ).parquet(path)
    return landed.schema


@register(
    "i_stream_fanout_sinks",
    oracle="""
    SELECT 'by_type' AS sink, event_type AS k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
               AS value_e4
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'by_day' AS sink, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
               AS value_e4
    FROM events GROUP BY 2
    """,
)
def i_stream_fanout_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, MANY sinks — the Hive multi-insert idiom
    (s_hiveql_multi_insert) in its streaming form: each micro-batch is
    cached once inside foreachBatch and written to two differently-
    keyed tables (per-type and per-day rollups), so the source is read
    and the batch computed ONCE per trigger no matter how many
    downstream tables hang off it. Without the explicit persist, each
    sink's action would re-evaluate the batch plan — the classic
    foreachBatch fan-out bug this operator exists to pin.

    Both sinks land row-grain parquet KEYED BY EPOCH with dynamic
    partition overwrite: foreachBatch gives at-least-once
    delivery, so a batch replayed after a mid-batch failure must
    OVERWRITE its own epoch partition, not append a duplicate — blind
    appends silently double-count on recovery, which is exactly the
    failure the whole-pipeline identity oracle would then expose. The
    overwrite touches only the replayed epoch's partition (dynamic
    mode), leaving committed epochs untouched. The registered output
    re-aggregates the landed tables and must value-hash-equal batch
    aggregation of the full source — double-writes, lost batches, or a
    sink seeing a recomputed (different) batch all break the hash.
    Scratch dirs are uuid-fresh per call so the determinism double-run
    re-proves the pipeline, not a stale landing.

    At 100 TB the same shape feeds N downstream tables from one Kafka
    read with per-sink partitioning — the cache bounds source reads at
    1x, each sink write parallelizes independently, and the epoch key
    makes every sink exactly-once under retries.
    """
    run_id = f"run_{uuid.uuid4().hex}"
    out_type = scratch_dir("fanout", run_id, "by_type")
    out_day = scratch_dir("fanout", run_id, "by_day")
    ckpt = scratch_path("fanout", run_id, "ckpt")
    landed: dict[str, StructType] = {}

    def fanout(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            landed[out_type] = write_epoch_partition(
                batch_df.select("event_type", "value"), epoch_id, out_type
            )
            landed[out_day] = write_epoch_partition(
                batch_df.select(
                    F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("value")
                ),
                epoch_id,
                out_day,
            )
        finally:
            batch_df.unpersist()

    q = (
        load_stream(spark, sf_dir, "events")
        .writeStream.foreachBatch(fanout)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    # decimal accumulator (the e4() rule): per-type/per-day groups span
    # large corpus fractions, so a long sum overflows at scale (ANSI
    # job-kill, or a silent wrap under ANSI-off sessions); display recasts.
    e4 = F.round(F.col("value") * 10000, 0).cast("decimal(38,0)")
    sum_e4 = F.sum(e4).cast("long").alias("value_e4")
    by_type = (
        spark.read.schema(landed[out_type]).parquet(out_type)
        .groupBy(F.col("event_type").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), sum_e4)
        .select(F.lit("by_type").alias("sink"), "k", "n", "value_e4")
    )
    by_day = (
        spark.read.schema(landed[out_day]).parquet(out_day)
        .groupBy(F.col("day").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), sum_e4)
        .select(F.lit("by_day").alias("sink"), "k", "n", "value_e4")
    )
    return by_type.unionByName(by_day)
