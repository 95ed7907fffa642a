"""Streaming parity harness (SURVEY.md §5.4): every §2-I streaming twin
must produce exactly the batch formulation's output over the same files;
watermark late-data semantics are asserted with a constructed out-of-order
micro-batch sequence.
"""

from __future__ import annotations

import os
import shutil

import pytest

from opay_datalake_script_spark.registry import QUERIES, load_all_queries
from opay_datalake_script_spark.streaming import jobs

from .conftest import SF_DIR, normalized_rows

load_all_queries()


def _assert_same(df_a, df_b):
    a, b = normalized_rows(df_a.toPandas()), normalized_rows(df_b.toPandas())
    assert len(a) == len(b)
    assert a == b


def test_streaming_tumbling_parity(spark):
    batch = QUERIES["i_tumbling"](spark, SF_DIR)
    stream = jobs.run_streaming_twin(spark, SF_DIR, jobs.streaming_tumbling, "tumb")
    _assert_same(batch, stream)


def test_streaming_session_parity(spark):
    batch = QUERIES["i_session"](spark, SF_DIR)
    stream = jobs.run_streaming_twin(spark, SF_DIR, jobs.streaming_session, "sess")
    _assert_same(batch, stream)


def test_streaming_counter_parity(spark):
    batch = QUERIES["i_stateful_counter"](spark, SF_DIR)
    stream = jobs.run_streaming_twin(spark, SF_DIR, jobs.streaming_counter, "cnt")
    _assert_same(batch, stream)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Files become micro-batches (maxFilesPerTrigger=1 under one
    availableNow run — the memory sink cannot restart from a checkpoint, so
    a single query must see them all). Since Spark 3.4 late-event filtering
    uses the PREVIOUS batch's watermark (eviction uses the current one), so
    the late row arrives two files after the one that advanced the clock:
    b1 sets watermark 12:00, b2 is a spacer batch, b3's 09:00 row is then
    judged against 12:00 and must be dropped from the append output."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src)

    def write_batch(name, rows, mtime):
        tmp = str(tmp_path / "late_tmp" / name)
        spark.createDataFrame(rows, "event_id long, ts timestamp, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{name}.parquet")
                shutil.copy(os.path.join(tmp, f), dst)
                os.utime(dst, (mtime, mtime))  # file source orders by mtime

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    write_batch("b1", [(1, t0, 1.0), (2, t0 + dt.timedelta(hours=1), 1.0)], mtime=1000)
    # b2: spacer batch so b1's watermark becomes the late-event filter value
    write_batch("b2", [(3, t0 + dt.timedelta(hours=2), 1.0)], mtime=2000)
    # b3: one on-time row + one row 3 hours before the 12:00 watermark
    write_batch(
        "b3",
        [
            (5, t0 + dt.timedelta(hours=3), 1.0),
            (4, t0 - dt.timedelta(hours=3), 99.0),  # late: before watermark
        ],
        mtime=3000,
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("c"))
        .select(F.col("window.start").alias("w"), "c")
        .writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = {r["w"] for r in spark.table("late_out").collect()}
    assert out, "on-time windows should have been emitted"
    assert t0 - dt.timedelta(hours=3) not in out, "late row should have been dropped"


def test_stateful_counter_across_batches(spark, tmp_path):
    """transformWithStateInPandas (or applyInPandasWithState fallback):
    per-user counters must accumulate across two micro-batches."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "state_src")
    ckpt = str(tmp_path / "state_ckpt")
    os.makedirs(src)

    schema = "user_id long, value double"
    t0 = dt.datetime(2024, 1, 1)

    def write_file(name, rows):
        tmp = str(tmp_path / "state_tmp" / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{name}.parquet"))

    def count_state(key, pdfs, state):
        prev = state.get[0] if state.exists else 0
        n = sum(len(p) for p in pdfs)
        state.update((prev + n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [prev + n]})

    write_file("s1", [(1, 1.0), (1, 2.0), (2, 1.0)])
    write_file("s2", [(1, 5.0), (3, 1.0)])
    os.utime(os.path.join(src, "s1.parquet"), (1000, 1000))
    os.utime(os.path.join(src, "s2.parquet"), (2000, 2000))

    # one availableNow run; maxFilesPerTrigger=1 makes each file its own
    # micro-batch, so state must carry user 1's count from batch 1 to 2
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            count_state,
            outputStructType="user_id long, n long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1, "expected two micro-batches"

    # update-mode memory sink appends each batch's emissions; the counter
    # is monotone so the final value per user is the max emission
    rows = {}
    for r in spark.table("state_out").collect():
        rows[r["user_id"]] = max(r["n"], rows.get(r["user_id"], 0))
    assert rows[1] == 3  # 2 from batch 1 + 1 from batch 2
    assert rows[3] == 1


def test_streaming_sliding_parity(spark):
    batch = QUERIES["i_sliding"](spark, SF_DIR)
    stream = jobs.run_streaming_twin(spark, SF_DIR, jobs.streaming_sliding, "slide")
    _assert_same(batch, stream)


@pytest.mark.skipif(
    not jobs.tws_available(),
    reason="transformWithStateInPandas needs google.protobuf (absent here);"
    " applyInPandasWithState twin covers the stateful path",
)
def test_transform_with_state_parity(spark):
    """Spark 4 transformWithStateInPandas twin must reproduce the batch
    per-user totals (update-mode sink: last emission per user wins —
    totals are monotone so take the max)."""
    batch = {
        (r["user_id"]): (r["n_events"], r["total_value"])
        for r in QUERIES["i_stateful_counter"](spark, SF_DIR).collect()
    }
    landed = jobs.run_tws_counter(spark, SF_DIR)
    got = {}
    for r in landed.collect():
        prev = got.get(r["user_id"])
        cur = (r["n_events"], r["total_value"])
        got[r["user_id"]] = max(prev, cur) if prev else cur
    assert got == batch


def test_stream_static_join_parity(spark):
    batch = QUERIES["i_stream_static_join"](spark, SF_DIR)
    stream = jobs.run_streaming_twin(
        spark, SF_DIR, jobs.streaming_static_join(spark, SF_DIR), "enrich",
        output_mode="append",
    )
    _assert_same(batch, stream)


def test_stream_stream_join_parity(spark):
    """Stream-stream inner join with watermarks: availableNow over the
    full file must reproduce the batch attribution join (append mode —
    inner stream-stream joins emit matched rows only)."""
    batch = QUERIES["i_stream_stream_join"](spark, SF_DIR)
    stream = jobs.run_streaming_twin(
        spark,
        SF_DIR,
        jobs.streaming_stream_stream_join(spark, SF_DIR),
        "ssj",
        output_mode="append",
    )
    _assert_same(batch, stream)


def test_stream_stream_left_join_parity(spark, tmp_path):
    """LEFT OUTER stream-stream join parity — the hard case: NULL
    (unattributed) rows may only emit once the watermark proves no
    matching click can still arrive, so with a finite source the tail
    would stay buffered forever. Two far-future sentinel click batches
    (the heartbeat pattern) advance the clock — the first raises the max
    event time, the next batch runs with that watermark and flushes
    every unmatched purchase. Sentinels (user_id < 0) are filtered out,
    and the streaming result must equal the batch LEFT JOIN exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from opay_datalake_script_spark.sources.io import load

    src = str(tmp_path / "ssl_src")
    os.makedirs(src)

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    def stage(name, df, mtime):
        tmp = str(tmp_path / "ssl_tmp" / name)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{name}.parquet")
                shutil.copy(os.path.join(tmp, f), dst)
                os.utime(dst, (mtime, mtime))

    stage("main", ev, 1000)
    max_ts = ev.agg(F.max("ts")).first()[0]
    s1 = max_ts + dt.timedelta(days=10)
    s2 = s1 + dt.timedelta(hours=1)
    # Each sentinel batch carries BOTH a click and a purchase: the global
    # watermark is min() across the two sides, and each side computes its
    # event-time max AFTER its event_type filter — a click-only sentinel
    # would leave the purchase side's watermark at the last real purchase
    # and the final-tail NULL rows would never flush.
    for i, (ts, mtime) in enumerate(((s1, 2000), (s2, 3000))):
        stage(
            f"sentinel{i}",
            spark.createDataFrame(
                [
                    (-1 - 2 * i, ts, -1 - 2 * i, "click"),
                    (-2 - 2 * i, ts, -2 - 2 * i, "purchase"),
                ],
                "event_id long, ts timestamp, user_id long, event_type string",
            ),
            mtime,
        )

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def side(event_type, id_alias, user_alias, ts_alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    p = side("purchase", "purchase_id", "user_id", "p_ts")
    c = side("click", "click_id", "c_user", "c_ts")
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("ssl_out").where(F.col("user_id") >= 0)
    want = QUERIES["i_stream_stream_left_join"](spark, SF_DIR)
    _assert_same(got, want)


def test_fanout_epoch_write_is_replay_idempotent(spark, tmp_path):
    """The fan-out sink's epoch-keyed overwrite, exercised directly: foreachBatch is
    at-least-once, so writing the SAME epoch twice (a replay after a
    mid-batch failure) must leave exactly one copy of that epoch's
    rows, while other epochs stay untouched. A blind append would
    double epoch 0's rows and break the whole-pipeline identity
    oracle only later — this pins the mechanism itself."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "epoch_sink")
    b0 = spark.range(10).select(F.col("id"), F.lit("a").alias("tag"))
    b1 = spark.range(10, 15).select(F.col("id"), F.lit("b").alias("tag"))

    jobs.write_epoch_partition(b0, 0, out)
    jobs.write_epoch_partition(b1, 1, out)
    jobs.write_epoch_partition(b0, 0, out)  # replay of epoch 0

    back = spark.read.parquet(out)
    assert back.count() == 15, "replayed epoch must overwrite, not append"
    per_epoch = {
        r["epoch"]: r["n"]
        for r in back.groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    assert per_epoch == {0: 10, 1: 5}


def test_file_sink_read_with_schema_goes_through_the_sink_log(spark, tmp_path):
    """A file sink's directory read back WITH a schema still lists its
    files through the sink's ``_spark_metadata`` log, so a parquet file
    the log never committed stays invisible. i_stream_checkpoint_restart
    reads its sink this way, and its exactly-once proof depends on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), f"{src}/a.parquet")
    stream = spark.readStream.schema("id long").parquet(src)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    planted = f"{out}/part-99999-planted.snappy.parquet"
    pq.write_table(pa.table({"id": pa.array([99], pa.int64())}), planted)

    back = spark.read.schema(stream.schema).parquet(out)
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]
    # the planted file is readable: a read that bypasses the log sees it
    bypass = spark.read.schema(stream.schema).parquet(f"{out}/*.parquet")
    assert 99 in {r["id"] for r in bypass.collect()}
