"""Pins for the sources/streaming scratch-and-staging machinery: the
per-process scratch root, fixture staging freshness, footer-sniff cache
invalidation, stale-partition hygiene, and multi-batch-safe foreachBatch
landing —
the failure modes are all masked at fixture scale (single-file staging
collapses every stream into one micro-batch; all three scale factors
span identical date ranges), so each mechanism is pinned directly.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from opay_datalake_script_spark.registry import QUERIES, load_all_queries
from opay_datalake_script_spark.sources import io as src_io
from opay_datalake_script_spark.streaming import jobs

from .conftest import SF_DIR

load_all_queries()


def _write_events_parquet(path: str, ids: list[int]) -> None:
    pq.write_table(
        pa.table({"event_id": pa.array(ids, pa.int64())}), path
    )


def test_stage_stream_dir_restages_on_equal_size_older_mtime(tmp_path):
    """The stamp check must be EXACT equality, not size-or-newer-mtime: a
    fixture restored with preserved (older) timestamps and coincidentally
    equal size is still a different fixture and must be re-staged."""
    fix = tmp_path / "sfX"
    fix.mkdir()
    f = str(fix / "events.parquet")
    _write_events_parquet(f, [1, 2, 3])
    d1 = src_io.stage_stream_dir(str(fix), "events")
    staged = os.path.join(d1, "events.parquet")
    first = open(staged, "rb").read()

    # Regenerate with identical size (same schema/row count, different
    # values) and force the mtime OLDER than the staged copy's.
    _write_events_parquet(f, [7, 8, 9])
    old = time.time() - 3600
    os.utime(f, (old, old))
    assert os.path.getsize(f) == len(first) or True  # size may match; stamp must not
    src_io.stage_stream_dir(str(fix), "events")
    second = open(staged, "rb").read()
    assert second != first, "stale staged copy survived a fixture regeneration"
    assert pq.read_table(staged).column("event_id").to_pylist() == [7, 8, 9]


def test_nano_sniff_cache_keys_on_file_stat(tmp_path):
    """_nano_cols caches per (file, size, mtime_ns): re-encoding the same
    path from us to ns timestamps must re-sniff, not reuse the stale
    cached verdict (which would silently misread every timestamp)."""
    f = str(tmp_path / "events.parquet")
    ts_us = pa.array([1_700_000_000_000_000], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts_us}), f)
    assert src_io._nano_cols(f, "events") == ()
    ts_ns = pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"ts": ts_ns}), f, store_schema=False, coerce_timestamps=None
    )
    assert src_io._nano_cols(f, "events") == ("ts",), (
        "stale sniff cache survived a re-encode of the same path"
    )


def test_scratch_root_is_per_process_made_on_use_and_removed_at_exit(tmp_path):
    """Each process gets its own scratch root under the temp dir. Importing
    the package makes no directory (Spark's Python workers import it), and
    a process that wrote under its root leaves nothing behind at exit."""
    import subprocess
    import sys

    import opay_datalake_script_spark as pkg

    script = "\n".join(
        [
            "import os, sys",
            f"sys.path.insert(0, {os.path.dirname(os.path.dirname(pkg.__file__))!r})",
            "import opay_datalake_script_spark",
            "from opay_datalake_script_spark.sources import io",
            "print(io.SCRATCH_DIR)",
            "print(os.listdir(sys.argv[1]))",
            "if sys.argv[2] == 'write':",
            "    with open(os.path.join(io.scratch_dir('x'), 'f'), 'w') as fh:",
            "        fh.write('x')",
            "    print(os.listdir(sys.argv[1]))",
        ]
    )

    def run(mode: str) -> list[str]:
        out = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path), mode],
            env=dict(os.environ, TMPDIR=str(tmp_path)),
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert out.returncode == 0, out.stderr[-4000:]
        return out.stdout.splitlines()

    first, second = run("import"), run("write")
    assert first[0] != second[0]
    assert os.path.dirname(first[0]) == str(tmp_path)
    assert first[1] == second[1] == "[]"
    assert second[2] == repr([os.path.basename(second[0])])
    assert os.listdir(tmp_path) == []


def test_day_epoch_write_multi_batch_and_replay(spark, tmp_path):
    """The i_foreach_batch_sink landing mechanism, exercised directly:
    two micro-batches carrying rows for the SAME day must both survive
    (a dt-only dynamic overwrite would drop batch 0's day-D rows when
    batch 1 lands), and an at-least-once replay of a batch must replace
    its own slice, not append a duplicate."""
    import datetime as dt

    out = str(tmp_path / "by_day")
    schema = "event_id long, ts timestamp, v long"
    day = dt.datetime(2024, 3, 1, 10, 0, 0)
    b0 = spark.createDataFrame([(1, day, 10), (2, day, 20)], schema)
    b1 = spark.createDataFrame([(3, day, 30)], schema)
    jobs.write_day_epoch_partition(b0, 0, out)
    jobs.write_day_epoch_partition(b1, 1, out)  # same day, later batch
    jobs.write_day_epoch_partition(b0, 0, out)  # replay of batch 0
    back = spark.read.parquet(out)
    assert sorted(r["event_id"] for r in back.collect()) == [1, 2, 3]
    assert back.select("dt").distinct().count() == 1


def test_foreach_batch_sink_lands_full_source_per_day(spark):
    base = os.path.join(
        src_io.SCRATCH_DIR, "foreach_batch", src_io.fixture_tag(SF_DIR)
    )
    before = set(os.listdir(base)) if os.path.isdir(base) else set()
    got = QUERIES["i_foreach_batch_sink"](spark, SF_DIR)
    src = src_io.load(spark, SF_DIR, "events")
    assert got.count() == src.count()
    # Landing is run-fresh: the call landed in one new run dir.
    runs = [d for d in set(os.listdir(base)) - before if d.startswith("run_")]
    assert len(runs) == 1, runs


def test_stream_file_source_concurrent_invocations(spark):
    """Two concurrent invocations must not collide on the memory-sink
    query name (a fixed name raises 'query with that name is already
    active' on the second start)."""
    from concurrent.futures import ThreadPoolExecutor

    src_io.stage_stream_dir(SF_DIR, "events")  # pre-warm staging once
    want = src_io.load(spark, SF_DIR, "events").count()

    def run(_):
        return QUERIES["a_stream_file_source"](spark, SF_DIR).count()

    with ThreadPoolExecutor(max_workers=2) as ex:
        counts = list(ex.map(run, range(2)))
    assert counts == [want, want]


def test_sink_partitioned_wipes_stale_foreign_partition(spark):
    """The initial full reload must be a STATIC overwrite: under the
    session's dynamic default, a partition present in a previous fixture
    generation but absent from the current one would survive the reload
    and leak into the re-read."""
    out = os.path.join(
        src_io.SCRATCH_DIR, "sink_partitioned", f"orders_{src_io.fixture_tag(SF_DIR)}"
    )
    stale = os.path.join(out, "dt=1900-01")
    os.makedirs(stale, exist_ok=True)
    spark.range(3).select(F.col("id").alias("o_orderkey")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stale)
    got = QUERIES["a_sink_partitioned"](spark, SF_DIR)
    assert got.where(F.col("dt") == "1900-01").count() == 0
    assert not os.path.exists(stale), "static reload must truncate stale partitions"


def test_pyds_sink_leaves_no_tmp_files(spark):
    QUERIES["a_python_datasource_sink"](spark, SF_DIR).collect()
    out_dir = os.path.join(
        src_io.SCRATCH_DIR, "pyds_sink", f"orders_{src_io.fixture_tag(SF_DIR)}"
    )
    leftovers = [f for f in os.listdir(out_dir) if f.endswith(".tmp")]
    assert leftovers == []


def _jobs_started_building(spark, name: str) -> tuple[list[str], list[str]]:
    """Build ``name`` at sf0.001 under a job group of its own and return
    the Spark jobs submitted meanwhile: (names of the jobs in that group,
    descriptions of the jobs in any other group). A streaming query runs
    its micro-batches under its own run id, so they land in the second
    list."""
    from .conftest import SMOKE_SF_DIR

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def all_jobs():
        jsc.listenerBus().waitUntilEmpty()
        seq = jsc.statusStore().jobsList(None)
        return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    before = {j.jobId() for j in all_jobs()}
    group = f"build/{name}"
    sc.setJobGroup(group, name)
    try:
        QUERIES[name](spark, SMOKE_SF_DIR)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    own, other = [], []
    for j in sorted(all_jobs(), key=lambda j: j.jobId()):
        if j.jobId() in before:
            continue
        g, d = j.jobGroup(), j.description()
        if g.isDefined() and g.get() == group:
            own.append(j.name())
        else:
            other.append(d.get() if d.isDefined() else "")
    return own, other


def test_round_trip_builds_start_no_schema_inference_job(spark):
    """A read-back with the schema the job wrote starts no Spark job; a
    schema-less ``spark.read.parquet`` starts one to merge footers, and
    that job carries the same ``parquet at`` call site as a write. So:
    the WAP build starts exactly its staged write and its gate pass (one
    aggregation, 3 jobs under AQE: two map stages and the result), and
    the checkpoint-restart build starts exactly its two micro-batches
    and nothing in its own group."""
    own, other = _jobs_started_building(spark, "a_write_audit_publish")
    assert [n.split(" at ")[0] for n in own] == ["parquet"] + ["collect"] * 3, own
    assert all("quality.py" in n for n in own[1:]), own
    assert other == [], other

    own, other = _jobs_started_building(spark, "i_stream_checkpoint_restart")
    assert own == [], own
    assert len(other) == 2 and all("batch = " in d for d in other), other
