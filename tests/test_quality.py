"""Data-quality gate tests (the reference's row-count/sensor discipline,
SURVEY.md §5.1) — gates over the fixture tables plus the failure path,
and the single-scan guarantee."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opay_datalake_script_spark import quality as Q
from opay_datalake_script_spark.sources.io import load

from .conftest import SF_DIR


def test_gates_pass_on_orders(spark):
    o = load(spark, SF_DIR, "orders")
    report = Q.run_gates(
        o,
        [
            Q.row_count(min_rows=1),
            Q.not_null("o_orderkey"),
            Q.unique_key("o_orderkey"),
            Q.accepted_values("o_orderstatus", ["F", "O", "P"]),
            Q.threshold(F.sum("o_totalprice"), min_value=0.0),
        ],
    )
    assert report.passed, [r for r in report.results if not r.passed]
    report.raise_if_failed()  # no-op on success


def test_gates_fail_and_report(spark):
    li = load(spark, SF_DIR, "lineitem")
    report = Q.run_gates(
        li,
        [
            Q.unique_key("l_orderkey"),  # NOT unique (multiple lines/order)
            Q.row_count(min_rows=10**12),  # impossible at fixture scale
        ],
    )
    assert not report.passed
    assert [r.passed for r in report.results] == [False, False]
    with pytest.raises(AssertionError, match="quality gates failed"):
        report.raise_if_failed()


def test_gates_run_in_single_scan(spark):
    """N gates must compile into aggregates over ONE scan of the table —
    never one job per check. (Shuffle count may exceed 1: countDistinct
    legitimately needs a two-phase aggregate; the scan is what must not
    multiply.)"""
    import re

    from opay_datalake_script_spark.plans.inspect import formatted_plan

    o = load(spark, SF_DIR, "orders")
    gates = [Q.row_count(), Q.not_null("o_custkey"), Q.unique_key("o_orderkey")]
    aggs = [m.alias(f"g{i}") for i, (_, m, _) in enumerate(gates)]
    plan = formatted_plan(o.agg(*aggs))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scans) == 1


def test_partition_sensor(spark, tmp_path):
    base = str(tmp_path / "sensor_sink")
    ev = load(spark, SF_DIR, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    one_day = ev.where(F.col("dt") == "2024-01-01")
    one_day.write.mode("overwrite").partitionBy("dt").parquet(base)
    assert Q.partition_exists(spark, base, dt="2024-01-01")
    assert not Q.partition_exists(spark, base, dt="1999-12-31")


def test_compaction_preserves_rows(spark):
    """a_compact_small_files: pure rewrite — same row multiset before
    and after (the file-count shrink is asserted inside the op)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    from .conftest import SF_DIR

    load_all_queries()
    out = QUERIES["a_compact_small_files"](spark, SF_DIR)
    src = load(spark, SF_DIR, "events")
    assert out.count() == src.count()
    assert out.select(F.bit_xor(F.xxhash64("event_id"))).first()[0] == \
        src.select(F.bit_xor(F.xxhash64("event_id"))).first()[0]


def test_schema_evolution_null_fills_old_generation(spark):
    """a_scan_schema_evolution: merged scan sees every row; exactly the
    old generation (even orderkeys) is null in the late-added column."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import load

    from .conftest import SF_DIR

    load_all_queries()
    out = QUERIES["a_scan_schema_evolution"](spark, SF_DIR)
    n = load(spark, SF_DIR, "orders").count()
    assert out.count() == n
    nulls = out.where(F.col("channel").isNull())
    assert nulls.count() == out.where(F.col("o_orderkey") % 2 == 0).count()
    assert nulls.where(F.col("o_orderkey") % 2 == 1).count() == 0


def test_wap_failed_audit_keeps_published_version(spark):
    """a_write_audit_publish's own path (write_audit_publish) with a gate
    that fails: it must raise an error naming that gate AND leave the
    previously published directory untouched — bad data can never be
    half-visible (the whole point of WAP)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources.io import (
        fixture_tag,
        scratch_dir,
        write_audit_publish,
    )

    load_all_queries()
    good = QUERIES["a_write_audit_publish"](spark, SF_DIR)  # publishes
    root = scratch_dir("wap", fixture_tag(SF_DIR))
    published = os.path.join(root, "published")

    def files():
        return sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(published)
        )

    before, n_before = files(), good.count()
    bad = good.unionByName(good.limit(1))  # one duplicated key
    with pytest.raises(AssertionError, match=r"unique_key\[o_orderkey\]") as err:
        write_audit_publish(bad, root, [Q.row_count(min_rows=1), Q.unique_key("o_orderkey")])
    assert "row_count" not in str(err.value)  # only the failed gate is named
    assert files() == before
    assert spark.read.schema(good.schema).parquet(published).count() == n_before


def test_interpolate_linear_semantics(spark):
    """The e_interpolate_linear oracle MIRRORS the engine's algorithm,
    so the differential hash proves parity only. Pin the interpolation
    SEMANTICS independently on sf0.001: per user, the grid starts and
    ends at observed hours, observed rows pass through, gap rows exist
    (branch exercised), each gap run ramps monotonically between its
    observed endpoints, and the run's midpoint value sits within one
    display cent of the true linear midpoint."""
    from opay_datalake_script_spark.operators.windows import (
        e_interpolate_linear,
    )
    from .conftest import SMOKE_SF_DIR

    pdf = (
        e_interpolate_linear(spark, SMOKE_SF_DIR)
        .toPandas()
        .sort_values(["user_id", "hr"])
    )
    assert pdf["is_gap"].sum() > 0
    saw_interior_gap = False
    for _uid, g in pdf.groupby("user_id"):
        rows = list(g.itertuples())
        assert not rows[0].is_gap and not rows[-1].is_gap
        i = 0
        while i < len(rows):
            if not rows[i].is_gap:
                i += 1
                continue
            j = i
            while rows[j].is_gap:
                j += 1
            lo_v, hi_v = rows[i - 1].v_interp, rows[j].v_interp
            run = [r.v_interp for r in rows[i - 1 : j + 1]]
            if lo_v <= hi_v:
                assert all(a <= b + 0.011 for a, b in zip(run, run[1:]))
            else:
                assert all(a >= b - 0.011 for a, b in zip(run, run[1:]))
            if len(run) >= 3:
                saw_interior_gap = True
                mid = run[len(run) // 2]
                frac = (len(run) // 2) / (len(run) - 1)
                expect = lo_v + (hi_v - lo_v) * frac
                assert abs(mid - expect) <= 0.02
            i = j
    assert saw_interior_gap
