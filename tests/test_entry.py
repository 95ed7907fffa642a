"""Smoke test of the driver contract surface in __spark_entry__.py."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus", "sum_qty", "cnt"} <= set(df.columns)


def test_contract_shapes(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert "d_agg_basic" in oracles


def test_driver_heap_fits_the_host(spark):
    """The session's heap is sized to the host, never more than
    HEAP_SHARE of its memory: a heap above what the host or its cgroup
    grants gets the JVM OOM-killed instead of spilling."""
    from opay_datalake_script_spark.session import (
        HEAP_SHARE,
        driver_heap,
        host_memory_bytes,
    )

    heap = driver_heap()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == heap
    heap_bytes = int(heap.removesuffix("g")) << 30
    assert heap_bytes <= max(1 << 30, host_memory_bytes() * HEAP_SHARE)
