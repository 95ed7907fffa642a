"""Registry contract tests: registration order, the duplicate-ID guard,
the banding-oracle mirror tripwire and the plan-shape detectors that
tests/test_oracle.py runs on every job; and a guard that no Python file
cites a deleted round-result file."""

from __future__ import annotations

import builtins
import json
import os
import re
import subprocess

import pytest

import __spark_entry__ as entry
from opay_datalake_script_spark import registry
from opay_datalake_script_spark.plans.inspect import plan_scale_shapes

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_order_is_registration_order(tmp_path, monkeypatch):
    """load_all_queries() returns QUERIES in registration order, opens no
    file, and so cannot be reordered by a result file an earlier run left
    in the working directory; oracle_sql() keeps the same order."""
    registry.load_all_queries()
    expected = list(registry.QUERIES)
    failed_row = {expected[-1]: {"rows_match": False, "hash_match": False,
                                 "err": "mismatch"}}
    (tmp_path / "query_results.json").write_text(json.dumps(failed_row))
    monkeypatch.chdir(tmp_path)

    def no_open(*args, **kwargs):
        raise AssertionError(f"load_all_queries() opened {args[:1]}")

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", no_open)
        got = list(registry.load_all_queries())
    assert got == expected
    assert list(entry.oracle_sql()) == [
        n for n in expected if n in registry.ORACLES
    ]


def test_scale_shape_detectors():
    """Only shapes whose input can grow with the corpus are flagged.
    Plan text drops EMPTY window spec groups, so the bracket count alone
    cannot tell partitioned-unordered (benign) from unpartitioned-ordered
    (the t_q15 class). Benign by design: the _pid-ordered prefix-sum
    window and count table, global partial aggregates, nested-loop joins
    with a global-aggregate build side, an AQE plan's initial section."""
    assert plan_scale_shapes("""\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   BroadcastNestedLoopJoin BuildLeft, Cross
   :- BroadcastQueryStage 1
   :  +- BroadcastExchange IdentityBroadcastMode, [plan_id=20]
   :     +- HashAggregate(keys=[], functions=[max(x#1L)])
   :        +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=10]
   :           +- *(1) HashAggregate(keys=[], functions=[partial_max(x#1L)])
   +- *(2) BroadcastNestedLoopJoin BuildRight, Cross
      :- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=30]
      :  +- HashAggregate(keys=[_pid#8], functions=[count(1)])
      +- ReusedExchange [mx#6L], BroadcastExchange IdentityBroadcastMode, [plan_id=20]
+- == Initial Plan ==
   CartesianProduct
""" + (
        # partitioned + ordered (3 groups)
        "Window [row_number() ...], [user_id#4], [ts#2 ASC NULLS FIRST]\n"
        # partitioned, NO order (2 groups, no sort markers)
        "Window [count(1) windowspecdefinition(event_type#5, "
        "specifiedwindowframe(...)) AS n#6], [event_type#5]\n"
        # the distributed prefix-sum offsets window
        "Window [sum(_n#7L) windowspecdefinition(_pid#8 ASC NULLS FIRST, "
        "specifiedwindowframe(...)) AS _we0#9L], [_pid#8 ASC NULLS FIRST]\n"
    )) == {}
    flagged = plan_scale_shapes("""\
Window [max(x#1) windowspecdefinition(ts#2 ASC NULLS FIRST, ...) AS mx#3], [ts#2 ASC NULLS FIRST]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=40]
   :  +- HashAggregate(keys=[month#2], functions=[sum(v#1L)])
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=50]
      +- Project [embedding#4 AS q_emb#6]
         +- Filter (vec_id#3L < 8)
            +- FileScan parquet [vec_id#3L,embedding#4]
""")
    assert {s: len(v) for s, v in flagged.items()} == {
        "window": 1, "nested-loop": 1, "single-partition": 1}
    assert "mx#3" in flagged["window"][0]


def test_every_banding_oracle_carries_cap_and_chains():
    """Mirror-drift tripwire (hand-rolled copies drifted twice, once in
    the corpus-build oracle): ANY registered oracle that hand-rolls the
    (band, bucket) banding window must also carry the bucket cap AND
    the salted-chain CTE, i.e. stay structurally in sync with
    band_candidate_pairs. Oracles using the shared _BAND_CAND_CTES
    satisfy this automatically."""
    from opay_datalake_script_spark.llmdata.dedup import (
        LSH_BUCKET_CAP,
        LSH_CHAIN_SALTS,
    )

    registry.load_all_queries()
    offenders = []
    for name, sql in registry.ORACLES.items():
        if (
            "PARTITION BY band, bucket" not in sql
            and "PARTITION BY band, key" not in sql  # the image-ahash twin
        ):
            continue
        has_cap = f"bsz <= {LSH_BUCKET_CAP}" in sql
        has_chain = (
            f"bsz > {LSH_BUCKET_CAP}" in sql
            and "salt" in sql
            and str(LSH_CHAIN_SALTS - 1) in sql
        )
        # r11: the chain ordering must also be CHUNKED (window partition
        # ends in `salt, chunk`) so no oracle regresses to the
        # whole-bucket sort the engine no longer performs
        has_chunk = "salt, chunk" in sql
        if not (has_cap and has_chain and has_chunk):
            offenders.append(name)
    assert not offenders, offenders


def test_register_rejects_duplicate_ids():
    """register() must raise on a second function claiming an existing
    ID — last-wins silently dropped c_join_interval_overlap's round-7
    predecessor out of the registry for a full round (caught by review
    in round 8). Same-function re-registration stays idempotent (module
    re-execution must not false-positive)."""
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries, register

    load_all_queries()
    existing = next(iter(QUERIES))
    with pytest.raises(ValueError, match="duplicate registry ID"):
        @register(existing)
        def _imposter(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    # idempotent path: re-decorating the registered function itself
    fn = QUERIES[existing]
    assert register(existing)(fn) is fn


def test_no_python_file_cites_a_deleted_round_file():
    """The per-round result files once kept in the repo root are gone, so
    no tracked Python file may cite one, by name or by round tag. The
    names are upper-cased at run time so this file does not match."""
    tags = "|".join(n.upper() for n in ("correctness", "bench", "perf", "verify",
                                        "notes", "optimization", "advice", "verdict"))
    files = "|".join(n.upper() for n in ("advice", "verdict", "leakcheck", "copycheck"))
    cited = re.compile(rf"(?:{tags})[-_ ]?r[0-9{{]|\b(?:{files})\b|"
                       + "progress".upper() + r"\.jsonl")
    ls = subprocess.run(["git", "ls-files", "*.py"], cwd=_ROOT,
                        capture_output=True, text=True)
    if ls.returncode:
        pytest.skip("not a git checkout")
    hits = [f"{p}:{i}" for p in ls.stdout.split()
            if os.path.exists(os.path.join(_ROOT, p))
            for i, line in enumerate(open(os.path.join(_ROOT, p), encoding="utf-8"), 1)
            if cited.search(line)]
    assert not hits, hits
