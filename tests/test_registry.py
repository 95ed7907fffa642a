"""Registry contract tests: registration order, the duplicate-ID guard,
the banding-oracle mirror tripwire and the plan audit's window detector."""

from __future__ import annotations

import builtins
import importlib.util
import json
import os

import __spark_entry__ as entry
from opay_datalake_script_spark import registry

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_order_is_registration_order(tmp_path, monkeypatch):
    """load_all_queries() returns QUERIES in registration order, opens no
    file, and so cannot be reordered by a result file an earlier run left
    in the repo root or the working directory; oracle_sql() keeps the
    same order."""
    registry.load_all_queries()
    expected = list(registry.QUERIES)
    failed_row = {expected[-1]: {"rows_match": False, "hash_match": False,
                                 "err": "mismatch"}}
    leftovers = [os.path.join(_ROOT, "CORRECTNESS_r999.json"),
                 str(tmp_path / "CORRECTNESS_r999.json")]
    monkeypatch.chdir(tmp_path)
    try:
        for path in leftovers:
            with open(path, "w") as fh:
                json.dump(failed_row, fh)

        def no_open(*args, **kwargs):
            raise AssertionError(f"load_all_queries() opened {args[:1]}")

        with monkeypatch.context() as m:
            m.setattr(builtins, "open", no_open)
            got = list(registry.load_all_queries())
        assert got == expected
        assert list(entry.oracle_sql()) == [
            n for n in expected if n in registry.ORACLES
        ]
    finally:
        for path in leftovers:
            if os.path.exists(path):
                os.remove(path)


def _load_plan_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(_ROOT, "scripts", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_audit_window_detector():
    """The audit's empty-partition-window detector must flag only the
    t_q15 class: plan text drops EMPTY spec groups, so the bracket
    count alone cannot distinguish partitioned-unordered (benign) from
    unpartitioned-ordered (the scale killer); and the prefix-sum
    offsets window (ordered on _pid over O(partitions) rows) is
    unpartitioned by design."""
    pa = _load_plan_audit()
    flagged = pa._empty_partition_windows(
        # unpartitioned + ordered -> FLAG (the t_q15 shape)
        "   Window [max(x#1) windowspecdefinition(ts#2 ASC NULLS FIRST, "
        "specifiedwindowframe(...)) AS mx#3], [ts#2 ASC NULLS FIRST]\n"
        # partitioned + ordered (3 groups) -> benign
        "   Window [row_number() ...], [user_id#4], [ts#2 ASC NULLS FIRST]\n"
        # partitioned, NO order (2 groups, no sort markers) -> benign
        "   Window [count(1) windowspecdefinition(event_type#5, "
        "specifiedwindowframe(...)) AS n#6], [event_type#5]\n"
        # the distributed prefix-sum offsets window -> benign by design
        "   Window [sum(_n#7L) windowspecdefinition(_pid#8 ASC NULLS FIRST, "
        "specifiedwindowframe(...)) AS _we0#9L], [_pid#8 ASC NULLS FIRST]\n"
    )
    assert len(flagged) == 1 and "mx#3" in flagged[0], flagged


def test_every_banding_oracle_carries_cap_and_chains():
    """Mirror-drift tripwire (bitten twice: r7 review item 2 and the r8
    corpus-build oracle): ANY registered oracle that hand-rolls the
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
    import pytest

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
