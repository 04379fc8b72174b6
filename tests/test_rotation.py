"""Registry-rotation tests: the driver's 50-slot CORRECTNESS window must be
spent on queries that can still produce new signal."""

from __future__ import annotations

import json
import os

import pytest

from tscd_datalake_adapter_spark.operators import load_all
from tscd_datalake_adapter_spark.operators._rotation import (
    _correctness_rows,
    _greens_from_correctness_files,
    _is_rows_only_record,
    _recorded_without_error,
    tier,
)

pytestmark = pytest.mark.smoke


def test_greens_parsed_from_correctness_files():
    g = _greens_from_correctness_files()
    # r1's recorded greens (49 of the 50 checked; media_feature_extract
    # errored) must all be discovered from CORRECTNESS_r01.json
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CORRECTNESS_r01.json")) as f:
        r01 = json.load(f)
    r1_green = {
        name
        for name, row in r01.items()
        if row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    }
    assert len(r1_green) == 49
    assert r1_green <= g
    # invariant (round-independent): a name whose recorded rows are ALL real
    # errors (crashes — NOT the driver's rows-only `no_oracle` record kind)
    # has produced no usable signal — it must be in neither the verified set
    # nor the recorded set.  (A later round turning such a name green removes
    # it from errored_only, so this never goes stale.)
    by_name: dict[str, list[dict]] = {}
    for _round, name, row in _correctness_rows():
        by_name.setdefault(name, []).append(row)
    errored_only = {
        name
        for name, rows in by_name.items()
        if all(
            r.get("err") is not None and not _is_rows_only_record(r)
            for r in rows
        )
    }
    assert not (errored_only & g)
    assert not (errored_only & _recorded_without_error())


def test_no_oracle_rows_retire_queries():
    """The driver records oracle-less queries as ``err: "no_oracle"`` with
    ``rows_match: null`` — that is a successful rows-only record, the best
    outcome such a query can ever earn, and it MUST retire the query from
    the front window (the round-3 bug: requiring ``err is None`` kept the 5
    oracle-less queries in slots 1-5 of every window forever)."""
    synthetic = [
        (3, "ann_fake", {"rows_match": None, "schema_match": None,
                         "hash_match": None, "spark_rows": 45,
                         "oracle_rows": None, "err": "no_oracle"}),
        (3, "crashed_fake", {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": None,
                             "oracle_rows": None, "err": "AnalysisException"}),
        (3, "green_fake", {"rows_match": True, "schema_match": True,
                           "hash_match": True, "spark_rows": 3,
                           "oracle_rows": 3, "err": None}),
        # a no_oracle record whose query never produced rows is NOT a record
        (3, "never_ran_fake", {"rows_match": None, "schema_match": None,
                               "hash_match": None, "spark_rows": None,
                               "oracle_rows": None, "err": "no_oracle"}),
    ]
    recorded = _recorded_without_error(synthetic)
    assert "ann_fake" in recorded
    assert "green_fake" in recorded
    assert "crashed_fake" not in recorded
    assert "never_ran_fake" not in recorded
    assert _greens_from_correctness_files(synthetic) == {"green_fake"}


def test_real_no_oracle_rows_are_retired():
    """All 5 oracle-less queries recorded in CORRECTNESS_r03.json must be
    in the recorded set (and hence sort to the final tier), not recycled
    into the front window. ann_lsh_topk gained an oracle in round 4 — its
    historical rows-only record still appears here (correct: the driver
    DID run it), but rotation tiering for oracle-backed names keys on
    VERIFIED, not on this set, so it re-enters the window as tier 0 until
    it earns a hash-green row."""
    recorded = _recorded_without_error()
    for name in (
        "lm_perplexity_filter_scaled",
        "ann_ivf_topk",
        "ann_lsh_topk",
        "approx_count_distinct_custkeys",
        "approx_percentiles_by_status",
    ):
        assert name in recorded, f"{name} should have a rows-only record"


def test_rotation_tiers_are_ordered():
    """All signal-capable queries (tier 0/1) precede deferred ones (tier 2)
    which precede spent oracle-backed ones (tier 3), which precede spent
    oracle-less ones (tier 4 — a window slot there would just re-emit an
    ``err: no_oracle`` row) — stable across future rounds."""
    registry = load_all()
    names = list(registry.keys())
    greens = _greens_from_correctness_files()
    recorded = _recorded_without_error()

    tiers = [tier(registry[n], n, greens, recorded) for n in names]
    assert tiers == sorted(tiers), "rotation must order tiers ascending"
    # oracle-less queries never sit ahead of oracle-backed unverified ones
    if 0 in tiers and 1 in tiers:
        assert tiers.index(1) > max(i for i, t in enumerate(tiers) if t == 0)
    # deferred additions must never displace undeferred never-verified ones
    if 2 in tiers:
        first_deferred = tiers.index(2)
        assert all(t not in (0, 1) for t in tiers[first_deferred:])
    # recorded oracle-less queries must sort behind everything
    if 4 in tiers:
        first_spent_weak = tiers.index(4)
        assert all(t == 4 for t in tiers[first_spent_weak:])


def test_rotation_preserves_registry_contents():
    from tscd_datalake_adapter_spark.operators import REGISTRY

    rotated = load_all()
    assert set(rotated.keys()) == set(REGISTRY.keys())
    assert len(rotated) == len(REGISTRY)
