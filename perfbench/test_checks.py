"""Tests for the pinned ALS check; no Spark needed."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402


def _pin(dataset: str) -> float:
    with open(checks.ALS_PIN) as f:
        return json.load(f)["als_test_rmse"][dataset]


def test_als_rmse_within_tolerance_passes():
    want = _pin("gen_sf_seed7")
    assert checks.als_mismatch(want * (1 + 5e-7), "gen_sf_seed7") is None


def test_changed_als_fit_fails():
    want = _pin("gen_sf_seed42")
    assert checks.als_mismatch(want * (1 + 1e-4), "gen_sf_seed42")
    assert checks.als_mismatch(want, "some_other_dataset")


def test_every_failing_fit_is_reported_with_its_pass():
    good, bad = _pin("gen_sf_seed7"), _pin("gen_sf_seed7") + 0.01
    out = checks.check_outputs({}, {}, "", [0, 1, 2, 3],
                               [(0, good), (1, bad), (2, bad)], "gen_sf_seed7")
    assert sorted((q, p) for q, p, _ in out) == [
        ("ml_als_rmse", 1), ("ml_als_rmse", 2), ("ml_als_rmse", 3)]
