"""Output checks for one benchmark run.

Every oracle-backed query's first-pass output is compared with its
DuckDB twin on the run's dataset by the test suite's comparator
(``tests/conftest.py``, which mirrors the query contract's compare:
sorted columns, row count, order-insensitive values, floats within 1e-6
relative), so the benchmark and the tests agree on what is correct.

``ml_als_rmse`` hashes only what surrounds its ALS fit, so the fit's
test RMSE, recorded at every call, is also compared with the value
pinned per dataset in ``als_rmse.json``.
"""

from __future__ import annotations

import json
import math
import os
import types

ALS_PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "als_rmse.json")


def oracle_mismatch(pdf, oracle_sql: str, sf_dir: str) -> str | None:
    """Why ``pdf`` differs from the oracle's rows, or None if it does
    not."""
    import duckdb

    from tests.conftest import assert_df_matches, oracle_df

    con = duckdb.connect()
    try:
        want = oracle_df(con, oracle_sql, sf_dir)
    finally:
        con.close()
    try:
        assert_df_matches(types.SimpleNamespace(toPandas=lambda: pdf), want)
    except AssertionError as e:
        return str(e)
    return None


def als_mismatch(rmse: float, dataset: str) -> str | None:
    """Why an ALS test RMSE is not the pinned one, or None."""
    with open(ALS_PIN) as f:
        pin = json.load(f)
    want = pin["als_test_rmse"].get(dataset)
    if want is None:
        return f"no ALS RMSE pinned for dataset {dataset}"
    if not math.isclose(rmse, want, rel_tol=pin["rel_tol"]):
        return f"ALS test RMSE {rmse!r}, pinned {want!r}"
    return None


def check_outputs(outputs: dict, specs: dict, sf_dir: str,
                  als_calls: list[int], als_rmse: list[tuple[int, float]],
                  dataset: str) -> list[tuple[str, int, str]]:
    """(query, pass, reason) for every call whose output is wrong.
    ``outputs`` holds the first pass's rows per query (None when the
    call raised: that is already counted as a failure); ``als_calls``
    the passes in which ``ml_als_rmse`` returned, and ``als_rmse`` the
    (pass, RMSE) of every ALS fit it made."""
    failures = []
    for name, pdf in outputs.items():
        if pdf is None or specs[name].oracle is None:
            continue
        why = oracle_mismatch(pdf, specs[name].oracle, sf_dir)
        if why:
            failures.append((name, 0, why))
    fitted = {p for p, _ in als_rmse}
    failures += [("ml_als_rmse", p, "no ALS fit recorded")
                 for p in als_calls if p not in fitted]
    for pass_idx, rmse in als_rmse:
        why = als_mismatch(rmse, dataset)
        if why:
            failures.append(("ml_als_rmse", pass_idx, why))
    return failures
