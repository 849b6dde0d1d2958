"""The local contract gate's frame comparison (tools/check_contract.py
``compare_frames``), without Spark: dtype kinds count, as they do for
the driver's value hash."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tools.check_contract import compare_frames


def _frame() -> pd.DataFrame:
    return pd.DataFrame({
        "region_id": ["b", "a", "c"],
        "n": np.array([3, 1, 2], np.int64),
        "d2": np.array([0.5, 0.25, 1.0], np.float64),
    })


def test_int_against_float_column_is_a_mismatch():
    got = _frame()
    want = got.assign(n=got["n"].astype(np.float64))
    status, detail = compare_frames(got, want)
    assert status == "MISMATCH"
    assert "'n'" in detail and "'d2'" not in detail


def test_equal_frames_are_ok_in_any_row_and_column_order():
    got = _frame()
    want = got.iloc[::-1][["d2", "n", "region_id"]]
    assert compare_frames(got, want) == ("OK", "3 rows")
    # same kind, other width: the driver hashes values, not widths
    assert compare_frames(got, want.astype({"n": np.int32}))[0] == "OK"


def test_value_row_and_column_differences_are_mismatches():
    got = _frame()
    one_ulp = got.assign(d2=[0.5, 0.25, 1.0 + 2.0**-52])
    assert compare_frames(got, one_ulp)[0] == "MISMATCH"
    assert compare_frames(got, got.iloc[:2])[0] == "MISMATCH"
    assert compare_frames(got, got.rename(columns={"n": "m"}))[0] == "MISMATCH"
