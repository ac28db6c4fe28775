"""The column-wise canonical hash equals scripts/simlib.canonical_hash."""

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pytest
from conftest import ROOT

from oracle import canonical_hash

sys.path.insert(0, os.path.join(ROOT, "scripts"))
simlib = pytest.importorskip("simlib")

FRAMES = {
    "numbers": pd.DataFrame(
        {
            "b": [3, 1, 2, 1],
            "a": [0.1 + 0.2, np.nan, 1e-7, 123456.0000004],
            "c": [True, False, True, True],
        }
    ),
    "strings_and_nulls": pd.DataFrame({"s": ["x", None, "", "\0N"], "n": [1.0, 2.0, None, 4.0]}),
    "datetimes": pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:00.500000", None, "1999-12-31 00:00:00"], format="ISO8601"),
            "d": [dt.date(2024, 1, 1), dt.date(2023, 5, 6), None, dt.date(2024, 1, 1)],
        }
    ),
    "arrays": pd.DataFrame(
        {"v": [np.array([1.5, 2.0]), [3, 4], None, np.array([], dtype=float)], "k": [1, 2, 3, 4]}
    ),
    "empty": pd.DataFrame({"x": pd.Series([], dtype="int64"), "y": pd.Series([], dtype=float)}),
}


@pytest.mark.parametrize("name", sorted(FRAMES))
def test_hash_matches_simlib(name):
    df = FRAMES[name]
    assert canonical_hash(df) == simlib.canonical_hash(df)


def test_hash_ignores_row_and_column_order():
    df = FRAMES["numbers"]
    shuffled = df.sample(frac=1.0, random_state=1)[["c", "a", "b"]]
    assert canonical_hash(df) == canonical_hash(shuffled)
