"""DuckDB hash-compare for oracle-backed queries, run every suite run.

The driver verifies only the leading ``entry.DRIVER_WINDOW`` entries of
``queries()`` against ``oracle_sql()``; oracle-backed queries after
that position would otherwise have no continuously-running hard signal
(the round-8 advisory's point). This test derives the past-window
target list from the SAME position arithmetic the window test in
test_query_plans.py uses, so a query can never fall between the two
gates. It also compares the queries pinned in ``SUITE_COMPARED``
wherever they sit, replaying the driver's compare (row count,
column-name-sorted schema, order-insensitive rounded values) at
sf0.001.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry
from animaltrackingetls_spark.io import TABLES

SF = "/root/testdata/sf0.001"


# Compared here whatever their position, so that reordering the
# driver's window never leaves them without a check that runs with the
# suite.
SUITE_COMPARED = ["quota_shuffle", "proximity_pairs", "semi_anti_join"]


def _past_window_oracle_names() -> list[str]:
    names = list(entry.queries())
    oracles = set(entry.oracle_sql())
    return [n for n in names[entry.DRIVER_WINDOW:] if n in oracles]


def _suite_compared_names() -> list[str]:
    past = _past_window_oracle_names()
    return SUITE_COMPARED + [n for n in past if n not in SUITE_COMPARED]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif str(df[c].dtype) in ("float64", "float32"):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                pass
    return (
        df.sort_values(by=list(df.columns), kind="mergesort")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def test_past_window_list_is_nonempty_and_stable():
    # The driver's gate is hard-capped at 50 rows (observed r8: a
    # 54-entry prefix recorded exactly 50), so oracle-backed queries
    # past the window keep their hard signal through this suite-run
    # compare. Exactly 50 queries are oracle-backed and all sit in the
    # window, so none is past it; semi_anti_join, quota_shuffle and
    # proximity_pairs stay pinned here as well. The list must never
    # contain a name without an oracle (by construction) or miss one
    # (the window test asserts the prefix side).
    assert _past_window_oracle_names() == []
    oracles = entry.oracle_sql()
    assert all(n in oracles for n in SUITE_COMPARED)
    assert _suite_compared_names() == [
        "quota_shuffle", "proximity_pairs", "semi_anti_join",
    ]


@pytest.mark.parametrize("name", _suite_compared_names())
def test_past_window_oracle_matches(name, spark, duck):
    sdf = entry.queries()[name](spark, SF).toPandas()
    odf = duck.execute(entry.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    a, b = _canon(sdf), _canon(odf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-6)
