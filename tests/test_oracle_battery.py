"""Full oracle battery under pytest (VERDICT r3 #2).

The driver's correctness gate only re-checks the first 50 queries()
entries each round; rows rotated past that window kept only *recorded*
credit. This battery runs EVERY SQL-oracle entry against DuckDB at
sf0.01 — the exact comparison the driver does (row count, column names,
order-insensitive value hash) — so any drift in a rotated-out query
fails CI immediately.

One shared SparkSession + DuckDB connection. Each registry query runs
once: its result is held for both the battery row and the dtype row.
The module takes about 7 minutes on a 4-core host. Deselect with
`-m "not slow"` when iterating on something else.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry
from tools.check_oracle import SF_DIR, attach_views, compare_one

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    attach_views(con)
    yield con
    con.close()


@pytest.fixture(scope="module", params=list(QUERIES), ids=list(QUERIES))
def result(request, spark):
    """(name, build) for one registry query: ``build()`` returns its
    DataFrame, persisted so the battery's collect and the dtype row's
    toPandas share one execution, or raises the error building it
    raised. Module scope groups both tests by query, so one result is
    held at a time."""
    name = request.param
    try:
        df, error = QUERIES[name](spark, SF_DIR).persist(), None
    except Exception as exc:  # noqa: BLE001 — reported by compare_one
        df, error = None, exc

    def build(*_):
        if df is None:
            raise error
        return df

    yield name, build
    if df is not None:
        df.unpersist()


@pytest.mark.slow
def test_oracle_battery(result, duck):
    name, build = result
    status, detail = compare_one(None, duck, name, build, ORACLES.get(name))
    assert status != "fail", f"{name}: {detail}"
    if ORACLES.get(name) is None:
        # rows-only by design — still guard against silent emptiness
        assert not detail.startswith("0 rows"), f"{name}: went empty"


@pytest.mark.slow
def test_dtype_parity(result, duck):
    """Pandas-coercion dtype parity (CORRECTNESS_r04 root cause): the
    driver materializes both sides through pandas before hashing, where
    DuckDB HUGEINT (SUM over ints) and DECIMAL become float64 while
    Spark keeps int64 / Decimal — rendering "123" vs "123.0" into a
    hash mismatch on numerically identical results. Every oracle pair
    must land in the same render class per column (tools/check_dtypes),
    so a future query can't reintroduce the bug."""
    from tools.check_dtypes import column_problems

    name, build = result
    sql = ORACLES.get(name)
    if sql is None:
        pytest.skip("rows-only entry")
    spd = build().toPandas()
    dpd = duck.execute(sql).df()
    probs = column_problems(spd, dpd)
    assert not probs, f"{name}: {probs}"
