"""Cross-engine dtype-parity sweep for every oracle pair.

CORRECTNESS_r04 root cause: the driver materializes both sides through
pandas before hashing values. Under that conversion DuckDB renders
HUGEINT (the result type of SUM over BIGINT/INTEGER) and DECIMAL as
float64, while Spark keeps int64 / decimal.Decimal — so "123" vs
"123.0" (or Decimal('0.500000') vs 0.5) hash-mismatch even though the
values are numerically identical and fetchall()-bit-exact. All 12 red
rows in CORRECTNESS_r04 emit such a column; every green row doesn't.

The discipline this enforces: each output column must arrive as the
SAME pandas dtype from `DataFrame.toPandas()` (Spark) and
`duckdb.execute(sql).df()` (DuckDB), and the values must be
bit/str-identical. Allowed dtypes: int64/int32, float64, bool, object
(str). DECIMAL outputs and un-cast integer SUMs are flagged.

Usage: python tools/check_dtypes.py [query_name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import SF_DIR, attach_views  # noqa: E402


import datetime as _dt


def _norm_cell(v):
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v)).lower()
    if isinstance(v, np.floating):
        f = float(v)
        return repr(f) if f == f else "NaN"
    if isinstance(v, np.integer):
        return str(int(v))
    # benign temporal splits: Spark date-object vs DuckDB midnight
    # datetime64 render to the same day string
    if isinstance(v, np.datetime64):
        v = v.astype("datetime64[us]").item()
    if isinstance(v, _dt.datetime):
        if v.time() == _dt.time(0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


_INT_DTYPES = {"int8", "int16", "int32", "int64"}
_TIME_DTYPES = {"datetime64[ns]", "datetime64[us]", "datetime64[ms]"}


def _dtype_class(dtype_str, series):
    """Bucket a pandas dtype into a render-equivalence class. Two
    columns in the same class stringify identically value-by-value, so
    a dtype split WITHIN a class has never tripped the driver's hash
    (int32-vs-int64 and datetime-unit splits rode green rows for four
    rounds); a split ACROSS classes (int-vs-float64 from DuckDB's
    HUGEINT coercion, Decimal-object-vs-float64) is exactly what
    hash-failed the 12 CORRECTNESS_r04 rows."""
    if dtype_str in _INT_DTYPES:
        return "int"
    if dtype_str in _TIME_DTYPES:
        return "time"
    if dtype_str == "object" and len(series):
        first = series.dropna().iloc[0] if series.notna().any() else None
        if isinstance(first, (_dt.datetime, _dt.date)):
            return "time"
        if isinstance(first, (str, bytes, type(None))):
            return "str"
        return f"object[{type(first).__name__}]"
    return dtype_str


def column_problems(spd, dpd):
    """Compare two pandas frames column-by-column (order-insensitive on
    rows via a whole-row sort key). Returns a list of problem strings."""
    problems = []
    s_cols, d_cols = sorted(spd.columns), sorted(dpd.columns)
    if s_cols != d_cols:
        return [f"schema {s_cols} vs {d_cols}"]
    if len(spd) != len(dpd):
        return [f"rows {len(spd)} vs {len(dpd)}"]
    # dtype-CLASS parity first — the driver-killing class of bug.
    for c in s_cols:
        sc = _dtype_class(str(spd[c].dtype), spd[c])
        dc = _dtype_class(str(dpd[c].dtype), dpd[c])
        if sc != dc:
            problems.append(
                f"col {c}: dtype class {sc} ({spd[c].dtype}) vs {dc} ({dpd[c].dtype})"
            )
    if problems:
        return problems
    # value parity, row-order-insensitive: sort both frames by the
    # normalized full-row string.
    def keyed(df):
        rows = [
            "|".join(_norm_cell(df[c].iloc[i]) for c in s_cols)
            for i in range(len(df))
        ]
        return sorted(rows)

    s_rows, d_rows = keyed(spd), keyed(dpd)
    if s_rows != d_rows:
        diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:2]
        problems.append(f"values differ, first diffs: {diff}")
    return problems


def sweep(spark, con, qs, oracles, names, sf_dir=SF_DIR):
    failures = {}
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            spd = qs[name](spark, sf_dir).toPandas()
            dpd = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001
            failures[name] = [f"error: {exc}"]
            continue
        probs = column_problems(spd, dpd)
        if probs:
            failures[name] = probs
    return failures


def main() -> int:
    import __spark_entry__ as entry_mod
    from nnanalytics_spark.session import get_spark

    only = sys.argv[1:]
    spark = get_spark("dtype-check")
    con = duckdb.connect()
    attach_views(con)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = only or list(qs)
    failures = sweep(spark, con, qs, oracles, names)
    for name, probs in failures.items():
        print(f"FAIL {name}")
        for p in probs:
            print(f"     {p}")
    print(f"{len(failures)} failures / {len(names)} checked")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
