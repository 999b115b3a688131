"""Local approximation of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 on Spark AND the
matching oracle_sql() on DuckDB, then compares row count, column names,
and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [query_name ...]

The comparison core (`attach_views`, `compare_one`) is importable —
tests/test_oracle_battery.py runs the same loop under pytest so queries
rotated past the driver's 50-row window keep an automated guard.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(value):
    """STRICT normalization: floats use full shortest-repr (bit-exact),
    and type is encoded so Decimal('0.5') never equals 0.5.

    CORRECTNESS_r04 proved the driver's hash is stricter than a
    6-decimal format: 12 rows that were 6dp-equal locally hash-failed
    there. Match the worst case — values must be bit/type-identical.
    """
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return str(bool(value)).lower()
    if isinstance(value, float):
        return repr(value) if value == value else "NaN"
    import decimal

    if isinstance(value, decimal.Decimal):
        return f"dec:{value}"
    return str(value)


def table_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def attach_views(con, sf_dir: str = SF_DIR) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def compare_one(spark, con, name: str, fn, oracle: str | None, sf_dir: str = SF_DIR):
    """Run one queries() entry against its oracle. Returns (status,
    detail): status is 'ok' | 'rows' (no oracle — row count only) |
    'fail'."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001 — report, don't crash the loop
        return "fail", f"spark error: {exc}"
    if oracle is None:
        return "rows", f"{len(s_rows)} rows (no oracle)"
    try:
        res = con.execute(oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as exc:  # noqa: BLE001
        return "fail", f"duckdb error: {exc}"
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema {sorted(s_cols)} vs {sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
    if not problems and table_hash(s_cols, s_rows) != table_hash(d_cols, d_rows):
        problems.append("value hash mismatch")
        s_set = {tuple(normalize(v) for v in r) for r in s_rows}
        d_set = {tuple(normalize(v) for v in r) for r in d_rows}
        extra_s = list(s_set - d_set)[:3]
        extra_d = list(d_set - s_set)[:3]
        if extra_s:
            problems.append(f"spark-only: {extra_s}")
        if extra_d:
            problems.append(f"duckdb-only: {extra_d}")
    if problems:
        return "fail", "; ".join(str(p) for p in problems)
    return "ok", f"{len(s_rows)} rows"


def main() -> int:
    import __spark_entry__ as entry_mod
    from nnanalytics_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    attach_views(con)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        status, detail = compare_one(spark, con, name, fn, oracles.get(name))
        label = {"ok": "OK   ", "rows": "ROWS ", "fail": "FAIL "}[status]
        print(f"{label} {name}: {detail}")
        failures += status == "fail"
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
