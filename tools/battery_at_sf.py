"""Run the full oracle battery at an arbitrary scale factor.

    python tools/battery_at_sf.py [sf_dir]

Same comparison as the sf0.01 pytest battery (row count + column names +
order-insensitive value hash via tools/check_oracle.compare_one), pointed
at a different parquet dir — the end-of-round validation that the gate's
green rows hold at 10x the gate's scale.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from nnanalytics_spark.session import get_spark
from tools.check_oracle import attach_views, compare_one


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("battery")
    con = duckdb.connect()
    attach_views(con, sf_dir)
    qs, oracles = entry.queries(), entry.oracle_sql()
    ok = fails = 0
    for name, fn in qs.items():
        status, detail = compare_one(spark, con, name, fn, oracles.get(name), sf_dir)
        if status == "fail":
            fails += 1
            print(f"FAIL  {name}: {detail[:300]}", flush=True)
        else:
            ok += 1
    print(f"battery@{sf_dir}: {ok} ok, {fails} fail / {len(qs)} total", flush=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
