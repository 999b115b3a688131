"""Dump the formatted physical plan of named bench queries to
plans/r<round>/<query>_<tag>.txt — the before/after evidence files for
optimization rounds.

    python tools/dump_plan.py <tag> name1 [name2 ...]
    python tools/dump_plan.py --round r09 before simhash_blocks

Plans are captured at sf0.001 (plan shape is sf-independent; AQE
runtime re-planning is not captured either way) with the same parquet
path scrubbing as tools/show_plans.py so diffs are stable.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from bench import _native_twins
from nnanalytics_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    rnd = "r09"
    if args and args[0] == "--round":
        rnd = args[1]
        args = args[2:]
    tag, names = args[0], args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plan")
    queries = {**entry_mod.queries(), **_native_twins()}
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        plan = re.sub(r"file:[^,\]\s]+", "file:<sf_dir>", plan)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — {tag} (captured at {sf_dir})\n\n{plan}\n")
        print(f"wrote {path}  (exchanges: {plan.count('Exchange')})")


if __name__ == "__main__":
    main()
