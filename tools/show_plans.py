"""Dump formatted physical plans of the bench headline queries to
PLANS.md, so plan quality (pushdown, broadcast choice, shuffle count,
codegen coverage) can be reviewed without launching Spark.

    python tools/show_plans.py [sf_dir]

The output is host-independent, so it diffs against the committed file
on any machine: the session is pinned to the committed file's
parallelism (``local[32]``, 32 shuffle partitions) and the streaming
rows' random temp-directory locations become a placeholder.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# read by nnanalytics_spark.session at import: local[32], 32 shuffle partitions
os.environ["SPARK_GRAFT_CPUS"] = "32"

import __spark_entry__ as entry_mod
from bench import HEADLINE, _native_twins
from nnanalytics_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans")
    queries = {**entry_mod.queries(), **_native_twins()}
    out = [
        "# PLANS — formatted physical plans of the bench headline queries",
        "",
        f"Generated by `python tools/show_plans.py {sf_dir}`. Things to read",
        "for: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` vs `SortMergeJoin` (dims must broadcast),",
        "`Exchange` count (shuffles), and `WholeStageCodegen` spans.",
        "",
    ]
    from nnanalytics_spark.core.planlint import lint

    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # strip the per-run parquet task noise for stable diffs
        plan = re.sub(r"file:[^,\]\s]+", "file:<sf_dir>", plan)
        plan = re.sub(r"MetadataLogFileIndex \[[^\]]*\]", "MetadataLogFileIndex [<tmp_dir>]", plan)
        n_exchanges = plan.count("Exchange")
        flagged = sorted(
            {f.rule for f in lint(df) if f.severity in ("error", "warn")}
        )
        tag = f"  (lint: {', '.join(flagged)})" if flagged else ""
        out += [
            f"## {name}  (exchanges: {n_exchanges}){tag}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
