"""Degenerate-input sweep: run every registry query against EMPTY,
SINGLE-ROW, and NULL-INJECTED versions of the test tables.

At 100 TB the degenerate case is routine, not exotic: a daily delta can
be empty, a filter chain can annihilate a partition, a tenant can have
one document, and a real corpus ALWAYS carries NULL text/embeddings
the synthetic tables never exercise. An operator that crashes there
(instead of returning an empty frame, NULL metrics, or dropping the
non-participating rows per its documented contract) kills the whole
job at scale. This probe catalogs exactly those classes — the
sparse-id centroid crash fixed in r9 was one instance; this sweeps the
remaining 330 for siblings.

Usage:
    python tools/make_degenerate.py     # writes /tmp/sf_{empty,one,nulls}
    python tools/degenerate_probe.py empty     # sweep vs 0-row tables
    python tools/degenerate_probe.py one       # sweep vs 1-row tables
    python tools/degenerate_probe.py nulls     # sweep vs NULL-injected tables
    python tools/degenerate_probe.py empty q1 q2 ...   # subset

Output: one line per query — OK <rows>, or FAIL <exception head> — and
a summary count. OK means "returned a DataFrame and collected without
error"; the VALUE of a degenerate result (NULL metrics, empty frame) is
each operator's documented contract, checked by unit tests, not here.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DIRS = {"empty": "/tmp/sf_empty", "one": "/tmp/sf_one", "nulls": "/tmp/sf_nulls"}


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "empty"
    sf_dir = DIRS[mode]
    only = set(sys.argv[2:])

    from nnanalytics_spark.session import get_spark

    spark = get_spark(f"degenerate-{mode}")
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    queries = mod.queries()

    ok, fails = 0, []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            rows = fn(spark, sf_dir).collect()
            print(f"OK    {name}: {len(rows)} rows", flush=True)
            ok += 1
        except Exception as e:
            head = traceback.format_exception_only(type(e), e)[-1].strip()
            # Py4J wraps the real error; pull the first java/py line
            msg = str(e).split("\n")[0][:160] or head[:160]
            print(f"FAIL  {name}: {msg}", flush=True)
            fails.append((name, msg))
    print(f"\n{mode}: {ok} ok / {len(fails)} fail", flush=True)
    for name, msg in fails:
        print(f"  {name}: {msg[:120]}")


if __name__ == "__main__":
    main()
