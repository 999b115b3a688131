"""Self-test of the benchmark: every workload at a tiny size, both
modes, then two deliberately wrong oracles.

    python3 perfbench/selftest.py            # from the checkout root

Checks that each run exits 0 with a correct result line that carries
every metric named in BENCHMARK.json with its unit, and that a wrong
expected answer (a REST oracle off by one; an ingest checksum off by
one; a pipeline row's oracle replaced) turns the result incorrect and the exit code 1. Takes a few
minutes; it starts one Spark session per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, seed: int = 5) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "3", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().split("\n")
    try:
        return proc.returncode, json.loads(lines[-1])
    except (json.JSONDecodeError, IndexError):
        sys.stderr.write(proc.stderr[-4000:])
        return proc.returncode, None


def check_metrics() -> list[str]:
    spec = _spec()
    problems = []
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, result = _run(w["name"], trace)
            label = f"{w['name']} trace={trace}"
            if rc != 0 or result is None or not result["correct"]:
                problems.append(f"{label}: exit {rc}, result {result}")
                continue
            if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
                problems.append(f"{label}: malformed result {sorted(result)}")
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics {sorted(set(got) ^ set(want))} differ")
            bad = [k for k, v in result["metrics"].items() if not isinstance(v["value"], (int, float))]
            zero = [k for k in want if section == "end_to_end" and result["metrics"][k]["value"] == 0]
            if bad or zero:
                problems.append(f"{label}: non-numeric {bad}, zero end-to-end {zero}")
            print(f"ok  {label}: {result['attempted']} attempted", flush=True)
    return problems


#: workload → (module, attribute, falsifier): the oracle each wrong run replaces
WRONG = {
    "rest_point": ("serving", "_csv_last",
                   lambda real: lambda sql: real(f"SELECT ({sql}) + 1")),
    "ingest_tail": ("inputs", "expected_after",
                    lambda real: lambda totals, landed: {**real(totals, landed),
                                                         "count": real(totals, landed)["count"] + 1}),
    "pipeline_batch": ("__spark_entry__", "oracle_sql",
                       lambda real: lambda: {**real(), "ngram_jaccard_pairs": "SELECT 1 AS wrong"}),
}


def run_wrong(workload: str) -> int:
    """One run with a falsified oracle, in this process (``--wrong``)."""
    import importlib

    import common

    common.pin_environment()  # before anything imports the package's session defaults
    import run

    module_name, attr, falsify = WRONG[workload]
    module = importlib.import_module(module_name)
    setattr(module, attr, falsify(getattr(module, attr)))
    return run.main(["--workload", workload, "--seed", "6", "--seconds", "3", "--tiny"])


def check_wrong_oracles() -> list[str]:
    """Each workload with a falsified oracle, in a child process of its
    own (a process holds at most one Spark session); the run must fail."""
    problems = []
    for workload in WRONG:
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--wrong", workload],
                              cwd=ROOT, capture_output=True, text=True, timeout=300)
        try:
            result = json.loads(proc.stdout.strip().split("\n")[-1])
        except (json.JSONDecodeError, IndexError):
            result = None
        if proc.returncode != 1 or result is None or result["correct"] or result["failed"] < 1:
            problems.append(f"{workload}: a wrong oracle passed (exit {proc.returncode}, {result})")
        else:
            print(f"ok  {workload}: wrong oracle fails ({result['failed']} failed)", flush=True)
    return problems


def main() -> int:
    if sys.argv[1:2] == ["--wrong"]:
        return run_wrong(sys.argv[2])
    problems = check_metrics() + check_wrong_oracles()
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
