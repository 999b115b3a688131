"""Seeded input generation, cached per (workload, seed) under
``.perfbench/cache`` and kept out of every timed region.

The program only ever sees the files written here:

- ``namespace``: the synthetic inode table of ``inode.fixture``
  (``generate(seed=…)``), written by ``sources.layout.write_inode_table``.
- ``fsimage``: a binary protobuf fsimage from
  ``sources.fsimage.write_fsimage_binary`` (the ``sources.oivgen``
  closed-form namespace).
- ``tables``: the tables the pipeline rows read, in the shape of
  TESTDATA.md (TPC-H-like, events, documents, embeddings).
- ``changelog``: seeded change-log segments for the tailer (adds of new
  ids, deletes of existing ids).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from common import CACHE, ROOT

#: bump when a generator changes, so stale cache entries are not reused
VERSION = 2


def _cached(kind: str, seed: int, params: dict, build) -> tuple[str, dict]:
    """Return (dir, sizes) for one input, building it on first use."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    out = os.path.join(CACHE, f"{kind}-v{VERSION}-s{seed}-{tag}")
    meta = os.path.join(out, "SIZES.json")
    if os.path.isfile(meta):
        with open(meta) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes = build(tmp, seed, **params)
    sizes["bytes_on_disk"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tmp) for f in fs
    )
    with open(os.path.join(tmp, "SIZES.json"), "w") as fh:
        json.dump(sizes, fh)
    os.rename(tmp, out)
    return out, sizes


# ------------------------------------------------------------- namespace
def _build_namespace(out: str, seed: int, levels: int, dirs: int, files: int) -> dict:
    """Written by the package's own ``write_inode_table`` in a child
    process with a short-lived Spark session, so the benchmark serves
    exactly the layout the program writes and no JVM outlives the
    generation."""
    import subprocess
    import sys

    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "namespace", out, str(seed), str(levels), str(dirs), str(files)],
        check=True, cwd=ROOT, stdout=subprocess.DEVNULL,
    )
    with open(os.path.join(out, "COUNTS.json")) as fh:
        return json.load(fh)


def _write_namespace(out: str, seed: int, levels: int, dirs: int, files: int) -> None:
    from common import pin_environment, stop_spark

    pin_environment()
    from nnanalytics_spark.inode.fixture import generate
    from nnanalytics_spark.session import get_spark
    from nnanalytics_spark.sources.layout import write_inode_table

    path = os.path.join(out, "inodes")
    spark = get_spark("perfbench-inputs")
    try:
        inodes = generate(spark, levels=levels, dirs_per_level=dirs, files_per_dir=files, seed=seed)
        write_inode_table(inodes, path)
        counts = dict(spark.read.parquet(path).groupBy("type").count().collect())
    finally:
        stop_spark(spark)
    with open(os.path.join(out, "COUNTS.json"), "w") as fh:
        json.dump({"inodes": sum(counts.values()), "files": counts.get("file", 0),
                   "dirs": counts.get("dir", 0)}, fh)


def namespace(levels: int, dirs: int, files: int) -> tuple[str, dict]:
    """One namespace per scale (generated with seed 0): writing one costs
    a Spark session and about 30 s on a 4-core host, more than a run's
    budget allows; requests and segments follow the run's seed."""
    params = {"levels": levels, "dirs": dirs, "files": files}
    out, sizes = _cached("namespace", 0, params, _build_namespace)
    return os.path.join(out, "inodes"), sizes


# --------------------------------------------------------------- fsimage
def _build_fsimage(out: str, seed: int, dirs: int, files: int) -> dict:
    from nnanalytics_spark.sources.fsimage import write_fsimage_binary

    write_fsimage_binary(out, n_dirs=dirs, files_per_dir=files)
    return {"inodes": 1 + dirs + dirs * files, "n_dirs": dirs, "files_per_dir": files}


def fsimage(dirs: int, files: int) -> tuple[str, dict]:
    """The closed form has no random part, so one image serves every
    seed (the seed picks the requests sent to it)."""
    out, sizes = _cached("fsimage", 0, {"dirs": dirs, "files": files}, _build_fsimage)
    return os.path.join(out, "fsimage_0000000000000000001"), sizes


# ---------------------------------------------------------------- tables
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()


def _build_tables(out: str, seed: int, sf: float) -> dict:
    """The tables the pipeline rows read, drawn from the seed: one
    parquet per table, with the schema, row counts and value ranges of
    the repository's test tables (TESTDATA.md) at scale factor ``sf``."""
    import pandas as pd

    rng = np.random.default_rng(seed + 3301)
    n = lambda base: max(1, int(round(base * sf / 0.001)))  # noqa: E731
    n_cust, n_supp, n_part, n_ord = n(150), n(10), n(200), n(1500)
    money = lambda lo, hi, size: np.round(rng.uniform(lo, hi, size), 2)  # noqa: E731
    days = lambda lo, size: (np.datetime64(lo, "us")  # noqa: E731
                             + rng.integers(0, 2400, size).astype("timedelta64[D]"))
    frames = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 400000, n_ord),
            "o_orderdate": days("1995-01-01", n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
    }
    adj, noun = ["blue", "cold", "hot", "large", "new", "old", "small"], ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    frames["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 1),
    })
    lines_per = rng.integers(1, 8, n_ord)
    n_line = int(lines_per.sum())
    qty = rng.integers(1, 51, n_line).astype(float)
    frames["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines_per),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", n_line),
    })
    n_ev = n(1000)
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    frames["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0.01, 330, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = n(500)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # a near-duplicate of an earlier document
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(5, 101))))
        texts.append(" ".join(words))
    frames["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vectors = rng.normal(size=(n_doc, 64)).astype(np.float32)
    vectors /= np.linalg.norm(vectors, axis=1, keepdims=True)
    frames["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(vectors),
        "label": rng.integers(0, 10, n_doc).astype(np.int32),
    })
    for name, frame in frames.items():
        frame.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    return {name: len(frame) for name, frame in frames.items()}


def tables(seed: int, sf: float) -> tuple[str, dict]:
    return _cached("tables", seed, {"sf": sf}, _build_tables)


# ------------------------------------------------------------- changelog
def changelog_segments(seed: int, base_dir: str, n_segments: int, adds: int, deletes: int):
    """Seeded change-log segments over a base namespace.

    Returns (segments, totals): each segment a pandas frame in the
    stored schema plus ``op``; totals holds the base's row count and id /
    fileSize checksums, which ``expected_after`` advances."""
    import pandas as pd

    base = pd.read_parquet(base_dir)
    rng = np.random.default_rng(seed + 7919)
    files = base[base["type"] == "file"]
    victims = rng.choice(files["id"].to_numpy(), size=n_segments * deletes, replace=False)
    leaves = files["parent"].unique()
    next_id = int(base["id"].max()) + 1
    template = files.iloc[0]
    segments = []
    for s in range(n_segments):
        ids = np.arange(next_id, next_id + adds, dtype=np.int64)
        next_id += adds
        parents = rng.choice(leaves, size=adds)
        names = [f"seg{s}_{k}.log" for k in range(adds)]
        add = pd.DataFrame({
            "id": ids,
            "type": "file",
            "path": [f"{p}/{n}" for p, n in zip(parents, names)],
            "name": names,
            "parent": parents,
            "user": rng.choice(np.array(["hdfs", "etl", "web"]), size=adds),
            "group": "hdfs",
            "permission": np.int32(0o644),
            "accessTime": np.int64(template["accessTime"]),
            "modTime": np.int64(template["modTime"]),
            "fileSize": rng.integers(0, 1 << 30, size=adds, dtype=np.int64),
            "blockSize": np.int64(134_217_728),
            "numBlocks": np.int32(1),
            "fileReplica": np.int32(3),
            "storagePolicyId": np.int32(7),
            "nsQuota": np.int64(-1),
            "dsQuota": np.int64(-1),
            "nsQuotaUsed": np.int64(0),
            "dsQuotaUsed": np.int64(0),
            "isUnderConstruction": False,
            "isWithSnapshot": False,
            "hasAcl": False,
            "hasEcPolicy": False,
            "dirNumChildren": np.int32(0),
            "op": "add",
        })
        gone = base[base["id"].isin(victims[s * deletes:(s + 1) * deletes])].copy()
        gone["type"] = gone["type"].astype(str)
        gone["op"] = "delete"
        segments.append(pd.concat([add, gone[add.columns]], ignore_index=True))
    totals = {
        "count": len(base),
        "files": int((base["type"] == "file").sum()),
        "sum_id": int(base["id"].sum()),
        "sum_fileSize": int(base["fileSize"].sum()),
    }
    return segments, totals


def expected_after(totals: dict, landed: list) -> dict:
    """Snapshot totals once the ``landed`` segments are folded:
    base + adds − deletes (deletes are distinct existing file ids)."""
    out = dict(totals)
    for seg in landed:
        sign = np.where(seg["op"] == "add", 1, -1)
        out["count"] += int(sign.sum())
        out["files"] += int(sign.sum())
        out["sum_id"] += int((sign * seg["id"]).sum())
        out["sum_fileSize"] += int((sign * seg["fileSize"]).sum())
    return out


if __name__ == "__main__":
    import sys

    if sys.argv[1] != "namespace":
        raise SystemExit(f"unknown input kind {sys.argv[1]!r}")
    _write_namespace(sys.argv[2], *map(int, sys.argv[3:7]))
