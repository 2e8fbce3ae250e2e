"""Scaling benchmark of the manifest scan planner.

Fabricates metadata-only tables of 10⁴, 10⁵ and 10⁶ data files (the
manifest entries are written directly; no data is generated) and
times ``SnapTable.plan_files`` and ``SnapTable.read_where(...).collect()``
for one point predicate that keeps exactly one file. Two manifest
kinds:

- ``stats``: every file has disjoint ``id`` bounds, so min/max bounds
  prune all files but one;
- ``bloom``: every file's ``id`` bounds span the whole key range and
  carry an ``id`` bloom filter, so only the bloom probe prunes.

One real parquet file (written through the catalog) is copied to the
path of the kept file, so ``read_where`` scans it end to end and must
return exactly the probed row. Each cell is the median of 3 runs, with
the manifest-chunk cache cleared before each run (a cold metadata
read: parse plus plan). Everything lives in a temporary directory that
is removed at exit.

Usage: python scripts/bench_planner.py [sizes ...] [--bloom-max N]

``sizes`` default to 10000 100000 1000000; the bloom kind runs only
for sizes up to ``--bloom-max`` (default 100000: a 10⁶-file bloom
manifest is ~2 GB of JSON).
"""

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from apache_iceberg_tables_migration_tool_spark.functions.xxh64 import (  # noqa: E402
    spark_xxhash64,
)
from apache_iceberg_tables_migration_tool_spark.session import get_spark  # noqa: E402
from apache_iceberg_tables_migration_tool_spark.sources import snapcat as sc  # noqa: E402

ROWS_PER_FILE = 100
REPS = 3
N_BLOOM_TEMPLATES = 16


def bloom_hex(values) -> str:
    bits = bytearray(sc._BLOOM_M // 8)
    for v in values:
        for p in sc._bloom_positions(spark_xxhash64(v, "bigint")):
            bits[p // 8] |= 1 << (p % 8)
    return bits.hex()


def absent(bits_hex: str, v: int) -> bool:
    bits = bytes.fromhex(bits_hex)
    return any(
        not (bits[p // 8] >> (p % 8)) & 1
        for p in sc._bloom_positions(spark_xxhash64(v, "bigint"))
    )


def build(spark, root: str, n: int, kind: str):
    """A table whose current snapshot lists ``n`` fabricated files;
    file ``n // 2`` is a copy of a real parquet file holding the probed
    key. Returns (table, probed key)."""
    cat = sc.SnapCatalog(os.path.join(root, f"{kind}_{n}"))
    kept = n // 2
    lo = kept * ROWS_PER_FILE
    cat.create_table("db", "m", "id bigint, v bigint",
                     properties={"bloom.columns": "id"})
    cat.write("db", "m", spark.range(lo, lo + ROWS_PER_FILE, 1, 1).select(
        "id", (F.col("id") * 3).alias("v")))
    tbl = cat.table("db", "m")
    meta = tbl._load_meta()
    snap = meta["snapshots"][-1]
    real = snap["files"][0]
    key = lo + 7
    commit_dir = real["path"].rsplit("/", 1)[0]
    templates = []
    if kind == "bloom":
        for t in range(N_BLOOM_TEMPLATES):
            bits = bloom_hex(range(-(t + 1) * 10**6, -(t + 1) * 10**6 + ROWS_PER_FILE))
            if absent(bits, key):
                templates.append({"id": {**real["blooms"]["id"], "bits": bits}})
    files = []
    for i in range(n):
        f = dict(real)
        f["path"] = f"{commit_dir}/part-{i:07d}.parquet"
        if kind == "stats":
            f["stats"] = {"id": [i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE - 1]}
            f["blooms"] = None
        else:
            f["stats"] = {"id": [0, n * ROWS_PER_FILE]}
            f["blooms"] = real["blooms"] if i == kept else templates[i % len(templates)]
        files.append(f)
    shutil.copyfile(os.path.join(tbl.root, real["path"]),
                    os.path.join(tbl.root, files[kept]["path"]))
    snap["files"] = files
    tbl._save_meta(meta)
    return cat.table("db", "m"), key


def median_s(fn) -> float:
    times = []
    for _ in range(REPS):
        sc._CHUNK_CACHE.clear()
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sizes", nargs="*", type=int,
                    default=[10_000, 100_000, 1_000_000])
    ap.add_argument("--bloom-max", type=int, default=100_000)
    args = ap.parse_args()
    spark = get_spark(
        "bench-planner", master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.showConsoleProgress": "false",
            # a 10⁵-file bloom manifest chunk is one ~200 MB JSON line;
            # leave the JVM room should any reader load it as text
            "spark.driver.memory": "4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bench_planner_")
    print("| files | kind | plan_files s | read_where s |")
    print("|---:|---|---:|---:|")
    try:
        for n in args.sizes:
            for kind in ("stats", "bloom"):
                if kind == "bloom" and n > args.bloom_max:
                    continue
                tbl, key = build(spark, root, n, kind)
                preds = [("id", "=", key)]
                planned = tbl.plan_files(preds)
                assert len(planned) == 1, len(planned)
                rows = tbl.read_where(spark, preds).collect()
                assert [r["id"] for r in rows] == [key], rows
                plan_s = median_s(lambda: tbl.plan_files(preds))
                read_s = median_s(lambda: tbl.read_where(spark, preds).collect())
                print(f"| {n:,} | {kind} | {plan_s:.2f} | {read_s:.2f} |",
                      flush=True)
                shutil.rmtree(tbl.root, ignore_errors=True)
                sc._CHUNK_CACHE.clear()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
