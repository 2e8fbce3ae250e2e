"""Manifest-level bloom filters for point-lookup file skipping
(`bloom.columns` table property): blooms prove ABSENCE for equality
predicates where min/max bounds are useless (interleaved layouts),
with zero false negatives by construction."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog


def _mk(spark, tmp_path, nfiles_per_commit=2):
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_table(
        "db", "t", "id bigint, name string",
        properties={"bloom.columns": "id,name"},
    )
    # two appends with INTERLEAVED ids, round-robin repartitioned so
    # every file's [min, max] spans ~the whole range — bounds pruning
    # alone keeps everything, only the bloom can skip
    even = spark.range(0, 200, 2).select(
        "id", F.concat(F.lit("u"), F.col("id")).alias("name")
    )
    odd = spark.range(1, 200, 2).select(
        "id", F.concat(F.lit("u"), F.col("id")).alias("name")
    )
    cat.write("db", "t", even.repartition(nfiles_per_commit))
    cat.write("db", "t", odd.repartition(nfiles_per_commit))
    return cat


def test_bloom_prunes_where_bounds_cannot(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    tbl = cat.table("db", "t")
    files = tbl.current_snapshot().files
    assert all(f.blooms and set(f.blooms) == {"id", "name"} for f in files)

    # bounds overlap across commits: a bounds-only plan keeps all
    # files for a mid-range point; the bloom rules out the files of
    # the other parity
    planned = tbl.plan_files([("id", "=", 4)])
    assert 0 < len(planned) < len(files)
    rows = tbl.read_where(spark, [("id", "=", 4)]).collect()
    assert [(r["id"], r["name"]) for r in rows] == [(4, "u4")]

    # string-typed probe works too
    planned_s = tbl.plan_files([("name", "=", "u7")])
    assert 0 < len(planned_s) < len(files)
    rows_s = tbl.read_where(spark, [("name", "=", "u7")]).collect()
    assert [(r["id"], r["name"]) for r in rows_s] == [(7, "u7")]


def test_bloom_never_false_negative(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    tbl = cat.table("db", "t")
    for v in range(0, 200, 17):  # sample across both parities
        rows = tbl.read_where(spark, [("id", "=", v)]).collect()
        assert [r["id"] for r in rows] == [v], f"lost id {v} to a bloom"


def test_bloom_survives_compaction(spark, tmp_path):
    cat = _mk(spark, tmp_path, nfiles_per_commit=4)
    cat.compact("db", "t", spark)
    tbl = cat.table("db", "t")
    files = tbl.current_snapshot().files
    assert files and all(f.blooms and "id" in f.blooms for f in files)
    rows = tbl.read_where(spark, [("id", "=", 42)]).collect()
    assert [r["id"] for r in rows] == [42]


def test_bloom_type_mismatch_is_skipped_not_wrong(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    tbl = cat.table("db", "t")
    def _mutate(fn):
        meta = tbl._load_meta()
        for s in meta["snapshots"]:
            for f in s["files"]:
                if f.get("blooms"):
                    fn(f)
            # in-place file edits must drop the load-time chunk refs
            # (the supported pattern is replace-not-mutate; this test
            # deliberately reaches inside)
            s.pop("files_ref", None)
            s.pop("_files_fp", None)
        tbl._save_meta(meta)

    # corrupt the stored type (simulating a type promotion the probe
    # must not hash under): the bloom must be SKIPPED — the plan falls
    # back to exactly what a bounds-only (no-bloom) plan keeps
    _mutate(lambda f: f["blooms"]["id"].__setitem__("type", "int"))
    planned_skipped = {f.path for f in tbl.plan_files([("id", "=", 4)])}
    rows = tbl.read_where(spark, [("id", "=", 4)]).collect()
    assert [r["id"] for r in rows] == [4]
    _mutate(lambda f: f.__setitem__("blooms", None))
    planned_none = {f.path for f in tbl.plan_files([("id", "=", 4)])}
    assert planned_skipped == planned_none and planned_skipped


def test_no_bloom_property_means_no_blooms(spark, tmp_path):
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.write("db", "plain", spark.range(0, 10).select("id"))
    files = cat.table("db", "plain").current_snapshot().files
    assert all(f.blooms is None for f in files)


def test_bloom_int_column_parity_and_partition_exclusion(spark, tmp_path):
    from pyspark.sql import functions as F2

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_table(
        "db", "t", "id int, grp string, name string",
        partition_by=["grp"],
        properties={"bloom.columns": "id,grp"},
    )
    df = spark.range(0, 100).select(
        F2.col("id").cast("int"),
        F2.concat(F2.lit("g"), F2.pmod("id", F2.lit(3))).alias("grp"),
        F2.concat(F2.lit("n"), F2.col("id")).alias("name"),
    )
    cat.write("db", "t", df.repartition(2))
    tbl = cat.table("db", "t")
    files = tbl.current_snapshot().files
    # identity-partition source excluded; int column bloom present
    assert all(f.blooms and set(f.blooms) == {"id"} for f in files)
    assert all(f.blooms["id"]["type"] == "int" for f in files)
    # int-typed probe parity: never a false negative across all values
    for v in range(0, 100, 13):
        rows = tbl.read_where(spark, [("id", "=", v)]).collect()
        assert [r["id"] for r in rows] == [v]


def test_scan_report_names_pruning_reasons(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    tbl = cat.table("db", "t")
    rep = {r["file_path"]: r for r in tbl.scan_report(
        spark, [("id", "=", 4)]
    ).collect()}
    assert len(rep) == len(tbl.current_snapshot().files)
    decisions = {r["decision"] for r in rep.values()}
    assert decisions == {"read", "skipped"}
    reasons = {r["reason"] for r in rep.values() if r["decision"] == "skipped"}
    assert reasons <= {"bloom:id", "bounds:id"} and reasons
    # the report's read-set is exactly what plan_files keeps
    kept = {f.path for f in tbl.plan_files([("id", "=", 4)])}
    assert {p for p, r in rep.items() if r["decision"] == "read"} == kept
    # out-of-range predicate: everything skipped by bounds
    rep2 = tbl.scan_report(spark, [("id", "=", 10_000)]).collect()
    assert all(r["decision"] == "skipped" for r in rep2)
    assert {r["reason"] for r in rep2} == {"bounds:id"}


def test_plan_files_hashes_each_point_literal_once(spark, tmp_path, monkeypatch):
    """The literal's xxhash64 does not depend on the file: one point
    predicate on a bloom-and-bucket table hashes once, however many
    files the planner probes."""
    from apache_iceberg_tables_migration_tool_spark.functions import xxh64

    cat = SnapCatalog(str(tmp_path / "whh"))
    cat.create_table(
        "db", "b", "id bigint, v bigint", partition_by=["bucket(4, id)"],
        properties={"bloom.columns": "id"},
    )
    cat.write("db", "b", spark.range(0, 400).select(
        "id", (F.col("id") * 3).alias("v")).repartition(8))
    tbl = cat.table("db", "b")
    files = tbl.current_snapshot().files
    assert len(files) >= 20 and all(f.blooms for f in files)
    calls = []
    real = xxh64.spark_xxhash64

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(xxh64, "spark_xxhash64", counting)
    kept = tbl.plan_files([("id", "=", 17)])
    assert len(calls) == 1
    assert 0 < len(kept) < len(files)
    bucket = xxh64.xxh64_long(17) % 4
    assert all(f"id_bucket={bucket}" in f.path for f in kept)


def test_plan_files_dist_many_files_synthetic(spark, tmp_path):
    """Planning at ≥10⁴ files: fabricate a 10,000-file manifest
    (planning touches only metadata, no data files needed) and check
    the planner keeps exactly the files the range spans."""
    import time

    cat = SnapCatalog(str(tmp_path / "whm"))
    cat.create_table("db", "m", "id bigint, v bigint")
    cat.write("db", "m", spark.range(0, 10).select("id", F.col("id").alias("v")))
    tbl = cat.table("db", "m")
    meta = tbl._load_meta()
    snap = meta["snapshots"][-1]
    tmpl = snap["files"][0]
    files = []
    for i in range(10_000):
        f = dict(tmpl)
        f["path"] = f"data/{snap['snapshot_id']:08d}/part-{i:05d}.parquet"
        f["stats"] = {"id": [i * 100, i * 100 + 99], "v": [0, 10**9]}
        files.append(f)
    snap["files"] = files
    tbl._save_meta(meta)

    preds = [("id", ">=", 500_000), ("id", "<", 500_300)]
    t0 = time.monotonic()
    drv = {f.path for f in tbl.plan_files(preds)}
    t_drv = time.monotonic() - t0
    assert len(drv) == 3  # 500_000..500_299 spans files 5000..5002
    print(f"plan 10k files: {t_drv:.3f}s")
