"""Snapshot-catalog semantics: commits, time travel, metadata tables,
schema-at-snapshot, maintenance, partition pruning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
    SnapCatalog,
    schema_to_ddl,
)

T = [f"2024-01-0{i}T00:00:00.000000+00:00" for i in range(1, 8)]


@pytest.fixture()
def cat(tmp_path):
    return SnapCatalog(str(tmp_path / "wh"))


def test_append_creates_snapshot_history(spark, cat):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    cat.write("db", "t", df, committed_at=T[0])
    cat.write("db", "t", df, committed_at=T[1])
    snaps = cat.table("db", "t").snapshots()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert [s.operation for s in snaps] == ["append", "append"]
    assert snaps[0].total_records == 10
    assert snaps[1].total_records == 20
    assert snaps[1].parent_id == 1
    assert snaps[1].summary["added-records"] == "10"


def test_time_travel_by_id_and_timestamp(spark, cat):
    for i in range(3):
        cat.write("db", "t", spark.range(i * 10, (i + 1) * 10), committed_at=T[i])
    tbl = cat.table("db", "t")
    assert tbl.read(spark, snapshot_id=1).count() == 10
    assert tbl.read(spark, snapshot_id=2).count() == 20
    assert tbl.read(spark).count() == 30
    # as-of between commit 2 and 3 → snapshot 2 (latest ≤ T)
    assert tbl.read(spark, as_of="2024-01-02T12:00:00+00:00").count() == 20
    with pytest.raises(LookupError):
        tbl.resolve_snapshot(as_of="2023-12-31T00:00:00+00:00")
    with pytest.raises(LookupError):
        tbl.resolve_snapshot(snapshot_id=99)


def test_overwrite_replaces_files(spark, cat):
    cat.write("db", "t", spark.range(100), committed_at=T[0])
    cat.write("db", "t", spark.range(5), mode="overwrite", committed_at=T[1])
    tbl = cat.table("db", "t")
    assert tbl.read(spark).count() == 5
    assert tbl.read(spark, snapshot_id=1).count() == 100  # history preserved (G4 fix)
    assert [s.operation for s in tbl.snapshots()] == ["append", "overwrite"]


def test_metadata_tables(spark, cat):
    cat.write("db", "t", spark.range(10), committed_at=T[0])
    cat.write("db", "t", spark.range(10), committed_at=T[1])
    tbl = cat.table("db", "t")
    sdf = tbl.snapshots_df(spark)
    assert sdf.count() == 2
    assert {r["operation"] for r in sdf.collect()} == {"append"}
    fdf = tbl.files_df(spark)
    rows = fdf.collect()
    assert sum(r["record_count"] for r in rows) == 20
    assert all(r["file_path"].startswith("data/s") for r in rows)
    assert tbl.history_df(spark).columns == [
        "committed_at", "snapshot_id", "parent_id", "operation"
    ]


def test_partitioned_write_roundtrip_and_pruning(spark, cat):
    df = spark.range(100).withColumn("p", F.pmod("id", F.lit(4)).cast("int"))
    cat.write("db", "t", df, partition_by=["p"], committed_at=T[0])
    cat.write("db", "t", df, committed_at=T[1])  # spec inherited
    tbl = cat.table("db", "t")
    assert tbl.partition_spec() == ["p"]
    out = tbl.read(spark)
    assert out.count() == 200
    assert set(out.columns) == {"id", "p"}
    pruned = out.where(F.col("p") == 1)
    assert pruned.count() == 50
    # partition pruning: physical plan must not list p=2 directories
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "p=2" not in plan


def test_schema_at_snapshot(spark, cat):
    cat.write("db", "t", spark.range(5).withColumn("a", F.lit(1)), committed_at=T[0])
    cat.write(
        "db", "t",
        spark.range(5).withColumn("a", F.lit(1)).withColumn("b", F.lit("x")),
        mode="overwrite", committed_at=T[1],
    )
    tbl = cat.table("db", "t")
    assert [f.name for f in tbl.schema(snapshot_id=1).fields] == ["id", "a"]
    assert [f.name for f in tbl.schema().fields] == ["id", "a", "b"]


def test_expire_snapshots_removes_orphan_files(spark, cat):
    for i in range(3):
        cat.write("db", "t", spark.range(10), committed_at=T[i])
    cat.write("db", "t", spark.range(7), mode="overwrite", committed_at=T[3])
    tbl = cat.table("db", "t")
    expired = cat.expire_snapshots("db", "t", keep_last=1)
    assert expired == [1, 2, 3]
    assert [s.snapshot_id for s in tbl.snapshots()] == [4]
    assert tbl.read(spark).count() == 7
    # orphaned commit dirs from snapshots 1-3 are gone
    live_files = {f.path for f in tbl.current_snapshot().files}
    on_disk = {
        os.path.relpath(os.path.join(dp, fn), tbl.root)
        for dp, _d, fns in os.walk(os.path.join(tbl.root, "data"))
        for fn in fns if fn.endswith(".parquet")
    }
    assert on_disk == live_files


def test_compact_preserves_data(spark, cat):
    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    for i in range(3):
        cat.write("db", "t", df.where(F.pmod("id", F.lit(3)) == i), committed_at=T[i])
    tbl = cat.table("db", "t")
    n_files_before = len(tbl.current_snapshot().files)
    snap = cat.compact("db", "t", spark, target_partitions=2)
    assert snap.operation == "replace"
    assert snap.total_records == 1000
    assert len(snap.files) <= max(2, n_files_before)
    assert tbl.read(spark).count() == 1000


def test_ddl_roundtrip_nested_types(spark):
    # G1 regression: simpleString round-trips nested types
    df = spark.range(1).select(
        F.col("id"),
        F.struct(F.lit(1).alias("a"), F.lit("x").alias("b")).alias("s"),
        F.array(F.lit(1.5)).alias("arr"),
        F.create_map(F.lit("k"), F.lit(2.0)).alias("m"),
        F.lit(b"abc").alias("bin"),
        F.lit("1.23").cast("decimal(12,2)").alias("d"),
    )
    ddl = schema_to_ddl(df.schema)
    from pyspark.sql import types as Ty

    parsed = Ty._parse_datatype_string(ddl)
    # nullability is not part of the DDL contract — compare name/type
    assert [(f.name, f.dataType.simpleString()) for f in parsed.fields] == [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ]
    assert "struct<a:int,b:string>" in ddl
    assert "decimal(12,2)" in ddl


def test_iceberg_adapter_gates_cleanly(spark):
    """No Iceberg runtime in this container: availability probe says
    so and the adapter refuses construction with a clear message."""
    import pytest

    from apache_iceberg_tables_migration_tool_spark.sources.iceberg_real import (
        IcebergCatalog,
        iceberg_available,
    )

    if iceberg_available(spark):  # pragma: no cover - prod cluster path
        pytest.skip("Iceberg runtime present; adapter is live")
    with pytest.raises(RuntimeError, match="classpath"):
        IcebergCatalog(spark, "prod")


def _rows(tbl, spark):
    return {(r["id"], r["v"]) for r in tbl.read(spark).collect()}


def test_upsert_updates_and_inserts(spark, cat):
    base = spark.range(10).withColumn("v", F.lit("old"))
    cat.write("db", "u", base.repartition(4), committed_at=T[0])
    updates = spark.createDataFrame([(3, "new"), (7, "new"), (100, "new")], "id long, v string")
    snap = cat.upsert("db", "u", updates, key_cols=["id"], committed_at=T[1])
    tbl = cat.table("db", "u")
    got = _rows(tbl, spark)
    assert (3, "new") in got and (7, "new") in got and (100, "new") in got
    assert (3, "old") not in got and (0, "old") in got
    assert tbl.read(spark).count() == 11
    assert snap.operation == "merge"
    # time travel: pre-merge state intact
    assert _rows_at(tbl, spark, 1) == {(i, "old") for i in range(10)}


def _rows_at(tbl, spark, sid):
    return {(r["id"], r["v"]) for r in tbl.read(spark, snapshot_id=sid).collect()}


def test_truncate_table_metadata_only(spark, cat):
    import pytest

    base = spark.range(8).withColumn("v", F.lit("x"))
    cat.write("db", "tr", base.repartition(3), committed_at=T[0])
    pre = cat.table("db", "tr").current_snapshot()
    snap = cat.truncate_table("db", "tr", committed_at=T[1])
    tbl = cat.table("db", "tr")
    assert tbl.read(spark).count() == 0
    assert snap.operation == "delete"
    assert snap.files == [] and snap.delete_files == []
    assert snap.summary["truncated"] == "true"
    assert snap.summary["removed-data-files"] == str(len(pre.files))
    # metadata-only: no new data or delete files written anywhere
    # history preserved: pre-truncate snapshot still reads all rows
    assert tbl.read(spark, snapshot_id=pre.snapshot_id).count() == 8
    # appending after a truncate starts from empty
    cat.write("db", "tr", spark.range(2).withColumn("v", F.lit("y")))
    assert tbl.read(spark).count() == 2
    with pytest.raises(LookupError, match="does not exist"):
        cat.truncate_table("db", "missing")
    # on a MOR table with live position deletes, removed-records counts
    # LIVE rows (data-file records minus position-delete rows), not the
    # file-level record sum
    cat.write("db", "tr2", spark.range(10).withColumn("v", F.lit("x")),
              committed_at=T[0])
    cat.delete_where("db", "tr2", "id < 3", mode="merge-on-read",
                     committed_at=T[1])
    snap2 = cat.truncate_table("db", "tr2", committed_at=T[2])
    assert snap2.summary["removed-records"] == "7"


def test_upsert_validate_unique_keys_flag(spark, cat):
    import pytest

    base = spark.range(5).withColumn("v", F.lit("old"))
    cat.write("db", "uk", base, committed_at=T[0])
    dup = spark.createDataFrame(
        [(3, "a"), (3, "b"), (9, "c")], "id long, v string"
    )
    for method in ("upsert", "upsert_mor"):
        before = len(cat.table("db", "uk").snapshots())
        with pytest.raises(ValueError, match="more than one row per key"):
            getattr(cat, method)(
                "db", "uk", dup, key_cols=["id"], validate_unique_keys=True
            )
        assert len(cat.table("db", "uk").snapshots()) == before  # no commit
    # default stays permissive (internal callers guarantee uniqueness
    # at their own layer); unique updates pass the guard
    ok = spark.createDataFrame([(3, "a"), (9, "c")], "id long, v string")
    cat.upsert("db", "uk", ok, key_cols=["id"], validate_unique_keys=True)
    assert (3, "a") in _rows(cat.table("db", "uk"), spark)


def test_upsert_rewrites_only_matched_files(spark, cat):
    base = spark.range(12).withColumn("v", F.lit("old"))
    cat.write("db", "cow", base.repartition(6), committed_at=T[0])
    before = {f.path for f in cat.table("db", "cow").current_snapshot().files}
    assert len(before) >= 4  # multiple files so COW granularity is visible
    updates = spark.createDataFrame([(5, "new")], "id long, v string")
    snap = cat.upsert("db", "cow", updates, key_cols=["id"], committed_at=T[1])
    after = {f.path for f in snap.files}
    # the files NOT containing id=5 carry over by reference
    carried = before & after
    assert len(carried) >= len(before) - 2
    assert int(snap.summary["rewritten-data-files"]) <= 2


def test_delete_where_file_level(spark, cat):
    base = spark.range(12).withColumn("v", F.lit("x"))
    cat.write("db", "d", base.repartition(6), committed_at=T[0])
    before = {f.path for f in cat.table("db", "d").current_snapshot().files}
    snap = cat.delete_where("db", "d", "id = 4", committed_at=T[1])
    tbl = cat.table("db", "d")
    assert tbl.read(spark).count() == 11
    assert {r["id"] for r in tbl.read(spark).collect()} == set(range(12)) - {4}
    assert snap.operation == "delete"
    carried = before & {f.path for f in snap.files}
    assert len(carried) >= len(before) - 2  # untouched files carried by reference
    # history: pre-delete snapshot still reads 12 rows
    assert tbl.read(spark, snapshot_id=1).count() == 12


def test_delete_where_noop_commits_audit_snapshot(spark, cat):
    cat.write("db", "n", spark.range(5).withColumn("v", F.lit("x")), committed_at=T[0])
    snap = cat.delete_where("db", "n", "id > 999", committed_at=T[1])
    assert snap.operation == "delete"
    assert snap.summary["rewritten-data-files"] == "0"
    assert cat.table("db", "n").read(spark).count() == 5


def test_schema_evolution_add_column(spark, cat):
    """Add-column evolution: files written before the column appeared
    read as NULL under the newer snapshot schema (Iceberg add-column
    semantics); schema-at-snapshot returns each epoch's own schema."""
    v1 = spark.range(5).withColumn("v", F.lit("a"))
    cat.write("db", "ev", v1, committed_at=T[0])
    v2 = spark.range(5, 8).withColumn("v", F.lit("b")).withColumn("extra", F.lit(1.5))
    cat.write("db", "ev", v2, committed_at=T[1])
    tbl = cat.table("db", "ev")
    # snapshot 1 schema has no 'extra'; snapshot 2 schema does
    assert "extra" not in tbl.schema(1).fieldNames()
    assert "extra" in tbl.schema(2).fieldNames()
    cur = tbl.read(spark)
    assert cur.count() == 8
    got = {r["id"]: r["extra"] for r in cur.collect()}
    assert got[6] == 1.5 and got[0] is None  # old files surface NULL
    # time travel to snapshot 1 → old schema, no 'extra' column at all
    assert "extra" not in tbl.read(spark, snapshot_id=1).columns


def test_cli_maintain_compact_runs(spark, cat, tmp_path):
    """Regression: CLI maintain --compact passed args in the wrong
    order (spark as database) and crashed on any run with --compact."""
    from apache_iceberg_tables_migration_tool_spark.cli import main

    cat2 = SnapCatalog(str(tmp_path / "wh2"))
    for i in range(3):
        cat2.write("db", "t", spark.range(10), committed_at=T[i])
    assert main(["maintain", "--warehouse", str(tmp_path / "wh2"), "--compact"]) == 0
    assert cat2.table("db", "t").read(spark).count() == 30


def test_compact_sorted_clusters_files(spark, cat):
    import pyarrow.parquet as _pq
    import os as _os

    df = spark.range(10000).withColumn("k", (F.col("id") * 7919) % 10000)
    cat.write("db", "s", df.repartition(8), committed_at=T[0])
    snap = cat.compact("db", "s", spark, target_partitions=4, sort_by=["k"])
    tbl = cat.table("db", "s")
    assert tbl.read(spark).count() == 10000
    # each rewritten file covers a disjoint k-range (footer min/max)
    ranges = []
    for f in snap.files:
        md = _pq.ParquetFile(_os.path.join(tbl.root, f.path)).metadata
        names = md.schema.to_arrow_schema().names
        idx = names.index("k")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint → filtered scans skip whole files


def test_concurrent_appends_lose_no_commits(spark, cat):
    """8 threads appending to ONE table concurrently: without the
    per-table commit lock, writers race on snapshot-id assignment
    (colliding commit dirs) and the metadata read-modify-write loses
    commits. With it, all 8 commits land with distinct ids and every
    row survives."""
    from concurrent.futures import ThreadPoolExecutor

    cat.create_table("db", "cc", "id bigint, w int")
    def append(i):
        cat.write("db", "cc", spark.range(100).withColumn("w", F.lit(i)))
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(append, range(8)))
    tbl = cat.table("db", "cc")
    snaps = tbl.snapshots()
    ids = [s.snapshot_id for s in snaps]
    assert len(ids) == len(set(ids)) == 9  # create + 8 appends, no losses
    assert tbl.read(spark).count() == 800
    assert {r["w"] for r in tbl.read(spark).select("w").distinct().collect()} == set(range(8))


def test_write_expect_parent_id_conflict(spark, cat):
    """Optimistic-concurrency guard (Iceberg CommitFailedException
    analog): a commit whose expected parent snapshot is stale must
    raise, not silently drop the interleaved commit."""
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import CommitConflictError

    cat.write("db", "t", spark.range(10), committed_at=T[0])  # snapshot 1
    with pytest.raises(CommitConflictError):
        cat.write("db", "t", spark.range(5), expect_parent_id=None)  # expects no table
    with pytest.raises(CommitConflictError):
        cat.write("db", "t", spark.range(5), expect_parent_id=7)  # stale parent
    snap = cat.write("db", "t", spark.range(5), expect_parent_id=1)
    assert snap.snapshot_id == 2
    assert cat.table("db", "t").read(spark).count() == 15


def test_compact_retries_after_concurrent_append(spark, cat, monkeypatch):
    """compact resolves the snapshot to rewrite outside the lock; if
    an append lands in between, the stale rewrite must be discarded
    and retried (not silently drop the append's rows)."""
    import apache_iceberg_tables_migration_tool_spark.sources.snapcat as sc

    for i in range(4):
        cat.write("db", "t", spark.range(i * 10, (i + 1) * 10), committed_at=T[i])

    real_write = sc.SnapCatalog.write
    raced = {"done": False}

    def racing_write(self, database, name, df, *args, **kwargs):
        # Simulate a commit landing between compact's snapshot read and
        # its own commit: sneak one append in ahead of the first
        # replace attempt only.
        if kwargs.get("operation") == "replace" and not raced["done"]:
            raced["done"] = True
            real_write(self, database, name, spark.range(1000, 1005))
        return real_write(self, database, name, df, *args, **kwargs)

    monkeypatch.setattr(sc.SnapCatalog, "write", racing_write)
    snap = cat.compact("db", "t", spark, target_partitions=2)
    assert snap.operation == "replace"
    # all 40 original rows AND the 5 raced-in rows survive
    assert cat.table("db", "t").read(spark).count() == 45


def test_expire_blocks_on_commit_lock(spark, cat):
    """expire_snapshots is a metadata read-modify-write and must
    serialize on the same per-table lock as every other mutator."""
    import apache_iceberg_tables_migration_tool_spark.sources.snapcat as sc

    for i in range(3):
        cat.write("db", "t", spark.range(10), committed_at=T[i])
    tbl = cat.table("db", "t")
    lock_dir = os.path.join(tbl.root, "metadata", ".commit_lock")
    os.mkdir(lock_dir)  # hold the lock as a fake concurrent committer
    try:
        with pytest.raises(TimeoutError):
            with monkey_timeout(sc):
                cat.expire_snapshots("db", "t", keep_last=1)
    finally:
        os.rmdir(lock_dir)
    assert cat.expire_snapshots("db", "t", keep_last=1) == [1, 2]


class monkey_timeout:
    """Temporarily shrink the commit-lock timeout so the blocked-path
    test completes in milliseconds."""

    def __init__(self, sc_module):
        self.sc = sc_module

    def __enter__(self):
        import functools
        self.orig = self.sc._commit_lock
        self.sc._commit_lock = functools.partial(self.orig, timeout_sec=0.2)

    def __exit__(self, *exc):
        self.sc._commit_lock = self.orig


def test_read_incremental_expired_start_raises(spark, cat):
    """An expired from_id must raise (Iceberg behavior), not silently
    re-emit the whole table as 'added'."""
    for i in range(3):
        cat.write("db", "t", spark.range(i * 10, (i + 1) * 10), committed_at=T[i])
    tbl = cat.table("db", "t")
    assert tbl.read_incremental(spark, 1, 3).count() == 20  # sanity: delta works
    cat.expire_snapshots("db", "t", keep_last=1)
    with pytest.raises(LookupError):
        tbl.read_incremental(spark, 1, 3)


# ---- write-audit-publish (WAP) & tags ---------------------------------


def test_wap_staged_commit_invisible_until_publish(spark, cat):
    cat.write("db", "t", spark.range(10), committed_at=T[0])
    staged = cat.write(
        "db", "t", spark.range(10, 15), committed_at=T[1],
        staged=True, wap_id="audit-1",
    )
    tbl = cat.table("db", "t")
    # published head unmoved; normal read sees old state
    assert tbl.current_snapshot().snapshot_id == 1
    assert tbl.read(spark).count() == 10
    # auditor reads the staged snapshot by id
    assert tbl.read(spark, snapshot_id=staged.snapshot_id).count() == 15
    assert staged.summary["wap.id"] == "audit-1"
    # time travel never resolves to the staged snapshot
    assert tbl.resolve_snapshot(as_of=T[2]).snapshot_id == 1
    # publish (fast path: parent still current) flips the pointer
    cat.publish("db", "t", staged.snapshot_id)
    assert tbl.current_snapshot().snapshot_id == staged.snapshot_id
    assert tbl.read(spark).count() == 15
    assert [s.snapshot_id for s in tbl.main_chain()] == [1, 2]


def test_wap_publish_cherry_picks_append_onto_moved_base(spark, cat):
    cat.write("db", "t", spark.range(10), committed_at=T[0])
    staged = cat.write(
        "db", "t", spark.range(100, 105), committed_at=T[1], staged=True
    )
    # a concurrent append lands before the audit finishes
    cat.write("db", "t", spark.range(200, 203), committed_at=T[2])
    pub = cat.publish("db", "t", staged.snapshot_id, committed_at=T[3])
    tbl = cat.table("db", "t")
    # re-applied as a NEW snapshot on top of the moved head
    assert pub.snapshot_id != staged.snapshot_id
    assert pub.summary["published-from"] == str(staged.snapshot_id)
    got = {r["id"] for r in tbl.read(spark).collect()}
    assert got == set(range(10)) | set(range(100, 105)) | set(range(200, 203))


def test_wap_publish_overwrite_on_moved_base_conflicts(spark, cat):
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        CommitConflictError,
    )

    cat.write("db", "t", spark.range(10), committed_at=T[0])
    staged = cat.write(
        "db", "t", spark.range(5), mode="overwrite", committed_at=T[1], staged=True
    )
    cat.write("db", "t", spark.range(50, 53), committed_at=T[2])
    with pytest.raises(CommitConflictError):
        cat.publish("db", "t", staged.snapshot_id)


def test_wap_staged_first_commit_publishes_cleanly(spark, cat):
    staged = cat.write("db", "t", spark.range(5), committed_at=T[0], staged=True)
    tbl = cat.table("db", "t")
    assert tbl.current_snapshot() is None
    cat.publish("db", "t", staged.snapshot_id)
    assert tbl.current_snapshot().snapshot_id == staged.snapshot_id
    assert tbl.read(spark).count() == 5


def test_tag_read_and_expire_retention(spark, cat):
    for i in range(3):
        cat.write("db", "t", spark.range(i * 10, (i + 1) * 10), committed_at=T[i])
    cat.tag("db", "t", "v1", snapshot_id=1)
    tbl = cat.table("db", "t")
    assert tbl.read(spark, ref="v1").count() == 10
    # expire keeps the tagged snapshot alive alongside the head
    expired = cat.expire_snapshots("db", "t", keep_last=1)
    assert expired == [2]
    assert {s.snapshot_id for s in tbl.snapshots()} == {1, 3}
    assert tbl.read(spark, ref="v1").count() == 10
    assert tbl.read(spark).count() == 30
    # dropping the tag releases it for the next expiration
    cat.drop_ref("db", "t", "v1")
    assert cat.expire_snapshots("db", "t", keep_last=1) == [1]
    with pytest.raises(LookupError):
        tbl.read(spark, ref="v1")


def test_expire_drops_abandoned_staged_snapshot(spark, cat):
    cat.write("db", "t", spark.range(10), committed_at=T[0])
    staged = cat.write("db", "t", spark.range(99), committed_at=T[1], staged=True)
    cat.write("db", "t", spark.range(10, 12), committed_at=T[2])
    expired = cat.expire_snapshots("db", "t", keep_last=2)
    assert staged.snapshot_id in expired
    tbl = cat.table("db", "t")
    assert tbl.read(spark).count() == 12  # published history intact


def test_partition_evolution_mixed_layouts(spark, cat):
    """Iceberg-style partition evolution: a later commit switches the
    partition spec without rewriting old files. Reads union both
    layouts; a predicate on the NEW spec column partition-prunes the
    new files while old files fall back to pushed data filters."""
    df1 = spark.createDataFrame(
        [(1, "eu", "a"), (2, "us", "b")], "id long, region string, cat string")
    df2 = spark.createDataFrame(
        [(3, "eu", "a"), (4, "ap", "c")], "id long, region string, cat string")
    cat.write("db", "t", df1, partition_by=["region"], committed_at=T[0])
    cat.write("db", "t", df2, partition_by=["cat"], committed_at=T[1])
    tbl = cat.table("db", "t")
    assert [s.partition_spec for s in tbl.snapshots()] == [["region"], ["cat"]]
    rows = sorted((r["id"], r["region"], r["cat"]) for r in tbl.read(spark).collect())
    assert rows == [(1, "eu", "a"), (2, "us", "b"), (3, "eu", "a"), (4, "ap", "c")]
    plan = tbl.read(spark).where(F.col("cat") == "c")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cat" in plan  # new layout pruned
    # appends without an explicit spec inherit the LATEST spec
    cat.write("db", "t", spark.createDataFrame(
        [(5, "eu", "c")], "id long, region string, cat string"), committed_at=T[2])
    assert tbl.current_snapshot().partition_spec == ["cat"]


def _file_col_spans(tbl, cols):
    """Per-file (min, max) of each column from parquet footer stats —
    what a stats-based scan planner would prune with."""
    import pyarrow.parquet as pq

    spans = []
    for f in tbl.current_snapshot().files:
        md = pq.ParquetFile(os.path.join(tbl.root, f.path)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        per = {}
        for c in cols:
            idx = names[c]
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            per[c] = (min(los), max(his))
        spans.append(per)
    return spans


def test_compact_zorder_bounds_files_in_every_dimension(spark, cat):
    """Z-order rewrite must bound every output file in BOTH dims so
    footer stats can prune on either column; a lexicographic (a, b)
    sort leaves b spanning ~the full domain in every file."""
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        F.floor(F.col("id") / 64).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    for name, kw in [("tz", {"zorder_by": ["a", "b"]}), ("ts", {"sort_by": ["a", "b"]})]:
        cat.write("db", name, df, committed_at=T[0])
        cat.compact("db", name, spark, target_partitions=8, **kw)
    z_spans = _file_col_spans(cat.table("db", "tz"), ["a", "b"])
    s_spans = _file_col_spans(cat.table("db", "ts"), ["a", "b"])
    assert len(z_spans) >= 4
    z_b = sum(hi - lo for s in z_spans for lo, hi in [s["b"]]) / len(z_spans)
    s_b = sum(hi - lo for s in s_spans for lo, hi in [s["b"]]) / len(s_spans)
    # lexicographic: b unbounded (~63 per file); z-order: halved or better
    assert s_b > 55, f"expected unbounded b under lexicographic sort, got {s_b}"
    assert z_b <= 0.6 * s_b, f"z-order b-span {z_b} vs lexicographic {s_b}"
    # the rewrite is still a faithful replace
    assert cat.table("db", "tz").read(spark).count() == 4096


def test_schema_type_widening_across_commits(spark, cat):
    """Iceberg-style type widening without file rewrite: a later
    commit widens int->bigint and float->double; the current-schema
    read upcasts old files in place (Spark 4 parquet type-widening)
    and time travel still serves the ORIGINAL schema at snapshot 1."""
    cat.write("db", "t", spark.createDataFrame(
        [(1, 10, 1.5)], "id long, v int, w float"), committed_at=T[0])
    cat.write("db", "t", spark.createDataFrame(
        [(2, 3_000_000_000, 2.5)], "id long, v long, w double"), committed_at=T[1])
    tbl = cat.table("db", "t")
    cur = tbl.read(spark)
    assert dict(cur.dtypes) == {"id": "bigint", "v": "bigint", "w": "double"}
    assert sorted((r["id"], r["v"], r["w"]) for r in cur.collect()) == [
        (1, 10, 1.5), (2, 3_000_000_000, 2.5)]
    old = tbl.read(spark, snapshot_id=1)
    assert dict(old.dtypes) == {"id": "bigint", "v": "int", "w": "float"}


def test_manifest_stats_prune_files(spark, cat):
    """Commit-time footer stats enable manifest-level file pruning:
    a point predicate on disjoint-range commits plans exactly one
    file, and the pruned read returns the same rows as a full scan
    plus filter."""
    for i in range(3):
        cat.write("db", "t", spark.range(i * 100, (i + 1) * 100).coalesce(1),
                  committed_at=T[i])
    tbl = cat.table("db", "t")
    snap = tbl.current_snapshot()
    assert all(f.stats and "id" in f.stats for f in snap.files)
    assert len(snap.files) == 3
    planned = tbl.plan_files([("id", "=", 150)])
    assert len(planned) == 1 and planned[0].stats["id"] == [100, 199]
    assert tbl.plan_files([("id", "<", 100)]) == snap.files[:1]
    assert len(tbl.plan_files([("id", ">=", 100)])) == 2
    got = sorted(r["id"] for r in tbl.read_where(spark, [("id", ">=", 250)]).collect())
    assert got == list(range(250, 300))
    # unknown-stats column: conservatively unpruned
    assert len(tbl.plan_files([("nope", "=", 1)])) == 3


def test_manifest_prune_after_zorder_compact(spark, cat):
    """Z-order + manifest stats: after a zorder_by (a, b) rewrite, a
    predicate on the SECOND dimension alone prunes files at plan
    time — the end-to-end selective-scan path."""
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        F.floor(F.col("id") / 64).cast("long").alias("b"),
    )
    cat.write("db", "t", df, committed_at=T[0])
    cat.compact("db", "t", spark, target_partitions=8, zorder_by=["a", "b"])
    tbl = cat.table("db", "t")
    total = len(tbl.current_snapshot().files)
    planned = tbl.plan_files([("b", "=", 0)])
    assert len(planned) < total, "z-ordered layout should prune on b alone"
    got = tbl.read_where(spark, [("b", "=", 0)])
    assert got.count() == 64


def test_metadata_tables_expose_refs_and_publication(spark, cat):
    cat.write("db", "t", spark.range(3), committed_at=T[0])
    staged = cat.write("db", "t", spark.range(5), committed_at=T[1], staged=True)
    cat.tag("db", "t", "v1")
    tbl = cat.table("db", "t")
    sdf = {r["snapshot_id"]: r["is_published"] for r in tbl.snapshots_df(spark).collect()}
    assert sdf == {1: True, staged.snapshot_id: False}
    refs = tbl.refs_df(spark).collect()
    assert [(r["name"], r["type"], r["snapshot_id"]) for r in refs] == [("v1", "tag", 1)]


def test_rollback_moves_head_and_keeps_log(spark, cat):
    for i in range(3):
        cat.write("db", "t", spark.range(i * 10, (i + 1) * 10), committed_at=T[i])
    tbl = cat.table("db", "t")
    assert tbl.current_snapshot().total_records == 30
    snap = cat.rollback("db", "t", 1)
    assert snap.operation == "rollback"
    assert snap.summary["rolled-back-to"] == "1"
    # head shows the first commit's state; nothing was rewritten
    assert tbl.read(spark).count() == 10
    # abandoned commits stay readable by id
    assert tbl.read(spark, snapshot_id=3).count() == 30
    # history records the rollback as its own entry
    ops = [s.operation for s in tbl.snapshots()]
    assert ops == ["append", "append", "append", "rollback"]
    # writes continue from the rolled-back state
    cat.write("db", "t", spark.range(100, 105), committed_at=T[4])
    assert tbl.read(spark).count() == 15


def test_remove_orphan_files(spark, cat):
    cat.write("db", "t", spark.range(10), committed_at=T[0])
    tbl = cat.table("db", "t")
    # simulate a crashed write: stray parquet under the table root
    stray_dir = os.path.join(tbl.root, "commit-999")
    os.makedirs(stray_dir)
    spark.range(5).toPandas().to_parquet(os.path.join(stray_dir, "stray.parquet"))
    listed = cat.remove_orphan_files("db", "t", dry_run=True)
    assert listed == ["commit-999/stray.parquet"]
    assert os.path.exists(os.path.join(stray_dir, "stray.parquet"))  # dry run
    removed = cat.remove_orphan_files("db", "t")
    assert removed == listed
    assert not os.path.exists(os.path.join(stray_dir, "stray.parquet"))
    # live data untouched
    assert tbl.read(spark).count() == 10
    assert cat.remove_orphan_files("db", "t") == []


def test_partitions_metadata_table(spark, cat):
    df = spark.range(20).coalesce(1).withColumn("p", (F.col("id") % 2).cast("string"))
    cat.write("db", "t", df, partition_by=["p"], committed_at=T[0])
    cat.write("db", "t", df.where(F.col("p") == "0"), committed_at=T[1])
    parts = {
        r["partition"]: (r["record_count"], r["file_count"])
        for r in cat.table("db", "t").partitions_df(spark).collect()
    }
    assert parts["p=0"] == (20, 2)  # both commits contributed one file each
    assert parts["p=1"] == (10, 1)


def test_branch_write_isolation_and_fast_forward(spark, cat):
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        CommitConflictError,
    )

    cat.write("db", "t", spark.range(10), committed_at=T[0])
    tbl = cat.table("db", "t")
    base = cat.create_branch("db", "t", "dev")
    assert base == 1
    assert tbl.refs()["dev"] == {"snapshot_id": 1, "type": "branch"}

    # branch commits move only the branch pointer
    cat.write("db", "t", spark.range(10, 25), committed_at=T[1], branch="dev")
    cat.write("db", "t", spark.range(25, 30), committed_at=T[2], branch="dev")
    assert tbl.read(spark).count() == 10          # main untouched
    assert tbl.read(spark, ref="dev").count() == 30
    assert tbl.refs()["dev"]["snapshot_id"] == 3
    assert tbl.current_snapshot().snapshot_id == 1

    # fast-forward publishes the branch (pointer move, no new snapshot)
    head = cat.fast_forward("db", "t", "dev")
    assert head == 3
    assert tbl.read(spark).count() == 30
    assert len(tbl.snapshots()) == 3

    # diverged main → fast-forward refused
    cat.create_branch("db", "t", "exp")
    cat.write("db", "t", spark.range(100, 105), committed_at=T[3], branch="exp")
    cat.write("db", "t", spark.range(200, 210), committed_at=T[4])  # main advances
    with pytest.raises(CommitConflictError):
        cat.fast_forward("db", "t", "exp")


def test_branch_refused_for_staged_and_unknown(spark, cat):
    cat.write("db", "t", spark.range(5))
    with pytest.raises(LookupError):
        cat.write("db", "t", spark.range(5), branch="nope")
    cat.create_branch("db", "t", "dev")
    with pytest.raises(ValueError):
        cat.write("db", "t", spark.range(5), branch="dev", staged=True)
    with pytest.raises(ValueError):
        cat.create_branch("db", "t", "dev")  # duplicate ref name


def test_expire_protects_branch_lineage(spark, cat):
    for i in range(3):
        cat.write("db", "t", spark.range(i * 10, (i + 1) * 10), committed_at=T[i])
    cat.create_branch("db", "t", "dev", snapshot_id=2)
    cat.write("db", "t", spark.range(100, 110), committed_at=T[3], branch="dev")
    cat.write("db", "t", spark.range(110, 120), committed_at=T[4], branch="dev")
    cat.expire_snapshots("db", "t", keep_last=1)
    tbl = cat.table("db", "t")
    # branch head AND its ancestry survive; fast_forward from a fresh
    # rollback state still walks the chain
    assert tbl.read(spark, ref="dev").count() == 40
    kept = {s.snapshot_id for s in tbl.snapshots()}
    assert {2, 4, 5}.issubset(kept)  # branch base + both branch commits


# ---- schema evolution (ALTER TABLE parity) ------------------------------


def _evo_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2).cast("float").alias("val"),
        F.concat(F.lit("u"), F.col("id")).alias("user"),
    )


def test_alter_rename_is_metadata_only(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    before = [f.path for f in cat.table("db", "t").current_snapshot().files]
    snap = cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    assert snap.operation == "alter"
    assert [f.path for f in snap.files] == before  # zero data rewrite
    out = cat.table("db", "t").read(spark)
    assert out.columns == ["id", "value_usd", "user"]
    assert out.agg(F.sum("value_usd")).collect()[0][0] == sum(i * 2 for i in range(10))


def test_alter_add_drop_and_append(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", add_columns={"channel": "string"}, drop_columns=["user"])
    tbl = cat.table("db", "t")
    assert tbl.read(spark).columns == ["id", "val", "channel"]
    # pre-add files read NULL for the added column
    assert tbl.read(spark).where(F.col("channel").isNull()).count() == 10
    df2 = spark.range(10, 15).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2).cast("float").alias("val"),
        F.lit("web").alias("channel"),
    )
    cat.write("db", "t", df2, committed_at=T[1])
    out = tbl.read(spark)
    assert out.count() == 15
    assert out.where(F.col("channel") == "web").count() == 5


def test_alter_widen_reads_old_files_at_new_type(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table(
        "db", "t", widen_columns={"id": "bigint", "val": "double"}
    )
    out = cat.table("db", "t").read(spark)
    assert dict(out.dtypes)["id"] == "bigint"
    assert dict(out.dtypes)["val"] == "double"
    assert out.agg(F.sum("id")).collect()[0][0] == 45


def test_alter_schema_at_snapshot_time_travel(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    tbl = cat.table("db", "t")
    old = tbl.read(spark, snapshot_id=1)
    assert old.columns == ["id", "val", "user"]  # schema-at-snapshot
    assert old.agg(F.sum("val")).collect()[0][0] == sum(i * 2 for i in range(10))


def test_alter_reused_name_reads_null_for_old_files(spark, cat):
    # drop a column, later add a NEW column with the same name: old
    # files' bytes for the dropped field must NOT resurface (different
    # field id) — the case pure by-name resolution gets silently wrong
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", drop_columns=["user"])
    cat.alter_table("db", "t", add_columns={"user": "string"})
    vals = [r[0] for r in cat.table("db", "t").read(spark).select("user").distinct().collect()]
    assert vals == [None]


def test_alter_refuses_unsafe_changes(spark, cat):
    cat.write(
        "db", "t",
        _evo_df(spark, 0, 10).withColumn("p", F.col("id") % 2),
        partition_by=["p"], committed_at=T[0],
    )
    with pytest.raises(ValueError, match="partition column"):
        cat.alter_table("db", "t", rename_columns={"p": "bucket"})
    with pytest.raises(ValueError, match="partition column"):
        cat.alter_table("db", "t", drop_columns=["p"])
    with pytest.raises(ValueError, match="unsafe type change"):
        cat.alter_table("db", "t", widen_columns={"id": "smallint"})
    with pytest.raises(ValueError, match="not found"):
        cat.alter_table("db", "t", drop_columns=["nope"])
    with pytest.raises(ValueError, match="colliding"):
        cat.alter_table("db", "t", rename_columns={"val": "user"})
    with pytest.raises(ValueError, match="no changes"):
        cat.alter_table("db", "t")


def test_rowlevel_ops_after_rename(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    upd = spark.createDataFrame(
        [(3, 999.0, "u3")], "id int, value_usd float, user string"
    )
    cat.upsert("db", "t", upd, key_cols=["id"])
    cat.delete_where("db", "t", F.col("value_usd") < 4.0)  # drops ids 0,1
    out = cat.table("db", "t").read(spark)
    assert out.count() == 8
    assert out.where("id = 3").collect()[0]["value_usd"] == 999.0


def test_mor_delete_then_rename_with_tracking_active(spark, cat):
    """ADVICE r4 (medium): an equality delete committed WHILE field-id
    tracking is already active, followed by a rename of the key
    column, must still resolve — the delete commit itself has to log
    its schema (the alter-time backfill only covers pre-tracking
    commits)."""
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", add_columns={"channel": "string"})  # activate tracking
    cat.delete_keys("db", "t", spark.createDataFrame([(3,), (4,)], "id int"))
    # compaction materializes the deletes away, which is what lets the
    # rename past the live-delete-key guard — but HISTORICAL commits
    # still carry the delete files under the old name
    cat.compact("db", "t", spark, target_partitions=1)
    cat.alter_table("db", "t", rename_columns={"id": "ident"})
    tbl = cat.table("db", "t")
    out = tbl.read(spark)
    assert out.count() == 8
    ids = {r["ident"] for r in out.select("ident").collect()}
    assert 3 not in ids and 4 not in ids
    # CDC replay over the delete commit resolves keys under the end schema
    head = tbl.current_snapshot().snapshot_id
    ch = tbl.changelog(spark, 1, head)
    dels = {r["ident"] for r in ch.where("_change_type = 'delete'").collect()}
    assert {3, 4} <= dels


def test_expire_prunes_commit_schemas_and_stale_column_stats(spark, cat):
    """ADVICE r4: table metadata must not grow without bound — expire
    drops commit_schemas entries no surviving snapshot/file/delete
    references, and column_stats describing an expired snapshot."""
    tbl_name = "gc"
    for i in range(4):
        # overwrite each round: old files become unreferenced
        cat.write("db", tbl_name, _evo_df(spark, i * 10, i * 10 + 5),
                  mode="overwrite", committed_at=T[min(i, len(T) - 1)])
    cat.alter_table("db", tbl_name, add_columns={"extra": "string"})  # tracking on
    cat.write("db", tbl_name, _evo_df(spark, 100, 105)
              .withColumn("extra", F.lit("x")), mode="overwrite")
    tbl = cat.table("db", tbl_name)
    cat.analyze("db", tbl_name, spark)
    pre = set(tbl._load_meta().get("commit_schemas", {}))
    assert len(pre) >= 5  # backfill wrote one per historical snapshot
    cat.expire_snapshots("db", tbl_name, keep_last=1)
    meta = tbl._load_meta()
    survivors = {s["snapshot_id"] for s in meta["snapshots"]}
    referenced = set(survivors)
    for s in meta["snapshots"]:
        from apache_iceberg_tables_migration_tool_spark.sources.snapcat import _origin_sid
        referenced |= {_origin_sid(f["path"]) for f in s["files"]}
        referenced |= {d["sequence"] for d in s.get("delete_files", [])}
    assert set(int(k) for k in meta.get("commit_schemas", {})) <= referenced
    assert len(meta.get("commit_schemas", {})) < len(pre)
    # stats were computed at the (still-current) head — they survive
    assert meta.get("column_stats") is not None
    # now advance the head and expire the stats' snapshot away
    cat.write("db", tbl_name, _evo_df(spark, 200, 203)
              .withColumn("extra", F.lit("y")), mode="overwrite")
    cat.expire_snapshots("db", tbl_name, keep_last=1)
    assert tbl._load_meta().get("column_stats") is None


def test_mor_parent_candidates_prune(spark, cat):
    """Changelog MOR replay reads only candidate parent files:
    position deletes name theirs; equality deletes prune by numeric
    key-range overlap; NULL keys disable pruning."""
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog  # noqa: F401

    # three files with disjoint id ranges (coalesce(1) each append)
    for i in range(3):
        cat.write("db", "pr", _evo_df(spark, i * 100, i * 100 + 10).coalesce(1),
                  committed_at=T[i])
    tbl = cat.table("db", "pr")
    parent = tbl.current_snapshot()
    assert len(parent.files) == 3
    # equality delete hitting only the middle file's range
    cat.delete_keys("db", "pr", spark.createDataFrame([(105,)], "id int"))
    snap = tbl.current_snapshot()
    new_dels = [d for d in snap.delete_files]
    cand = tbl._mor_parent_candidates(parent, new_dels, snap)
    assert len(cand) == 1
    assert all(f.stats["id"][0] <= 105 <= f.stats["id"][1] for f in cand)
    # the changelog built on this pruning still reports the right row
    ch = tbl.changelog(spark, parent.snapshot_id, snap.snapshot_id)
    dels = ch.where("_change_type = 'delete'").collect()
    assert [r["id"] for r in dels] == [105]
    # NULL in the key set → stats can't prune → all files candidates
    cat.write("db", "prn", spark.createDataFrame(
        [(1, "a"), (2, None)], "id int, tag string"), committed_at=T[0])
    tbln = cat.table("db", "prn")
    p0 = tbln.current_snapshot()
    cat.delete_keys("db", "prn", spark.createDataFrame([(None,)], "tag string"))
    s1 = tbln.current_snapshot()
    assert len(tbln._mor_parent_candidates(p0, list(s1.delete_files), s1)) == len(p0.files)


def test_hidden_partitioning_transforms(spark, cat):
    """Iceberg-style hidden partitioning: days()/bucket()/truncate()
    specs lay files out under derived path values while the SOURCE
    column stays in the data — reads see exactly the logical schema,
    row-level ops and compaction keep working, and the derived values
    surface in the .partitions metadata."""
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import parse_spec_field

    df = spark.range(0, 40).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("u"), F.col("id") % 5).alias("user"),
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int"))
        ).alias("ts"),
    )
    cat.write("db", "hp", df, partition_by=["days(ts)", "bucket(4, id)"],
              committed_at=T[0])
    tbl = cat.table("db", "hp")
    out = tbl.read(spark)
    assert out.columns == ["id", "user", "ts"]  # derived cols hidden
    assert out.count() == 40
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(40))
    # layout: both derived keys appear in every data-file path
    f0 = tbl.current_snapshot().files[0].path
    assert "ts_day=" in f0 and "id_bucket=" in f0
    # .partitions metadata reports the derived values
    parts = tbl.partitions_df(spark).collect()
    assert all("ts_day=" in r["partition"] for r in parts)
    days = {r["partition"].split("/")[0] for r in parts}
    buckets = {r["partition"].split("id_bucket=")[1] for r in parts}
    assert days == {f"ts_day=2024-01-0{d}" for d in (1, 2, 3)}
    assert buckets <= {"0", "1", "2", "3"} and len(buckets) >= 2
    assert sum(r["record_count"] for r in parts) == 40
    # hidden layout + timestamp footer stats → manifest pruning on the
    # SOURCE column: a one-day predicate must plan a strict file subset
    planned = tbl.plan_files([
        ("ts", ">=", "2024-01-02 00:00:00"),
        ("ts", "<", "2024-01-03 00:00:00"),
    ])
    assert 0 < len(planned) < len(tbl.current_snapshot().files)
    assert all("ts_day=2024-01-02" in f.path for f in planned)
    # bucket point-lookup pruning: driver-side xxhash64 of the literal
    # rules out every other bucket's files, and the pruned read is
    # still exact
    from apache_iceberg_tables_migration_tool_spark.functions.xxh64 import xxh64_int

    expected_bucket = xxh64_int(17) % 4
    by_key = tbl.plan_files([("id", "=", 17)])
    assert by_key
    assert all(f"id_bucket={expected_bucket}" in f.path for f in by_key)
    assert len(by_key) < len(tbl.current_snapshot().files)
    assert [r["id"] for r in tbl.read_where(spark, [("id", "=", 17)]).collect()] == [17]
    # row-level ops on a transform-partitioned table
    cat.delete_where("db", "hp", "id >= 30")
    assert tbl.read(spark).count() == 30
    cat.upsert("db", "hp", spark.createDataFrame(
        [(0, "zz", None)], "id int, user string, ts timestamp"), key_cols=["id"])
    assert tbl.read(spark).where("user = 'zz'").count() == 1
    cat.compact("db", "hp", spark, target_partitions=1)
    assert tbl.read(spark).count() == 30
    # the spec's source column is pinned against rename/drop
    with pytest.raises(ValueError, match="partition column"):
        cat.alter_table("db", "hp", rename_columns={"ts": "event_ts"})
    # truncate transform on strings + spec evolution onto a transform
    cat.write("db", "hp2", df, partition_by=["truncate(1, user)"], committed_at=T[0])
    f = cat.table("db", "hp2").current_snapshot().files[0].path
    assert "user_trunc=u" in f
    cat.alter_partition_spec("db", "hp2", ["months(ts)"])
    cat.write("db", "hp2", df, committed_at=T[1])
    newest = max(cat.table("db", "hp2").current_snapshot().files,
                 key=lambda x: x.path)
    assert "ts_month=2024-01" in newest.path
    assert cat.table("db", "hp2").read(spark).count() == 80
    # parser rejects malformed transforms
    for bad in ("bucket(id)", "days()", "frobnicate(ts)", "bucket(0, id)"):
        with pytest.raises(ValueError):
            parse_spec_field(bad)


def test_binpack_compaction_rewrites_only_small_files(spark, cat):
    """Iceberg binpack strategy: compact(min_file_bytes=...) rewrites
    the small-file tail and carries right-sized files by reference —
    and MOR deletes keep applying to carried files while the rewrite
    materializes them for its own sliver."""
    # one big file, then a burst of tiny appends
    cat.write("db", "bp", spark.range(0, 2000).coalesce(1), committed_at=T[0])
    big_path = cat.table("db", "bp").current_snapshot().files[0].path
    for i in range(4):
        cat.write("db", "bp", spark.range(10_000 + i, 10_001 + i).coalesce(1),
                  committed_at=T[1])
    tbl = cat.table("db", "bp")
    base = tbl.current_snapshot()
    big_bytes = next(f.bytes for f in base.files if f.path == big_path)
    # MOR delete hitting both a small file's row and the big file's rows
    cat.delete_keys("db", "bp", spark.createDataFrame(
        [(10_000,), (5,)], "id bigint"))
    snap = cat.compact("db", "bp", spark, min_file_bytes=big_bytes)
    assert snap.operation == "replace"
    assert big_path in {f.path for f in snap.files}  # carried by reference
    assert len(snap.files) < len(base.files)
    assert snap.summary["binpack-rewritten-files"] == "4"
    out = tbl.read(spark)
    assert out.count() == 2002  # 2004 - 2 deleted
    ids = {r["id"] for r in out.collect()}
    assert 10_000 not in ids and 5 not in ids  # delete still applies to big file
    # idempotent: nothing small left → no-op returns current snapshot
    again = cat.compact("db", "bp", spark, min_file_bytes=100)
    assert again.snapshot_id == snap.snapshot_id
    with pytest.raises(ValueError, match="binpack"):
        cat.compact("db", "bp", spark, min_file_bytes=1, sort_by=["id"])


def test_append_schema_merge_never_narrows_or_conflicts(spark, cat):
    """Schema evolution on write (≙ Iceberg mergeSchema): an append
    missing an existing column must NOT narrow the table schema (old
    data stays visible; the new file reads null), new columns append,
    and a type-changing append is rejected at COMMIT time instead of
    corrupting every subsequent read."""
    cat.write("db", "sm", spark.createDataFrame([(1, "a")], "id int, v string"),
              committed_at=T[0])
    # narrowing append: v survives in the schema, new row reads null v
    cat.write("db", "sm", spark.createDataFrame([(2,)], "id int"),
              committed_at=T[1])
    tbl = cat.table("db", "sm")
    assert tbl.current_snapshot().schema_ddl == "id int, v string"
    rows = {r["id"]: r["v"] for r in tbl.read(spark).collect()}
    assert rows == {1: "a", 2: None}
    # widening append: new column lands at the end, old rows null
    cat.write("db", "sm", spark.createDataFrame(
        [(3, "c", 9)], "id int, v string, extra int"), committed_at=T[2])
    assert tbl.current_snapshot().schema_ddl == "id int, v string, extra int"
    assert tbl.read(spark).where("extra = 9").count() == 1
    # type conflict: rejected by the writer, table stays readable
    with pytest.raises(ValueError, match="changes column 'id'"):
        cat.write("db", "sm", spark.createDataFrame([("x", "y")],
                  "id string, v string"))
    assert tbl.read(spark).count() == 3


def test_equality_delete_null_key_matches_null(spark, cat):
    """Iceberg equality-delete semantics: a NULL key value matches
    rows whose key is NULL (ADVICE r4 — plain equality silently made
    NULL-keyed rows undeletable)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id int, tag string"
    )
    cat.write("db", "nk", df, committed_at=T[0])
    cat.delete_keys("db", "nk", spark.createDataFrame([(None,)], "tag string"))
    out = cat.table("db", "nk").read(spark)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]
    # non-null keys unaffected by the null-safe join
    cat.delete_keys("db", "nk", spark.createDataFrame([("a",)], "tag string"))
    assert [r["id"] for r in cat.table("db", "nk").read(spark).collect()] == [3]


def test_plan_files_prunes_on_renamed_column(spark, cat):
    # three appends clustered on val ranges, then rename val; manifest
    # pruning on the NEW name must translate to the files' stats keys
    for i in range(3):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").cast("int").alias("id"),
            F.col("id").cast("float").alias("val"),
        ).coalesce(1)
        cat.write("db", "t", df, committed_at=T[i])
    cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    tbl = cat.table("db", "t")
    planned = tbl.plan_files([("value_usd", ">=", 250.0)])
    assert len(planned) == 1  # only the third commit's file can match
    assert tbl.read_where(spark, [("value_usd", ">=", 250.0)]).count() == 50


def test_alter_mapping_survives_origin_snapshot_expiry(spark, cat):
    # the commit-time schema log (not snapshot metadata) carries the
    # origin column names, so expiring the snapshot that WROTE a file
    # must not break post-rename reads of that file
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    cat.write(
        "db", "t",
        _evo_df(spark, 10, 20).withColumnRenamed("val", "value_usd"),
        committed_at=T[1],
    )
    cat.expire_snapshots("db", "t", keep_last=1)
    out = cat.table("db", "t").read(spark)
    assert out.count() == 20
    assert out.agg(F.sum("value_usd")).collect()[0][0] == sum(i * 2 for i in range(20))


def test_changelog_across_commit_types(spark, cat):
    df = spark.range(10).select("id", (F.col("id") * 2).alias("v"))
    cat.write("db", "t", df, committed_at=T[0])
    cat.write(
        "db", "t",
        spark.range(10, 15).select("id", (F.col("id") * 2).alias("v")),
        committed_at=T[1],
    )
    upd = spark.createDataFrame([(3, 999), (20, 40)], "id long, v long")
    cat.upsert("db", "t", upd, key_cols=["id"], committed_at=T[2])
    cat.delete_where("db", "t", F.col("id") < 2, committed_at=T[3])
    cat.compact("db", "t", spark, target_partitions=1)
    tbl = cat.table("db", "t")
    cl = tbl.changelog(spark, None, tbl.current_snapshot().snapshot_id)
    counts = {
        (r["_commit_snapshot_id"], r["_change_type"]): r["n"]
        for r in cl.groupBy("_commit_snapshot_id", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert counts == {
        (1, "insert"): 10,
        (2, "insert"): 5,
        (3, "delete"): 1,   # old version of id=3
        (3, "insert"): 2,   # new id=3 + brand-new id=20
        (4, "delete"): 2,   # ids 0,1
        # snapshot 5 (replace/compaction) contributes NOTHING
    }
    # carry-over rows visible only with net_changes=False
    raw = tbl.changelog(spark, 2, 3, net_changes=False)
    assert raw.count() > 3  # whole rewritten file on both sides
    # bounded range + ordering metadata
    cl24 = tbl.changelog(spark, 2, 4)
    assert cl24.count() == 5
    assert set(r["_commit_order"] for r in cl24.select("_commit_order").collect()) == {1, 2}
    with pytest.raises(LookupError):
        tbl.changelog(spark, 99, 4)


def test_changelog_rollback_emits_deletes(spark, cat):
    cat.write("db", "t", spark.range(10), committed_at=T[0])
    cat.write("db", "t", spark.range(10, 30), committed_at=T[1])
    cat.rollback("db", "t", 1)
    tbl = cat.table("db", "t")
    cl = tbl.changelog(spark, 1, tbl.current_snapshot().snapshot_id)
    rows = cl.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    by_type = {r["_change_type"]: r["n"] for r in rows}
    # the rolled-back append surfaces as: its insert (commit 2) and
    # the rollback's delete of the same 20 rows — net zero overall
    assert by_type == {"insert": 20, "delete": 20}


def test_changelog_under_schema_evolution(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    cat.write(
        "db", "t",
        _evo_df(spark, 10, 15).withColumnRenamed("val", "value_usd"),
        committed_at=T[1],
    )
    tbl = cat.table("db", "t")
    cl = tbl.changelog(spark, None, tbl.current_snapshot().snapshot_id)
    # all commits emit under the END schema (field-id mapped)
    assert "value_usd" in cl.columns and "val" not in cl.columns
    assert cl.count() == 15
    assert cl.agg(F.sum("value_usd")).collect()[0][0] == sum(i * 2 for i in range(15))


# ---- merge-on-read (equality-delete files) ------------------------------


def test_mor_delete_hides_without_rewrite(spark, cat):
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    before = [f.path for f in cat.table("db", "t").current_snapshot().files]
    keys = spark.createDataFrame([(3,), (4,), (99,)], "id long")
    snap = cat.delete_keys("db", "t", keys, committed_at=T[1])
    tbl = cat.table("db", "t")
    assert [f.path for f in snap.files] == before  # zero data rewrite
    assert snap.summary["delete-mode"] == "merge-on-read"
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == [0, 1, 2, 5, 6, 7, 8, 9]
    # time travel before the delete still sees everything
    assert tbl.read(spark, snapshot_id=1).count() == 10
    # read_where composes with manifest pruning AND the delete
    assert sorted(
        r["id"] for r in tbl.read_where(spark, [("id", "<=", 4)]).collect()
    ) == [0, 1, 2]
    # metadata table
    df = tbl.delete_files_df(spark)
    assert df.count() == 1 and df.collect()[0]["equality_columns"] == "id"


def test_mor_sequence_rule_reappend_survives(spark, cat):
    cat.write("db", "t", spark.range(5), committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(3,)], "id long"),
                    committed_at=T[1])
    cat.write("db", "t", spark.createDataFrame([(3,)], "id long"),
              committed_at=T[2])
    out = sorted(r["id"] for r in cat.table("db", "t").read(spark).collect())
    assert out == [0, 1, 2, 3, 4]  # the re-appended 3 outsequences the delete


def test_mor_upsert_single_commit_no_rewrite(spark, cat):
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    n_files = len(cat.table("db", "t").current_snapshot().files)
    upd = spark.createDataFrame([(5, 555), (20, 40)], "id long, v long")
    snap = cat.upsert_mor("db", "t", upd, ["id"], committed_at=T[1])
    assert snap.operation == "merge" and snap.summary["merge-mode"] == "merge-on-read"
    # old data files all carried by reference
    assert len([f for f in snap.files if f.path.startswith("data/s000001")]) == n_files
    got = {r["id"]: r["v"] for r in cat.table("db", "t").read(spark).collect()}
    assert got[5] == 555 and got[20] == 40 and got[6] == 12 and len(got) == 11


def test_mor_cow_interplay_no_resurrection(spark, cat):
    # a COW rewrite touching files with MOR-hidden rows must not bring
    # them back, and carried delete files keep applying to untouched files
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(3,)], "id long"),
                    committed_at=T[1])
    cat.delete_where("db", "t", F.col("id") == 7, committed_at=T[2])  # COW
    out = sorted(r["id"] for r in cat.table("db", "t").read(spark).collect())
    assert out == [0, 1, 2, 4, 5, 6, 8, 9]


def test_update_where_cow(spark, cat):
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    snap = cat.update_where("db", "t", "id >= 8", {"v": "v + 1000"},
                            committed_at=T[1])
    assert snap.operation == "update"
    got = {r["id"]: r["v"] for r in cat.table("db", "t").read(spark).collect()}
    assert got[8] == 1016 and got[9] == 1018 and got[0] == 0 and len(got) == 10
    with pytest.raises(ValueError, match="unknown columns"):
        cat.update_where("db", "t", "id = 1", {"nope": "1"})
    noop = cat.update_where("db", "t", "id = 999", {"v": "0"})
    assert noop.summary["rewritten-data-files"] == "0"


def test_update_where_mor(spark, cat):
    # write.update.mode=merge-on-read shape: ONE commit position-deletes
    # the matched rows and appends the updated versions — NO data file
    # is rewritten, and results are identical to copy-on-write
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    tbl = cat.table("db", "t")
    files_before = {f.path for f in tbl.current_snapshot().files}
    before_ids = {r["id"]: r["_row_id"]
                  for r in tbl.read(spark, with_row_ids=True).collect()}
    snap = cat.update_where("db", "t", "id >= 8", {"v": "v + 1000"},
                            committed_at=T[1], mode="merge-on-read")
    assert snap.operation == "update"
    assert snap.summary["update-mode"] == "merge-on-read"
    assert snap.summary["position-delete-rows"] == "2"
    # every pre-update data file carried by reference, none rewritten
    assert files_before <= {f.path for f in snap.files}
    assert [d.kind for d in snap.delete_files] == ["position"]
    got = {r["id"]: r["v"] for r in tbl.read(spark).collect()}
    assert got[8] == 1016 and got[9] == 1018 and got[0] == 0 and len(got) == 10
    # v3 lineage: updated rows keep _row_id, bump _last_updated_seq
    after = {r["id"]: (r["_row_id"], r["_last_updated_seq"])
             for r in tbl.read(spark, with_row_ids=True).collect()}
    assert after[8][0] == before_ids[8] and after[8][1] == snap.snapshot_id
    assert after[0] == (before_ids[0], 1)
    # COW ≡ MOR results on the same statement
    cat.write("db", "t_cow", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    cat.update_where("db", "t_cow", "id >= 8", {"v": "v + 1000"},
                     committed_at=T[1], mode="copy-on-write")
    cow = {(r["id"], r["v"]) for r in cat.table("db", "t_cow").read(spark).collect()}
    assert {(r["id"], r["v"]) for r in tbl.read(spark).collect()} == cow
    # no-op MOR update still commits (audit), adds nothing
    noop = cat.update_where("db", "t", "id = 999", {"v": "0"},
                            mode="merge-on-read")
    assert noop.summary["position-delete-rows"] == "0"
    assert noop.summary["added-data-files"] == "0"
    assert len(noop.delete_files) == 1  # only the first update's
    with pytest.raises(ValueError, match="mode must be"):
        cat.update_where("db", "t", "id = 1", {"v": "0"}, mode="bogus")
    # compact materializes the position deletes away like any other
    cat.compact("db", "t", spark)
    assert {r["id"]: r["v"] for r in tbl.read(spark).collect()} == got


def test_update_where_mor_changelog(spark, cat):
    # a MOR update commit reads in the changelog exactly like its COW
    # twin: delete(old version) + insert(new version), nothing else —
    # added files are the inserts, the new position-delete file
    # surfaces the hidden parent rows as deletes
    cat.write("db", "t", spark.range(6).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    snap = cat.update_where("db", "t", "id >= 4", {"v": "v + 100"},
                            committed_at=T[1], mode="merge-on-read")
    cl = cat.table("db", "t").changelog(spark, None, snap.snapshot_id)
    got = {
        (r["_commit_snapshot_id"], r["_change_type"], r["id"], r["v"])
        for r in cl.collect()
    }
    assert got == {
        *{(1, "insert", i, i * 2) for i in range(6)},
        (2, "delete", 4, 8), (2, "delete", 5, 10),
        (2, "insert", 4, 108), (2, "insert", 5, 110),
    }


def test_mor_compact_materializes_and_changelog(spark, cat):
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(3,), (4,)], "id long"),
                    committed_at=T[1])
    cat.upsert_mor(
        "db", "t", spark.createDataFrame([(5, 555), (20, 40)], "id long, v long"),
        ["id"], committed_at=T[2],
    )
    tbl = cat.table("db", "t")
    cl = tbl.changelog(spark, None, tbl.current_snapshot().snapshot_id)
    counts = {
        (r["_commit_snapshot_id"], r["_change_type"]): r["n"]
        for r in cl.groupBy("_commit_snapshot_id", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert counts == {
        (1, "insert"): 10,
        (2, "delete"): 2,   # MOR delete surfaces the hidden rows
        (3, "delete"): 1,   # old version of id=5
        (3, "insert"): 2,   # new id=5 + id=20
    }
    snap = cat.compact("db", "t", spark, target_partitions=1)
    assert snap.delete_files == []
    assert tbl.read(spark).count() == 9
    # expire the MOR history: expiry itself removes the now-dead data
    # AND delete files (nothing left orphaned), head stays correct
    cat.expire_snapshots("db", "t", keep_last=1)
    assert tbl.read(spark).count() == 9
    assert cat.remove_orphan_files("db", "t", dry_run=True) == []
    dead_dels = [
        fn
        for _, _, fns in os.walk(os.path.join(tbl.root, "deletes"))
        for fn in fns
        if fn.endswith(".parquet")
    ]
    assert dead_dels == []  # expiry removed the dead delete files too


def test_mor_alter_guard_and_expire_older_than(spark, cat):
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(3,)], "id long"),
                    committed_at=T[1])
    with pytest.raises(ValueError, match="merge-on-read delete"):
        cat.alter_table("db", "t", rename_columns={"id": "doc_id"})
    cat.write("db", "t", spark.range(10, 12).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[4])
    # horizon between T[1] and T[4]: snapshots 1-2 are candidates but
    # snapshot 2 is the parent chain... only snapshot 1 and 2 older;
    # keep_last=1 protects the head; T[2] horizon expires 1 and 2
    expired = cat.expire_snapshots("db", "t", keep_last=1, older_than=T[2])
    assert expired == [1, 2]
    cat2 = cat  # everything newer than the horizon survives
    assert [s.snapshot_id for s in cat2.table("db", "t").snapshots()] == [3]


def test_compact_after_rename_normalizes_layout(spark, cat):
    cat.write("db", "t", _evo_df(spark, 0, 10), committed_at=T[0])
    cat.alter_table("db", "t", rename_columns={"val": "value_usd"})
    cat.compact("db", "t", spark, target_partitions=1)
    tbl = cat.table("db", "t")
    out = tbl.read(spark)
    assert out.columns == ["id", "value_usd", "user"]
    assert out.count() == 10
    # rewritten files now physically carry the new name: plan_files
    # stats are keyed directly by it
    assert tbl.plan_files([("value_usd", ">=", 0.0)])


def test_alter_preserves_mor_deletes(spark, cat):
    """A metadata-only alter must carry the MOR delete files — losing
    them would silently resurrect deleted rows."""
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 2).alias("v")),
              committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(3,), (7,)], "id long"),
                    committed_at=T[1])
    snap = cat.alter_table("db", "t", add_columns={"note": "string"})
    assert [d.path for d in snap.delete_files]  # carried, not dropped
    tbl = cat.table("db", "t")
    got = sorted(r["id"] for r in tbl.read(spark).collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]
    assert tbl.delete_files_df(spark).count() == 1
    # spec evolution is metadata-only too: same carry rule
    snap2 = cat.alter_partition_spec("db", "t", ["note"])
    assert [d.path for d in snap2.delete_files]
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == got


def test_plan_files_prunes_on_partition_column(spark, cat):
    """Partition values live in the directory layout, not parquet
    footers — the manifest must still carry their bounds so the driver
    prunes partitioned files before Spark lists any."""
    df = spark.createDataFrame(
        [(i, ["eu", "us", "ap"][i % 3], i * 1.5) for i in range(30)],
        "id long, region string, amount double",
    )
    cat.write("db", "t", df.repartition("region"), partition_by=["region"],
              committed_at=T[0])
    tbl = cat.table("db", "t")
    all_files = tbl.current_snapshot().files
    eu = tbl.plan_files([("region", "=", "eu")])
    assert eu and len(eu) < len(all_files)
    assert all(f.stats["region"] == ["eu", "eu"] for f in eu)
    # data-column stats still present alongside the path-derived ones
    assert all("id" in (f.stats or {}) for f in all_files)
    got = sorted(r["id"] for r in tbl.read_where(spark, [("region", "=", "eu")]).collect())
    assert got == [i for i in range(30) if i % 3 == 0]


def test_read_where_builds_data_files_only_for_kept_files(spark, cat, monkeypatch):
    """A point lookup plans over raw manifest entries: only the kept
    file becomes a ``DataFile`` — neither the planner nor the scan's
    delete-file lookup builds one per data file of the snapshot."""
    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    cat.write("db", "t", spark.range(0, 400).repartitionByRange(40, "id"),
              committed_at=T[0])
    tbl = cat.table("db", "t")
    assert len(tbl.current_snapshot().files) >= 30
    built = []

    class CountingDataFile(SC.DataFile):
        def __init__(self, *args, **kwargs):
            built.append(kwargs.get("path"))
            super().__init__(*args, **kwargs)

    monkeypatch.setattr(SC, "DataFile", CountingDataFile)
    rows = tbl.read_where(spark, [("id", "=", 123)]).collect()
    assert [r["id"] for r in rows] == [123]
    assert len(built) == 1


def test_alter_partition_spec_lifecycle(spark, cat):
    """Explicit spec evolution: metadata-only commit; future writes lay
    out under the new spec; mixed layouts read correctly and each file
    prunes against its OWN spec; compact normalizes to the current one."""
    df1 = spark.createDataFrame(
        [(i, ["eu", "us"][i % 2], ["a", "b"][(i // 2) % 2]) for i in range(8)],
        "id long, region string, cat string",
    )
    cat.write("db", "t", df1, partition_by=["region"], committed_at=T[0])
    snap = cat.alter_partition_spec("db", "t", ["cat"], committed_at=T[1])
    assert snap.operation == "alter"
    assert snap.summary["partition-spec"] == "region->cat"
    assert [f.path for f in snap.files]  # zero rewrite
    df2 = spark.createDataFrame(
        [(i, ["eu", "us"][i % 2], ["a", "b"][(i // 2) % 2]) for i in range(8, 16)],
        "id long, region string, cat string",
    )
    cat.write("db", "t", df2, committed_at=T[2])  # inherits the new spec
    tbl = cat.table("db", "t")
    cur = tbl.current_snapshot()
    assert cur.partition_spec == ["cat"]
    new_files = [f for f in cur.files if f.path.startswith("data/s000003")]
    assert new_files and all("cat=" in f.path for f in new_files)
    assert tbl.read(spark).count() == 16
    # old files prune on region=..., new files prune on cat=...
    pruned_old = tbl.plan_files([("region", "=", "eu")])
    assert any(f.path.startswith("data/s000001") for f in pruned_old)
    assert not any(
        f.stats.get("region", [None])[0] == "us" for f in pruned_old
    )
    pruned_new = tbl.plan_files([("cat", "=", "a")])
    assert all(
        f.stats.get("cat", ["a"])[0] == "a" for f in pruned_new
    )
    # guard rails
    with pytest.raises(ValueError, match="not in the schema"):
        cat.alter_partition_spec("db", "t", ["nope"])
    with pytest.raises(ValueError, match="already partitioned"):
        cat.alter_partition_spec("db", "t", ["cat"])
    # compact rewrites everything under the current spec
    cat.compact("db", "t", spark, target_partitions=1)
    cur = cat.table("db", "t").current_snapshot()
    assert all("cat=" in f.path for f in cur.files)
    assert cat.table("db", "t").read(spark).count() == 16


def test_posdelete_hides_without_rewrite(spark, cat):
    """Position-delete MOR: a predicate delete records (file, pos)
    pairs only — zero data files rewritten — and readers drop exactly
    those rows."""
    cat.write("db", "t", spark.range(10).select("id", (F.col("id") * 3).alias("v")),
              committed_at=T[0])
    before = [f.path for f in cat.table("db", "t").current_snapshot().files]
    snap = cat.delete_where("db", "t", "v >= 12 AND v < 21",
                            committed_at=T[1], mode="merge-on-read")
    tbl = cat.table("db", "t")
    assert [f.path for f in snap.files] == before  # zero rewrite
    assert snap.summary["delete-mode"] == "merge-on-read"
    assert snap.summary["position-delete-rows"] == "3"
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == [0, 1, 2, 3, 7, 8, 9]
    # time travel before the delete still sees everything
    assert tbl.read(spark, snapshot_id=1).count() == 10
    # metadata table shows the kind
    df = tbl.delete_files_df(spark)
    assert df.collect()[0]["kind"] == "position"
    # re-append of identical values is untouched (fresh file paths)
    cat.write("db", "t", spark.createDataFrame([(4, 12)], "id long, v long"),
              committed_at=T[2])
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == [0, 1, 2, 3, 4, 7, 8, 9]


def test_posdelete_mixed_with_equality_and_compact(spark, cat):
    """Position and equality deletes compose; compact materializes
    both kinds away."""
    cat.write("db", "t", spark.range(12).select("id", (F.col("id") % 4).alias("g")),
              committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(0,)], "g long"), ["g"],
                    committed_at=T[1])  # drops 0,4,8
    cat.delete_where("db", "t", "id = 5", committed_at=T[2], mode="merge-on-read")
    tbl = cat.table("db", "t")
    want = [1, 2, 3, 6, 7, 9, 10, 11]
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == want
    kinds = {r["kind"] for r in tbl.delete_files_df(spark).collect()}
    assert kinds == {"equality", "position"}
    # read_where composes manifest pruning with both delete kinds
    assert sorted(
        r["id"] for r in tbl.read_where(spark, [("id", "<=", 6)]).collect()
    ) == [1, 2, 3, 6]
    # changelog surfaces the position delete as row-level deletes
    cl = tbl.changelog(spark, 2, 3)
    dels = [r["id"] for r in cl.where("_change_type = 'delete'").collect()]
    assert dels == [5]
    cat.compact("db", "t", spark, target_partitions=1)
    tbl = cat.table("db", "t")
    assert not tbl.current_snapshot().delete_files
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == want


def test_posdelete_noop_and_cow_interplay(spark, cat):
    cat.write("db", "t", spark.range(6), committed_at=T[0])
    snap = cat.delete_where("db", "t", "id > 99", committed_at=T[1],
                            mode="merge-on-read")
    assert snap.summary["position-delete-rows"] == "0"
    assert not snap.delete_files
    cat.delete_where("db", "t", "id = 2", committed_at=T[2], mode="merge-on-read")
    # a later COW update must not resurrect the position-deleted row
    cat.update_where("db", "t", "id >= 0", {"id": "id"}, committed_at=T[3])
    assert sorted(r["id"] for r in cat.table("db", "t").read(spark).collect()) == [
        0, 1, 3, 4, 5]


def test_write_distribution_modes(spark, cat):
    """write.distribution-mode ≙: hash-clustering a partitioned write
    caps files at one per partition value instead of tasks×partitions."""
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)], "id long, p string"
    ).repartition(8)  # many tasks, every one holding all 3 partitions
    cat.write("db", "spread", df, partition_by=["p"], committed_at=T[0])
    spread_files = len(cat.table("db", "spread").current_snapshot().files)
    cat.write("db", "hashed", df, partition_by=["p"], committed_at=T[0],
              distribution="hash")
    hashed = cat.table("db", "hashed").current_snapshot().files
    assert len(hashed) == 3 < spread_files  # one file per partition value
    assert sorted(r["id"] for r in cat.table("db", "hashed").read(spark).collect()) == list(range(30))
    cat.write("db", "ranged", df, partition_by=["p"], committed_at=T[0],
              distribution="range")
    assert len(cat.table("db", "ranged").current_snapshot().files) <= 4
    with pytest.raises(ValueError, match="distribution"):
        cat.write("db", "bad", df, distribution="zorder")


def test_row_lineage_appends_assign_stable_unique_ids(spark, cat):
    """≙ Iceberg v3 row lineage: appended rows inherit
    _row_id = first_row_id + position; two appends get disjoint id
    ranges; _last_updated_seq is the origin commit."""
    cat.write("db", "t", spark.range(10).select("id"), committed_at=T[0])
    cat.write("db", "t", spark.range(10, 16).select("id"), committed_at=T[1])
    tbl = cat.table("db", "t")
    rows = tbl.read(spark, with_row_ids=True).collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(16))  # dense, unique, stable
    seqs = {r["id"]: r["_last_updated_seq"] for r in rows}
    assert all(seqs[i] == 1 for i in range(10))
    assert all(seqs[i] == 2 for i in range(10, 16))
    # plain reads stay lineage-free (no schema pollution)
    assert tbl.read(spark).columns == ["id"]


def test_row_lineage_survives_update_delete_compact(spark, cat):
    """COW update keeps _row_id and bumps _last_updated_seq on matched
    rows only; COW delete and compact carry lineage unchanged."""
    cat.write("db", "t", spark.range(8).select("id", (F.col("id") * 10).alias("v")),
              committed_at=T[0])
    tbl = cat.table("db", "t")
    before = {r["id"]: r["_row_id"] for r in tbl.read(spark, with_row_ids=True).collect()}
    cat.update_where("db", "t", "id >= 6", {"v": "v + 1"}, committed_at=T[1])
    after = {r["id"]: (r["_row_id"], r["_last_updated_seq"])
             for r in tbl.read(spark, with_row_ids=True).collect()}
    for i in range(8):
        assert after[i][0] == before[i], f"id changed for row {i}"
    assert after[6][1] == 2 and after[7][1] == 2  # bumped to the update commit
    assert all(after[i][1] == 1 for i in range(6))  # carried rows untouched
    cat.delete_where("db", "t", "id = 3", committed_at=T[2])
    cat.compact("db", "t", spark, target_partitions=1)
    final = {r["id"]: (r["_row_id"], r["_last_updated_seq"])
             for r in cat.table("db", "t").read(spark, with_row_ids=True).collect()}
    assert set(final) == {0, 1, 2, 4, 5, 6, 7}
    for i in final:
        assert final[i] == after[i], f"lineage lost through delete/compact for {i}"


def test_row_lineage_merge_inherits_matched_ids(spark, cat):
    """MERGE: updated rows keep the replaced row's _row_id; inserted
    rows get fresh ids; both stamp this commit as last-updated."""
    cat.write("db", "t", spark.range(6).select("id", (F.col("id") * 10).alias("v")),
              committed_at=T[0])
    tbl = cat.table("db", "t")
    before = {r["id"]: r["_row_id"] for r in tbl.read(spark, with_row_ids=True).collect()}
    upd = spark.createDataFrame([(2, 222), (9, 999)], "id long, v long")
    cat.upsert("db", "t", upd, ["id"], committed_at=T[1])
    after = {r["id"]: (r["_row_id"], r["_last_updated_seq"], r["v"])
             for r in tbl.read(spark, with_row_ids=True).collect()}
    assert after[2][0] == before[2] and after[2][1] == 2 and after[2][2] == 222
    assert after[9][0] not in set(before.values())  # fresh id for the insert
    for i in (0, 1, 3, 4, 5):
        assert after[i][0] == before[i] and after[i][1] == 1
    # ids remain globally unique
    assert len({v[0] for v in after.values()}) == len(after)


def test_analyze_column_stats_and_metadata_tables(spark, cat):
    """ANALYZE persists NDV/null/min-max per column (≙ puffin stats);
    .all_files and .manifests metadata tables summarize the log."""
    df = spark.createDataFrame(
        [(i, ["a", "b", None][i % 3], float(i)) for i in range(30)],
        "id long, tag string, v double",
    )
    cat.write("db", "t", df.coalesce(2), committed_at=T[0])
    cat.write("db", "t", df.coalesce(1), committed_at=T[1])
    stats = cat.analyze("db", "t", spark)
    tbl = cat.table("db", "t")
    assert stats["id"]["null_count"] == 0 and stats["tag"]["null_count"] == 20
    assert stats["id"]["min"] == "0" and stats["id"]["max"] == "29"
    assert 25 <= stats["id"]["ndv"] <= 35  # HLL approx of 30 distinct
    assert stats["tag"]["ndv"] == 2
    sdf = tbl.stats_df(spark)
    assert sdf.count() == 3
    srow = {r["column"]: r for r in sdf.collect()}
    assert srow["v"]["row_count"] == 60 and srow["v"]["analyzed_snapshot_id"] == 2
    # metadata tables
    af = tbl.all_files_df(spark)
    assert af.count() == 3  # 2 files from commit 1 + 1 from commit 2
    two_ref = af.where("referencing_snapshots = 2").count()
    assert two_ref == 2  # commit-1 files referenced by both snapshots
    mf = {r["snapshot_id"]: r for r in tbl.manifests_df(spark).collect()}
    assert mf[1]["added_files"] == 2 and mf[1]["added_records"] == 30
    assert mf[2]["added_files"] == 1 and mf[2]["total_files"] == 3
    with pytest.raises(ValueError, match="unknown columns"):
        cat.analyze("db", "t", spark, columns=["nope"])


def test_row_history_tracks_versions(spark, cat):
    """row_history: every version of a row across commits, found by
    its stable _row_id — updates appear as new versions stamped with
    the updating commit, deletes as absence."""
    cat.write("db", "t", spark.range(5).select("id", (F.col("id") * 10).alias("v")),
              committed_at=T[0])
    cat.update_where("db", "t", "id = 3", {"v": "v + 1"}, committed_at=T[1])
    cat.update_where("db", "t", "id = 3", {"v": "v + 1"}, committed_at=T[2])
    cat.delete_where("db", "t", "id = 4", committed_at=T[3])
    tbl = cat.table("db", "t")
    hist = tbl.row_history(spark, "id = 3").orderBy("_snapshot_id").collect()
    assert [(r["_snapshot_id"], r["v"]) for r in hist] == [
        (1, 30), (2, 31), (3, 32), (4, 32)]
    # the id is the SAME row throughout
    assert len({r["_row_id"] for r in hist}) == 1
    # deleted row: present in snapshots 1-3, absent at the delete commit
    gone = tbl.row_history(spark, "id = 4")
    assert gone.count() == 0  # id=4 no longer exists at head → no ids tracked
    # a guard against unbounded audits
    with pytest.raises(ValueError, match="narrow it"):
        tbl.row_history(spark, "id >= 0", max_ids=2)


def test_cherry_pick_under_position_delete_is_safe(spark, cat):
    """A staged append can cherry-pick over a LATER position delete
    (it names exact published (file,pos) pairs — staged files can't be
    hit), while a later equality delete still refuses."""
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        CommitConflictError,
    )

    cat.write("db", "t", spark.range(6), committed_at=T[0])
    staged = cat.write("db", "t", spark.createDataFrame([(3,), (50,)], "id long"),
                       staged=True, wap_id="w1", committed_at=T[1])
    # base moves: a position delete of id=3 lands on main
    cat.delete_where("db", "t", "id = 3", committed_at=T[2], mode="merge-on-read")
    cat.publish("db", "t", staged.snapshot_id)
    got = sorted(r["id"] for r in cat.table("db", "t").read(spark).collect())
    # published id=3 deleted; CHERRY-PICKED id=3 survives (fresh file)
    assert got == [0, 1, 2, 3, 4, 5, 50]
    # equality deletes still refuse
    staged2 = cat.write("db", "t", spark.createDataFrame([(60,)], "id long"),
                        staged=True, wap_id="w2", committed_at=T[3])
    cat.delete_keys("db", "t", spark.createDataFrame([(60,)], "id long"),
                    committed_at=T[4])
    with pytest.raises(CommitConflictError, match="equality deletes"):
        cat.publish("db", "t", staged2.snapshot_id)


def test_cow_delete_null_predicate_rows_survive(spark, cat):
    """SQL DELETE semantics: rows where the predicate evaluates to
    NULL survive — including in files the COW rewrite touches."""
    df = spark.createDataFrame(
        [(1, 2.0), (2, 8.0), (3, None)], "id long, v double"
    ).coalesce(1)  # one file: the NULL row shares a file with a match
    cat.write("db", "t", df, committed_at=T[0])
    cat.delete_where("db", "t", "v > 5", committed_at=T[1])
    got = sorted(r["id"] for r in cat.table("db", "t").read(spark).collect())
    assert got == [1, 3]  # v=NULL survives; only v=8 deleted


def test_changelog_after_delete_key_renamed(spark, cat):
    """A historical equality delete whose key column was later renamed
    (after compaction materialized it away) must still replay in
    changelog and row_history via field-id translation."""
    cat.write("db", "t", spark.range(6).select("id", (F.col("id") % 3).alias("v")),
              committed_at=T[0])
    cat.delete_keys("db", "t", spark.createDataFrame([(0,)], "v long"), ["v"],
                    committed_at=T[1])  # hides ids 0 and 3
    cat.compact("db", "t", spark, target_partitions=1)  # deletes materialized
    cat.alter_table("db", "t", rename_columns={"v": "w"})
    tbl = cat.table("db", "t")
    cl = tbl.changelog(spark, None, tbl.current_snapshot().snapshot_id)
    dels = sorted(r["id"] for r in cl.where("_change_type = 'delete'").collect())
    assert dels == [0, 3]  # the MOR-delete commit's hidden rows, renamed schema
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == [1, 2, 4, 5]
    # row_history replays historical snapshots under the end schema too
    hist = tbl.row_history(spark, "id = 1")
    assert hist.count() >= 3 and "w" in hist.columns


def test_upsert_mor_assigns_row_ids(spark, cat):
    """MOR merge rows must join the row-lineage id space — fresh
    unique ids, last-updated stamped with the merge commit."""
    cat.write("db", "t", spark.range(5).select("id", (F.col("id") * 10).alias("v")),
              committed_at=T[0])
    cat.upsert_mor("db", "t", spark.createDataFrame([(2, 222), (9, 999)],
                   "id long, v long"), ["id"], committed_at=T[1])
    rows = cat.table("db", "t").read(spark, with_row_ids=True).collect()
    ids = [r["_row_id"] for r in rows]
    assert None not in ids and len(set(ids)) == len(ids)
    by_id = {r["id"]: r for r in rows}
    assert by_id[2]["v"] == 222 and by_id[2]["_last_updated_seq"] == 2
    assert by_id[9]["_last_updated_seq"] == 2


def test_stale_commit_lock_is_broken(spark, cat, tmp_path):
    """A lock dir left by a crashed writer must not deadlock the
    table: locks older than the timeout are broken and the commit
    proceeds."""
    import os
    import time as _time

    cat.write("db", "t", spark.range(3), committed_at=T[0])
    lock = os.path.join(cat.table("db", "t").root, "metadata", ".commit_lock")
    os.mkdir(lock)  # simulate a crashed writer
    old = _time.time() - 400
    os.utime(lock, (old, old))
    cat.write("db", "t", spark.range(3, 6), committed_at=T[1])  # must not hang
    assert cat.table("db", "t").read(spark).count() == 6
    assert not os.path.exists(lock)
    # a FRESH foreign lock still blocks (no premature breaking)
    os.mkdir(lock)
    import pytest as _pytest

    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    with _pytest.raises(TimeoutError):
        with SC._commit_lock(cat.table("db", "t").root, timeout_sec=0.3):
            pass
    os.rmdir(lock)


def test_live_lock_heartbeat_survives_long_hold(cat):
    """A LIVE lock held longer than stale_after must NOT be broken by a
    waiter: the heartbeat refreshes the dir mtime, so the staleness
    test reflects owner liveness, not hold duration (ADVICE r4 high —
    previously a >stale_after commit lost its lock mid-write)."""
    import os
    import threading as _threading
    import time as _time

    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    root = cat.table("db", "t").root if cat.table("db", "t").exists() else None
    if root is None:
        os.makedirs(os.path.join(cat.warehouse, "db", "t"), exist_ok=True)
        root = os.path.join(cat.warehouse, "db", "t")
    lock = os.path.join(root, "metadata", ".commit_lock")
    release = _threading.Event()
    held = _threading.Event()

    def owner() -> None:
        # heartbeat every 0.05s; hold for ~1s >> stale_after=0.2s
        with SC._commit_lock(root, heartbeat_sec=0.05):
            held.set()
            release.wait(5.0)

    t = _threading.Thread(target=owner, daemon=True)
    t.start()
    assert held.wait(5.0)
    _time.sleep(0.5)  # long past stale_after used by the waiter below
    # waiter sees a heartbeat-fresh lock → must time out, not break it
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        with SC._commit_lock(root, timeout_sec=0.4, stale_after_sec=0.2):
            pass
    assert os.path.exists(lock), "waiter broke a live heartbeating lock"
    release.set()
    t.join(5.0)
    assert not os.path.exists(lock)


def test_stale_break_reaps_lock_litter(cat):
    """Abandoned .acq/.stale/.rel protocol dirs (SIGKILLed waiters /
    breakers / releasers) are swept opportunistically when a stale
    lock is broken; fresh litter is left alone."""
    import os
    import time as _time

    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    root = os.path.join(cat.warehouse, "db", "litter_t")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    lock = os.path.join(meta, ".commit_lock")
    old = _time.time() - 400
    stale_litter = []
    for suffix in (".commit_lock.acq.dead1", ".commit_lock.stale.dead2",
                   ".commit_lock.rel.dead3"):
        p = os.path.join(meta, suffix)
        os.mkdir(p)
        os.utime(p, (old, old))
        stale_litter.append(p)
    fresh = os.path.join(meta, ".commit_lock.acq.alive")
    os.mkdir(fresh)
    os.mkdir(lock)  # stale foreign lock triggers the break path
    os.utime(lock, (old, old))
    with SC._commit_lock(root, stale_after_sec=300):
        pass
    assert all(not os.path.exists(p) for p in stale_litter)
    assert os.path.exists(fresh)  # younger than stale_after — kept
    os.rmdir(fresh)


def test_lock_release_leaves_no_residue_and_serializes(cat):
    """The rename-away release leaves neither the lock dir nor a .rel
    trash behind, and N threads hammering acquire/release serialize a
    plain counter exactly."""
    import os
    import threading as _threading

    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    root = os.path.join(cat.warehouse, "db", "stress_t")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    counter = os.path.join(meta, "counter.txt")
    with open(counter, "w") as f:
        f.write("0")
    errs: list = []

    def worker() -> None:
        try:
            for _ in range(20):
                with SC._commit_lock(root, timeout_sec=30):
                    with open(counter) as f:
                        v = int(f.read())
                    with open(counter, "w") as f:
                        f.write(str(v + 1))
        except BaseException as e:  # pragma: no cover
            errs.append(e)

    threads = [_threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errs
    with open(counter) as f:
        assert int(f.read()) == 160
    residue = [e for e in os.listdir(meta) if e.startswith(".commit_lock")]
    assert residue == []


def test_release_swap_is_counted_not_just_logged(cat, monkeypatch):
    """ADVICE r7: the swapped-mid-release discard (a breaker replaces
    the lock dir inside the read→rename window and the give-back
    rename loses to a third waiter) must bump a METRIC, not just log.
    The race is forced deterministically by intercepting the
    rename-away."""
    import os as _os

    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    root = _os.path.join(cat.warehouse, "db", "swap_t")
    lock_dir = _os.path.join(root, "metadata", ".commit_lock")
    real_rename = _os.rename

    def racy_rename(src, dst):
        if src == lock_dir and ".rel." in str(dst):
            real_rename(src, dst)
            # the dir we renamed away turns out to be a NEW waiter's…
            with open(_os.path.join(dst, "owner"), "w") as fh:
                fh.write("swapped-in-waiter")
            # …and a third waiter claims the path before the restore
            _os.mkdir(lock_dir)
            with open(_os.path.join(lock_dir, "owner"), "w") as fh:
                fh.write("third-waiter")
            return
        return real_rename(src, dst)

    before = dict(SC.LOCK_STATS)
    monkeypatch.setattr(SC.os, "rename", racy_rename)
    with SC._commit_lock(root, timeout_sec=10):
        pass
    monkeypatch.undo()
    assert (
        SC.LOCK_STATS["release_swap_discarded"]
        == before["release_swap_discarded"] + 1
    )
    # the third waiter's live lock state survived the discard
    with open(_os.path.join(lock_dir, "owner")) as fh:
        assert fh.read() == "third-waiter"
    import shutil as _shutil

    _shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# auto_maintain: policy-driven table services (round 8)
# ---------------------------------------------------------------------------


def test_auto_maintain_enforces_per_table_policies(spark, tmp_path):
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        SnapCatalog,
        auto_maintain,
    )

    cat = SnapCatalog(str(tmp_path / "wh"))
    # table A: expire policy, 4 commits
    for i in range(4):
        cat.write("db", "a", spark.range(i * 10, (i + 1) * 10).select("id"))
    cat.set_properties("db", "a", {"maintain.expire.keep-last": "2"})
    # table B: compact policy, many tiny files
    for i in range(3):
        cat.write("db", "b", spark.range(i * 5, (i + 1) * 5).select("id"))
    cat.set_properties(
        "db", "b", {"maintain.compact.min-file-bytes": str(1 << 20)}
    )
    # table C: no policy — untouched
    cat.write("db", "c", spark.range(0, 5).select("id"))
    n_c_snaps = len(cat.table("db", "c").snapshots())

    report = auto_maintain(cat, spark)
    actions = {(r["database"], r["table"], r["action"]) for r in report}
    assert ("db", "a", "expire") in actions
    assert ("db", "b", "compact") in actions
    assert not any(r["table"] == "c" for r in report)
    assert len(cat.table("db", "a").snapshots()) == 2
    assert cat.table("db", "b").read(spark).count() == 15  # rows preserved
    assert len(cat.table("db", "c").snapshots()) == n_c_snaps
    # idempotent second sweep: nothing (new) to do for a
    report2 = auto_maintain(cat, spark)
    assert not any(
        r["table"] == "a" and r["action"] == "expire" for r in report2
    )


def test_auto_maintain_isolates_errors(spark, tmp_path, monkeypatch):
    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as sc

    cat = sc.SnapCatalog(str(tmp_path / "wh"))
    cat.write("db", "bad", spark.range(0, 5).select("id"))
    cat.set_properties("db", "bad", {"maintain.expire.keep-last": "1"})
    cat.write("db", "good", spark.range(0, 5).select("id"))
    cat.write("db", "good", spark.range(5, 9).select("id"))
    cat.set_properties("db", "good", {"maintain.expire.keep-last": "1"})

    real = cat.expire_snapshots

    def flaky(db, name, **kw):
        if name == "bad":
            raise RuntimeError("disk full")
        return real(db, name, **kw)

    monkeypatch.setattr(cat, "expire_snapshots", flaky)
    report = sc.auto_maintain(cat, spark)
    by = {(r["table"], r["action"]) for r in report}
    assert ("bad", "error") in by
    assert ("good", "expire") in by


def test_write_sort_by_property_clusters_fresh_files(spark, tmp_path):
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_table(
        "db", "t", "id bigint, v bigint",
        properties={"write.sort-by": "id", "write.sort-partitions": "4"},
    )
    # shuffle the input so only the write-side clustering can order it
    df = (
        spark.range(0, 400)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .repartition(8)
    )
    cat.write("db", "t", df)
    tbl = cat.table("db", "t")
    files = [f for f in tbl.current_snapshot().files if f.records]
    assert len(files) >= 2
    bounds = sorted((f.stats["id"][0], f.stats["id"][1]) for f in files)
    # near-disjoint ranges: each file's min is past the previous max
    for (lo_a, hi_a), (lo_b, hi_b) in zip(bounds, bounds[1:]):
        assert hi_a < lo_b
    # a range predicate manifest-prunes to a strict subset of files
    planned = tbl.plan_files([("id", "<", 50)])
    assert 0 < len(planned) < len(files)
    # rows intact
    assert tbl.read(spark).count() == 400


def test_write_sort_by_survives_explicit_distribution(spark, tmp_path):
    """An explicit write distribution (the migration copy's hash mode)
    must not silently drop the table's declared write.sort-by: the
    sort order is applied WITHIN each write task (Iceberg's behavior
    under write.distribution-mode=hash), so every fresh file still
    carries tight per-file [min, max] bounds on the sort key."""
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_table(
        "db", "t", "id bigint, part int, v bigint",
        partition_by=["part"],
        properties={"write.sort-by": "id"},
    )
    df = (
        spark.range(0, 400)
        .select(
            F.col("id"),
            (F.col("id") % 4).cast("int").alias("part"),
            (F.col("id") * 2).alias("v"),
        )
        .repartition(8)  # shuffled input: only write-side sorting can order it
    )
    cat.write("db", "t", df, partition_by=["part"], distribution="hash")
    tbl = cat.table("db", "t")
    files = [f for f in tbl.current_snapshot().files if f.records]
    # hash distribution: one file per partition value, not 8 × 4
    assert len(files) == 4
    # rows within each file are sorted on the declared sort column
    import pyarrow.parquet as _pq

    import os as _os

    for f in files:
        ids = _pq.read_table(
            _os.path.join(tbl.root, f.path), columns=["id"]
        )["id"].to_pylist()
        assert ids == sorted(ids)
    assert tbl.read(spark).count() == 400


def test_export_snapshot_plain_parquet_escape_hatch(spark, tmp_path):
    import json as _json
    import os as _os

    import duckdb

    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        SnapCatalog,
        export_snapshot,
    )

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.write("db", "t", spark.range(0, 30).select("id"))
    cat.write("db", "t", spark.range(30, 50).select("id"))
    cat.delete_where("db", "t", F.col("id") % 5 == 0, mode="merge-on-read")
    out = str(tmp_path / "export")
    m = export_snapshot(cat, spark, "db", "t", out)
    assert m["records"] == 40  # MOR deletes materialized away
    # any engine can read it: DuckDB sees the same live rows
    n = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{out}/data/*.parquet')"
    ).fetchone()[0]
    assert n == 40
    mf = _json.load(open(_os.path.join(out, "_export_manifest.json")))
    assert mf["source"] == "db.t" and mf["schema_ddl"].startswith("id")
    # historical export by snapshot id
    out1 = str(tmp_path / "export1")
    m1 = export_snapshot(cat, spark, "db", "t", out1, snapshot_id=1)
    assert m1["records"] == 30


def test_auto_maintain_clustering_policy(spark, tmp_path):
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        SnapCatalog,
        auto_maintain,
    )

    cat = SnapCatalog(str(tmp_path / "wh"))
    for i in range(3):
        cat.write("db", "t", spark.range(i * 50, (i + 1) * 50).select(
            "id", (F.col("id") % 7).alias("k")))
    cat.set_properties("db", "t", {
        "maintain.compact.sort-by": "id",
        "maintain.compact.every-commits": "2",
    })
    rep = auto_maintain(cat, spark)
    assert any(r["action"] == "cluster" and r["table"] == "t" for r in rep)
    tbl = cat.table("db", "t")
    head = tbl.current_snapshot()
    assert head.operation == "replace"
    assert head.summary.get("maintain.clustered") == "true"
    assert tbl.read(spark).count() == 150
    # immediately re-sweeping does nothing (0 commits since the pass)
    rep2 = auto_maintain(cat, spark)
    assert not any(r["action"] == "cluster" for r in rep2)
    # one more commit: still under the every-commits=2 bound
    cat.write("db", "t", spark.range(150, 160).select(
        "id", (F.col("id") % 7).alias("k")))
    rep3 = auto_maintain(cat, spark)
    assert not any(r["action"] == "cluster" for r in rep3)
    # a second commit crosses the bound → clustering fires again
    cat.write("db", "t", spark.range(160, 170).select(
        "id", (F.col("id") % 7).alias("k")))
    rep4 = auto_maintain(cat, spark)
    assert any(r["action"] == "cluster" for r in rep4)


def test_stale_breaker_fresh_lock_counted_and_waiter_survives(cat, monkeypatch):
    """Verdict r8 #6: the stale-breaker race — a breaker renames away a
    lock that turns out heartbeat-fresh, and the restore loses to a new
    waiter — must bump LOCK_STATS and must NOT rmtree the new waiter's
    live lock state."""
    import os as _os
    import shutil as _shutil
    import time as _time

    import pytest as _pytest

    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as SC

    root = _os.path.join(cat.warehouse, "db", "stale_t")
    meta = _os.path.join(root, "metadata")
    lock_dir = _os.path.join(meta, ".commit_lock")
    _os.makedirs(meta, exist_ok=True)
    # a lock whose heartbeat looks silent (mtime 900s ago)
    _os.mkdir(lock_dir)
    with open(_os.path.join(lock_dir, "owner"), "w") as fh:
        fh.write("original-owner")
    old = _time.time() - 900
    _os.utime(lock_dir, (old, old))

    real_rename = _os.rename
    fired = []

    def racy_rename(src, dst):
        if src == lock_dir and ".stale." in str(dst) and not fired:
            fired.append(1)
            real_rename(src, dst)
            # the owner's heartbeat lands inside the stat→rename window…
            _os.utime(dst, None)
            # …and a new waiter claims the path before the restore
            _os.mkdir(lock_dir)
            with open(_os.path.join(lock_dir, "owner"), "w") as fh:
                fh.write("new-waiter")
            return
        return real_rename(src, dst)

    before = dict(SC.LOCK_STATS)
    monkeypatch.setattr(SC.os, "rename", racy_rename)
    with _pytest.raises(TimeoutError):
        with SC._commit_lock(root, timeout_sec=2, stale_after_sec=5):
            pass  # pragma: no cover
    monkeypatch.undo()
    assert (
        SC.LOCK_STATS["stolen_fresh_lock_discarded"]
        == before["stolen_fresh_lock_discarded"] + 1
    )
    # the new waiter's live lock state was NOT rmtree'd
    with open(_os.path.join(lock_dir, "owner")) as fh:
        assert fh.read() == "new-waiter"
    # the stolen trash dir did not leak
    litter = [e for e in _os.listdir(meta) if ".stale." in e]
    assert litter == []
    _shutil.rmtree(root, ignore_errors=True)


def test_manifest_chunked_metadata_write_amplification(spark, cat):
    """table.json must stay O(history) — file lists live in immutable
    content-addressed manifest chunks, and an append writes exactly
    one new chunk (its added-files run), reusing the parent's."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F2

    df = spark.range(0, 500).select("id", (F2.col("id") * 2).alias("v"))
    cat.write("db", "chunked", df)
    tbl = cat.table("db", "chunked")
    mdir = tbl._manifest_dir

    def chunks():
        return {f for f in _os.listdir(mdir) if f.endswith(".json")}

    c1 = chunks()
    cat.write("db", "chunked", df, mode="append")
    c2 = chunks()
    assert c1 <= c2
    # one new data chunk for the append (append-only history: parent
    # runs are reused byte-identically)
    assert len(c2 - c1) == 1
    # table.json itself carries refs, never file paths
    with open(tbl._meta_path) as fh:
        stored = _json.load(fh)
    for s in stored["snapshots"]:
        assert "files" not in s and "files_ref" in s
        assert all(len(r) == 40 for r in s["files_ref"])
    # reconstruction round-trips exactly
    snaps = tbl.snapshots()
    assert snaps[-1].files and len(snaps[-1].files) == len(snaps[-2].files) * 2
    assert tbl.read(spark).count() == 1000


def test_manifest_chunks_reaped_on_expire(spark, cat):
    import os as _os

    from pyspark.sql import functions as F2

    df = spark.range(0, 100).select("id", (F2.col("id") * 2).alias("v"))
    cat.write("db", "reap", df)
    for _ in range(3):
        cat.write("db", "reap", df, mode="overwrite")
    tbl = cat.table("db", "reap")
    before = {f for f in _os.listdir(tbl._manifest_dir) if f.endswith(".json")}
    # overwrites of IDENTICAL data share content-addressed chunks; at
    # least the distinct run layouts exist
    expired = cat.expire_snapshots("db", "reap", keep_last=1)
    assert expired
    after = {f for f in _os.listdir(tbl._manifest_dir) if f.endswith(".json")}
    assert after <= before
    # every surviving chunk is referenced by the kept history
    import json as _json
    with open(tbl._meta_path) as fh:
        stored = _json.load(fh)
    live = set()
    for s in stored["snapshots"]:
        live.update(s.get("files_ref") or [])
        if s.get("delete_files_ref"):
            live.add(s["delete_files_ref"])
    assert {f[:-5] for f in after} == live
    assert tbl.read(spark).count() == 100


def test_inline_legacy_metadata_upgrades_on_next_commit(spark, cat):
    """Tables written by the pre-chunk format (file lists inline in
    table.json) must read unchanged and upgrade to chunk refs on
    their next commit."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F2

    df = spark.range(0, 50).select("id", (F2.col("id") * 2).alias("v"))
    cat.write("db", "legacy", df)
    tbl = cat.table("db", "legacy")
    # rewrite table.json to the OLD inline format
    meta = tbl._load_meta()
    for s in meta["snapshots"]:
        s.pop("files_ref", None)
        s.pop("_files_fp", None)
        s.pop("delete_files_ref", None)
        s.pop("_dels_fp", None)
    with open(tbl._meta_path, "w") as fh:
        _json.dump(meta, fh)
    import shutil as _shutil

    _shutil.rmtree(tbl._manifest_dir, ignore_errors=True)

    # reads work straight off the inline format
    assert tbl.read(spark).count() == 50
    assert {f.path for f in tbl.plan_files([("id", "<", 10)])}

    # next commit upgrades the whole log to chunk refs
    cat.write("db", "legacy", df, mode="append")
    with open(tbl._meta_path) as fh:
        stored = _json.load(fh)
    assert all("files_ref" in s and "files" not in s for s in stored["snapshots"])
    assert tbl.read(spark).count() == 100


def test_chunk_cache_lru_hot_entries_survive(spark, cat):
    """VERDICT r9 #5: the chunk cache evicts LRU, not wholesale — a
    hot chunk that keeps getting hits must survive eviction pressure
    from a stream of cold one-shot entries."""
    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as sc

    df = spark.range(0, 10).select("id", (F.col("id") * 2).alias("v"))
    cat.write("db", "lru", df)
    tbl = cat.table("db", "lru")
    sha = tbl._load_meta(expand=False)["snapshots"][-1]["files_ref"][0]

    old_max = sc._CHUNK_CACHE_MAX
    sc._CHUNK_CACHE.clear()
    try:
        sc._CHUNK_CACHE_MAX = 8
        hot = os.path.join(tbl._manifest_dir, f"{sha}.json")
        tbl._read_chunk(sha)
        assert hot in sc._CHUNK_CACHE
        # 50 cold entries (> 6x the cap) interleaved with hot hits
        for i in range(50):
            # simulate a cold insert the way _read_chunk does
            while len(sc._CHUNK_CACHE) >= sc._CHUNK_CACHE_MAX:
                sc._CHUNK_CACHE.pop(next(iter(sc._CHUNK_CACHE)))
            sc._CHUNK_CACHE[f"cold-{i}"] = []
            tbl._read_chunk(sha)  # hot hit re-marks recency
            assert hot in sc._CHUNK_CACHE, f"hot chunk evicted at cold #{i}"
        assert len(sc._CHUNK_CACHE) <= sc._CHUNK_CACHE_MAX
        # sanity: the wholesale-clear bug would have dropped the hot
        # entry the moment the cap was crossed
    finally:
        sc._CHUNK_CACHE_MAX = old_max
        sc._CHUNK_CACHE.clear()


def test_history_walks_parse_no_manifest_chunks(spark, cat, monkeypatch):
    """VERDICT r9 #3: snapshots()/main_chain()/snapshots_df/history_df
    are summary-only — listing an N-commit table's history must not
    parse a single manifest chunk. Accessing .files on one snapshot
    expands exactly that snapshot's chunks."""
    from apache_iceberg_tables_migration_tool_spark.sources import snapcat as sc

    df = spark.range(0, 60).select("id", (F.col("id") * 2).alias("v"))
    for i in range(6):
        cat.write("db", "hist", df.where(F.col("id") % 6 == i), mode="append")
    cat.delete_where("db", "hist", "id = 7", mode="merge-on-read")
    tbl = cat.table("db", "hist")

    reads = []
    real = sc.SnapTable._read_chunk

    def counting(self, sha):
        reads.append(sha)
        return real(self, sha)

    monkeypatch.setattr(sc.SnapTable, "_read_chunk", counting)
    sc._CHUNK_CACHE.clear()  # a cache hit would hide a parse

    snaps = tbl.snapshots()
    chain = tbl.main_chain()
    tbl.snapshots_df(spark).collect()
    tbl.history_df(spark).collect()
    tbl.current_snapshot()
    tbl.resolve_snapshot(snapshot_id=snaps[2].snapshot_id)
    assert reads == [], f"history walk parsed {len(reads)} chunks"
    assert len(snaps) == 7 and len(chain) == 7

    # scalars come from summaries, bit-identical to the file-sum
    mid = snaps[3]
    summary_records = int(mid.summary["total-records"])
    _ = mid.files  # explicit expansion
    assert reads, "accessing .files must expand the snapshot"
    n_after_one = len(reads)
    assert mid.total_records == summary_records
    # expanding ONE snapshot did not expand the others
    assert all(s._files is None or s is mid for s in snaps if hasattr(s, "_files"))
    _ = mid.delete_files
    assert len(reads) == n_after_one  # same snapshot: no re-parse


def test_timestamp_micros_override_stress(spark):
    """Concurrent writes on a session whose own timestamp type is not
    TIMESTAMP_MICROS: every write in flight sees MICROS, and the last
    one out restores the session's value."""
    import sys
    import threading

    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import (
        _timestamp_micros,
    )

    key = "spark.sql.parquet.outputTimestampType"
    engine_default = spark.conf.get(key)
    seen: list[str] = []
    seen_lock = threading.Lock()

    def writer():
        for _ in range(20):
            with _timestamp_micros(spark):
                v = spark.conf.get(key)
                with seen_lock:
                    seen.append(v)

    interval = sys.getswitchinterval()
    try:
        spark.conf.set(key, "INT96")
        sys.setswitchinterval(1e-5)
        threads = [threading.Thread(target=writer) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(seen) == 12 * 20
        assert set(seen) == {"TIMESTAMP_MICROS"}
        assert spark.conf.get(key) == "INT96"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.set(key, engine_default)
