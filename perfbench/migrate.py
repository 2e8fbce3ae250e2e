"""``migrate`` workload: point-in-time migration of a snapshot catalog.

Each pass runs the reference's job end to end -- ``collect_plan`` ->
``migrate`` -> ``verify`` -- from one source catalog into a fresh
destination. The source holds two shapes of table:

1. the fixture tables from ``queries.migration.build_source_warehouse``
   (lineitem in three partitioned appends, orders as append plus
   overwrite, a nested-type table), where copying and checksums
   dominate;
2. many small tables with deep snapshot histories, each built from
   seeded samples of the fixture ``orders`` rows, where per-table job
   overhead, the table thread pools and the metadata walk dominate.

The plan is taken as of a time inside every table's history, so each
table migrates an older snapshot than its head. Every ``verify``
``*_match`` column must be true, and each destination table's row count
must equal the count the benchmark derives on its own from the inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from apache_iceberg_tables_migration_tool_spark.plans import collect_plan, migrate, verify
from apache_iceberg_tables_migration_tool_spark.queries.migration import build_source_warehouse
from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog
from harness import dir_bytes

HIST_DB = "hist"
HIST_TABLES = 4
HIST_COMMITS = 4  # commit k lands on 2024-06-0k
HIST_ROWS = 300  # fixture orders rows per commit
HIST_COLS = ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]
HIST_DDL = "o_orderkey long, o_custkey long, o_orderpriority string, o_totalprice double"
AS_OF = "2024-06-03T12:00:00+00:00"  # after commit 3 of every table
COMMITTED_AT = "2024-07-01T00:00:00.000000+00:00"
MATCH_COLS = ("schema_match", "partition_match", "properties_match", "count_match",
              "checksum_match")


def _day(k: int) -> str:
    return f"2024-06-0{k}T00:00:00.000000+00:00"


class Migrate:
    name = "migrate"
    warmup_passes = 0
    nominal_pass_s = 13.0

    def __init__(self, spark, work_dir: str, seed: int, sf_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.sf_dir = sf_dir
        self.src: SnapCatalog | None = None
        self.expected_rows: dict[tuple[str, str], int] = {}
        self.dst_root: str | None = None

    def _history_table(self, rng: np.random.Generator, orders: pd.DataFrame, name: str) -> int:
        """Commits of seeded fixture ``orders`` rows: append, append,
        overwrite (keeps the rows of a seeded set of priorities plus a new
        batch), append. Returns the row count as of ``AS_OF``."""
        picks = rng.choice(len(orders), HIST_ROWS * HIST_COMMITS, replace=False)
        rows = orders.iloc[:0]
        count_as_of = 0
        for k in range(1, HIST_COMMITS + 1):
            batch = orders.iloc[picks[(k - 1) * HIST_ROWS:k * HIST_ROWS]]
            if k == 3:
                kept = rng.choice(sorted(orders["o_orderpriority"].unique()), 2, replace=False)
                rows = pd.concat([rows[rows["o_orderpriority"].isin(kept)], batch], ignore_index=True)
                mode, df = "overwrite", rows
            else:
                rows = pd.concat([rows, batch], ignore_index=True)
                mode, df = "append", batch
            self.src.write(HIST_DB, name, self.spark.createDataFrame(df, HIST_DDL).coalesce(1),
                           mode=mode, committed_at=_day(k))
            if k <= 3:
                count_as_of = len(rows)
        return count_as_of

    def setup(self, runner) -> None:
        self.src = build_source_warehouse(self.spark, self.sf_dir, self.work)
        orders = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"))
        self.expected_rows = {
            ("db", "lineitem_snap"): pq.ParquetFile(os.path.join(self.sf_dir, "lineitem.parquet")).metadata.num_rows,
            ("db", "orders_snap"): int(pc.sum(pc.not_equal(orders["o_orderstatus"], "P")).as_py()),
            ("db", "typed_snap"): 100,
        }
        self.src.create_namespace(HIST_DB)
        rng = np.random.default_rng([self.seed, 20_000])
        hist_rows = orders.select(HIST_COLS).to_pandas()
        for j in range(HIST_TABLES):
            self.expected_rows[(HIST_DB, f"h{j}")] = self._history_table(rng, hist_rows, f"h{j}")

    def _check_verify(self, pdf: pd.DataFrame) -> bool:
        return (len(pdf) == len(self.expected_rows)
                and all(pdf[c].fillna(False).astype(bool).all() for c in MATCH_COLS)
                and all(int(r.src_records) == int(r.dst_records) == self.expected_rows[(r.database, r.table_name)]
                        for r in pdf.itertuples()))

    def _check_dst(self, dst: SnapCatalog) -> bool:
        return all(dst.table(db, t).read(self.spark).count() == n
                   for (db, t), n in self.expected_rows.items())

    def run_pass(self, runner, index: int) -> None:
        spark, src = self.spark, self.src
        if self.dst_root is not None:  # checked when its pass ended
            shutil.rmtree(self.dst_root)
        self.dst_root = os.path.join(self.work, f"dst{index}")
        dst = SnapCatalog(self.dst_root)
        plan = runner.op("plans.collect_plan", lambda: collect_plan(src, as_of=AS_OF),
                         lambda p: sorted((t.database, t.table_name) for t in p.tables)
                         == sorted(self.expected_rows))
        if plan is None:
            return
        report = runner.op("plans.migrate",
                           lambda: migrate(spark, plan, src, dst, committed_at=COMMITTED_AT).toPandas(),
                           lambda pdf: (pdf["status"] == "success").all())
        runner.op("plans.verify", lambda: verify(spark, plan, src, dst).toPandas(), self._check_verify)
        if runner.tracing:
            runner.count("plans.tables", len(plan.tables))
            if report is not None:
                runner.count("plans.rows", int(report["records_migrated"].sum()))
        runner.check("migrate.row_counts", lambda: self._check_dst(dst))

    def final_check(self, runner) -> None:
        pass

    def stored_bytes(self) -> int:
        """Size of the last pass's destination warehouse."""
        return dir_bytes(self.dst_root)
