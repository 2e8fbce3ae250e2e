"""``analytics`` workload: the registry's headline queries.

One pass runs every ``headline=True`` query once, in an order the seed
and the pass index permute, and materializes each result as the pandas
frame a user receives (not ``count()``, which would let Catalyst prune
the projected columns). Each result is checked after the pass against a
digest of the query's DuckDB oracle over the same parquet, computed
once in set-up. The tables are the bundled fixtures, read in place.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

from apache_iceberg_tables_migration_tool_spark.queries import QUERIES
from apache_iceberg_tables_migration_tool_spark.sources.fixtures import TABLES, table_path
from harness import dir_bytes

HEADLINE = sorted(n for n, s in QUERIES.items() if s.headline)


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    sorted, every value rendered by its type class, so an int/float split
    between engines is a mismatch, as in tests/oracle_harness.py."""
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).astype("datetime64[us]").astype(str)
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.map(lambda v: str(int(v)))
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.map(lambda v: "null" if np.isnan(v) else repr(float(v)))
        else:
            df[c] = col.map(lambda v: "null" if v is None else str(v))
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        return {n: digest(con.sql(QUERIES[n].oracle).df()) for n in names}
    finally:
        con.close()


class Analytics:
    name = "analytics"
    warmup_passes = 2  # the first two passes still run measurably slower (JIT)
    nominal_pass_s = 8.0

    def __init__(self, spark, work_dir: str, seed: int, sf_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.sf_dir = sf_dir
        self.expected: dict[str, str] = {}

    def setup(self, runner) -> None:
        self.expected = oracle_digests(self.sf_dir, HEADLINE)

    def run_pass(self, runner, index: int) -> None:
        order = np.random.default_rng([self.seed, index]).permutation(len(HEADLINE))
        for k in order:
            name = HEADLINE[k]
            runner.op(
                f"queries.{name}",
                lambda name=name: QUERIES[name].fn(self.spark, self.sf_dir).toPandas(),
                lambda pdf, name=name: digest(pdf) == self.expected[name],
            )

    def final_check(self, runner) -> None:
        pass

    def stored_bytes(self) -> int:
        return dir_bytes(self.sf_dir)
