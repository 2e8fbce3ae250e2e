"""Table-integrity operators (reference stage 6, hardened per gap G5).

The reference's checksum is ``sum(hash(*))`` — Murmur3-32 summed into
a long (``6_verify_data_integrity.py:79-81``): order-insensitive but
collision-weak and overflow-prone. Ours:

- ``xxhash64`` over all columns (64-bit),
- SUM carried in DECIMAL(38,0) (exact — a bigint SUM over enough rows
  overflows, which under ANSI mode *throws* mid-job),
- plus BIT_XOR as an independent combine,
- row count alongside.

Two tables match iff count, sum and xor all agree. Cross-engine note:
xxhash64 seeds/layout are Spark-specific, so the DuckDB oracle for
equality checks is row-set equality (EXCEPT ALL both ways empty), not
the checksum value — see tests.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _contains_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _hashable(df: DataFrame) -> list[Column]:
    """xxhash64 refuses MAP types (map equality ≠ hash equality in
    general); serialize such columns to JSON first. Parquet preserves
    per-row entry order, so a copied table serializes identically to
    its source — sufficient for migration integrity checks."""
    cols = []
    for f in df.schema.fields:
        if _contains_map(f.dataType):
            cols.append(F.to_json(F.col(f.name)))
        else:
            cols.append(F.col(f.name))
    return cols


@dataclass(frozen=True)
class Checksum:
    n_rows: int
    chk_sum: int
    chk_xor: int

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Checksum):
            return NotImplemented
        return (
            self.n_rows == other.n_rows
            and self.chk_sum == other.chk_sum
            and self.chk_xor == other.chk_xor
        )


def checksum_df(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-row DataFrame (n_rows, chk_sum, chk_xor) — the distributed
    part of the integrity check; scan → map-side partials → scalar."""
    h = F.xxhash64(*(
        [F.col(c) for c in cols] if cols is not None else _hashable(df)
    ))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("chk_sum"),
        F.bit_xor(h).alias("chk_xor"),
    )


def _to_checksum(row) -> Checksum:
    return Checksum(n_rows=row["n_rows"], chk_sum=int(row["chk_sum"] or 0), chk_xor=row["chk_xor"] or 0)


def table_checksum(df: DataFrame, cols: list[str] | None = None) -> Checksum:
    return _to_checksum(checksum_df(df, cols).collect()[0])


def row_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Rows in a but not b (bag semantics) unioned with rows in b but
    not a, tagged — the debugging drill-down when checksums differ."""
    only_a = a.exceptAll(b).withColumn("side", F.lit("left_only"))
    only_b = b.exceptAll(a).withColumn("side", F.lit("right_only"))
    return only_a.unionByName(only_b)


def tables_match(a: DataFrame, b: DataFrame) -> bool:
    """The reference's sample_match definition (counts ∧ checksum,
    6_verify_data_integrity.py:83-87), hardened. Both sides' checksums
    come from ONE action (the two one-row aggregates unioned, each
    tagged with its side), not two. Columns hash by name, not
    position: a reorder of the same columns alone still matches."""
    names = sorted(set(a.columns))
    if a.columns != b.columns and sorted(a.columns) == sorted(b.columns) == names:
        b = b.select(*(F.col("`" + c.replace("`", "``") + "`") for c in a.columns))
    sides = [checksum_df(df).withColumn("side", F.lit(i)) for i, df in enumerate((a, b))]
    got = {r["side"]: _to_checksum(r) for r in sides[0].unionByName(sides[1]).collect()}
    return got[0] == got[1]
