"""Parquet snapshot catalog — the engine's Iceberg-model substrate.

The reference drives real Iceberg through the Spark runtime jar
(``1_collect_src_snapshots.py:24-35``); that jar doesn't ship in this
environment, so the engine implements the same *model* directly:

- a table is a directory of immutable parquet data files plus a
  metadata log,
- every write is a **commit** producing a new snapshot (id, parent,
  committed_at, operation, summary, file manifest, schema, partition
  spec),
- reads resolve a snapshot (current, by id, or latest ≤ timestamp)
  and scan exactly its manifest — time travel à la
  ``option("snapshot-id", …)`` (``5_migrate_tables_data.py:72-74``),
- ``.snapshots`` / ``.files`` / ``.history`` are DataFrames, like
  Iceberg metadata tables (``1_collect_src_snapshots.py:61-62``,
  fixing gap G3 — files live in the files manifest, not snapshots),
- maintenance: ``expire_snapshots`` and ``compact`` (≙ Iceberg's
  ``expire_snapshots`` / ``rewrite_data_files`` procedures, X7).

Scale notes: the data plane is 100% executor-side Spark parquet IO;
partitioned tables write real ``col=value`` directories so partition
pruning happens at scan planning. The metadata log is driver-side
JSON — the control plane — and holds per-file stats captured from
parquet footers at commit time (the analog of Iceberg manifest
metrics), so ``count()``-style questions are answered without
touching data (the reference instead re-scanned:
``5_migrate_tables_data.py:76``).
"""

from __future__ import annotations

import bisect
import contextlib
import hashlib
import json
import logging
import os
import re
import shutil
import threading
import time
import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field, replace
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_log = logging.getLogger(__name__)


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")


#: sentinel for "caller did not ask for an optimistic-concurrency check"
#: (None is a real expectation: "table must not exist yet").
_UNSET = object()


class CommitConflictError(RuntimeError):
    """A commit's expected parent snapshot no longer matches the
    table's current snapshot — another writer landed in between (≙
    Iceberg's CommitFailedException on the atomic swap)."""


@dataclass
class DataFile:
    path: str  # relative to table root
    records: int
    bytes: int
    #: per-column [min, max] from parquet footers, captured at commit
    #: (≙ Iceberg manifest lower_bounds/upper_bounds) — int/float/str
    #: columns only; absent for pre-stats metadata or other types
    stats: dict[str, list] | None = None
    #: row-lineage base (≙ Iceberg v3 manifest ``first_row_id``): row i
    #: of this file has ``_row_id = first_row_id + i`` unless the file
    #: materializes lineage columns. None = pre-lineage file (null ids)
    first_row_id: int | None = None
    #: "virtual" (ids inherited from first_row_id + position) or
    #: "materialized" (a COW rewrite carried ``_row_id`` /
    #: ``_last_updated_seq`` as physical columns, Iceberg-v3 style)
    lineage: str | None = None
    #: per-column bloom filters for point-lookup file skipping (≙
    #: Iceberg's parquet bloom-filter columns surfaced at manifest
    #: level): {col: {"m": bits, "k": hashes, "type": simpleString,
    #: "bits": hex}} — opt-in via the ``bloom.columns`` table
    #: property; absent means "can't prune", never wrong results.
    #: The stored type guards probes across type evolution (xxhash64
    #: is type-dependent, so a probe under a promoted type would be
    #: garbage — mismatch skips the bloom, bounds still apply)
    blooms: dict[str, dict] | None = None


@dataclass
class DeleteFile:
    """Merge-on-read delete file (≙ Iceberg v2 delete files).

    ``kind="equality"``: a parquet file of key tuples. At read time it
    removes every matching row from data files written STRICTLY BEFORE
    its commit (the commit/snapshot id doubles as Iceberg's sequence
    number), so rows appended after the delete with the same keys
    survive — Iceberg's sequence-number semantics.

    ``kind="position"``: a parquet file of ``(file_path, pos)`` rows
    (≙ Iceberg position deletes) naming exact rows of exact data
    files. Because commit directories are never reused, a path match
    can only hit files that existed at delete time — re-appends are
    untouched by construction, no sequence check needed."""

    path: str  # relative to table root
    records: int
    bytes: int
    key_cols: list[str]  # empty for position deletes
    sequence: int  # the commit (snapshot) id this delete landed in
    kind: str = "equality"


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_at: str  # ISO-8601 UTC
    operation: str  # append | overwrite | replace
    summary: dict[str, str]
    schema_ddl: str  # Spark DDL ("col type, ..."), G1-correct
    partition_spec: list[str]
    files: list[DataFile] = field(default_factory=list)
    #: live merge-on-read delete files (empty for pure-COW tables)
    delete_files: list[DeleteFile] = field(default_factory=list)
    #: stable column ids (≙ Iceberg field IDs) — the identity that
    #: survives renames. None until :meth:`SnapCatalog.alter_table`
    #: first activates schema-evolution tracking on the table; while
    #: None, columns are identified by name (pre-evolution semantics,
    #: unchanged).
    field_ids: dict[str, int] | None = None

    @property
    def total_records(self) -> int:
        return sum(f.records for f in self.files)

    @property
    def total_bytes(self) -> int:
        return sum(f.bytes for f in self.files)


SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("parent_id", T.LongType()),
        T.StructField("committed_at", T.TimestampType()),
        T.StructField("operation", T.StringType()),
        T.StructField("summary", T.MapType(T.StringType(), T.StringType())),
        T.StructField("total_records", T.LongType()),
        T.StructField("total_files", T.LongType()),
        # on the published lineage (≙ Iceberg history.is_current_ancestor);
        # false = staged/abandoned WAP commit
        T.StructField("is_published", T.BooleanType()),
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_in_bytes", T.LongType()),
    ]
)


def _parse_iso(ts: str) -> datetime:
    return datetime.fromisoformat(ts.replace("Z", "+00:00"))


def _snap_from_dict(s: dict) -> Snapshot:
    return Snapshot(
        snapshot_id=s["snapshot_id"],
        parent_id=s.get("parent_id"),
        committed_at=s["committed_at"],
        operation=s["operation"],
        summary=s.get("summary", {}),
        schema_ddl=s["schema_ddl"],
        partition_spec=s.get("partition_spec", []),
        files=[DataFile(**f) for f in s.get("files", [])],
        delete_files=[DeleteFile(**f) for f in s.get("delete_files", [])],
        field_ids=s.get("field_ids"),
    )


class _LazySnapshot(Snapshot):
    """A :class:`Snapshot` whose file lists stay as manifest-chunk
    refs until first access (VERDICT r9 #3): history walks —
    ``snapshots()``, ``main_chain()``, ``history_df``,
    ``sync_history``'s chain comparisons — read only scalars and
    summaries and must not pay O(table files) per listed snapshot.
    Touching ``.files`` / ``.delete_files`` (or ``total_records`` /
    ``total_bytes``, built on them) expands JUST that list of this
    snapshot via the owning table's content-addressed chunk reader —
    a merge-on-read scan that needs only the delete files never
    builds an object per data file. The class-
    level properties are data descriptors, so they shadow the
    attribute assignments the dataclass-generated ``__init__`` makes
    and route them to ``_files`` / ``_delete_files``."""

    def __init__(self, *args, **kwargs):
        # dataclass-field signature, so ``dataclasses.replace`` (which
        # calls ``obj.__class__(**field_values)``) keeps working on a
        # lazy instance — the result is simply eager. Lazy instances
        # are built via :meth:`from_raw`.
        self._raw: dict | None = None
        self._table = None
        super().__init__(*args, **kwargs)

    @classmethod
    def from_raw(cls, raw: dict, table: "SnapTable") -> "_LazySnapshot":
        self = cls(
            snapshot_id=raw["snapshot_id"],
            parent_id=raw.get("parent_id"),
            committed_at=raw["committed_at"],
            operation=raw["operation"],
            summary=raw.get("summary", {}),
            schema_ddl=raw["schema_ddl"],
            partition_spec=raw.get("partition_spec", []),
            files=None,  # sentinel: not yet materialized
            delete_files=None,
            field_ids=raw.get("field_ids"),
        )
        self._raw = raw
        self._table = table
        return self

    def _entries(self, key: str) -> list[dict]:
        assert self._raw is not None and self._table is not None
        return self._table._expand_snapshot(self._raw, (key,)).get(key, [])

    @property
    def files(self) -> list:
        if self._files is None:
            self._files = [DataFile(**f) for f in self._entries("files")]
        return self._files

    @files.setter
    def files(self, v) -> None:
        self._files = v

    @property
    def delete_files(self) -> list:
        if self._delete_files is None:
            self._delete_files = [
                DeleteFile(**f) for f in self._entries("delete_files")
            ]
        return self._delete_files

    @delete_files.setter
    def delete_files(self, v) -> None:
        self._delete_files = v


_SPEC_RE = re.compile(
    r"^\s*(year|years|month|months|day|days|hour|hours|bucket|truncate)\s*\((.*)\)\s*$"
)

_SPEC_SUFFIX = {
    "years": "year",
    "months": "month",
    "days": "day",
    "hours": "hour",
    "bucket": "bucket",
    "truncate": "trunc",
}


@dataclass(frozen=True)
class SpecField:
    """One partition-spec entry — a bare column (identity) or an
    Iceberg-style HIDDEN partition transform over a source column:
    ``years(ts)``/``months(ts)``/``days(ts)``/``hours(ts)``,
    ``bucket(N, col)``, ``truncate(W, col)``. With a transform the
    SOURCE column stays in the data files (queries keep filtering on
    it; footer min/max stats drive pruning because the layout clusters
    it) while the derived value lives only in the path — users never
    see or maintain the derived column, which is the whole point of
    hidden partitioning vs Hive-style explicit partition columns.

    Derivations (documented, engine-portable): time transforms format
    the timestamp (``yyyy``/``yyyy-MM``/``yyyy-MM-dd``/
    ``yyyy-MM-dd-HH`` — lexically ordered like Iceberg's ordinals);
    ``bucket`` is ``xxhash64 mod N`` (stable across Spark versions;
    NOT Iceberg's murmur3 bucket — foreign Iceberg readers must not
    assume layout compatibility); ``truncate`` is substring for
    strings and ``v - (v mod W)`` for integrals (Iceberg semantics,
    negative-safe via pmod)."""

    raw: str
    kind: str  # identity|years|months|days|hours|bucket|truncate
    source: str
    param: int | None = None

    @property
    def partition_name(self) -> str:
        """Path-segment key (≙ Iceberg's derived partition field name)."""
        if self.kind == "identity":
            return self.source
        return f"{self.source}_{_SPEC_SUFFIX[self.kind]}"

    def expr(self, dtype: T.DataType | None = None) -> Column:
        c = F.col(self.source)
        if self.kind == "identity":
            return c
        if self.kind == "years":
            return F.date_format(c, "yyyy")
        if self.kind == "months":
            return F.date_format(c, "yyyy-MM")
        if self.kind == "days":
            return F.date_format(c, "yyyy-MM-dd")
        if self.kind == "hours":
            return F.date_format(c, "yyyy-MM-dd-HH")
        if self.kind == "bucket":
            return F.pmod(F.xxhash64(c), F.lit(self.param))
        # truncate: width semantics depend on the source type
        if isinstance(dtype, T.StringType) or dtype is None:
            return F.substring(c, 1, self.param)
        return c - F.pmod(c, F.lit(self.param))


def parse_spec_field(raw: str) -> SpecField:
    """Parse one partition-spec entry; raises on malformed transforms."""
    m = _SPEC_RE.match(raw)
    if not m:
        if "(" in raw or ")" in raw:
            raise ValueError(
                f"unsupported partition transform {raw!r}; supported: "
                "identity, years/months/days/hours(col), bucket(N, col), "
                "truncate(W, col)"
            )
        return SpecField(raw=raw, kind="identity", source=raw.strip())
    fn, arg_str = m.group(1), m.group(2)
    args = [a.strip() for a in arg_str.split(",")]
    kind = {"year": "years", "month": "months", "day": "days", "hour": "hours"}.get(
        fn, fn
    )
    if kind in ("bucket", "truncate"):
        if len(args) != 2 or not args[0].isdigit() or int(args[0]) <= 0:
            raise ValueError(
                f"{kind} transform needs (positive_int, column), got {raw!r}"
            )
        return SpecField(raw=raw, kind=kind, source=args[1], param=int(args[0]))
    if len(args) != 1 or not args[0]:
        raise ValueError(f"{kind} transform takes one column, got {raw!r}")
    return SpecField(raw=raw, kind=kind, source=args[0])


def spec_fields(spec: list[str]) -> list[SpecField]:
    return [parse_spec_field(s) for s in spec]


def spec_source_cols(spec: list[str]) -> list[str]:
    """Schema columns a partition spec depends on (guards: these can't
    be renamed/dropped while the spec references them)."""
    return [sf.source for sf in spec_fields(spec)]


def _validate_spec_against_schema(
    sfs: list[SpecField], schema_names: set[str], table_label: str
) -> None:
    """Shared spec/schema hygiene for create_table / alter_partition_spec
    / _write_data_files: every transform source must be a schema column,
    partition names must be unique, and — crucially — a DERIVED partition
    name (``ts_day`` for ``days(ts)``) must not collide with a real schema
    column: `_write_data_files` materializes the derived value under that
    name, so a collision would silently overwrite the user's column and
    strip it into the path (data corruption on read)."""
    unknown = [sf.raw for sf in sfs if sf.source not in schema_names]
    if unknown:
        raise ValueError(
            f"partition spec entries {unknown} reference columns not in the "
            f"schema of {table_label}"
        )
    pnames = [sf.partition_name for sf in sfs]
    if len(set(pnames)) != len(pnames):
        raise ValueError(f"duplicate fields in partition spec of {table_label}")
    clash = [
        f"{sf.raw} -> {sf.partition_name}"
        for sf in sfs
        if sf.kind != "identity" and sf.partition_name in schema_names
    ]
    if clash:
        raise ValueError(
            f"hidden-partition derived names collide with schema columns of "
            f"{table_label}: {clash}; rename the column or use a different "
            f"transform — the derived name is reserved for the path value"
        )


def _spec_identity_cols(spec: list[str]) -> set[str]:
    """Spec columns whose VALUES live in the path instead of the data
    files — identity entries only; transform sources stay in the data."""
    return {sf.source for sf in spec_fields(spec) if sf.kind == "identity"}


def _origin_sid(rel_path: str) -> int:
    """Snapshot id of the commit that WROTE a data file — encoded in
    its path (``data/s{N:06d}/…``). The key that lets a post-rename
    read recover the column names a file was written under."""
    return int(rel_path.split("/")[1][1:])


def _resolve_field_mapping(
    target: T.StructType,
    target_ids: dict[str, int],
    entry: dict,
    part_cols: set[str],
) -> "dict[str, tuple[str | None, T.DataType | None]] | None":
    """Resolve how an origin commit's columns map onto a target schema
    by field id. Returns None when plain by-name reading is already
    correct (every target column exists in the origin under the same
    name, same type, same id — or is genuinely absent, so by-name
    null-fill is right); else a dict target_name → (origin_name | None,
    origin_type | None). The non-identity cases: a rename (same id,
    different name), a type widening (same id, narrower origin type),
    and a REUSED name (origin column with the target's name but a
    different id — by-name would silently read stale, unrelated data)."""
    origin_ids: dict[str, int] = entry.get("field_ids") or {}
    origin_types = {
        f.name: f.dataType
        for f in T._parse_datatype_string(entry["schema_ddl"]).fields
    }
    by_id = {v: k for k, v in origin_ids.items()}
    mapping: dict[str, tuple[str | None, T.DataType | None]] = {}
    identity = True
    for tf in target.fields:
        if tf.name in part_cols:
            continue
        tid = target_ids.get(tf.name)
        origin_name = by_id.get(tid) if tid is not None else None
        if origin_name is None and tid is None and tf.name in origin_types:
            origin_name = tf.name  # untracked column: by-name fallback
        if origin_name is None:
            if tf.name in origin_ids:  # reused name, different field id
                identity = False
            mapping[tf.name] = (None, None)
            continue
        mapping[tf.name] = (origin_name, origin_types[origin_name])
        if origin_name != tf.name or origin_types[origin_name] != tf.dataType:
            identity = False
    return None if identity else mapping


def _append_commit(
    meta: dict, snap_dict: dict, branch: str | None = None, staged: bool = False
) -> None:
    """Append a committed snapshot and move the right pointer — the ONE
    place the three commit destinations diverge (shared by every write
    verb so branch/WAP semantics can't drift between them):

    - main (default): the published head moves to the new snapshot;
    - ``staged`` (WAP): nothing moves — auditors read by id, ``publish``
      flips it in later;
    - ``branch``: ONLY the branch ref moves (≙ Iceberg branch commit);
      ``current_id`` is pinned to the pre-append published head so the
      legacy last-snapshot fallback can't mistake the branch commit for
      the head. The branch ref must already be validated by the caller
      (under the same commit lock)."""
    published = _current_id(meta) if meta["snapshots"] else 0
    meta["snapshots"].append(snap_dict)
    if branch is not None:
        meta["refs"][branch]["snapshot_id"] = snap_dict["snapshot_id"]
        meta.setdefault("current_id", published)
    elif staged:
        # pin the published head explicitly: the staged snapshot is now
        # the LAST log entry, and the legacy last-snapshot fallback
        # must not mistake it for the head
        meta.setdefault("current_id", published)
    else:
        meta["current_id"] = snap_dict["snapshot_id"]


def _current_id(meta: dict) -> int:
    """Published-head snapshot id: explicit ``current_id`` when the
    table has seen WAP commits, else the last snapshot (pre-WAP
    metadata stays valid unchanged). 0 means "nothing published yet"
    (a table whose only commit is staged)."""
    if "current_id" in meta:
        return meta["current_id"]
    return meta["snapshots"][-1]["snapshot_id"]


def _json_stat(v):
    """Normalize a stat/predicate value to its JSON-portable manifest
    form. Timestamps become naive-UTC ``YYYY-MM-DD HH:MM:SS[.ffffff]``
    strings — fixed-width zero-padded prefix, so lexicographic string
    comparison orders exactly like the timestamps themselves and
    time-range predicates prune on manifests that round-tripped
    through JSON."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    return v


def _footer_stats(md) -> dict[str, list] | None:
    """Aggregate parquet row-group min/max into per-file column bounds
    (≙ Iceberg manifest lower_bounds/upper_bounds). JSON-portable
    types only (int/float/str, plus timestamps normalized to sortable
    strings by ``_json_stat``); a column with any missing row-group
    stats is skipped — absence means "can't prune", never wrong
    pruning."""
    bounds: dict[str, list] = {}
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    for idx, name in enumerate(names):
        los, his = [], []
        ok = True
        for rg in range(md.num_row_groups):
            try:  # nested/unsupported types raise inside pyarrow, some
                # only when the min/max values are materialized
                st = md.row_group(rg).column(idx).statistics
                usable = (
                    st is not None
                    and st.has_min_max
                    and isinstance(st.min, (int, float, str, datetime))
                    and not isinstance(st.min, bool)
                )
            except Exception:
                usable = False
            if not usable:
                ok = False
                break
            los.append(_json_stat(st.min))
            his.append(_json_stat(st.max))
        if ok and los:
            bounds[name] = [min(los), max(his)]
    return bounds or None


#: reserved physical column names a COW rewrite uses to materialize row
#: lineage (≙ Iceberg v3 ``_row_id`` / ``_last_updated_sequence_number``).
#: They never appear in a table's logical schema; explicit-schema reads
#: skip them unless lineage is requested.
LINEAGE_COLS = ("_row_id", "_last_updated_seq")


def _root_rel_col(root: str) -> Column:
    """Map a ``_metadata.file_path`` URI column (``__file``) to a
    table-root-relative path — the manifest's path convention."""
    rootu = root.rstrip("/") + "/"
    return F.col("__file").substr(
        F.locate(rootu, F.col("__file")) + F.lit(len(rootu)),
        F.lit(1 << 30),
    )


#: bloom geometry: 8192 bits (1 KiB per column per file in the
#: manifest), 4 probes carved from disjoint 13-bit windows of the one
#: xxhash64 — FPR ≈ 2% at 1k distinct values/file, ≈ 0.4% at 500
_BLOOM_M = 8192
_BLOOM_K = 4


def _bloom_positions(h: int) -> list[int]:
    """The k bit positions a value's xxhash64 sets/probes. Pure
    int64-window arithmetic so the distributed builder (numpy uint64)
    and the driver-side prober (`functions/xxh64.spark_xxhash64`)
    agree bit for bit."""
    u = h & 0xFFFFFFFFFFFFFFFF
    return [(u >> (13 * i)) & (_BLOOM_M - 1) for i in range(_BLOOM_K)]


def _translate_delete_key_cols(
    d: "DeleteFile", field_ids: dict[str, int] | None, commit_schemas: dict
) -> list[str]:
    """An equality-delete file's key columns under a TARGET schema's
    names: the keys were written under the names in force at the
    delete's commit, which a later rename may have changed — map
    origin name → field id (the delete commit's schema-log entry) →
    target name. Raises if a keyed column no longer exists in the
    target schema (the deleted rows could not be resolved)."""
    if field_ids is None:
        return list(d.key_cols)
    entry = commit_schemas.get(str(d.sequence))
    if entry is None:
        return list(d.key_cols)
    ids = entry.get("field_ids") or {}
    inv = {v: k for k, v in field_ids.items()}
    tcols = []
    for c in d.key_cols:
        fid = ids.get(c)
        if fid is not None and fid not in inv:
            raise ValueError(
                f"equality-delete file {d.path} keys column {c!r}, which no "
                "longer exists in the target schema — the deleted rows "
                "cannot be resolved"
            )
        tcols.append(inv.get(fid, c) if fid is not None else c)
    return tcols


def _assign_row_ids(meta: dict, new_files: list[DataFile], materialized: bool) -> None:
    """Allocate each new file's ``first_row_id`` from the table's
    monotonic row-id counter (≙ Iceberg v3 ``next-row-id`` inheritance:
    a row with no materialized id gets ``first_row_id + position``).
    Pure metadata — O(files), no data pass."""
    nxt = meta.get("next_row_id", 0)
    for f in new_files:
        f.first_row_id = nxt
        f.lineage = "materialized" if materialized else "virtual"
        nxt += f.records
    meta["next_row_id"] = nxt


#: a row-level DML condition containing a subquery — IN (SELECT …),
#: EXISTS (…), a scalar (SELECT …) comparison — cannot parse in
#: EXPRESSION context (F.expr); it needs query context
_COND_SUBQUERY = re.compile(r"\(\s*(?:SELECT|WITH)\b", re.IGNORECASE)


def _with_match(
    spark: SparkSession, df: DataFrame, cond, alias: str | None = None
) -> DataFrame:
    """``df`` plus a boolean ``__match`` column evaluating the
    row-level DML condition (never null: NULL-evaluating rows don't
    match, per SQL DELETE/UPDATE semantics). A string condition
    containing a subquery is evaluated in QUERY context — the scan
    registers as a temp view and Catalyst plans the subquery as a
    join/semi-join exactly like a top-level query (≙ Spark/Iceberg
    ``DELETE FROM t WHERE id IN (SELECT …)``); table references
    inside the subquery must already be bound (the SQL front-end
    rewrites catalog tables to views before the condition reaches
    here). ``alias`` names the scan in that query (the TARGET table
    name) so a correlated subquery can reference the outer row as
    ``t.col``, exactly as it would in ``DELETE FROM db.t WHERE EXISTS
    (… WHERE x.k = t.k)``. Everything else stays on the expression
    fast path."""
    if "__match" in df.columns:
        # a data column named __match would be silently clobbered and
        # then dropped from the rewrite — refuse instead
        raise ValueError(
            "row-level DELETE/UPDATE: the table has a column named "
            "'__match', which collides with the engine's match marker"
        )
    if isinstance(cond, str) and _COND_SUBQUERY.search(cond):
        v = f"__dml_scan_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(v)
        as_alias = f" AS {_quote_ident(alias)}" if alias else ""
        try:
            # spark.sql analyzes eagerly — the resolved plan survives
            # the view drop below
            return spark.sql(
                f"SELECT *, coalesce(({cond}), false) AS __match "
                f"FROM {v}{as_alias}"
            )
        finally:
            spark.catalog.dropTempView(v)
    c = F.expr(cond) if isinstance(cond, str) else cond
    return df.withColumn(
        "__match", F.coalesce(c.cast("boolean"), F.lit(False))
    )


_PATH_STAT_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType,
)


def _path_partition_stats(
    rel_dir_segs: list[str], schema: T.StructType
) -> dict[str, list]:
    """Recover per-file partition-column bounds from the hive
    ``col=value`` directory layout (partition values never appear in
    parquet footers — the directory IS their storage). Emitted as
    degenerate ``[v, v]`` ranges so :meth:`SnapTable.plan_files` can
    manifest-prune partitioned files on partition predicates exactly
    like data columns — the driver rules files out before Spark lists
    a single one. JSON-portable types only; ``__HIVE_DEFAULT_
    PARTITION__`` (null) yields no stats (conservatively kept)."""
    types = {f.name: f.dataType for f in schema.fields}
    out: dict[str, list] = {}
    for seg in rel_dir_segs:
        if "=" not in seg:
            continue
        k, raw = seg.split("=", 1)
        if raw == "__HIVE_DEFAULT_PARTITION__" or k not in types:
            continue
        dt = types[k]
        if not isinstance(dt, _PATH_STAT_TYPES):
            continue
        v: object = urllib.parse.unquote(raw)
        try:
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                v = int(v)
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                v = float(v)
        except ValueError:
            continue
        out[k] = [v, v]
    return out


_TS_TYPE = "spark.sql.parquet.outputTimestampType"
_ts_lock = threading.Lock()
#: session uuid -> [writes in flight, value to restore] for sessions
#: whose own timestamp type is not TIMESTAMP_MICROS
_ts_overrides: dict[str, list] = {}


@contextlib.contextmanager
def _timestamp_micros(spark: SparkSession):
    """Run a parquet write with TIMESTAMP_MICROS (int64) timestamps:
    Spark's default INT96 carries NO parquet min/max stats, so time-
    range predicates could not prune. Spark reads the type from the
    session conf (no writer option overrides it). Engine sessions set
    it in ``session.DEFAULT_CONF``, so this touches nothing; on a
    foreign session the first write in flight sets it and the last
    restores it. Writes run from thread pools (``migrate``,
    ``upsert_mor``, corpus): a set/unset pair per write let one
    thread's restore land while another planned its write."""
    key = spark._jsparkSession.sessionUUID()
    with _ts_lock:
        held = _ts_overrides.get(key)
        if held is not None:
            held[0] += 1
        else:
            prev = spark.conf.get(_TS_TYPE, None)
            if prev != "TIMESTAMP_MICROS":
                spark.conf.set(_TS_TYPE, "TIMESTAMP_MICROS")
                held = _ts_overrides[key] = [1, prev]
    try:
        yield
    finally:
        if held is not None:
            with _ts_lock:
                held[0] -= 1
                if held[0] == 0:
                    del _ts_overrides[key]
                    if held[1] is None:
                        spark.conf.unset(_TS_TYPE)
                    else:
                        spark.conf.set(_TS_TYPE, held[1])


def _merge_append_schema(
    prev_schema: T.StructType, incoming: T.StructType, ident: str
) -> T.StructType:
    """Schema-evolution-on-write for APPENDS (≙ Iceberg mergeSchema):
    existing columns absent from the incoming frame STAY in the table
    schema (new files read null for them; silently narrowing the
    schema would hide still-present data in every older file), new
    columns append at the end, and a same-name type change is rejected
    at COMMIT time — the old behavior adopted the incoming type and
    left the table unreadable (parquet type mismatch at scan), which
    is corruption discovered by the first reader instead of the
    writer. Widening is an explicit ``alter_table(widen_columns=…)``,
    which activates field-id tracking so old files are cast-mapped."""
    by_name = {f.name: f for f in incoming.fields}
    out: list[T.StructField] = []
    for pf in prev_schema.fields:
        nf = by_name.pop(pf.name, None)
        if nf is None or nf.dataType == pf.dataType:
            out.append(pf)
            continue
        wider = _wider_type(pf.dataType, nf.dataType)
        if wider is None:
            raise ValueError(
                f"append to {ident} changes column {pf.name!r} from "
                f"{pf.dataType.simpleString()} to {nf.dataType.simpleString()}; "
                "cast the input, or alter_table(widen_columns=...) first"
            )
        # widening promotion (int→bigint, float→double): the schema
        # takes the wider type either way; narrower files upcast in
        # place at read (Spark 4 parquet type widening)
        out.append(T.StructField(pf.name, wider, True))
    out.extend(f for f in incoming.fields if f.name in by_name)
    return T.StructType(out)


_INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_WIDTH = {"float": 0, "double": 1}


def _wider_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types along the safe promotion chains
    (integral, floating); None when incomparable."""
    an, bn = a.simpleString(), b.simpleString()
    for order in (_INT_WIDTH, _FLOAT_WIDTH):
        if an in order and bn in order:
            return a if order[an] >= order[bn] else b
    return None


def _record_commit_schema(meta: dict, sid: int, prev: "Snapshot") -> None:
    """Log the schema in force at commit ``sid`` when field-id
    evolution tracking is active. Every commit that writes EQUALITY
    delete keys must call this: a later column rename translates those
    keys origin-name → field-id → target-name via this entry
    (``_translate_delete_key_cols``), and without it changelog/
    row-history replay would resolve the keys under stale names
    (ADVICE r4: the alter-time backfill only covered deletes committed
    BEFORE tracking activated)."""
    if "next_field_id" in meta and prev.field_ids is not None:
        meta.setdefault("commit_schemas", {})[str(sid)] = {
            "schema_ddl": prev.schema_ddl,
            "field_ids": dict(prev.field_ids),
        }


def _next_id(meta: dict) -> int:
    """Next snapshot id: max over ALL snapshots + 1 — staged commits
    can sit beyond the published head, so ``current + 1`` would
    collide with their ids (and commit directories)."""
    return max((s["snapshot_id"] for s in meta["snapshots"]), default=0) + 1


#: Counters for lock-protocol anomalies (ADVICE r7: surface stolen-lock
#: events as a metric, not log-only). Monotonic per process; a
#: monitoring hook — or a test — reads them to see how often the
#: inherent lock-breaking races actually fire in a deployment.
LOCK_STATS = {
    # a breaker stole a heartbeat-fresh lock and a new waiter claimed
    # the path before the restore — the mid-window owner runs
    # unserialized until its release
    "stolen_fresh_lock_discarded": 0,
    # release renamed away a dir that had been swapped mid-release and
    # the give-back rename lost to a third waiter
    "release_swap_discarded": 0,
}


def _reap_lock_litter(lock_dir: str, stale_after_sec: float) -> None:
    """Sweep abandoned lock-protocol dirs next to ``lock_dir``: a
    waiter SIGKILLed mid-acquire leaks its ``.acq.<token>`` staging
    dir, a breaker killed mid-break leaks its ``.stale.<hex>`` trash,
    a releaser its ``.rel.<token>`` — none ever blocks the lock path,
    but they accumulate in metadata/ forever. Ran opportunistically
    from the stale-break path (the one place we already know the
    table has had a dead writer); only dirs whose mtime is older than
    ``stale_after_sec`` go, so nothing in-flight is touched."""
    meta_dir, base = os.path.split(lock_dir)
    with contextlib.suppress(OSError):
        for entry in os.listdir(meta_dir):
            if not entry.startswith((f"{base}.acq.", f"{base}.stale.", f"{base}.rel.")):
                continue
            p = os.path.join(meta_dir, entry)
            with contextlib.suppress(OSError):
                if time.time() - os.stat(p).st_mtime > stale_after_sec:
                    shutil.rmtree(p, ignore_errors=True)


@contextlib.contextmanager
def _commit_lock(
    table_root: str,
    timeout_sec: float = 300.0,
    stale_after_sec: float = 300.0,
    heartbeat_sec: float = 20.0,
):
    """Per-table commit mutex (≙ Iceberg's catalog-side atomic swap +
    optimistic retry): concurrent committers to the SAME table would
    otherwise race on snapshot-id assignment (→ colliding commit
    directories) and on the metadata read-modify-write (→ lost
    commits). ``os.mkdir`` is atomic on every POSIX filesystem and
    works across processes; contending writers spin-wait, so commits
    serialize per table while different tables commit fully in
    parallel (the table-parallel migrator's model).

    Liveness vs safety: some holders run full distributed data writes
    under the lock, which at scale takes far longer than any fixed
    staleness bound — so a HEARTBEAT thread touches the lock dir's
    mtime every ``heartbeat_sec`` while held. A live lock is therefore
    never more than ~2×heartbeat stale, and ``stale_after_sec`` only
    needs to exceed that (not the longest possible hold) for the
    breaker to be safe. Breaking is single-winner: the stale dir is
    atomically renamed to a unique name first (concurrent breakers
    lose the rename and retry), then double-checked — if the renamed
    dir turns out heartbeat-fresh (owner re-acquired inside the
    stat→rename window), the breaker tries to rename it back, and
    rmtree-s the trash dir when the restore loses (no leak).

    Acquisition renames a PRE-POPULATED staging dir into place (never
    a bare mkdir): the lock dir therefore holds its ``owner`` token
    file from the very first instant it exists — there is no empty
    window for a stale-breaker's restore rename to silently replace
    (POSIX rename succeeds over an empty target dir but fails
    ENOTEMPTY on a populated one). Release is the mirror image: the
    held dir is atomically renamed AWAY and deleted from its trash
    name, so the lock path never transits through an empty directory
    at either end of a hold.

    Rolling-upgrade constraint: a pre-rename-protocol writer (bare
    ``os.mkdir`` then owner write) momentarily holds an EMPTY lock
    dir, which this protocol's rename-claim would silently replace.
    Old- and new-protocol writers must not commit to the same table
    concurrently; drain old writers before upgrading.
    """
    lock_dir = os.path.join(table_root, "metadata", ".commit_lock")
    owner_file = os.path.join(lock_dir, "owner")
    os.makedirs(os.path.dirname(lock_dir), exist_ok=True)
    deadline = time.monotonic() + timeout_sec
    token = uuid.uuid4().hex
    # stage a fully-populated dir once; the rename into place is atomic
    stage = f"{lock_dir}.acq.{token}"
    os.mkdir(stage)
    with open(os.path.join(stage, "owner"), "w") as fh:
        fh.write(token)
    try:
        while True:
            claimed = False
            if not os.path.lexists(lock_dir):
                # atomic claim: rename fails ENOTEMPTY while another
                # holder's (always-populated) dir occupies the path; the
                # lexists guard keeps a FOREIGN empty lock dir (old
                # protocol / crashed external writer) blocking instead
                # of being replaced, since rename succeeds over an
                # empty target
                with contextlib.suppress(OSError):
                    os.rename(stage, lock_dir)
                    claimed = True
            if claimed:
                break
            # a writer killed between rename and release would
            # deadlock the table forever: break locks whose mtime
            # heartbeat has been silent for ``stale_after_sec`` —
            # only a dead owner goes that long without touching
            # the dir.
            with contextlib.suppress(FileNotFoundError, OSError):
                if time.time() - os.stat(lock_dir).st_mtime > stale_after_sec:
                    _reap_lock_litter(lock_dir, stale_after_sec)
                    trash = f"{lock_dir}.stale.{uuid.uuid4().hex}"
                    os.rename(lock_dir, trash)  # single breaker wins
                    if time.time() - os.stat(trash).st_mtime > stale_after_sec:
                        shutil.rmtree(trash, ignore_errors=True)
                    else:  # stole a live lock re-acquired mid-window
                        try:
                            os.rename(trash, lock_dir)  # ENOTEMPTY if taken
                        except OSError:
                            # restore lost to a new waiter: the mid-
                            # window owner keeps running unserialized
                            # (inherent to lock breaking) — leave a
                            # diagnosable trace before removing its
                            # state, then don't leak the dir
                            LOCK_STATS["stolen_fresh_lock_discarded"] += 1
                            _log.warning(
                                "commit lock on %s: broke a heartbeat-"
                                "fresh lock and a new waiter claimed "
                                "before restore; discarding stolen "
                                "lock state %s (its owner continues "
                                "unserialized until release)",
                                table_root, trash,
                            )
                            shutil.rmtree(trash, ignore_errors=True)
                    continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lock timeout on {table_root}"
                ) from None
            time.sleep(0.05)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    stop = threading.Event()

    def _beat() -> None:
        while not stop.wait(heartbeat_sec):
            with contextlib.suppress(OSError):
                os.utime(lock_dir, None)

    beat = threading.Thread(target=_beat, name="commit-lock-heartbeat", daemon=True)
    beat.start()
    try:
        yield
    finally:
        stop.set()
        beat.join(timeout=2.0)
        # release ONLY a dir we still own: if the lock was stolen and
        # the path now holds another waiter's dir, their token differs
        # and the dir is left alone. The release itself is one atomic
        # rename-away (then rmtree of the trash name), so the lock
        # path never exposes a momentarily-empty directory a
        # concurrent stale-breaker restore could race into.
        with contextlib.suppress(FileNotFoundError, OSError):
            # the ownership read sits IMMEDIATELY before the rename —
            # nothing in between — so the swap window a stale-breaker
            # could race into is as narrow as the protocol allows
            # (ADVICE r7: an inherent residual of break-capable locks;
            # the post-rename re-verify + counters cover the rest)
            with open(owner_file) as fh:
                owned = fh.read() == token
            if owned:
                trash = f"{lock_dir}.rel.{token}"
                os.rename(lock_dir, trash)
                # re-verify after the rename: a breaker could have
                # swapped dirs inside the read→rename window, making
                # the renamed dir a NEW waiter's lock — give it back
                try:
                    with open(os.path.join(trash, "owner")) as fh:
                        still_ours = fh.read() == token
                except OSError:
                    still_ours = True  # our dir, token already gone
                if still_ours:
                    shutil.rmtree(trash, ignore_errors=True)
                else:
                    try:
                        os.rename(trash, lock_dir)
                    except OSError:
                        LOCK_STATS["release_swap_discarded"] += 1
                        _log.warning(
                            "commit lock on %s: released a dir that "
                            "was swapped mid-release and could not "
                            "be restored; discarding %s",
                            table_root, trash,
                        )
                        shutil.rmtree(trash, ignore_errors=True)


#: process-wide parsed-manifest-chunk cache (chunks are immutable and
#: content-addressed, so a path's content never changes). LRU: a dict
#: preserves insertion order, so evicting from the front drops the
#: least-recently-USED entry as long as hits re-insert (VERDICT r9 #5
#: — the previous wholesale clear() thrashed every table's hot chunks
#: in a multi-table process once the threshold was crossed).
_CHUNK_CACHE: dict[str, list] = {}
_CHUNK_CACHE_MAX = 4096


class SnapTable:
    """Handle to one snapshot-versioned table."""

    def __init__(self, catalog: "SnapCatalog", database: str, name: str):
        self.catalog = catalog
        self.database = database
        self.name = name
        self.root = os.path.join(catalog.warehouse, database, name)

    # ---- metadata log --------------------------------------------------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "metadata", "table.json")

    def exists(self) -> bool:
        return os.path.exists(self._meta_path)

    # ---- manifest chunks -------------------------------------------------
    #
    # File lists do NOT live in table.json. Each snapshot's list is
    # split into runs of consecutive files sharing an origin commit
    # (the natural Iceberg manifest boundary — an append's list is its
    # parent's runs + one new run) and each run is stored ONCE as an
    # immutable, content-addressed chunk under metadata/manifests/.
    # table.json holds only the per-snapshot chunk refs, so:
    #   - a commit WRITES O(delta): its new chunk(s) plus a small
    #     table.json — not the entire history's file lists re-dumped
    #     (the old format's per-commit cost grew with history × files:
    #     quadratic over a table's life, the single biggest metadata
    #     scale-killer at 10⁶ files);
    #   - a load PARSES each chunk once per process (immutable →
    #     cacheable), handing out shallow per-file copies.
    # Loaded snapshots carry their refs plus a (len, first, last)
    # fingerprint; save trusts the refs only while the fingerprint
    # still matches, so replacing a file list (the supported mutation
    # pattern — package code never edits one in place) forces a
    # rechunk. Chunk writes are tmp+rename and content-addressed:
    # concurrent writers of the same content collide harmlessly.
    # expire_snapshots reaps chunks the pruned history no longer
    # references, same contract as expired data files.

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "metadata", "manifests")

    def _write_chunk(self, entries: list) -> str:
        text = json.dumps(entries, separators=(",", ":"))
        sha = hashlib.sha1(text.encode()).hexdigest()
        path = os.path.join(self._manifest_dir, f"{sha}.json")
        if not os.path.exists(path):
            os.makedirs(self._manifest_dir, exist_ok=True)
            tmp = f"{path}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, path)
        return sha

    def _read_chunk(self, sha: str) -> list:
        path = os.path.join(self._manifest_dir, f"{sha}.json")
        hit = _CHUNK_CACHE.pop(path, None)  # pop+reinsert = mark recent
        if hit is None:
            with open(path) as f:
                hit = json.load(f)
            while len(_CHUNK_CACHE) >= _CHUNK_CACHE_MAX:
                _CHUNK_CACHE.pop(next(iter(_CHUNK_CACHE)))
        _CHUNK_CACHE[path] = hit
        # shallow per-entry copies: callers may replace top-level
        # values without corrupting the shared cache
        return [dict(e) for e in hit]

    @staticmethod
    def _fingerprint(entries: list) -> list:
        return [
            len(entries),
            entries[0]["path"] if entries else None,
            entries[-1]["path"] if entries else None,
        ]

    @staticmethod
    def _chunk_runs(files: list) -> list[list]:
        runs: list[list] = []
        cur: list = []
        cur_sid = None
        for f in files:
            sid = _origin_sid(f["path"])
            if cur and sid != cur_sid:
                runs.append(cur)
                cur = []
            cur.append(f)
            cur_sid = sid
        if cur:
            runs.append(cur)
        return runs

    def _expand_snapshot(
        self, s: dict, lists: tuple[str, ...] = ("files", "delete_files")
    ) -> dict:
        """Materialize one snapshot dict's file lists (both, or only
        those named in ``lists``) from their chunk refs, in place
        (idempotent)."""
        if "files" in lists and "files_ref" in s and "files" not in s:
            files: list = []
            for sha in s["files_ref"]:
                files.extend(self._read_chunk(sha))
            s["files"] = files
            s["_files_fp"] = self._fingerprint(files)
        if (
            "delete_files" in lists
            and "delete_files_ref" in s
            and "delete_files" not in s
        ):
            s["delete_files"] = (
                self._read_chunk(s["delete_files_ref"])
                if s["delete_files_ref"]
                else []
            )
            s["_dels_fp"] = self._fingerprint(s["delete_files"])
        return s

    def _load_meta(self, expand: bool = True) -> dict:
        """Load table.json. ``expand=True`` (default) materializes
        every snapshot's file lists; ``expand=False`` leaves chunk
        refs unexpanded — O(log size), not O(table files) — for paths
        that only touch summaries/pointers (expand the snapshots they
        DO read via :meth:`_expand_snapshot`). Saving a partially
        expanded meta is safe: :meth:`_save_meta` trusts intact refs."""
        with open(self._meta_path) as f:
            meta = json.load(f)
        if expand:
            for s in meta.get("snapshots") or []:
                self._expand_snapshot(s)
        return meta

    def _save_meta(self, meta: dict) -> None:
        os.makedirs(os.path.dirname(self._meta_path), exist_ok=True)
        stored = dict(meta)
        out_snaps = []
        for s in meta.get("snapshots") or []:
            s2 = {
                k: v
                for k, v in s.items()
                if k not in ("files", "delete_files", "_files_fp", "_dels_fp")
            }
            if "files" not in s and "files_ref" in s:
                pass  # never expanded — refs are authoritative
            else:
                files = s.get("files") or []
                if not (
                    "files_ref" in s
                    and s.get("_files_fp") == self._fingerprint(files)
                ):
                    s2["files_ref"] = [
                        self._write_chunk(run) for run in self._chunk_runs(files)
                    ]
            if "delete_files" not in s and "delete_files_ref" in s:
                pass  # never expanded — refs are authoritative
            else:
                dels = s.get("delete_files") or []
                if not (
                    "delete_files_ref" in s
                    and s.get("_dels_fp") == self._fingerprint(dels)
                ):
                    s2["delete_files_ref"] = (
                        self._write_chunk(dels) if dels else None
                    )
            out_snaps.append(s2)
        stored["snapshots"] = out_snaps
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stored, f, indent=1)
        os.replace(tmp, self._meta_path)  # atomic commit swap
        self._write_commit_marker(meta)

    def _write_commit_marker(self, meta: dict) -> None:
        """One immutable marker file per snapshot commit
        (``metadata/commits/s{N}.json`` ≙ Iceberg's versioned
        ``v{N}.metadata.json`` sequence): ``metadata.json`` itself is
        REPLACED in place, which a Spark file-stream source can never
        re-discover — the marker sequence is the append-only commit
        feed streaming consumers (``maintain_view_changelog``) tail
        for wake-up, and it fires for EVERY commit kind including
        metadata-only ones (rollback, alter, pure-MOR deletes) that
        add no data files. Written after the meta swap: a crash in
        between leaves a missing marker, which the next commit's
        marker or a direct refresh call covers (markers are a wake-up
        channel, never the source of truth). Idempotent per sid;
        expire_snapshots reaps markers of expired snapshots."""
        snaps = meta.get("snapshots") or []
        if not snaps:
            return
        sid = max(s["snapshot_id"] for s in snaps)
        mdir = os.path.join(self.root, "metadata", "commits")
        marker = os.path.join(mdir, f"s{sid:06d}.json")
        if os.path.lexists(marker):
            return
        os.makedirs(mdir, exist_ok=True)
        last = next(s for s in snaps if s["snapshot_id"] == sid)
        tmp = f"{marker}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"snapshot_id": sid, "operation": last.get("operation")}, f
            )
        os.replace(tmp, marker)

    def _write_publish_marker(self, sid: int) -> None:
        """Marker for a pointer-only commit: ``publish``'s fast path
        and ``fast_forward`` move ``current_id`` WITHOUT appending a
        snapshot, so :meth:`_write_commit_marker` (keyed off the max
        sid, which already fired when the snapshot was STAGED) stays
        silent and a ``maintain_view_changelog`` stream would sleep on
        the newly-published rows until the next real commit. A
        distinct ``s{N}.pub.json`` marker wakes the feed immediately;
        the fold itself always re-reads the published head, so the
        marker's only job is discovery. Idempotent per sid."""
        mdir = os.path.join(self.root, "metadata", "commits")
        marker = os.path.join(mdir, f"s{sid:06d}.pub.json")
        if os.path.lexists(marker):
            return
        os.makedirs(mdir, exist_ok=True)
        tmp = f"{marker}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": sid, "operation": "publish"}, f)
        os.replace(tmp, marker)

    def _snap_lazy(self, s: dict) -> Snapshot:
        """Snapshot view over one raw meta dict: already-expanded (or
        legacy inline) file lists parse eagerly; chunk-ref'd lists stay
        lazy so metadata-only consumers never parse a manifest chunk."""
        if "files" in s or "files_ref" not in s:
            return _snap_from_dict(s)
        return _LazySnapshot.from_raw(s, self)

    def snapshots(self) -> list[Snapshot]:
        """Full snapshot log, oldest-first. File lists are LAZY: a
        history walk is O(log size); only snapshots whose ``.files``
        a caller actually reads expand their manifest chunks (r10)."""
        if not self.exists():
            return []
        return [self._snap_lazy(s) for s in self._load_meta(expand=False)["snapshots"]]

    def current_snapshot(self) -> Snapshot | None:
        """The published head. With WAP staged commits in the log this
        is ``meta.current_id``, NOT necessarily the last snapshot —
        staged (unpublished) snapshots are invisible to normal reads
        until :meth:`SnapCatalog.publish` flips the pointer."""
        if not self.exists():
            return None
        # raw load + single-snapshot expansion: the head lookup is the
        # hottest metadata call and must not pay O(table files) to
        # materialize every historical file list (r9)
        meta = self._load_meta(expand=False)
        snaps = meta["snapshots"]
        if not snaps:
            return None
        cid = _current_id(meta)
        if cid == 0:  # only staged commits exist — nothing published
            return None
        for s in snaps:
            if s["snapshot_id"] == cid:
                return self._snap_lazy(s)
        raise LookupError(
            f"current snapshot {cid} missing from {self.database}.{self.name} metadata"
        )

    def refs(self) -> dict[str, dict]:
        """Named refs (≙ Iceberg tags): name → {snapshot_id, type}."""
        if not self.exists():
            return {}
        return dict(self._load_meta(expand=False).get("refs", {}))

    def main_chain(self) -> list[Snapshot]:
        """Published lineage, oldest → current, following parent_id
        from the current snapshot. Staged/abandoned snapshots are not
        part of it — time travel resolves against THIS history, like
        Iceberg's main-branch ancestry."""
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        cur = self.current_snapshot()
        chain: list[Snapshot] = []
        while cur is not None:
            chain.append(cur)
            cur = by_id.get(cur.parent_id) if cur.parent_id is not None else None
        chain.reverse()
        return chain

    def properties(self) -> dict[str, str]:
        """Table properties (≙ Iceberg table properties / TBLPROPERTIES,
        which the reference collects per table,
        2_collect_database_schema_info.py:176-184) — first-class table
        metadata, NOT snapshot-summary entries: they describe the table
        (comments, format hints, owners) and survive every commit."""
        if not self.exists():
            return {}
        return dict(self._load_meta(expand=False).get("properties", {}))

    def resolve_snapshot(
        self,
        snapshot_id: int | None = None,
        as_of: str | datetime | None = None,
        ref: str | None = None,
    ) -> Snapshot:
        """Current, by id, by named ref (tag), or latest
        committed_at ≤ as_of — the reference's resolution rule
        (2_collect_database_schema_info.py:34-55) plus Iceberg's
        ``VERSION AS OF 'tag'``. By-id resolution is global (staged
        WAP snapshots are readable for audit); ``as_of`` and the
        default resolve against the PUBLISHED lineage only.

        Resolution walks RAW snapshot summaries (ids, parents,
        timestamps) and returns a LAZY snapshot — zero manifest
        chunks parsed until a caller reads its file lists; never
        O(table files) for a point lookup (r9/r10)."""
        if not self.exists():
            raise LookupError(f"table {self.database}.{self.name} has no snapshots")
        meta = self._load_meta(expand=False)
        raw = meta.get("snapshots") or []
        if not raw:
            raise LookupError(f"table {self.database}.{self.name} has no snapshots")
        if ref is not None:
            r = meta.get("refs", {}).get(ref)
            if r is None:
                raise LookupError(f"ref {ref!r} not found in {self.database}.{self.name}")
            snapshot_id = r["snapshot_id"]
        if snapshot_id is not None:
            for s in raw:
                if s["snapshot_id"] == snapshot_id:
                    return self._snap_lazy(s)
            raise LookupError(f"snapshot {snapshot_id} not found in {self.database}.{self.name}")
        by_id = {s["snapshot_id"]: s for s in raw}
        cid = _current_id(meta)
        if as_of is not None:
            ts = _parse_iso(as_of) if isinstance(as_of, str) else as_of
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            walk = cid or None
            best = None
            while walk is not None and walk in by_id:
                s = by_id[walk]
                if _parse_iso(s["committed_at"]) <= ts and (
                    best is None or s["snapshot_id"] > best["snapshot_id"]
                ):
                    best = s
                walk = s.get("parent_id")
            if best is None:
                raise LookupError(
                    f"no snapshot of {self.database}.{self.name} at or before {ts.isoformat()}"
                )
            return self._snap_lazy(best)
        cur = self.current_snapshot()
        assert cur is not None  # snaps is non-empty
        return cur

    # ---- data plane ----------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of: str | datetime | None = None,
        ref: str | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Time-travel scan (S3/S4). Files are grouped by their commit
        directory so partitioned commits keep their ``col=value``
        layout (→ partition pruning); the snapshot's schema is applied
        explicitly (schema-at-snapshot semantics). ``ref`` reads a
        named tag (≙ ``VERSION AS OF 'tag'``). ``with_row_ids``
        appends the row-lineage columns ``_row_id`` /
        ``_last_updated_seq`` (≙ Iceberg v3 row lineage)."""
        snap = self.resolve_snapshot(snapshot_id, as_of, ref)
        return self._read_files(
            spark, snap, [f.path for f in snap.files], apply_deletes=True,
            with_lineage=with_row_ids,
        )

    def _read_files(
        self,
        spark: SparkSession,
        snap: Snapshot,
        rel_paths,
        with_file_path: bool = False,
        apply_deletes: bool = False,
        with_pos: bool = False,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Scan ``rel_paths`` normalized to ``snap``'s schema. With
        schema-evolution tracking active (``snap.field_ids``), files
        written before a rename/type-widening are read under their
        ORIGINAL column names/types (recovered from the commit-time
        schema log via the file path's origin snapshot id) and mapped
        to the target schema by field id — Iceberg's name-independent
        column resolution. Files whose origin schema already matches
        by name+type take the plain fast path (zero overhead when no
        rename/widen ever happened).

        ``apply_deletes`` applies the snapshot's merge-on-read delete
        files. Equality deletes: each data file's rows are anti-joined
        against every delete file with a HIGHER sequence (commit) id
        than the file's own commit — Iceberg's sequence-number rule,
        so re-appends after a delete survive. Position deletes:
        one global anti-join on exact ``(file_path, row position)``
        pairs — commit directories are never reused, so a path match
        only ever hits rows that existed at delete time. Delete sets
        are typically tiny next to the data (broadcast anti-joins).

        ``with_lineage`` appends ``_row_id`` / ``_last_updated_seq``
        (≙ Iceberg v3 row lineage): physical lineage columns where a
        COW rewrite materialized them, else inherited as
        ``first_row_id + row position`` / the file's origin commit id
        — Iceberg's null-means-inherit rule. Pre-lineage files yield
        null ids."""
        target = T._parse_datatype_string(snap.schema_ddl)
        all_dels = (
            sorted(snap.delete_files, key=lambda d: d.sequence)
            if apply_deletes and snap.delete_files
            else []
        )
        eq_dels = [d for d in all_dels if d.kind == "equality"]
        pos_dels = [d for d in all_dels if d.kind == "position"]
        # ONE key set per delete COMMIT, not per parquet part: a
        # distributed delete_keys write emits many part files, and
        # anti-joining each part separately multiplied the join count
        # by the writer's partitioning (profiled r9: 3 delete commits
        # → ~20 chained anti-joins). Same sequence + key_cols ⇒ same
        # commit ⇒ one multi-path read, one broadcast, one anti-join.
        by_commit: dict[tuple, list[DeleteFile]] = {}
        for d in eq_dels:
            by_commit.setdefault((d.sequence, tuple(d.key_cols)), []).append(d)
        dels: list[tuple[int, list[DeleteFile]]] = sorted(
            (seq, ds) for (seq, _kc), ds in by_commit.items()
        )
        # position deletes and lineage need rows stamped with file + pos
        need_file = with_file_path or bool(pos_dels) or with_lineage
        need_pos = with_pos or bool(pos_dels) or with_lineage
        lineage_fields = [T.StructField(c, T.LongType(), True) for c in LINEAGE_COLS]
        # reads request the physical lineage columns everywhere when
        # asked: files that never materialized them read as null and
        # fall back to inheritance below
        read_target = (
            T.StructType(list(target.fields) + lineage_fields)
            if with_lineage
            else target
        )

        def _rel_expr() -> Column:
            return _root_rel_col(self.root)

        if not hasattr(self, "_delete_key_cache"):
            # instance-level, not per-scan: a changelog replays many
            # _read_files calls over the SAME delete files — re-reading
            # each key parquet per call cost a JVM roundtrip + footer
            # schema inference every time (124 reads for a 13-commit
            # replay; profiled r9)
            self._delete_key_cache: dict[tuple, tuple[DataFrame, list[str]]] = {}

        def _delete_keys_df(ds: list[DeleteFile]) -> tuple[DataFrame, list[str]]:
            """One commit's delete-key set (all its part files in one
            multi-path read), renamed to THIS snapshot's column names
            (field-id translation: the keys were written under the
            names in force at the delete's commit, which a later
            rename may have changed). Cached on the table instance —
            one read + one broadcast per (commit, translation),
            however many scans replay it."""
            d = ds[0]
            tcols = _translate_delete_key_cols(d, snap.field_ids, commit_schemas)
            ck = (tuple(x.path for x in ds), tuple(tcols))
            hit = self._delete_key_cache.get(ck)
            if hit is not None:
                return hit
            keys = (
                spark.read.parquet(
                    *[os.path.join(self.root, x.path) for x in ds]
                )
                .select(*d.key_cols)
                .distinct()
            )
            if tcols != list(d.key_cols):
                keys = keys.toDF(*tcols)
            self._delete_key_cache[ck] = (keys, tcols)
            return keys, tcols

        def _minus_deletes(df: DataFrame, data_sid: int) -> DataFrame:
            for seq, ds in dels:
                if seq > data_sid:
                    keys, tcols = _delete_keys_df(ds)
                    # Iceberg equality-delete semantics: NULL matches
                    # NULL (a USING join's plain equality would silently
                    # make NULL-keyed rows undeletable — ADVICE r4).
                    # eqNullSafe is still a hashable equi-key, so this
                    # stays a broadcast hash anti-join.
                    cond = None
                    for c in tcols:
                        e = df[c].eqNullSafe(keys[c])
                        cond = e if cond is None else cond & e
                    df = df.join(F.broadcast(keys), cond, "left_anti")
            return df

        def _finish(df: DataFrame) -> DataFrame:
            """Apply position deletes, resolve lineage inheritance,
            then drop the helper columns the caller didn't ask for."""
            if pos_dels:
                pdel = (
                    spark.read.parquet(
                        *[os.path.join(self.root, d.path) for d in pos_dels]
                    )
                    .select(
                        F.col("file_path").alias("__rel"),
                        F.col("pos").alias("__pos"),
                    )
                    .distinct()
                )
                df = (
                    df.withColumn("__rel", _rel_expr())
                    .join(F.broadcast(pdel), ["__rel", "__pos"], "left_anti")
                    .drop("__rel")
                )
            if with_lineage:
                # manifest-scale map (one row per data file): inherit
                # _row_id = first_row_id + pos and _last_updated_seq =
                # origin commit where no physical value was materialized
                by_path = {f.path: f for f in snap.files}
                vrows = [
                    (p, by_path[p].first_row_id, _origin_sid(p))
                    for p in rel_paths
                    if p in by_path
                ]
                vmap = spark.createDataFrame(
                    vrows or [(None, None, None)],
                    "__rel string, __first long, __osid long",
                ).where(F.col("__rel").isNotNull())
                df = (
                    df.withColumn("__rel", _rel_expr())
                    .join(F.broadcast(vmap), "__rel", "left")
                    .withColumn(
                        "_row_id",
                        F.coalesce(F.col("_row_id"), F.col("__first") + F.col("__pos")),
                    )
                    .withColumn(
                        "_last_updated_seq",
                        F.coalesce(F.col("_last_updated_seq"), F.col("__osid")),
                    )
                    .drop("__rel", "__first", "__osid")
                )
            if need_file and not with_file_path:
                df = df.drop("__file")
            if need_pos and not with_pos:
                df = df.drop("__pos")
            return df

        if snap.field_ids is None and not all_dels and not with_lineage:
            return self._read_paths(spark, target, rel_paths, with_file_path, with_pos)
        commit_schemas = (
            self._load_meta(expand=False).get("commit_schemas", {})
            if snap.field_ids is not None
            else {}
        )
        # only IDENTITY spec columns live in the path; transform
        # sources are physical columns in the data files
        part_cols = _spec_identity_cols(snap.partition_spec)
        groups: dict[int, list[str]] = {}
        for rel in rel_paths:
            groups.setdefault(_origin_sid(rel), []).append(rel)
        plain: list[str] = []
        parts: list[DataFrame] = []
        # (sid, df) rows needing equality deletes — collected, then
        # bucketed by APPLICABLE DELETE SUFFIX and unioned before the
        # anti-joins: every commit group older than all deletes shares
        # one delete set, so an append-heavy history anti-joins ONCE
        # per delete instead of once per (group, delete). Equivalent
        # row-wise (anti-join distributes over union); the logical
        # plan shrinks from O(groups × deletes) joins to
        # O(distinct suffixes × deletes) ≤ O(deletes²) — the
        # difference between a 126 s and a ~10 s changelog count on a
        # 13-commit MOR history (profiled r9).
        deferred: list[tuple[int, DataFrame]] = []
        for sid, paths in sorted(groups.items()):
            entry = commit_schemas.get(str(sid))
            mapping = (
                _resolve_field_mapping(target, snap.field_ids, entry, part_cols)
                if entry is not None and snap.field_ids is not None
                else None  # pre-tracking file: by-name semantics were in force
            )
            if mapping is None:
                if dels:
                    deferred.append(
                        (
                            sid,
                            self._read_paths(
                                spark, read_target, paths, need_file, need_pos
                            ),
                        )
                    )
                else:
                    plain.extend(paths)
                continue
            reader_fields = []
            for tf in target.fields:
                if tf.name in part_cols:
                    reader_fields.append(tf)
                    continue
                origin_name, origin_type = mapping[tf.name]
                if origin_name is not None:
                    reader_fields.append(T.StructField(origin_name, origin_type, True))
            if with_lineage:
                reader_fields.extend(lineage_fields)
            src = self._read_paths(
                spark, T.StructType(reader_fields), paths, need_file, need_pos
            )
            cols = []
            for tf in target.fields:
                if tf.name in part_cols:
                    cols.append(F.col(tf.name))
                    continue
                origin_name, origin_type = mapping[tf.name]
                if origin_name is None:  # added after this file was written
                    cols.append(F.lit(None).cast(tf.dataType).alias(tf.name))
                else:
                    c = F.col(origin_name)
                    if origin_type != tf.dataType:
                        c = c.cast(tf.dataType)  # widened since
                    cols.append(c.alias(tf.name))
            if with_lineage:
                cols.extend(F.col(c) for c in LINEAGE_COLS)
            if need_file:
                cols.append(F.col("__file"))
            if need_pos:
                cols.append(F.col("__pos"))
            mapped = src.select(*cols)
            if dels:
                deferred.append((sid, mapped))
            else:
                parts.append(mapped)
        if deferred:
            seqs = [seq for seq, _ in dels]
            by_suffix: dict[int, list[DataFrame]] = {}
            for sid, df in deferred:
                start = bisect.bisect_right(seqs, sid)
                by_suffix.setdefault(start, []).append(df)
            for start, dfs in sorted(by_suffix.items()):
                u = dfs[0]
                for df in dfs[1:]:
                    u = u.unionByName(df)
                # sid below every remaining delete's sequence → the
                # suffix applies in full
                parts.append(
                    _minus_deletes(u, seqs[start] - 1 if start < len(seqs) else
                                   seqs[-1] + 1)
                )
        if plain:
            parts.insert(
                0, self._read_paths(spark, read_target, plain, need_file, need_pos)
            )
        if not parts:
            df = spark.createDataFrame([], read_target)
            if with_file_path:
                df = df.withColumn("__file", F.lit(None).cast("string"))
            if with_pos:
                df = df.withColumn("__pos", F.lit(None).cast("long"))
            return df
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return _finish(out)

    def _read_paths(
        self,
        spark: SparkSession,
        schema: T.StructType,
        rel_paths,
        with_file_path: bool = False,
        with_pos: bool = False,
    ) -> DataFrame:
        """Scan a set of this table's data files, grouped by commit
        directory so ``col=value`` layouts keep partition pruning.
        ``with_file_path`` appends the source file as ``__file`` (the
        ``_metadata.file_path`` hidden column) — the hook row-level
        operations use to find which files a predicate/key touches;
        ``with_pos`` appends the row's position within its file as
        ``__pos`` (``_metadata.row_index``) — the substrate of
        position deletes."""
        if not rel_paths:
            df = spark.createDataFrame([], schema)
            if with_file_path:
                df = df.withColumn("__file", F.lit(None).cast("string"))
            if with_pos:
                df = df.withColumn("__pos", F.lit(None).cast("long"))
            return df
        by_commit: dict[str, list[str]] = {}
        for rel in rel_paths:
            commit_dir = os.path.join(self.root, *rel.split("/")[:2])  # data/s{N}
            by_commit.setdefault(commit_dir, []).append(os.path.join(self.root, rel))
        parts = []
        for commit_dir, paths in sorted(by_commit.items()):
            reader = spark.read.schema(schema).option("basePath", commit_dir)
            part = reader.parquet(*sorted(paths))
            # path-derived partition columns outside the requested
            # schema (hidden-transform values like ts_day=…) are
            # appended by Spark even under an explicit schema — project
            # them away so unions stay schema-stable
            cols: list[Column] = [F.col(f.name) for f in schema.fields]
            if with_file_path:
                cols.append(F.col("_metadata.file_path").alias("__file"))
            if with_pos:
                cols.append(F.col("_metadata.row_index").alias("__pos"))
            parts.append(part.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _abs_to_rel(self, abs_path: str) -> str:
        """Map a ``_metadata.file_path`` URI back to a manifest-relative
        path (strip scheme, relativize against the table root)."""
        p = abs_path.split("://", 1)[-1] if "://" in abs_path else abs_path
        p = p.removeprefix("file:")
        return os.path.relpath(p, self.root)

    def read_incremental(
        self, spark: SparkSession, from_id: int | None, to_id: int
    ) -> DataFrame:
        """Rows added after snapshot ``from_id`` (exclusive; None = from
        table creation) up to ``to_id`` (inclusive) — the Iceberg
        incremental-append scan. Only data files NEW in that range are
        read, so a changed-data sync costs O(delta), not O(table).
        Raises if the range crosses a non-append commit (an overwrite
        invalidates pure file-level deltas), matching Iceberg's
        incremental-read restriction. Also raises LookupError if
        ``from_id`` no longer exists (e.g. removed by
        ``expire_snapshots``) — silently treating an expired start as
        "from creation" would re-emit the whole table as 'added' and
        duplicate rows in incremental sync, so fail loudly like
        Iceberg does for expired start snapshots."""
        snaps = self.snapshots()
        if from_id is not None and not any(s.snapshot_id == from_id for s in snaps):
            raise LookupError(
                f"incremental-read start snapshot {from_id} of "
                f"{self.database}.{self.name} does not exist (expired?)"
            )
        lo = 0 if from_id is None else from_id
        # walk the PUBLISHED lineage only: staged (WAP) snapshots may
        # hold ids inside the range but are not part of table history
        # until published
        in_range = [s for s in self.main_chain() if lo < s.snapshot_id <= to_id]
        if not in_range:
            return spark.createDataFrame([], self.schema(to_id))
        for s in in_range:
            if s.operation not in ("append", "create"):
                raise ValueError(
                    f"incremental read {lo}→{to_id} of {self.database}.{self.name} "
                    f"crosses non-append snapshot {s.snapshot_id} ({s.operation})"
                )
        base = {f.path for s in snaps if s.snapshot_id == lo for f in s.files}
        end = self.resolve_snapshot(to_id)
        added = [f.path for f in end.files if f.path not in base]
        return self._read_files(spark, end, added)

    def plan_files(
        self,
        predicates: list[tuple[str, str, object]],
        snapshot_id: int | None = None,
        _decisions: bool = False,
    ) -> list[DataFile]:
        """Manifest-level scan planning (≙ Iceberg's manifest
        filtering): keep only the data files whose footer-derived
        [min, max] column bounds can satisfy ALL conjuncts.
        ``predicates`` is a list of (column, op, literal) with op in
        =, <, <=, >, >=. Files without stats for a referenced column
        are conservatively kept.

        This prunes on the DRIVER from manifest metadata alone —
        before Spark lists or opens a single file. Together with
        clustered layouts (compact ``sort_by``/``zorder_by``) this is
        the 100 TB selective-scan path: the executor never sees files
        the predicate rules out.

        Point predicates additionally prune by bloom filter (a bit
        the literal sets that the file's filter lacks proves absence)
        and by ``bucket(N, col)`` hidden partition: the driver
        recomputes Spark's xxhash64 of the literal in pure Python
        (`functions/xxh64.py`, bit-parity pinned) and rules out files
        whose path bucket can't contain it — the primary-key-lookup
        path on a bucketed 100 TB table. Each file resolves N, and the
        column names its stats were written under, against its OWN
        origin commit (spec evolution may rebucket, renames move
        stats keys); unresolvable origins, uncovered literal types,
        and statless files are conservatively kept.

        The rules run over the snapshot's raw manifest entries, and
        a :class:`DataFile` is built only for a kept entry, so the
        driver's cost is one pass over the manifest plus O(kept
        files). Everything that does not depend on the file is done
        once: each point literal is hashed once, each literal is
        normalized once, and the stats-key translation and bucket
        targets are computed once per origin commit. ``_decisions``
        (what :meth:`scan_report` shows) returns every file with its
        verdict: ``kept`` or ``pruned:{bounds:<col>|bloom:<col>|bucket}``."""
        from apache_iceberg_tables_migration_tool_spark.functions.xxh64 import (
            spark_xxhash64,
        )

        snap = self.resolve_snapshot(snapshot_id)
        meta = self._load_meta(expand=False)
        commit_schemas = (
            meta.get("commit_schemas", {}) if snap.field_ids is not None else {}
        )
        specs_by_sid = {
            s["snapshot_id"]: s.get("partition_spec", [])
            for s in meta["snapshots"]
        }
        col_types = {
            fld.name: fld.dataType.simpleString()
            for fld in T._parse_datatype_string(snap.schema_ddl).fields
        }
        bounds = [(c, op, _json_stat(v)) for c, op, v in predicates]

        def _hash(c: str, v) -> int | None:
            try:
                return spark_xxhash64(v, col_types.get(c, ""))
            except (TypeError, ValueError):  # literal not of the column's type
                return None

        hashes = [
            (c, h)
            for c, op, v in predicates
            if op == "=" and v is not None and (h := _hash(c, v)) is not None
        ]
        probes = [(c, _bloom_positions(h)) for c, h in hashes]

        origins: dict[int, tuple[dict[str, str], list[tuple[str, int]]]] = {}

        def _origin(osid: int) -> tuple[dict[str, str], list[tuple[str, int]]]:
            # footer stats are keyed by the column names the file was
            # WRITTEN under — translate each predicate column through
            # the field-id mapping when evolution tracking is active
            keys = {c: c for c, _, _ in predicates}
            entry = commit_schemas.get(str(osid))
            if entry is not None:
                by_id = {v: k for k, v in (entry.get("field_ids") or {}).items()}
                for c in keys:
                    tid = snap.field_ids.get(c)
                    origin = by_id.get(tid) if tid is not None else c
                    keys[c] = origin if origin is not None else "\x00absent"
            targets = [
                (sf.partition_name, h % sf.param)
                for sf in spec_fields(specs_by_sid.get(osid) or [])
                if sf.kind == "bucket"
                for c, h in hashes
                if sf.source == c
            ]
            return keys, targets

        if isinstance(snap, _LazySnapshot):
            entries = snap._entries("files")
        else:  # legacy inline metadata: the list was parsed eagerly
            entries = [vars(f) for f in snap.files]
        decided: list[tuple[DataFile, str]] = []
        for e in entries:
            osid = _origin_sid(e["path"])
            if osid not in origins:
                origins[osid] = _origin(osid)
            keys, targets = origins[osid]
            stats = e.get("stats") or {}
            verdict = "kept"
            for col, op, val in bounds:
                b = stats.get(keys[col])
                if b is None:
                    continue
                lo, hi = b
                if not isinstance(val, type(lo)) and not (
                    isinstance(val, (int, float))
                    and isinstance(lo, (int, float))
                ):
                    continue  # incomparable literal — can't prune safely
                if (
                    (op == "=" and not (lo <= val <= hi))
                    or (op == "<" and not (lo < val))
                    or (op == "<=" and not (lo <= val))
                    or (op == ">" and not (hi > val))
                    or (op == ">=" and not (hi >= val))
                ):
                    verdict = f"pruned:bounds:{col}"
                    break
            if verdict == "kept" and e.get("blooms"):
                # a missing bit proves absence (no false negatives by
                # construction — every written value set its bits).
                # Guards: bloom stored under the file's WRITTEN column
                # name (rename-safe via keys) and probed only when the
                # stored type matches the current column type (xxhash64
                # is type-dependent; a probe across int→bigint
                # promotion would be garbage)
                for col, positions in probes:
                    bloom = e["blooms"].get(keys[col])
                    if not bloom or bloom.get("type") != col_types.get(col):
                        continue
                    bits = bytes.fromhex(bloom["bits"])
                    if any(not (bits[p // 8] >> (p % 8)) & 1 for p in positions):
                        verdict = f"pruned:bloom:{col}"
                        break
            if verdict == "kept" and stats:
                for pname, tgt in targets:
                    b = stats.get(pname)
                    if b is not None and not (b[0] <= tgt <= b[1]):
                        verdict = "pruned:bucket"
                        break
            if _decisions or verdict == "kept":
                decided.append((DataFile(**e), verdict))
        return decided if _decisions else [f for f, _ in decided]

    def read_where(
        self,
        spark: SparkSession,
        predicates: list[tuple[str, str, object]],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Selective scan: manifest-prune files via :meth:`plan_files`,
        then apply the same predicates as DataFrame filters (pruning
        is a superset guarantee, filtering is exact). Only the kept
        files and the snapshot's delete files become objects on the
        driver."""
        snap = self.resolve_snapshot(snapshot_id)
        files = self.plan_files(predicates, snapshot_id=snap.snapshot_id)
        df = self._read_files(
            spark, snap, [f.path for f in files], apply_deletes=True
        )
        ops = {
            "=": lambda c, v: F.col(c) == v,
            "<": lambda c, v: F.col(c) < v,
            "<=": lambda c, v: F.col(c) <= v,
            ">": lambda c, v: F.col(c) > v,
            ">=": lambda c, v: F.col(c) >= v,
        }
        for col, op, val in predicates:
            df = df.where(ops[op](col, val))
        return df

    def scan_report(
        self,
        spark: SparkSession,
        predicates: list[tuple[str, str, object]],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Scan-planning EXPLAIN: the per-file pruning decisions
        :meth:`plan_files` would make for ``predicates`` — which files
        the scan reads and which were skipped by min/max bounds, a
        bloom filter, or a bucket hidden partition (and on which
        column). Pure driver-side metadata (no data file is read): the
        same planner pass as the scan itself, keeping a verdict for
        every manifest entry instead of only the kept ones. The
        observability half of the selective-scan path, so a user can
        SEE that a point lookup skipped 9,990 of 10,000 files — and on
        which stats — before paying for the scan. Returns one row per
        data file: (file_path, records, bytes, decision, reason)."""
        decided = self.plan_files(
            predicates, snapshot_id=snapshot_id, _decisions=True
        )
        rows = [
            (
                f.path,
                f.records,
                f.bytes,
                "read" if v == "kept" else "skipped",
                None if v == "kept" else v.split(":", 1)[1],
            )
            for f, v in decided
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, records bigint, bytes bigint, "
            "decision string, reason string",
        )

    def _mor_parent_candidates(
        self, parent: "Snapshot", new_dels: list["DeleteFile"], end: "Snapshot"
    ) -> list["DataFile"]:
        """Parent data files a set of NEW merge-on-read delete files
        could possibly hit — the manifest-level pruning that makes
        changelog replay of a MOR commit O(affected files) instead of
        O(table) (ADVICE r4):

        - POSITION deletes name their target files outright; the
          delete file's ``file_path`` column (tiny, driver-read via
          the parquet footer's own pages) is the exact file list.
        - EQUALITY deletes prune by key-range overlap: a parent file
          whose manifest [min, max] for some key column cannot contain
          ANY deleted key value cannot hide a row. Numeric columns
          only (string footer stats may be truncated), and a key set
          containing NULLs disables pruning on that column (stats say
          nothing about null placement).
        Files without stats are conservatively kept."""
        keep: set[str] = set()
        commit_schemas = (
            self._load_meta(expand=False).get("commit_schemas", {})
            if end.field_ids is not None
            else {}
        )
        for d in new_dels:
            if len(keep) == len(parent.files):
                break
            full = os.path.join(self.root, d.path)
            if d.kind == "position":
                named = set(
                    pq.ParquetFile(full).read(columns=["file_path"])
                    .column("file_path").to_pylist()
                )
                keep |= {f.path for f in parent.files if f.path in named}
                continue
            # per-key-column [min, max] over the delete file, from its
            # own footer row-group stats; None = unknown → no pruning
            md = pq.ParquetFile(full).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            kb: dict[str, tuple | None] = {c: None for c in d.key_cols}
            for c in d.key_cols:
                if c not in names:
                    continue
                ci = names.index(c)
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if (
                        st is None
                        or not st.has_min_max
                        or st.null_count is None
                        or st.null_count > 0
                        or not isinstance(st.min, (int, float))
                        or isinstance(st.min, bool)
                    ):
                        ok = False
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                if ok and mn is not None:
                    kb[c] = (mn, mx)
            # translate delete-commit key names -> field id -> each
            # file's origin names (same mapping plan_files walks)
            del_entry = commit_schemas.get(str(d.sequence)) or {}
            del_ids = del_entry.get("field_ids") or {}
            for f in parent.files:
                if f.path in keep:
                    continue
                f_entry = commit_schemas.get(str(_origin_sid(f.path))) or {}
                by_id = {v: k for k, v in (f_entry.get("field_ids") or {}).items()}
                hit = True
                for c in d.key_cols:
                    bounds = kb.get(c)
                    if bounds is None:
                        continue
                    origin = by_id.get(del_ids[c], c) if c in del_ids else c
                    fst = (f.stats or {}).get(origin)
                    if (
                        fst is not None
                        and isinstance(fst[0], (int, float))
                        and not isinstance(fst[0], bool)
                        and (fst[1] < bounds[0] or fst[0] > bounds[1])
                    ):
                        hit = False
                        break
                if hit:
                    keep.add(f.path)
        return [f for f in parent.files if f.path in keep]

    def changelog(
        self,
        spark: SparkSession,
        from_id: int | None,
        to_id: int,
        net_changes: bool = True,
    ) -> DataFrame:
        """Ordered row-level change stream across a snapshot range —
        ≙ Iceberg ``CALL system.create_changelog_view``: one row per
        logical insert/delete, stamped with ``_change_type``
        (insert|delete), ``_commit_snapshot_id``, ``_commit_order``
        (ordinal within the range) and ``_commit_timestamp``, commits
        ordered oldest→newest along the published lineage.

        Scale shape: each commit contributes only its FILE DELTA —
        appends read just their added files (O(delta), no diff at
        all); copy-on-write commits (merge/delete/overwrite) diff the
        removed files against the added files, so a 10-row merge into
        a million-file table diffs a handful of files, never the
        table. Merge-on-read commits surface their hidden rows from a
        parent scan PRUNED to candidate files
        (``_mor_parent_candidates``): position deletes read exactly
        the files they name; equality deletes read only files whose
        manifest key ranges overlap the deleted keys — O(affected
        files), degrading to the full parent only when stats can't
        exclude anything. ``replace`` (compaction/clustering) commits are
        data-identical rewrites and contribute nothing, exactly like
        Iceberg's changelog. ``net_changes=True`` (default and
        Iceberg's default) filters carry-over rows: a row rewritten
        unchanged during COW appears as neither delete nor insert;
        ``False`` keeps the raw file-level picture (every rewritten
        row as delete+insert).

        Emits each commit under the END snapshot's schema so the
        union is well-typed across schema evolution inside the range."""
        snaps = {s.snapshot_id: s for s in self.snapshots()}
        if from_id is not None and from_id not in snaps:
            raise LookupError(
                f"changelog start snapshot {from_id} of "
                f"{self.database}.{self.name} does not exist (expired?)"
            )
        end = self.resolve_snapshot(to_id)
        lo = 0 if from_id is None else from_id
        chain = [s for s in self.main_chain() if lo < s.snapshot_id <= to_id]
        meta_cols = [
            F.lit("insert").alias("_change_type"),
            F.lit(0).cast("long").alias("_commit_snapshot_id"),
            F.lit(0).cast("int").alias("_commit_order"),
            F.lit(None).cast("timestamp").alias("_commit_timestamp"),
        ]

        def _stamp(df: DataFrame, change: str, s: Snapshot, order: int) -> DataFrame:
            ts = _parse_iso(s.committed_at).replace(tzinfo=None)
            return df.select(
                "*",
                F.lit(change).alias("_change_type"),
                F.lit(s.snapshot_id).cast("long").alias("_commit_snapshot_id"),
                F.lit(order).cast("int").alias("_commit_order"),
                F.lit(ts).cast("timestamp").alias("_commit_timestamp"),
            )

        parts: list[DataFrame] = []
        for order, s in enumerate(chain, start=1):
            if s.operation == "replace":
                # compaction/clustering: every file changes but the
                # data is identical — contributes nothing, like
                # Iceberg's changelog. (Metadata-only commits — alter,
                # create — fall through and yield an empty file delta;
                # a rollback diffs against the abandoned head, i.e.
                # the rolled-back rows surface as deletes.)
                continue
            parent = snaps.get(s.parent_id) if s.parent_id is not None else None
            parent_paths = {f.path for f in parent.files} if parent else set()
            child_paths = {f.path for f in s.files}
            added = [p for p in child_paths if p not in parent_paths]
            removed = [p for p in parent_paths if p not in child_paths]
            # read both sides under the END schema: changes across an
            # in-range schema evolution union cleanly (field-id mapped).
            # The before side applies the PARENT's merge-on-read deletes
            # so rows a COW rewrite physically drops are not re-reported
            # when an older equality-delete already hid (and reported)
            # them; the after side needs none (new files outsequence
            # every existing delete).
            after = self._read_files(spark, end, sorted(added)) if added else None
            before = (
                self._read_files(
                    spark,
                    replace(
                        end,
                        delete_files=parent.delete_files if parent else [],
                    ),
                    sorted(removed),
                    apply_deletes=True,
                )
                if removed
                else None
            )
            if before is not None and after is not None and net_changes:
                ins_df, del_df = after.exceptAll(before), before.exceptAll(after)
            else:
                ins_df, del_df = after, before
            # merge-on-read commits delete logically without touching
            # data files: surface the parent-state rows hiding behind
            # each NEW equality-delete file as deletes (every parent
            # file predates the delete's sequence, so the semi-join is
            # the exact hidden set)
            parent_del_paths = {d.path for d in parent.delete_files} if parent else set()
            new_dels = [d for d in s.delete_files if d.path not in parent_del_paths]
            if new_dels and parent is not None:
                need_pos = any(d.kind == "position" for d in new_dels)
                # prune the parent scan to files the NEW delete files
                # could possibly hit (ADVICE r4: this replay used to
                # read the ENTIRE parent snapshot per MOR commit):
                # position deletes name their files outright; equality
                # deletes overlap key ranges against manifest stats
                cand = self._mor_parent_candidates(parent, new_dels, end)
                if not cand:
                    new_dels = []  # nothing the deletes could hide
            if new_dels and parent is not None:
                parent_state = self._read_files(
                    spark,
                    replace(end, files=parent.files, delete_files=parent.delete_files),
                    [f.path for f in cand],
                    apply_deletes=True,
                    with_file_path=need_pos,
                    with_pos=need_pos,
                )
                data_cols = [
                    c for c in parent_state.columns if c not in ("__file", "__pos")
                ]
                cl_schemas = (
                    self._load_meta(expand=False).get("commit_schemas", {})
                    if end.field_ids is not None
                    else {}
                )
                # one semi-join per delete COMMIT's kind/key set, not
                # per parquet part (same merge rule as _read_files):
                # a distributed delete write's N part files are ONE
                # logical key set
                del_batches: dict[tuple, list[DeleteFile]] = {}
                for d in new_dels:
                    del_batches.setdefault(
                        (d.kind, d.sequence, tuple(d.key_cols)), []
                    ).append(d)
                for (kind, _seq, _kc), ds in sorted(del_batches.items()):
                    d = ds[0]
                    paths = [os.path.join(self.root, x.path) for x in ds]
                    if kind == "position":
                        pdel = (
                            spark.read.parquet(*paths)
                            .select(
                                F.col("file_path").alias("__rel"),
                                F.col("pos").alias("__pos"),
                            )
                        )
                        hidden = (
                            parent_state.withColumn("__rel", _root_rel_col(self.root))
                            .join(F.broadcast(pdel), ["__rel", "__pos"], "left_semi")
                            .select(*data_cols)
                        )
                    else:
                        # parent_state is read under the END schema:
                        # rename the keys through the field-id log if a
                        # later alter renamed the keyed column
                        tcols = _translate_delete_key_cols(d, end.field_ids, cl_schemas)
                        keys = (
                            spark.read.parquet(*paths)
                            .select(*d.key_cols)
                            .distinct()
                        )
                        if tcols != list(d.key_cols):
                            keys = keys.toDF(*tcols)
                        # NULL matches NULL, mirroring the read path
                        kcond = None
                        for c in tcols:
                            e = parent_state[c].eqNullSafe(keys[c])
                            kcond = e if kcond is None else kcond & e
                        hidden = parent_state.join(
                            F.broadcast(keys), kcond, "left_semi"
                        ).select(*data_cols)
                    del_df = hidden if del_df is None else del_df.unionByName(hidden)
            if del_df is not None:
                parts.append(_stamp(del_df, "delete", s, order))
            if ins_df is not None:
                parts.append(_stamp(ins_df, "insert", s, order))
        if not parts:
            empty = spark.createDataFrame([], T._parse_datatype_string(end.schema_ddl))
            return empty.select("*", *meta_cols).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def row_history(
        self,
        spark: SparkSession,
        condition,
        max_ids: int = 10_000,
    ) -> DataFrame:
        """Every VERSION a set of rows has had across the published
        lineage — the audit row lineage exists for ("what happened to
        row X"): select the target rows by ``condition`` on the
        current snapshot, then walk each published snapshot and emit
        its version of those ``_row_id``s, stamped with the snapshot
        id/time. An id absent from a snapshot means the row didn't
        exist (or predates lineage tracking) there; a changed payload
        between stamps is an update (``_last_updated_seq`` names the
        commit that made it).

        Targeted-audit tool like :meth:`diff_snapshots` — O(snapshots)
        scans semi-joined down to the tracked ids (broadcast, bounded
        by ``max_ids``), not a bulk-sync path."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cur = self.read(spark, with_row_ids=True).where(cond)
        ids = [
            r["_row_id"]
            for r in cur.select("_row_id").distinct().limit(max_ids + 1).collect()
            if r["_row_id"] is not None
        ]
        if len(ids) > max_ids:
            raise ValueError(
                f"row_history: condition selects more than {max_ids} rows — "
                "narrow it (this is a targeted audit, not a bulk export)"
            )
        id_df = spark.createDataFrame([(i,) for i in ids] or [(None,)], "_row_id long")
        end = self.resolve_snapshot(None)
        parts = []
        for s in self.main_chain():
            # read each snapshot's state under the END schema (field-id
            # mapped) so versions union cleanly across schema evolution
            ver = (
                self._read_files(
                    spark,
                    replace(end, files=s.files, delete_files=s.delete_files),
                    [f.path for f in s.files],
                    apply_deletes=True, with_lineage=True,
                )
                .join(F.broadcast(id_df), "_row_id", "left_semi")
                .select(
                    "*",
                    F.lit(s.snapshot_id).cast("long").alias("_snapshot_id"),
                    F.lit(_parse_iso(s.committed_at).replace(tzinfo=None))
                    .cast("timestamp")
                    .alias("_committed_at"),
                )
            )
            parts.append(ver)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def diff_snapshots(
        self, spark: SparkSession, from_id: int, to_id: int
    ) -> DataFrame:
        """Row-level change-data view between two snapshots:
        ``removed`` rows (in from, not in to) and ``added`` rows —
        the general CDC fallback that works across OVERWRITE commits,
        where the O(delta) file-level :meth:`read_incremental` must
        refuse. Multiset semantics via exceptAll (duplicate
        cardinality respected).

        Scale note: exceptAll hash-shuffles both sides on all
        columns — use for targeted audits (a table, a partition, a
        suspect range), not as the bulk sync path; append-only ranges
        should use read_incremental instead."""
        a = self.read(spark, snapshot_id=from_id)
        b = self.read(spark, snapshot_id=to_id)
        removed = a.exceptAll(b).select(F.lit("removed").alias("op"), "*")
        added = b.exceptAll(a).select(F.lit("added").alias("op"), "*")
        return removed.unionByName(added)

    # ---- metadata tables (S2; fixes G3) --------------------------------

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """Snapshot log as a metadata table. Served from snapshot
        SUMMARIES (every commit verb stamps ``total-records`` /
        ``total-data-files``), so listing an N-commit table parses no
        manifest chunks (VERDICT r9 #3); a legacy snapshot missing a
        total falls back to lazily expanding just itself."""
        chain = {s.snapshot_id for s in self.main_chain()}
        rows = [
            (
                s.snapshot_id,
                s.parent_id,
                _parse_iso(s.committed_at).replace(tzinfo=None),
                s.operation,
                s.summary,
                (
                    int(s.summary["total-records"])
                    if "total-records" in s.summary
                    else s.total_records
                ),
                (
                    int(s.summary["total-data-files"])
                    if "total-data-files" in s.summary
                    else len(s.files)
                ),
                s.snapshot_id in chain,
            )
            for s in self.snapshots()
        ]
        return spark.createDataFrame(rows, SNAPSHOT_SCHEMA)

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Named refs as a metadata table (≙ Iceberg ``.refs``)."""
        rows = [
            (name, r["type"], r["snapshot_id"]) for name, r in sorted(self.refs().items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    def files_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self.resolve_snapshot(snapshot_id)
        rows = [(snap.snapshot_id, f.path, f.records, f.bytes) for f in snap.files]
        return spark.createDataFrame(rows, FILES_SCHEMA)

    def delete_files_df(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """≙ Iceberg's ``.delete_files`` metadata table: the live
        merge-on-read delete files (equality and position) of a
        snapshot."""
        snap = self.resolve_snapshot(snapshot_id)
        rows = [
            (
                snap.snapshot_id,
                d.path,
                d.kind,
                d.records,
                d.bytes,
                ",".join(d.key_cols),
                d.sequence,
            )
            for d in snap.delete_files
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, file_path string, kind string, "
            "record_count long, file_size_in_bytes long, "
            "equality_columns string, sequence long",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        return self.snapshots_df(spark).select(
            "committed_at", "snapshot_id", "parent_id", "operation"
        )

    def column_stats(self) -> dict | None:
        """Table-level column statistics persisted by
        :meth:`SnapCatalog.analyze` (≙ Iceberg puffin NDV blobs) —
        metadata-only fetch, plus the snapshot they describe so
        callers can detect staleness."""
        return self._load_meta(expand=False).get("column_stats")

    def stats_df(self, spark: SparkSession) -> DataFrame:
        """:meth:`column_stats` as a metadata table: one row per
        analyzed column."""
        cs = self.column_stats() or {"snapshot_id": None, "row_count": None, "columns": {}}
        rows = [
            (
                cs["snapshot_id"], cs["row_count"], c,
                v["ndv"], v["null_count"], v["min"], v["max"],
            )
            for c, v in sorted(cs["columns"].items())
        ]
        return spark.createDataFrame(
            rows,
            "analyzed_snapshot_id long, row_count long, column string, "
            "ndv long, null_count long, min string, max string",
        )

    def all_files_df(self, spark: SparkSession) -> DataFrame:
        """≙ Iceberg's ``.all_files``: every data file referenced by
        ANY snapshot in the log (published, staged, branched,
        abandoned) with the set of snapshots referencing it — the
        input to orphan/reachability audits."""
        ref: dict[str, list[int]] = {}
        sizes: dict[str, tuple[int, int]] = {}
        for s in self.snapshots():
            for f in s.files:
                ref.setdefault(f.path, []).append(s.snapshot_id)
                sizes[f.path] = (f.records, f.bytes)
        rows = [
            (p, sizes[p][0], sizes[p][1], len(sids), min(sids), max(sids))
            for p, sids in sorted(ref.items())
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, record_count long, file_size_in_bytes long, "
            "referencing_snapshots long, first_snapshot_id long, "
            "last_snapshot_id long",
        )

    def manifests_df(self, spark: SparkSession) -> DataFrame:
        """≙ Iceberg's ``.manifests``: per-commit manifest summary —
        file/record/byte counts of the files each snapshot ADDED
        (this catalog's manifests are inline per-snapshot file lists;
        a commit's "manifest" is its added-file set)."""
        snaps = self.snapshots()
        by_id = {s.snapshot_id: s for s in snaps}
        rows = []
        for s in snaps:
            parent_paths = (
                {f.path for f in by_id[s.parent_id].files}
                if s.parent_id in by_id
                else set()
            )
            added = [f for f in s.files if f.path not in parent_paths]
            rows.append(
                (
                    s.snapshot_id, s.operation, len(added),
                    sum(f.records for f in added), sum(f.bytes for f in added),
                    len(s.files), len(s.delete_files),
                )
            )
        return spark.createDataFrame(
            rows,
            "snapshot_id long, operation string, added_files long, "
            "added_records long, added_bytes long, total_files long, "
            "delete_files long",
        )

    def partitions_df(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """≙ Iceberg's ``.partitions`` metadata table: per-partition
        record/file/byte counts for a snapshot, derived from the
        commit-time file manifest (typed metadata, no data scan, no
        DESCRIBE parsing — the same G3-fixing discipline as
        ``files_df``). Partition values are decoded from the
        ``col=value`` path layout each commit wrote. Unpartitioned
        tables return a single row with an empty partition string."""
        snap = self.resolve_snapshot(snapshot_id)
        agg: dict[str, list[int]] = {}
        for f in snap.files:
            parts = [
                seg for seg in f.path.split("/")[:-1] if "=" in seg
            ]
            key = "/".join(parts)
            rec = agg.setdefault(key, [0, 0, 0])
            rec[0] += f.records
            rec[1] += 1
            rec[2] += f.bytes
        rows = [
            (snap.snapshot_id, k, v[0], v[1], v[2]) for k, v in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, partition string, record_count long, "
            "file_count long, total_bytes long",
        )

    # ---- schema --------------------------------------------------------

    def schema(self, snapshot_id: int | None = None) -> T.StructType:
        snap = self.resolve_snapshot(snapshot_id)
        return T._parse_datatype_string(snap.schema_ddl)

    def partition_spec(self) -> list[str]:
        snap = self.current_snapshot()
        return snap.partition_spec if snap else []


def schema_to_ddl(schema: T.StructType) -> str:
    """Spark-DDL column list. The G1 fix: ``simpleString()`` per field
    (→ ``bigint``, ``array<float>``) instead of ``str(dataType)``
    (→ ``LongType()``), which the reference splices into CREATE TABLE
    (2_collect_database_schema_info.py:174-179 → 3_create_dst_tables.py:80).
    Names that aren't plain identifiers (the reference's F3 case:
    dashes) are backtick-quoted so the DDL round-trips through Spark's
    parser."""
    return ", ".join(
        f"{_quote_ident(f.name)} {f.dataType.simpleString()}"
        for f in schema.fields
    )


_PLAIN_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _quote_ident(name: str) -> str:
    if _PLAIN_IDENT_RE.match(name):
        return name
    return "`" + name.replace("`", "``") + "`"


class SnapCatalog:
    """A warehouse of snapshot-versioned tables (≙ one Spark catalog;
    migration is dataflow between two of these)."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ---- namespace / listing ops (S1, W1) ------------------------------

    def create_namespace(self, database: str, exists_ok: bool = True) -> None:
        """≙ ``CREATE NAMESPACE [IF NOT EXISTS]`` (the reference's
        stage 3 issues this as SQL, 3_create_dst_tables.py:73-77).
        ``exists_ok=False`` is the bare SQL form: an existing
        namespace raises instead of silently succeeding."""
        if not exists_ok and os.path.isdir(os.path.join(self.warehouse, database)):
            raise ValueError(f"namespace {database!r} already exists")
        os.makedirs(os.path.join(self.warehouse, database), exist_ok=True)

    def drop_namespace(
        self, database: str, missing_ok: bool = False, cascade: bool = False
    ) -> None:
        """≙ ``DROP NAMESPACE [IF EXISTS] … [RESTRICT|CASCADE]``.
        Default RESTRICT semantics: a namespace still holding tables
        (or foreign entries the planner would skip) rejects loudly —
        silently vaporizing tables is the one thing a catalog must
        never do. ``cascade=True`` drops the contained TABLES first
        but still refuses foreign (non-catalog) entries: they are not
        ours to delete."""
        dbdir = os.path.join(self.warehouse, database)
        if not os.path.isdir(dbdir):
            if missing_ok:
                return
            raise LookupError(f"namespace {database!r} does not exist")
        tables = self.list_tables(database)
        views = self.list_views(database)
        foreign = self.list_foreign_entries(database)
        if foreign:
            raise ValueError(
                f"namespace {database!r} holds non-catalog entries "
                f"{foreign} — remove them out-of-band first"
            )
        if (tables or views) and not cascade:
            raise ValueError(
                f"namespace {database!r} is not empty (tables: "
                f"{', '.join(tables) or '-'}; views: "
                f"{', '.join(views) or '-'}); drop them first or use CASCADE"
            )
        for t in tables:
            self.drop_table(database, t)
        for v in views:
            self.drop_view(database, v)
        shutil.rmtree(os.path.join(self.warehouse, "_views", database),
                      ignore_errors=True)
        shutil.rmtree(dbdir)

    def list_namespaces(self) -> list[str]:
        # underscore-prefixed warehouse directories are catalog
        # internals (the _views/ tree), not namespaces — filtering here
        # keeps every consumer (migration planners, CLI, SHOW
        # NAMESPACES) from seeing a bogus `_views` database whose
        # contents would read as foreign entries (ADVICE r13)
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
            and not d.startswith("_")
        )

    # ---- SQL views (≙ the Iceberg view spec: a catalog object that
    # stores QUERY TEXT, re-planned against current table state at
    # every read — never materialized data) ---------------------------

    def _view_path(self, database: str, name: str) -> str:
        # views live under the warehouse-level _views/ tree, NOT inside
        # the database directory: they must not read as foreign entries
        # to list_foreign_entries / drop_namespace, and SHOW NAMESPACES
        # already filters _-prefixed directories
        return os.path.join(self.warehouse, "_views", database, f"{name}.json")

    def create_view(
        self, database: str, name: str, sql_text: str, replace: bool = False
    ) -> None:
        """``CREATE [OR REPLACE] VIEW``: store the view's SQL text.
        Refuses to shadow an existing TABLE (views and tables share
        the ``db.name`` namespace; table resolution wins on the read
        path, so a silent create here would produce a view that can
        never be read)."""
        if name in self.list_tables(database):
            raise ValueError(
                f"CREATE VIEW: {database}.{name} is an existing TABLE"
            )
        p = self._view_path(database, name)
        if not replace and os.path.exists(p):
            raise ValueError(f"view {database}.{name} already exists")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"sql": sql_text, "created_at": _utcnow_iso()}, f)
        os.replace(tmp, p)  # atomic swap, same as metadata commits

    def view_text(self, database: str, name: str) -> str | None:
        """The stored SQL of a view, or None if no such view."""
        p = self._view_path(database, name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["sql"]

    def drop_view(
        self, database: str, name: str, missing_ok: bool = False
    ) -> None:
        p = self._view_path(database, name)
        if not os.path.exists(p):
            if missing_ok:
                return
            raise LookupError(f"view {database}.{name} does not exist")
        os.remove(p)

    def list_views(self, database: str) -> list[str]:
        d = os.path.join(self.warehouse, "_views", database)
        if not os.path.isdir(d):
            return []
        return sorted(
            f[:-5] for f in os.listdir(d) if f.endswith(".json")
        )

    def list_tables(self, database: str) -> list[str]:
        dbdir = os.path.join(self.warehouse, database)
        if not os.path.isdir(dbdir):
            return []
        return sorted(
            t for t in os.listdir(dbdir)
            if os.path.exists(os.path.join(dbdir, t, "metadata", "table.json"))
        )

    def list_foreign_entries(self, database: str) -> list[str]:
        """Warehouse entries under ``database`` that are NOT catalog
        tables (no metadata/table.json): foreign directories, stray
        files. The reference sniffs the provider and skips non-Iceberg
        tables (2_collect_database_schema_info.py:162-171); these are
        our equivalent — planners skip them with a warning instead of
        crashing on them."""
        dbdir = os.path.join(self.warehouse, database)
        if not os.path.isdir(dbdir):
            return []
        return sorted(
            t for t in os.listdir(dbdir)
            if not os.path.exists(os.path.join(dbdir, t, "metadata", "table.json"))
        )

    def table(self, database: str, name: str) -> SnapTable:
        return SnapTable(self, database, name)

    # ---- DDL (W2) ------------------------------------------------------

    def create_table(
        self,
        database: str,
        name: str,
        schema: T.StructType | str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        committed_at: str | None = None,
        summary_extra: dict[str, str] | None = None,
    ) -> SnapTable:
        """CREATE TABLE: an empty initial snapshot carrying schema +
        partition spec (G2 fix: the spec survives creation); table
        properties land as first-class table metadata (not snapshot
        summary), so they survive every later commit and migrate."""
        tbl = self.table(database, name)
        if tbl.exists():
            return tbl
        ddl = schema if isinstance(schema, str) else schema_to_ddl(schema)
        parsed = T._parse_datatype_string(ddl)  # G1 regression guard
        schema_names = {f.name for f in parsed.fields}
        _validate_spec_against_schema(
            spec_fields(list(partition_by or [])), schema_names, f"{database}.{name}"
        )
        snap = Snapshot(
            snapshot_id=1,
            parent_id=None,
            committed_at=committed_at or _utcnow_iso(),
            operation="create",
            summary={
                "engine": "snapcat",
                "total-records": "0",
                "total-data-files": "0",
                **(summary_extra or {}),
            },
            schema_ddl=ddl,
            partition_spec=list(partition_by or []),
            files=[],
        )
        tbl._save_meta(
            {
                "format_version": 1,
                "properties": dict(properties or {}),
                "snapshots": [asdict(snap)],
            }
        )
        return tbl

    def set_properties(
        self, database: str, name: str, updates: dict[str, str | None]
    ) -> dict[str, str]:
        """ALTER TABLE SET/UNSET TBLPROPERTIES: merge ``updates`` into
        the table properties (a value of None unsets the key). Runs
        under the commit lock — a metadata read-modify-write like any
        commit. Returns the resulting properties."""
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            props = dict(meta.get("properties", {}))
            for k, v in updates.items():
                if v is None:
                    props.pop(k, None)
                else:
                    props[k] = str(v)
            meta["properties"] = props
            tbl._save_meta(meta)
            return props

    def analyze(
        self,
        database: str,
        name: str,
        spark: SparkSession,
        columns: list[str] | None = None,
    ) -> dict[str, dict]:
        """≙ ``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`` backed
        by Iceberg-puffin-style table-level stats: ONE distributed
        aggregation pass computes per-column NDV
        (``approx_count_distinct``, the same HLL sketch family puffin
        stores), null count, and min/max, persisted in table metadata
        keyed by the snapshot they describe. Readers fetch them via
        :meth:`SnapTable.column_stats` / ``stats_df`` without touching
        data — the input a cost-based planner needs for join ordering
        and broadcast decisions at 100 TB, where a full NDV scan per
        query is unaffordable. Re-running refreshes the stats for the
        current snapshot."""
        tbl = self.table(database, name)
        snap = tbl.current_snapshot()
        if snap is None:
            raise LookupError(f"table {database}.{name} does not exist")
        schema = T._parse_datatype_string(snap.schema_ddl)
        cols = columns or [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, _PATH_STAT_TYPES + (T.TimestampType, T.DateType, T.DecimalType))
        ]
        unknown = [c for c in cols if c not in {f.name for f in schema.fields}]
        if unknown:
            raise ValueError(f"analyze: unknown columns {unknown}")
        df = tbl.read(spark, snapshot_id=snap.snapshot_id)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.approx_count_distinct(c).alias(f"ndv__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"),
                F.min(c).cast("string").alias(f"min__{c}"),
                F.max(c).cast("string").alias(f"max__{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        n = int(row["__rows"])
        stats = {
            c: {
                "ndv": int(row[f"ndv__{c}"] or 0),
                "null_count": int(row[f"nulls__{c}"] or 0),
                "min": row[f"min__{c}"],
                "max": row[f"max__{c}"],
            }
            for c in cols
        }
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            meta["column_stats"] = {
                "snapshot_id": snap.snapshot_id,
                "row_count": n,
                "columns": stats,
            }
            tbl._save_meta(meta)
        return stats

    # ---- schema evolution (≙ Iceberg ALTER TABLE … ADD/RENAME/DROP
    # COLUMN, ALTER COLUMN TYPE) ------------------------------------------

    #: safe read-time promotions (Iceberg's type-evolution matrix):
    #: the origin value is cast losslessly to the wider target type
    _WIDEN_OK = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }

    def alter_table(
        self,
        database: str,
        name: str,
        *,
        add_columns: dict[str, str] | None = None,
        rename_columns: dict[str, str] | None = None,
        drop_columns: list[str] | None = None,
        widen_columns: dict[str, str] | None = None,
        committed_at: str | None = None,
    ) -> Snapshot:
        """Metadata-only schema evolution (≙ Iceberg ``ALTER TABLE …
        ADD COLUMN / RENAME COLUMN / DROP COLUMN / ALTER COLUMN TYPE``):
        commits a new snapshot with the evolved schema and the SAME
        data files — no rewrite, O(metadata) regardless of table size.

        Column identity is a stable field id (assigned here on first
        use, then maintained by every commit), so renames are pure
        metadata: existing files keep their old column names on disk
        and reads map them by id. Dropped columns vanish from reads
        (old files' bytes are simply never projected); added columns
        read as NULL from pre-add files; ``widen_columns`` allows the
        lossless promotions in ``_WIDEN_OK`` plus same-scale decimal
        precision growth (old files are read at their written type and
        cast). Time travel still returns each snapshot under ITS
        schema — schema-at-snapshot is per-commit, like Iceberg's
        schema log.

        Partition columns cannot be renamed, dropped, or widened
        (their names/values live in the directory layout).

        ``add_columns``: name → Spark DDL type (``{"channel":
        "string"}``). ``rename_columns``: old → new.
        ``widen_columns``: name → new DDL type."""
        add_columns = dict(add_columns or {})
        rename_columns = dict(rename_columns or {})
        drop_columns = list(drop_columns or [])
        widen_columns = dict(widen_columns or {})
        if not (add_columns or rename_columns or drop_columns or widen_columns):
            raise ValueError("alter_table: no changes requested")
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            meta = tbl._load_meta()
            if "next_field_id" not in meta:
                # first evolution on this table: backfill field ids for
                # every snapshot in the log. Pre-tracking history can't
                # contain renames, so a column NAME identifies a field
                # globally — assign ids by first appearance.
                nxt = 1
                assigned: dict[str, int] = {}
                for s in meta["snapshots"]:
                    ids = {}
                    for fobj in T._parse_datatype_string(s["schema_ddl"]).fields:
                        if fobj.name not in assigned:
                            assigned[fobj.name] = nxt
                            nxt += 1
                        ids[fobj.name] = assigned[fobj.name]
                    s["field_ids"] = ids
                    meta.setdefault("commit_schemas", {})[str(s["snapshot_id"])] = {
                        "schema_ddl": s["schema_ddl"],
                        "field_ids": ids,
                    }
                meta["next_field_id"] = nxt
            cid = _current_id(meta)
            prev_dict = next(
                (s for s in meta["snapshots"] if s["snapshot_id"] == cid), None
            )
            if prev_dict is None:
                raise LookupError(
                    f"table {database}.{name} has no published snapshot to alter"
                )
            prev = _snap_from_dict(prev_dict)
            fields = T._parse_datatype_string(prev.schema_ddl).fields
            names = {f.name for f in fields}
            # a transform spec pins its SOURCE column (days(ts) → ts)
            part = set(spec_source_cols(prev.partition_spec))

            del_keys = {c for d in prev.delete_files for c in d.key_cols}
            for old in list(rename_columns) + drop_columns + list(widen_columns):
                if old not in names:
                    raise ValueError(f"column {old!r} not found in {database}.{name}")
                if old in part:
                    raise ValueError(
                        f"column {old!r} is a partition column of "
                        f"{database}.{name}; partition columns cannot be "
                        "renamed, dropped, or widened"
                    )
                if old in del_keys:
                    raise ValueError(
                        f"column {old!r} keys live merge-on-read delete "
                        f"files of {database}.{name}; compact the table to "
                        "materialize the deletes before evolving it"
                    )
            if set(drop_columns) & set(rename_columns):
                raise ValueError("cannot rename and drop the same column")
            if set(drop_columns) & set(widen_columns):
                raise ValueError("cannot widen and drop the same column")
            if len(drop_columns) == len(fields):
                raise ValueError("cannot drop every column")
            result_names = {
                rename_columns.get(f.name, f.name)
                for f in fields
                if f.name not in drop_columns
            } | set(add_columns)
            targets = list(rename_columns.values()) + list(add_columns)
            if len(targets) != len(set(targets)) or len(result_names) != (
                len(fields) - len(drop_columns) + len(add_columns)
            ):
                raise ValueError(
                    f"resulting schema of {database}.{name} has colliding "
                    f"column names (renames {rename_columns}, adds "
                    f"{sorted(add_columns)})"
                )

            def _widened(old_type: T.DataType, new_ddl: str) -> T.DataType:
                new_type = T._parse_datatype_string(f"c {new_ddl}").fields[0].dataType
                pair = (old_type.simpleString(), new_type.simpleString())
                dec_ok = (
                    isinstance(old_type, T.DecimalType)
                    and isinstance(new_type, T.DecimalType)
                    and new_type.scale == old_type.scale
                    and new_type.precision > old_type.precision
                )
                if pair not in self._WIDEN_OK and not dec_ok:
                    raise ValueError(
                        f"unsafe type change {pair[0]} → {pair[1]}: only "
                        "lossless widenings are allowed"
                    )
                return new_type

            prev_ids = dict(prev.field_ids or {})
            nxt = meta["next_field_id"]
            new_fields: list[T.StructField] = []
            new_ids: dict[str, int] = {}
            for f in fields:
                if f.name in drop_columns:
                    continue
                dtype = (
                    _widened(f.dataType, widen_columns[f.name])
                    if f.name in widen_columns
                    else f.dataType
                )
                out_name = rename_columns.get(f.name, f.name)
                new_fields.append(T.StructField(out_name, dtype, f.nullable))
                new_ids[out_name] = prev_ids[f.name]
            for add_name, add_ddl in add_columns.items():
                dtype = T._parse_datatype_string(f"c {add_ddl}").fields[0].dataType
                new_fields.append(T.StructField(add_name, dtype, True))
                new_ids[add_name] = nxt
                nxt += 1
            meta["next_field_id"] = nxt

            sid = _next_id(meta)
            changes = {
                **({"added-columns": ",".join(add_columns)} if add_columns else {}),
                **(
                    {"renamed-columns": ",".join(f"{o}->{n}" for o, n in rename_columns.items())}
                    if rename_columns
                    else {}
                ),
                **({"dropped-columns": ",".join(drop_columns)} if drop_columns else {}),
                **(
                    {"widened-columns": ",".join(f"{c}:{t}" for c, t in widen_columns.items())}
                    if widen_columns
                    else {}
                ),
            }
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=prev.snapshot_id,
                committed_at=committed_at or _utcnow_iso(),
                operation="alter",
                summary={
                    "total-records": str(prev.total_records),
                    "total-data-files": str(len(prev.files)),
                    **changes,
                },
                schema_ddl=schema_to_ddl(T.StructType(new_fields)),
                partition_spec=prev.partition_spec,
                files=list(prev.files),
                # carry merge-on-read delete obligations: an alter is
                # metadata-only and must not resurrect MOR-deleted rows
                delete_files=list(prev.delete_files),
                field_ids=new_ids,
            )
            meta["snapshots"].append(asdict(snap))
            meta["current_id"] = sid
            tbl._save_meta(meta)
            return snap

    def alter_partition_spec(
        self,
        database: str,
        name: str,
        partition_by: list[str],
        committed_at: str | None = None,
    ) -> Snapshot:
        """Explicit partition-spec evolution (≙ Iceberg ``ALTER TABLE …
        ADD/DROP/REPLACE PARTITION FIELD``): a metadata-only commit that
        changes the spec FUTURE writes lay files out under. Existing
        files are untouched — they keep their own commit's ``col=value``
        layout and their manifest partition bounds, so scans over mixed
        layouts still prune every file against its OWN spec (per-file
        stats, :meth:`SnapTable.plan_files`). ``compact`` rewrites the
        whole table under the current spec, materializing the evolution
        away. The reference never evolves a spec — it recreates tables
        with the collected spec verbatim (`3_create_dst_tables.py:79-92`).

        Spec columns must exist in the current schema; dropping a
        column from the spec does not drop the column (its values move
        from the path into the data files on the next write)."""
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            cid = _current_id(meta)
            prev_dict = next(
                (s for s in meta["snapshots"] if s["snapshot_id"] == cid), None
            )
            if prev_dict is None:
                raise LookupError(
                    f"table {database}.{name} has no published snapshot"
                )
            prev = _snap_from_dict(tbl._expand_snapshot(prev_dict))
            names = {f.name for f in T._parse_datatype_string(prev.schema_ddl).fields}
            new_sfs = spec_fields(partition_by)  # validates transform syntax
            _validate_spec_against_schema(new_sfs, names, f"{database}.{name}")
            if list(partition_by) == prev.partition_spec:
                raise ValueError(
                    f"{database}.{name} already partitioned by {partition_by}"
                )
            sid = _next_id(meta)
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=prev.snapshot_id,
                committed_at=committed_at or _utcnow_iso(),
                operation="alter",
                summary={
                    "total-records": str(prev.total_records),
                    "total-data-files": str(len(prev.files)),
                    "partition-spec": (
                        f"{','.join(prev.partition_spec) or '()'}"
                        f"->{','.join(partition_by) or '()'}"
                    ),
                },
                schema_ddl=prev.schema_ddl,
                partition_spec=list(partition_by),
                files=list(prev.files),
                delete_files=list(prev.delete_files),
                field_ids=prev.field_ids,
            )
            if prev.field_ids is not None:
                meta.setdefault("commit_schemas", {})[str(sid)] = {
                    "schema_ddl": prev.schema_ddl,
                    "field_ids": prev.field_ids,
                }
            meta["snapshots"].append(asdict(snap))
            meta["current_id"] = sid
            tbl._save_meta(meta)
            return snap

    # ---- writes (W3) ---------------------------------------------------

    def write(
        self,
        database: str,
        name: str,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        committed_at: str | None = None,
        operation: str | None = None,
        summary_extra: dict[str, str] | None = None,
        expect_parent_id: "int | None | object" = _UNSET,
        staged: bool = False,
        wap_id: str | None = None,
        branch: str | None = None,
        distribution: str | None = None,
    ) -> Snapshot:
        """Commit a write. The data plane is a distributed Spark
        parquet write into a fresh commit directory; the metadata
        commit then flips atomically. Record counts come from the
        written footers (commit metrics), never a second scan.

        ``expect_parent_id`` (optional) is an optimistic-concurrency
        guard checked INSIDE the commit lock: the commit only lands if
        the table's current snapshot id still equals it (None = table
        must not exist yet), else CommitConflictError — the same
        validate-then-swap Iceberg uses so read-rewrite-commit
        sequences (e.g. ``compact``) can't silently drop a commit that
        landed between their read and their write.

        ``staged=True`` is Iceberg's write-audit-publish: the snapshot
        lands in the log but the published head does NOT move — normal
        reads still see the old state; auditors read the staged
        snapshot by id; :meth:`publish` flips (or cherry-picks) it
        into the main history. ``wap_id`` stamps ``wap.id`` into the
        summary (≙ ``spark.wap.id``) so the staged commit is findable.

        ``branch="dev"`` commits onto a named BRANCH ref
        (:meth:`create_branch`) instead of main — ≙ Iceberg
        ``df.writeTo("t").option("branch", "dev")``: the commit's
        parent is the branch head, only the branch pointer moves, and
        main reads are untouched until :meth:`fast_forward` publishes
        the branch. Mutually exclusive with ``staged`` (a branch is
        already an isolated line).

        ``distribution`` (≙ Iceberg ``write.distribution-mode``)
        clusters rows onto write tasks before a PARTITIONED write:
        ``"hash"`` repartitions on the spec columns so each partition
        value is written by one task, ``"range"`` range-partitions
        (keeps a global ordering across partitions). Without it, every
        task holding rows of a partition opens its own file there —
        with T tasks × P partitions that is the classic T×P
        small-file explosion; at 1000 executors over 100 TB the
        default layout produces millions of KB-sized files and
        distribution is what keeps file count ≈ P. ``None`` (default)
        preserves the incoming layout (tests depend on exact file
        counts; at scale prefer ``"hash"``)."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if distribution not in (None, "hash", "range"):
            raise ValueError(
                f"distribution must be hash|range|None, got {distribution!r}"
            )
        if branch is not None and staged:
            raise ValueError("staged (WAP) writes target main; a branch is already isolated")
        self.create_namespace(database)
        tbl = self.table(database, name)
        with _commit_lock(tbl.root):
            prev = self._write_head(tbl, branch)
            if expect_parent_id is not _UNSET:
                actual = prev.snapshot_id if prev else None
                if actual != expect_parent_id:
                    raise CommitConflictError(
                        f"concurrent commit on {database}.{name}: expected parent "
                        f"snapshot {expect_parent_id}, found {actual}"
                    )
            spec = list(
                partition_by
                if partition_by is not None
                else (prev.partition_spec if prev else [])
            )
            meta = tbl._load_meta(expand=False) if tbl.exists() else {"format_version": 1, "snapshots": []}
            sid = _next_id(meta)
            # a rewrite carrying materialized lineage columns keeps them
            # physical-only: excluded from the logical schema / field ids
            materialized = all(c in df.columns for c in LINEAGE_COLS)
            logical = (
                T.StructType(
                    [f for f in df.schema.fields if f.name not in LINEAGE_COLS]
                )
                if materialized
                else df.schema
            )
            if mode == "append" and prev is not None:
                logical = _merge_append_schema(
                    T._parse_datatype_string(prev.schema_ddl),
                    logical,
                    f"{database}.{name}",
                )
            fid_map = None
            if "next_field_id" in meta:  # evolution tracking active
                prev_ids = dict(prev.field_ids or {}) if prev else {}
                nxt = meta["next_field_id"]
                fid_map = {}
                for fname in logical.names:
                    if fname in prev_ids:
                        fid_map[fname] = prev_ids[fname]
                    else:
                        fid_map[fname] = nxt
                        nxt += 1
                meta["next_field_id"] = nxt
                meta.setdefault("commit_schemas", {})[str(sid)] = {
                    "schema_ddl": schema_to_ddl(logical),
                    "field_ids": fid_map,
                }
            if distribution and spec:
                dtypes = {f.name: f.dataType for f in df.schema.fields}
                exprs = [
                    sf.expr(dtypes.get(sf.source)) for sf in spec_fields(spec)
                ]
                df = (
                    df.repartition(*exprs)
                    if distribution == "hash"
                    else df.repartitionByRange(*exprs)
                )
            # write.sort-by table property (≙ Iceberg's write sort
            # order): range-cluster incoming rows on the declared
            # columns so each FRESH file lands with tight, near-disjoint
            # [min, max] bounds — range predicates on the sort key then
            # manifest-prune new data immediately, without waiting for a
            # sort compaction. Under an explicit distribution the
            # exchange is the caller's choice, but the declared sort
            # order is still honored LOCALLY (sortWithinPartitions) —
            # Iceberg applies the table sort order within each write
            # task under write.distribution-mode=hash, so a migrated
            # copy of a sort-by table keeps its range-pruning layout
            # (r14 ADVICE: hash distribution silently dropped it).
            props = tbl.properties()
            sort_cols = [
                c.strip()
                for c in props.get("write.sort-by", "").split(",")
                if c.strip() and c.strip() in df.columns
            ]
            if sort_cols and distribution:
                df = df.sortWithinPartitions(*sort_cols)
            elif sort_cols:
                # write.sort-partitions pins the range-exchange width
                # (AQE honors an explicit count and will otherwise
                # size-coalesce — correct at scale, where partitions
                # track the advisory size, but a pinned width lets
                # small tables still produce a clustered multi-file
                # layout when the user asks for one)
                npart = props.get("write.sort-partitions")
                args = ([int(npart)] if npart else []) + sort_cols
                df = df.repartitionByRange(*args).sortWithinPartitions(
                    *sort_cols
                )
            new_files = self._write_data_files(tbl, sid, df, spec)
            _assign_row_ids(meta, new_files, materialized)

            files = new_files if (mode == "overwrite" or prev is None) else (
                list(prev.files) + new_files
            )
            # appends keep the old files' merge-on-read delete
            # obligations; an overwrite replaces the whole state
            carried_dels = (
                list(prev.delete_files)
                if prev is not None and mode != "overwrite"
                else []
            )
            added = sum(f.records for f in new_files)
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=prev.snapshot_id if prev else None,
                committed_at=committed_at or _utcnow_iso(),
                operation=operation or mode,
                summary={
                    "added-records": str(added),
                    "added-data-files": str(len(new_files)),
                    "total-records": str(sum(f.records for f in files)),
                    "total-data-files": str(len(files)),
                    **({"wap.id": wap_id} if wap_id is not None else {}),
                    **(summary_extra or {}),
                },
                schema_ddl=schema_to_ddl(logical),
                partition_spec=spec,
                files=files,
                delete_files=carried_dels,
                field_ids=fid_map,
            )
            _append_commit(meta, asdict(snap), branch=branch, staged=staged)
            tbl._save_meta(meta)
            return snap

    def _write_data_files(
        self, tbl: SnapTable, sid: int, df: DataFrame, spec: list[str]
    ) -> list[DataFile]:
        """Distributed parquet write into snapshot ``sid``'s commit
        directory; returns the manifest entries with footer-derived
        stats (the commit metrics — no post-write count scan)."""
        commit_dir = os.path.join(tbl.root, f"data/s{sid:06d}")
        sfs = spec_fields(spec)
        types = {f.name: f.dataType for f in df.schema.fields}
        # re-check against the INCOMING frame: schema evolution may have
        # added a column since the spec was validated at create/alter time
        _validate_spec_against_schema(
            sfs, set(types), f"{tbl.database}.{tbl.name} (write schema)"
        )
        pcols: list[str] = []
        for sf in sfs:
            if sf.kind == "identity":
                pcols.append(sf.source)
            else:
                # hidden partitioning: derive the path value; the source
                # column stays in the data files
                df = df.withColumn(sf.partition_name, sf.expr(types[sf.source]))
                pcols.append(sf.partition_name)
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        with _timestamp_micros(df.sparkSession):
            writer.parquet(commit_dir)
        new_files: list[DataFile] = []
        for dirpath, _dirs, fnames in os.walk(commit_dir):
            for fn in sorted(fnames):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                md = pq.ParquetFile(full).metadata
                rel = os.path.relpath(full, tbl.root)
                stats = dict(_footer_stats(md) or {})
                if spec:  # partition values live in the path, not the footer
                    stats.update(
                        _path_partition_stats(
                            os.path.relpath(dirpath, commit_dir).split(os.sep),
                            df.schema,
                        )
                    )
                new_files.append(
                    DataFile(
                        path=rel,
                        records=md.num_rows,
                        bytes=os.path.getsize(full),
                        stats=stats or None,
                    )
                )
        # identity-partition sources are excluded: their values live in
        # directory NAMES, so the read-back would hash a path-inferred
        # (possibly re-typed) value — and path partition stats already
        # prune them exactly, a bloom adds nothing but risk
        identity_sources = {sf.source for sf in sfs if sf.kind == "identity"}
        bloom_cols = [
            c.strip()
            for c in tbl.properties().get("bloom.columns", "").split(",")
            if c.strip() and c.strip() in types
            and c.strip() not in identity_sources
        ]
        if bloom_cols and new_files:
            blooms = self._compute_blooms(
                tbl, commit_dir, bloom_cols, types, df.sparkSession
            )
            for f in new_files:
                b = blooms.get(f.path)
                if b:
                    f.blooms = b
        return new_files

    def _compute_blooms(
        self,
        tbl: SnapTable,
        commit_dir: str,
        cols: list[str],
        types: dict,
        spark: SparkSession,
    ) -> dict[str, dict[str, dict]]:
        """Per-file bloom filters for the just-written commit files —
        one distributed pass: Spark's JVM ``xxhash64`` per value
        (null-safe: NULL hashes to the seed, costing two harmless
        bits), then an Arrow-grouped numpy fold into one m-bit set per
        (file, column). The driver receives exactly one manifest-sized
        row per file (1 KiB of bits per column), never values. Probes
        replay the same hash on the driver via the bit-parity
        pure-Python twin (`functions/xxh64.py`)."""
        import numpy as np
        import pandas as pd

        sdf = spark.read.parquet(commit_dir)
        present = [c for c in cols if c in sdf.columns]
        if not present:
            return {}
        sel = [F.col("_metadata.file_path").alias("__file")]
        sel += [F.xxhash64(F.col(c)).alias(f"__h_{i}") for i, c in enumerate(present)]
        hdf = sdf.select(*sel).select(
            _root_rel_col(tbl.root).alias("path"),
            *[f"__h_{i}" for i in range(len(present))],
        )

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            out = {"path": [pdf["path"].iloc[0]]}
            for i in range(len(present)):
                u = pdf[f"__h_{i}"].to_numpy(dtype=np.int64).view(np.uint64)
                bits = np.zeros(_BLOOM_M // 8, dtype=np.uint8)
                for j in range(_BLOOM_K):
                    pos = (u >> np.uint64(13 * j)) & np.uint64(_BLOOM_M - 1)
                    np.bitwise_or.at(
                        bits, (pos // 8).astype(np.int64),
                        np.left_shift(np.uint8(1), (pos % 8).astype(np.uint8)),
                    )
                out[f"b_{i}"] = [bytes(bits).hex()]
            return pd.DataFrame(out)

        schema = "path string" + "".join(f", b_{i} string" for i in range(len(present)))
        rows = hdf.groupBy("path").applyInPandas(build, schema=schema).collect()
        out: dict[str, dict[str, dict]] = {}
        for r in rows:
            out[r["path"]] = {
                c: {
                    "m": _BLOOM_M,
                    "k": _BLOOM_K,
                    "type": types[c].simpleString(),
                    "bits": r[f"b_{i}"],
                }
                for i, c in enumerate(present)
            }
        return out

    @staticmethod
    def _write_head(tbl: SnapTable, branch: str | None) -> "Snapshot | None":
        """The snapshot a write targeting ``branch`` (None = main)
        descends from: the published head, or the branch head (≙
        Iceberg branch-targeted DML — ``DELETE FROM t.branch_dev``
        commits onto the branch line). Raises LookupError for a
        missing ref and rejects a TAG by name (tags are immutable).
        Callers re-invoke this UNDER the commit lock so a concurrent
        branch move/drop can't be lost."""
        if branch is None:
            return tbl.current_snapshot()
        if not tbl.exists():
            raise LookupError(f"table {tbl.database}.{tbl.name} does not exist")
        meta = tbl._load_meta(expand=False)
        bref = meta.get("refs", {}).get(branch)
        if bref is None or bref.get("type") != "branch":
            raise LookupError(
                f"branch {branch!r} not found in {tbl.database}.{tbl.name}"
            )
        raw = next(
            s for s in meta["snapshots"]
            if s["snapshot_id"] == bref["snapshot_id"]
        )
        return _snap_from_dict(tbl._expand_snapshot(raw))

    def _commit(
        self,
        tbl: SnapTable,
        prev: Snapshot,
        files: list[DataFile],
        new_files: list[DataFile],
        operation: str,
        committed_at: str | None,
        summary_extra: dict[str, str] | None = None,
        sid: int | None = None,
        materialized_lineage: bool = False,
        staged: bool = False,
        branch: str | None = None,
    ) -> Snapshot:
        meta = tbl._load_meta(expand=False)
        final_sid = sid if sid is not None else _next_id(meta)
        _assign_row_ids(meta, new_files, materialized_lineage)
        if "next_field_id" in meta and new_files:
            # rewrites land at the current schema under the current names
            meta.setdefault("commit_schemas", {})[str(final_sid)] = {
                "schema_ddl": prev.schema_ddl,
                "field_ids": dict(prev.field_ids or {}),
            }
        snap = Snapshot(
            snapshot_id=final_sid,
            parent_id=prev.snapshot_id,
            committed_at=committed_at or _utcnow_iso(),
            operation=operation,
            summary={
                "added-records": str(sum(f.records for f in new_files)),
                "added-data-files": str(len(new_files)),
                "total-records": str(sum(f.records for f in files)),
                "total-data-files": str(len(files)),
                **(summary_extra or {}),
            },
            schema_ddl=prev.schema_ddl,
            partition_spec=prev.partition_spec,
            files=files,
            delete_files=list(prev.delete_files),
            field_ids=dict(prev.field_ids) if prev.field_ids is not None else None,
        )
        _append_commit(meta, asdict(snap), branch=branch, staged=staged)
        tbl._save_meta(meta)
        return snap

    # ---- row-level operations (copy-on-write) ---------------------------

    @staticmethod
    def _check_unique_keys(
        database: str, name: str, updates: DataFrame, key_cols: list[str]
    ) -> None:
        """One aggregate over ``updates``; raises on a duplicate key
        set BEFORE any commit work starts."""
        dup = (
            updates.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"upsert into {database}.{name}: updates carry more than one "
                f"row per key ({', '.join(key_cols)}); deduplicate first "
                "(e.g. keep the latest row per key) or drop "
                "validate_unique_keys"
            )

    def upsert(
        self,
        database: str,
        name: str,
        updates: DataFrame,
        key_cols: list[str],
        committed_at: str | None = None,
        staged: bool = False,
        extra_delete_keys: DataFrame | None = None,
        validate_unique_keys: bool = False,
        branch: str | None = None,
    ) -> Snapshot:
        """MERGE with file-level copy-on-write (≙ Iceberg COW
        ``MERGE INTO … WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT``): rows whose keys match are replaced by the update
        row, new keys insert. Only data files that actually CONTAIN a
        matched key are rewritten — matched files are found by
        semi-joining the update keys against the scan with the
        ``_metadata.file_path`` column, so a 10-row merge into a
        10⁶-file table rewrites a handful of files, not the table.
        Untouched files carry over into the new snapshot by reference.

        ``extra_delete_keys``: additional key rows to DELETE in the
        same commit (no replacement row) — the conditional-MERGE /
        CDC-apply shape (``WHEN MATCHED AND op='D' THEN DELETE WHEN
        MATCHED THEN UPDATE …``) where one statement both updates and
        deletes. Files containing them join the rewrite set; their
        rows are simply not re-emitted.

        ``validate_unique_keys``: opt-in guard for direct API callers
        — raise (before any commit) if ``updates`` carries more than
        one row per key set, instead of silently writing duplicate
        rows for one key. Off by default: internal callers (SQL MERGE,
        CDC replay, IVM) already guarantee or check uniqueness at
        their own layer (the SQL path raises the upstream-parity
        cardinality violation only for MATCHED duplicates), and the
        check costs one aggregate over the updates. Same flag on
        :meth:`upsert_mor`.

        Assumes a key-unique TARGET: the rewrite replaces rows BY KEY,
        so a target already holding several rows under one key
        (reachable by inserting unmatched duplicate source keys, which
        legally insert per-row) has them collapsed into the single
        update row — Spark/Iceberg MERGE instead updates each matched
        row and keeps the multiplicity. Deduplicate (or re-key) such a
        table before upserting into it; same caveat on
        :meth:`upsert_mor`.

        ``branch="dev"``: the merge reads the BRANCH head and commits
        onto the branch ref only (≙ Iceberg branch-targeted ``MERGE
        INTO t.branch_dev``); mutually exclusive with ``staged``."""
        if branch is not None and staged:
            raise ValueError("staged (WAP) writes target main; a branch is already isolated")
        if validate_unique_keys:
            self._check_unique_keys(database, name, updates, key_cols)
        spark = updates.sparkSession
        tbl = self.table(database, name)
        prev = self._write_head(tbl, branch)
        if prev is None or not prev.files:
            return self.write(
                database, name, updates, mode="append",
                committed_at=committed_at, operation="merge", staged=staged,
                branch=branch,
            )
        with _commit_lock(tbl.root):
            prev = self._write_head(tbl, branch)  # re-read under the lock
            # PASS 1 (discovery): which files contain a matched key.
            # Lineage is NOT requested — the semi-join only reads the
            # key columns + __file, so the scan stays key-narrow
            cur = tbl._read_files(
                spark, prev, [f.path for f in prev.files],
                with_file_path=True, apply_deletes=True,
            )
            keys = updates.select(*key_cols).distinct()
            full_keys = keys  # update keys ∪ delete keys drive the rewrite set
            if extra_delete_keys is not None:
                full_keys = keys.unionByName(
                    extra_delete_keys.select(*key_cols)
                ).distinct()
            affected_abs = [
                r["__file"]
                for r in cur.join(full_keys, key_cols, "left_semi").select("__file").distinct().collect()
            ]  # O(matched files) driver rows — manifest-scale, not data-scale
            affected_rel = {tbl._abs_to_rel(p) for p in affected_abs}
            sid = _next_id(tbl._load_meta(expand=False))
            if affected_rel:
                # PASS 2 (rewrite): re-read ONLY the matched files
                # (file-level pruning, guide §6) — the unmatched files
                # carry over by reference and are never scanned again
                touched = tbl._read_files(
                    spark, prev, sorted(affected_rel),
                    apply_deletes=True, with_lineage=True,
                )
                # matched update rows INHERIT the replaced row's _row_id
                # (UPDATE keeps identity, v3 rule); inserts carry null →
                # fresh ids by first_row_id+pos inheritance at read
                matched_ids = (
                    touched.join(keys, key_cols, "left_semi")
                    .groupBy(*key_cols)
                    .agg(F.min("_row_id").alias("_row_id"))
                )
                updates_l = updates.join(
                    F.broadcast(matched_ids), key_cols, "left"
                ).withColumn(
                    "_last_updated_seq",
                    F.when(
                        F.col("_row_id").isNotNull(), F.lit(sid).cast("long")
                    ),
                )
                rewritten = (
                    touched
                    # drop matched rows — update keys get their new
                    # version from updates_l; extra delete keys simply
                    # aren't re-emitted
                    .join(full_keys, key_cols, "left_anti")
                    .unionByName(updates_l)
                )
            else:
                rewritten = updates.withColumn(
                    "_row_id", F.lit(None).cast("long")
                ).withColumn("_last_updated_seq", F.lit(None).cast("long"))
            new_files = self._write_data_files(tbl, sid, rewritten, prev.partition_spec)
            files = [f for f in prev.files if f.path not in affected_rel] + new_files
            return self._commit(
                tbl, prev, files, new_files, "merge", committed_at,
                {"rewritten-data-files": str(len(affected_rel))}, sid=sid,
                materialized_lineage=True, staged=staged, branch=branch,
            )

    def delete_where(
        self,
        database: str,
        name: str,
        condition,
        committed_at: str | None = None,
        mode: str = "copy-on-write",
        staged: bool = False,
        summary_extra: dict[str, str] | None = None,
        branch: str | None = None,
    ) -> Snapshot:
        """Row-level DELETE by predicate. ``condition`` is a Column or
        SQL string; a string containing a subquery (``id IN (SELECT
        …)``, correlated ``EXISTS`` naming the target table, a scalar
        ``(SELECT …)`` comparison) is evaluated in query context —
        table references inside it must already be bound to temp
        views (the SQL front-end does this; see ``_with_match``).

        ``mode="copy-on-write"`` (default): only files containing at
        least one matching row are rewritten (without the matching
        rows); every other file carries over by reference.

        ``mode="merge-on-read"``: no data file is rewritten — the
        commit records the matched rows' exact ``(file, position)``
        pairs as a POSITION-delete file (≙ Iceberg v2
        ``write.delete.mode=merge-on-read`` position deletes, the
        predicate-shaped twin of :meth:`delete_keys`). The scan to
        find matches still runs (with pushdown), but the write is
        O(matched rows) — deleting a sliver from a 100 TB table costs
        the selective scan plus kilobytes of delete metadata, and
        readers drop the positions with one broadcast anti-join.
        ``compact`` materializes position deletes away like any other
        delete file.

        ``branch="dev"``: the delete scans the BRANCH head and commits
        onto the branch ref only (≙ Iceberg branch-targeted row-level
        DML, ``DELETE FROM t.branch_dev``); main is untouched until
        :meth:`fast_forward` publishes the branch. Mutually exclusive
        with ``staged``."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"mode must be copy-on-write|merge-on-read, got {mode!r}")
        if branch is not None and staged:
            raise ValueError("staged (WAP) writes target main; a branch is already isolated")
        spark = SparkSession.getActiveSession()
        tbl = self.table(database, name)
        prev = self._write_head(tbl, branch)
        if prev is None:
            raise LookupError(f"table {database}.{name} does not exist")
        if mode == "merge-on-read":
            with _commit_lock(tbl.root):
                prev = self._write_head(tbl, branch)  # re-read under the lock
                cur = _with_match(
                    spark,
                    tbl._read_files(
                        spark, prev, [f.path for f in prev.files],
                        with_file_path=True, with_pos=True, apply_deletes=True,
                    ),
                    condition,
                    alias=name,
                )
                matched = cur.where("__match").select(
                    _root_rel_col(tbl.root).alias("file_path"),
                    F.col("__pos").alias("pos"),
                )
                meta = tbl._load_meta(expand=False)
                sid = _next_id(meta)
                new_dels = self._write_position_delete_files(tbl, sid, matched)
                n_rows = sum(d.records for d in new_dels)
                if n_rows == 0:  # no-op delete still commits (audit trail)
                    shutil.rmtree(
                        os.path.join(tbl.root, f"deletes/s{sid:06d}"),
                        ignore_errors=True,
                    )
                    new_dels = []
                snap = Snapshot(
                    snapshot_id=sid,
                    parent_id=prev.snapshot_id,
                    committed_at=committed_at or _utcnow_iso(),
                    operation="delete",
                    summary={
                        "delete-mode": "merge-on-read",
                        "added-delete-files": str(len(new_dels)),
                        "position-delete-rows": str(n_rows),
                        "total-records": str(prev.total_records),
                        "total-data-files": str(len(prev.files)),
                        **(summary_extra or {}),
                    },
                    schema_ddl=prev.schema_ddl,
                    partition_spec=prev.partition_spec,
                    files=list(prev.files),
                    delete_files=list(prev.delete_files) + new_dels,
                    field_ids=dict(prev.field_ids)
                    if prev.field_ids is not None
                    else None,
                )
                _record_commit_schema(meta, sid, prev)
                _append_commit(meta, asdict(snap), branch=branch, staged=staged)
                tbl._save_meta(meta)
                return snap
        with _commit_lock(tbl.root):
            prev = self._write_head(tbl, branch)  # re-read under the lock
            # PASS 1 (discovery): which files contain a matching row.
            # with_lineage stays on: a correlated-subquery condition is
            # planned via spark.sql over this scan, and the bare
            # union-of-commit-groups shape (no post-union join) trips
            # Catalyst's PushProjectionThroughUnion on the rewritten
            # EXISTS join ("key not found" on a dedup'd union attr);
            # the lineage join above the union sidesteps it, and its
            # columns prune away for plain-expression conditions
            cur = _with_match(
                spark,
                tbl._read_files(
                    spark, prev, [f.path for f in prev.files],
                    with_file_path=True, apply_deletes=True, with_lineage=True,
                ),
                condition,
                alias=name,
            )
            affected_abs = [
                r["__file"]
                for r in cur.where("__match").select("__file").distinct().collect()
            ]
            affected_rel = {tbl._abs_to_rel(p) for p in affected_abs}
            if not affected_rel:  # no-op delete still commits (audit trail)
                return self._commit(
                    tbl, prev, list(prev.files), [], "delete", committed_at,
                    {"rewritten-data-files": "0", **(summary_extra or {})},
                    staged=staged, branch=branch,
                )
            # PASS 2 (rewrite): re-read ONLY the matched files
            # (file-level pruning, guide §6). Survivors carry their
            # lineage into the rewrite (carry-over rows keep id AND
            # last-updated commit, Iceberg v3 rule).
            # SQL DELETE removes rows where the predicate is TRUE —
            # NULL-evaluating rows SURVIVE (__match coalesces NULL to
            # false, so ~__match keeps them; a bare ~cond would
            # silently drop them from rewritten files while identical
            # rows in untouched files lived on)
            survivors = (
                _with_match(
                    spark,
                    tbl._read_files(
                        spark, prev, sorted(affected_rel),
                        apply_deletes=True, with_lineage=True,
                    ),
                    condition,
                    alias=name,
                )
                .where(~F.col("__match"))
                .drop("__match")
            )
            sid = _next_id(tbl._load_meta(expand=False))
            new_files = self._write_data_files(tbl, sid, survivors, prev.partition_spec)
            files = [f for f in prev.files if f.path not in affected_rel] + new_files
            return self._commit(
                tbl, prev, files, new_files, "delete", committed_at,
                {"rewritten-data-files": str(len(affected_rel)),
                 **(summary_extra or {})}, sid=sid,
                materialized_lineage=True, staged=staged, branch=branch,
            )

    def truncate_table(
        self,
        database: str,
        name: str,
        committed_at: str | None = None,
        staged: bool = False,
    ) -> Snapshot:
        """TRUNCATE TABLE: ONE metadata-only commit whose snapshot
        references zero data files and zero delete files — nothing is
        read or rewritten (Iceberg's TRUNCATE is a metadata operation;
        a predicate delete-all would scan every file just to learn
        that every file matches). History is preserved: time travel to
        any pre-truncate snapshot still reads the old files, and
        ``expire_snapshots`` reaps them later like any other
        unreferenced file.

        ``removed-records`` = data-file records minus position-delete
        rows (each position hides exactly one row). On a table with
        live EQUALITY deletes it remains an upper bound of the live
        rows removed — a key-shaped delete's exact row coverage is
        only knowable by scanning, which a metadata-only commit must
        not do."""
        tbl = self.table(database, name)
        if tbl.current_snapshot() is None:
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            prev = tbl.current_snapshot()  # re-read under the lock
            if prev is None:  # concurrent drop between check and lock
                raise LookupError(f"table {database}.{name} does not exist")
            meta = tbl._load_meta(expand=False)
            sid = _next_id(meta)
            pos_hidden = sum(
                d.records for d in prev.delete_files if d.kind == "position"
            )
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=prev.snapshot_id,
                committed_at=committed_at or _utcnow_iso(),
                operation="delete",
                summary={
                    "truncated": "true",
                    "removed-data-files": str(len(prev.files)),
                    "removed-records": str(prev.total_records - pos_hidden),
                    "total-records": "0",
                    "total-data-files": "0",
                },
                schema_ddl=prev.schema_ddl,
                partition_spec=prev.partition_spec,
                files=[],
                delete_files=[],
                field_ids=dict(prev.field_ids)
                if prev.field_ids is not None
                else None,
            )
            _record_commit_schema(meta, sid, prev)
            meta["snapshots"].append(asdict(snap))
            if not staged:  # WAP: a staged truncate stays unpublished
                meta["current_id"] = sid
            tbl._save_meta(meta)
            return snap

    def _write_delete_files(
        self, tbl: SnapTable, sid: int, keys: DataFrame, key_cols: list[str]
    ) -> list[DeleteFile]:
        """Write an equality-delete key set for commit ``sid``."""
        return self._write_delete_set(
            tbl, sid, keys.select(*key_cols).distinct(),
            key_cols=list(key_cols), kind="equality",
        )

    def _write_delete_set(
        self,
        tbl: SnapTable,
        sid: int,
        rows: DataFrame,
        key_cols: list[str],
        kind: str,
    ) -> list[DeleteFile]:
        """Write a delete set (equality keys or position pairs) for
        commit ``sid`` under ``deletes/s{sid}`` (outside the data
        directories, so data scans never list it). Zero-row output
        files are dropped — they would be dead manifest weight."""
        del_dir = os.path.join(tbl.root, f"deletes/s{sid:06d}")
        rows.write.mode("overwrite").parquet(del_dir)
        out: list[DeleteFile] = []
        for dirpath, _dirs, fnames in os.walk(del_dir):
            for fn in sorted(fnames):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                md = pq.ParquetFile(full).metadata
                if md.num_rows == 0:
                    continue
                out.append(
                    DeleteFile(
                        path=os.path.relpath(full, tbl.root),
                        records=md.num_rows,
                        bytes=os.path.getsize(full),
                        key_cols=list(key_cols),
                        sequence=sid,
                        kind=kind,
                    )
                )
        return out

    def _write_position_delete_files(
        self, tbl: SnapTable, sid: int, matched: DataFrame
    ) -> list[DeleteFile]:
        """Write a ``(file_path, pos)`` position-delete set for commit
        ``sid``."""
        return self._write_delete_set(
            tbl, sid, matched.select("file_path", "pos"),
            key_cols=[], kind="position",
        )

    def delete_keys(
        self,
        database: str,
        name: str,
        keys: DataFrame,
        key_cols: list[str] | None = None,
        committed_at: str | None = None,
        summary_extra: dict[str, str] | None = None,
        mode: str = "merge-on-read",
        branch: str | None = None,
    ) -> Snapshot:
        """Row-level DELETE by key. Default MERGE-ON-READ (≙ Iceberg v2
        equality-delete files with ``write.delete.mode=merge-on-read``):
        the commit writes ONLY the key set — no data file is read or
        rewritten, so a 10-key delete into a 100 TB table costs O(keys)
        regardless of how many files contain them. Readers anti-join
        the keys against data files with an older sequence (commit) id;
        rows re-appended after the delete survive. ``compact`` (or any
        overwrite) materializes the deletes away — Iceberg's
        ``rewrite_data_files`` + ``rewrite_position_delete_files`` role.

        ``mode="copy-on-write"`` (≙ ``write.delete.mode=copy-on-write``,
        what SQL ``MERGE … WHEN MATCHED THEN DELETE`` selects on a COW
        table): file-level rewrite of ONLY the files containing a
        matched key (found by one semi-join against the scan), matched
        rows dropped, every untouched file carried over by reference —
        the same selective-rewrite shape as :meth:`upsert`.

        COW optimizes for readers, MOR for writers — the classic
        Iceberg trade.

        ``branch="dev"``: delete against the BRANCH head; only the
        branch ref moves (≙ Iceberg branch-targeted DML)."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"mode must be copy-on-write|merge-on-read, got {mode!r}")
        tbl = self.table(database, name)
        with _commit_lock(tbl.root):
            prev = self._write_head(tbl, branch)
            if prev is None:
                raise LookupError(f"table {database}.{name} does not exist")
            kc = list(key_cols or keys.columns)
            schema_cols = {f.name for f in T._parse_datatype_string(prev.schema_ddl).fields}
            missing = [c for c in kc if c not in schema_cols]
            if missing:
                raise ValueError(
                    f"delete key columns {missing} not in {database}.{name} schema"
                )
            if mode == "copy-on-write":
                spark = keys.sparkSession
                # PASS 1 (discovery): key-narrow scan, no lineage
                cur = tbl._read_files(
                    spark, prev, [f.path for f in prev.files],
                    with_file_path=True, apply_deletes=True,
                )
                kdf = keys.select(*kc).distinct()
                affected_abs = [
                    r["__file"]
                    for r in cur.join(kdf, kc, "left_semi")
                    .select("__file").distinct().collect()
                ]  # O(matched files) driver rows — manifest-scale
                affected_rel = {tbl._abs_to_rel(p) for p in affected_abs}
                if not affected_rel:  # no-op delete still commits (audit)
                    return self._commit(
                        tbl, prev, list(prev.files), [], "delete", committed_at,
                        {"delete-mode": "copy-on-write",
                         "rewritten-data-files": "0", **(summary_extra or {})},
                        branch=branch,
                    )
                # PASS 2 (rewrite): re-read ONLY the matched files
                # (file-level pruning, guide §6)
                survivors = tbl._read_files(
                    spark, prev, sorted(affected_rel),
                    apply_deletes=True, with_lineage=True,
                ).join(kdf, kc, "left_anti")
                sid = _next_id(tbl._load_meta(expand=False))
                new_files = self._write_data_files(
                    tbl, sid, survivors, prev.partition_spec
                )
                files = [
                    f for f in prev.files if f.path not in affected_rel
                ] + new_files
                return self._commit(
                    tbl, prev, files, new_files, "delete", committed_at,
                    {"delete-mode": "copy-on-write",
                     "rewritten-data-files": str(len(affected_rel)),
                     **(summary_extra or {})}, sid=sid,
                    materialized_lineage=True, branch=branch,
                )
            meta = tbl._load_meta(expand=False)
            sid = _next_id(meta)
            new_dels = self._write_delete_files(tbl, sid, keys, kc)
            if not new_dels:  # empty key set: audit commit, no dead files
                shutil.rmtree(
                    os.path.join(tbl.root, f"deletes/s{sid:06d}"),
                    ignore_errors=True,
                )
            n_keys = sum(d.records for d in new_dels)
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=prev.snapshot_id,
                committed_at=committed_at or _utcnow_iso(),
                operation="delete",
                summary={
                    "delete-mode": "merge-on-read",
                    "added-delete-files": str(len(new_dels)),
                    "equality-delete-keys": str(n_keys),
                    "total-records": str(prev.total_records),
                    "total-data-files": str(len(prev.files)),
                    **(summary_extra or {}),
                },
                schema_ddl=prev.schema_ddl,
                partition_spec=prev.partition_spec,
                files=list(prev.files),
                delete_files=list(prev.delete_files) + new_dels,
                field_ids=dict(prev.field_ids) if prev.field_ids is not None else None,
            )
            _record_commit_schema(meta, sid, prev)
            _append_commit(meta, asdict(snap), branch=branch)
            tbl._save_meta(meta)
            return snap

    def upsert_mor(
        self,
        database: str,
        name: str,
        updates: DataFrame,
        key_cols: list[str],
        committed_at: str | None = None,
        extra_delete_keys: DataFrame | None = None,
        validate_unique_keys: bool = False,
        branch: str | None = None,
    ) -> Snapshot:
        """MERGE, merge-on-read flavor (≙ Iceberg
        ``write.merge.mode=merge-on-read``): ONE commit appends the new
        row versions as data files and the update keys as an
        equality-delete file. No existing file is read or rewritten —
        the write costs O(updates); the delete (sequence = this commit)
        hides only OLDER versions, the rows written here survive their
        own delete by the sequence rule.

        ``extra_delete_keys``: additional key rows to DELETE in the
        same commit (the conditional-MERGE / CDC-apply shape) — they
        join the equality-delete key set with no replacement row.

        ``validate_unique_keys``: opt-in duplicate-key guard — see
        :meth:`upsert`. Like :meth:`upsert`, assumes a key-unique
        TARGET: the equality delete hides EVERY older row under a
        key, so pre-existing duplicates collapse into the one update
        row (Spark/Iceberg MERGE would update each).

        ``branch="dev"``: append + delete file land on the BRANCH head
        and only the branch ref moves (≙ Iceberg branch-targeted
        MERGE)."""
        if validate_unique_keys:
            self._check_unique_keys(database, name, updates, key_cols)
        tbl = self.table(database, name)
        prev = self._write_head(tbl, branch)
        if prev is None or not prev.files:
            return self.write(
                database, name, updates, mode="append",
                committed_at=committed_at, operation="merge", branch=branch,
            )
        with _commit_lock(tbl.root):
            prev = self._write_head(tbl, branch)  # re-read under the lock
            meta = tbl._load_meta(expand=False)
            sid = _next_id(meta)
            del_keys = updates.select(*key_cols)
            if extra_delete_keys is not None:
                del_keys = del_keys.unionByName(
                    extra_delete_keys.select(*key_cols)
                )
            # the data-file write and the delete-key write are
            # independent jobs into disjoint commit directories — run
            # them concurrently so the key write back-fills the data
            # write's task tail (guide §2.6) instead of waiting for it
            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_data = pool.submit(
                    self._write_data_files, tbl, sid, updates, prev.partition_spec
                )
                fut_dels = pool.submit(
                    self._write_delete_files, tbl, sid, del_keys, key_cols
                )
                new_files = fut_data.result()
                new_dels = fut_dels.result()
            # new row versions get fresh virtual row ids (v3: MOR merge
            # writes new rows; their _last_updated_seq is this commit)
            _assign_row_ids(meta, new_files, materialized=False)
            files = list(prev.files) + new_files
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=prev.snapshot_id,
                committed_at=committed_at or _utcnow_iso(),
                operation="merge",
                summary={
                    "merge-mode": "merge-on-read",
                    "added-records": str(sum(f.records for f in new_files)),
                    "added-data-files": str(len(new_files)),
                    "added-delete-files": str(len(new_dels)),
                    "total-records": str(sum(f.records for f in files)),
                    "total-data-files": str(len(files)),
                },
                schema_ddl=prev.schema_ddl,
                partition_spec=prev.partition_spec,
                files=files,
                delete_files=list(prev.delete_files) + new_dels,
                field_ids=dict(prev.field_ids) if prev.field_ids is not None else None,
            )
            _record_commit_schema(meta, sid, prev)
            _append_commit(meta, asdict(snap), branch=branch)
            tbl._save_meta(meta)
            return snap

    def update_where(
        self,
        database: str,
        name: str,
        condition,
        assignments: dict[str, "str | object"],
        committed_at: str | None = None,
        staged: bool = False,
        mode: str = "copy-on-write",
        branch: str | None = None,
    ) -> Snapshot:
        """Row-level UPDATE (≙ Iceberg ``UPDATE t SET … WHERE …``,
        strategy switched by ``write.update.mode``). ``condition``
        takes the same forms as :meth:`delete_where`, including
        subquery predicates.

        ``mode="copy-on-write"`` (default): only files containing at
        least one matching row are rewritten, with ``assignments``
        (column → Column/SQL expression) applied to the matching rows
        and every other row copied unchanged; untouched files carry
        over by reference.

        ``mode="merge-on-read"``: NO data file is rewritten — ONE
        commit appends the updated row versions as new data files and
        records the matched rows' exact ``(file, position)`` pairs as
        a position-delete file (≙ Iceberg v2
        ``write.update.mode=merge-on-read``). The scan to find matches
        still runs (with pushdown), but the write is O(matched rows):
        updating a sliver of a 100 TB table costs the selective scan
        plus the updated rows, not a file rewrite. Results are
        identical to COW; only write amplification differs. Updated
        rows keep their ``_row_id`` and bump ``_last_updated_seq`` to
        this commit (Iceberg v3 row lineage), same as the COW rewrite.
        ``compact`` materializes the deletes away later.

        ``branch="dev"``: scan the BRANCH head, commit onto the branch
        ref only (≙ Iceberg branch-targeted ``UPDATE t.branch_dev``);
        main is untouched until :meth:`fast_forward`. Mutually
        exclusive with ``staged``."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"mode must be copy-on-write|merge-on-read, got {mode!r}")
        if branch is not None and staged:
            raise ValueError("staged (WAP) writes target main; a branch is already isolated")
        spark = SparkSession.getActiveSession()
        tbl = self.table(database, name)
        prev = self._write_head(tbl, branch)
        if prev is None:
            raise LookupError(f"table {database}.{name} does not exist")
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        schema_cols = [f.name for f in T._parse_datatype_string(prev.schema_ddl).fields]
        unknown = [c for c in exprs if c not in schema_cols]
        if unknown:
            raise ValueError(f"UPDATE of unknown columns {unknown} in {database}.{name}")
        if mode == "merge-on-read":
            with _commit_lock(tbl.root):
                prev = self._write_head(tbl, branch)  # re-read under the lock
                cur = _with_match(
                    spark,
                    tbl._read_files(
                        spark, prev, [f.path for f in prev.files],
                        with_file_path=True, with_pos=True,
                        apply_deletes=True, with_lineage=True,
                    ),
                    condition,
                    alias=name,
                )
                # one scan feeds both writes (delete positions + new
                # row versions) — persist so cond isn't evaluated over
                # the table twice
                matched = cur.where("__match").persist()
                try:
                    meta = tbl._load_meta(expand=False)
                    sid = _next_id(meta)
                    new_dels = self._write_position_delete_files(
                        tbl, sid,
                        matched.select(
                            _root_rel_col(tbl.root).alias("file_path"),
                            F.col("__pos").alias("pos"),
                        ),
                    )
                    n_rows = sum(d.records for d in new_dels)
                    new_files: list[DataFile] = []
                    if n_rows == 0:  # no-op update still commits (audit)
                        shutil.rmtree(
                            os.path.join(tbl.root, f"deletes/s{sid:06d}"),
                            ignore_errors=True,
                        )
                        new_dels = []
                    else:
                        # updated versions keep their _row_id, bump
                        # _last_updated_seq to this commit (v3 lineage)
                        updated = matched.select(
                            *[
                                (exprs[c].alias(c) if c in exprs else F.col(c))
                                for c in schema_cols
                            ],
                            F.col("_row_id"),
                            F.lit(sid).cast("long").alias("_last_updated_seq"),
                        )
                        new_files = self._write_data_files(
                            tbl, sid, updated, prev.partition_spec
                        )
                        _assign_row_ids(meta, new_files, materialized=True)
                finally:
                    matched.unpersist()
                files = list(prev.files) + new_files
                snap = Snapshot(
                    snapshot_id=sid,
                    parent_id=prev.snapshot_id,
                    committed_at=committed_at or _utcnow_iso(),
                    operation="update",
                    summary={
                        "update-mode": "merge-on-read",
                        "added-records": str(sum(f.records for f in new_files)),
                        "added-data-files": str(len(new_files)),
                        "added-delete-files": str(len(new_dels)),
                        "position-delete-rows": str(n_rows),
                        "total-records": str(sum(f.records for f in files)),
                        "total-data-files": str(len(files)),
                    },
                    schema_ddl=prev.schema_ddl,
                    partition_spec=prev.partition_spec,
                    files=files,
                    delete_files=list(prev.delete_files) + new_dels,
                    field_ids=dict(prev.field_ids)
                    if prev.field_ids is not None
                    else None,
                )
                _record_commit_schema(meta, sid, prev)
                _append_commit(meta, asdict(snap), branch=branch, staged=staged)
                tbl._save_meta(meta)
                return snap
        with _commit_lock(tbl.root):
            prev = self._write_head(tbl, branch)  # re-read under the lock
            # PASS 1 (discovery): predicate scan. with_lineage stays on
            # for the same PushProjectionThroughUnion reason as
            # delete_where's discovery pass (subquery conditions)
            cur = _with_match(
                spark,
                tbl._read_files(
                    spark, prev, [f.path for f in prev.files],
                    with_file_path=True, apply_deletes=True, with_lineage=True,
                ),
                condition,
                alias=name,
            )
            affected_abs = [
                r["__file"]
                for r in cur.where("__match").select("__file").distinct().collect()
            ]
            affected_rel = {tbl._abs_to_rel(p) for p in affected_abs}
            if not affected_rel:  # no-op update still commits (audit trail)
                return self._commit(
                    tbl, prev, list(prev.files), [], "update", committed_at,
                    {"rewritten-data-files": "0"}, staged=staged, branch=branch,
                )
            sid = _next_id(tbl._load_meta(expand=False))
            # PASS 2 (rewrite): re-read ONLY the matched files
            # (file-level pruning, guide §6). Updated rows keep their
            # _row_id but bump _last_updated_seq to this commit;
            # carried rows keep both (Iceberg v3)
            m = F.col("__match")
            rewritten = _with_match(
                spark,
                tbl._read_files(
                    spark, prev, sorted(affected_rel),
                    apply_deletes=True, with_lineage=True,
                ),
                condition,
                alias=name,
            ).select(
                *[
                    (
                        F.when(m, exprs[c]).otherwise(F.col(c)).alias(c)
                        if c in exprs
                        else F.col(c)
                    )
                    for c in schema_cols
                ],
                F.col("_row_id"),
                F.when(m, F.lit(sid).cast("long"))
                .otherwise(F.col("_last_updated_seq"))
                .alias("_last_updated_seq"),
            )
            new_files = self._write_data_files(tbl, sid, rewritten, prev.partition_spec)
            files = [f for f in prev.files if f.path not in affected_rel] + new_files
            return self._commit(
                tbl, prev, files, new_files, "update", committed_at,
                {"rewritten-data-files": str(len(affected_rel))}, sid=sid,
                materialized_lineage=True, staged=staged, branch=branch,
            )

    # ---- refs & write-audit-publish -------------------------------------

    def tag(
        self, database: str, name: str, tag_name: str, snapshot_id: int | None = None
    ) -> int:
        """Create/update a named tag pointing at a snapshot (current
        if unspecified) — ≙ Iceberg ``ALTER TABLE … CREATE TAG``.
        Tagged snapshots are retained by :meth:`expire_snapshots`.
        Returns the tagged snapshot id."""
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            sid = snapshot_id if snapshot_id is not None else _current_id(meta)
            if not any(s["snapshot_id"] == sid for s in meta["snapshots"]):
                raise LookupError(f"snapshot {sid} not found in {database}.{name}")
            meta.setdefault("refs", {})[tag_name] = {
                "snapshot_id": sid,
                "type": "tag",
            }
            tbl._save_meta(meta)
            return sid

    def create_branch(
        self, database: str, name: str, branch: str, snapshot_id: int | None = None
    ) -> int:
        """Create a writable BRANCH ref at a snapshot (current head if
        unspecified) — ≙ Iceberg ``ALTER TABLE … CREATE BRANCH``.
        Commits target it via ``write(…, branch=…)``; reads via
        ``read(ref=…)``; :meth:`fast_forward` publishes it into main.
        Branch-referenced snapshots are retained by
        :meth:`expire_snapshots` like tags. Returns the base id."""
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            sid = snapshot_id if snapshot_id is not None else _current_id(meta)
            if not any(s["snapshot_id"] == sid for s in meta["snapshots"]):
                raise LookupError(f"snapshot {sid} not found in {database}.{name}")
            refs = meta.setdefault("refs", {})
            if branch in refs:
                raise ValueError(f"ref {branch!r} already exists in {database}.{name}")
            refs[branch] = {"snapshot_id": sid, "type": "branch"}
            tbl._save_meta(meta)
            return sid

    def fast_forward(
        self, database: str, name: str, branch: str
    ) -> int:
        """Publish a branch into main — ≙ Iceberg ``CALL
        system.fast_forward('t', 'main', 'branch')``: move the
        published head to the branch head, REQUIRING the current head
        to be an ancestor of it (pure pointer move, no new snapshot).
        If main advanced since the branch was cut, raises
        CommitConflictError — a diverged branch needs a rebase/merge
        strategy, and silently replacing main would drop its commits.
        Returns the new head id."""
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            bref = meta.get("refs", {}).get(branch)
            if bref is None or bref.get("type") != "branch":
                raise LookupError(f"branch {branch!r} not found in {database}.{name}")
            head = bref["snapshot_id"]
            cur = _current_id(meta) or None
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            ancestors = set()
            c: int | None = head
            while c is not None and c in by_id:
                ancestors.add(c)
                c = by_id[c].get("parent_id")
            if cur is not None and cur not in ancestors:
                raise CommitConflictError(
                    f"cannot fast-forward {database}.{name} to branch "
                    f"{branch!r}: head {cur} is not an ancestor of branch "
                    f"head {head} — main advanced since the branch was cut"
                )
            meta["current_id"] = head
            tbl._save_meta(meta)
            # pointer-only commit: wake the marker feed explicitly
            tbl._write_publish_marker(head)
            return head

    def drop_ref(self, database: str, name: str, ref_name: str) -> None:
        """Remove a named ref (≙ ``ALTER TABLE … DROP TAG``). The
        snapshot itself stays until expiration."""
        tbl = self.table(database, name)
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            refs = meta.get("refs", {})
            if ref_name not in refs:
                raise LookupError(f"ref {ref_name!r} not found in {database}.{name}")
            del refs[ref_name]
            tbl._save_meta(meta)

    def publish(
        self, database: str, name: str, snapshot_id: int, committed_at: str | None = None
    ) -> Snapshot:
        """Publish a staged (WAP) snapshot into the main history — ≙
        Iceberg ``CALL system.cherrypick_snapshot`` / publishing a
        ``wap.id`` write after its audit passes.

        Fast path: the staged snapshot's parent is still the published
        head → just move the pointer. If other commits landed since
        and the staged write was an APPEND, its added files are
        re-applied on top of the new head as a fresh commit (true
        cherry-pick). A staged OVERWRITE whose base moved raises
        CommitConflictError — replaying a full-state replacement over
        commits it never saw would silently drop them."""
        tbl = self.table(database, name)
        if not tbl.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        with _commit_lock(tbl.root):
            # raw load: publish touches at most three snapshots' file
            # lists (staged, head, staged's parent) — expand exactly
            # those, never the whole history (r9)
            meta = tbl._load_meta(expand=False)
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            if snapshot_id not in by_id:
                raise LookupError(f"snapshot {snapshot_id} not found in {database}.{name}")
            staged = by_id[snapshot_id]
            cur_id = _current_id(meta)
            # Idempotency (checked UNDER the commit lock): if this
            # snapshot is already on the published lineage — it IS a
            # chain entry, or a chain entry cherry-picked it in
            # (carries ``published-from``) — a second publish is a
            # no-op. Without this, two racing roll-forwards of the
            # same transaction intent both pass the caller's
            # published check, the first flips the pointer, and the
            # second would take the cherry-pick path below and
            # re-append the staged files (duplicated rows).
            walk = cur_id
            while walk is not None and walk in by_id:
                s = by_id[walk]
                if walk == snapshot_id:
                    return _snap_from_dict(tbl._expand_snapshot(staged))
                if s["summary"].get("published-from") == str(snapshot_id):
                    return _snap_from_dict(tbl._expand_snapshot(s))
                walk = s["parent_id"]
            if staged["parent_id"] == (cur_id or None):
                meta["current_id"] = snapshot_id
                tbl._save_meta(meta)
                # pointer-only commit: wake the marker feed explicitly
                tbl._write_publish_marker(snapshot_id)
                return _snap_from_dict(tbl._expand_snapshot(staged))
            if staged["operation"] != "append":
                raise CommitConflictError(
                    f"cannot publish staged {staged['operation']!r} snapshot "
                    f"{snapshot_id} of {database}.{name}: base moved from "
                    f"{staged['parent_id']} to {cur_id}"
                )
            cur = tbl._expand_snapshot(by_id[cur_id])
            tbl._expand_snapshot(staged)
            if any(
                d.get("sequence", 0) > snapshot_id
                and d.get("kind", "equality") == "equality"
                for d in cur.get("delete_files", [])
            ):
                # Iceberg gives cherry-picked data a FRESH sequence
                # number so later deletes don't apply to it; our
                # sequence is baked into the file path, so replaying
                # under newer equality-deletes would silently delete
                # the cherry-picked rows — refuse instead. POSITION
                # deletes are safe to cherry-pick under: they name
                # exact (file, pos) pairs of files that were already
                # published, which the staged files by definition are
                # not — they cannot touch the cherry-picked rows.
                raise CommitConflictError(
                    f"cannot cherry-pick staged snapshot {snapshot_id} of "
                    f"{database}.{name}: merge-on-read equality deletes "
                    "landed after it was staged"
                )
            parent_files = (
                {
                    f["path"]
                    for f in tbl._expand_snapshot(by_id[staged["parent_id"]])["files"]
                }
                if staged["parent_id"] is not None and staged["parent_id"] in by_id
                else set()
            )
            # belt-and-braces vs the race above: never re-append a
            # file the current head already carries, wherever it
            # came from (file paths are unique per write — the
            # sequence number is baked into the path)
            cur_files = {f["path"] for f in cur["files"]}
            added = [
                f for f in staged["files"]
                if f["path"] not in parent_files and f["path"] not in cur_files
            ]
            files = list(cur["files"]) + added
            sid = _next_id(meta)
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=cur_id,
                committed_at=committed_at or _utcnow_iso(),
                operation="append",
                summary={
                    "added-records": str(sum(f["records"] for f in added)),
                    "added-data-files": str(len(added)),
                    "total-records": str(sum(f["records"] for f in files)),
                    "total-data-files": str(len(files)),
                    "published-from": str(snapshot_id),
                    **(
                        {"wap.id": staged["summary"]["wap.id"]}
                        if "wap.id" in staged.get("summary", {})
                        else {}
                    ),
                },
                schema_ddl=staged["schema_ddl"],
                partition_spec=staged.get("partition_spec", []),
                files=[DataFile(**f) for f in files],
                delete_files=[
                    DeleteFile(**f) for f in cur.get("delete_files", [])
                ],
                field_ids=staged.get("field_ids"),
            )
            meta["snapshots"].append(asdict(snap))
            meta["current_id"] = sid
            tbl._save_meta(meta)
            return snap

    # ---- maintenance (X7) ----------------------------------------------

    def rollback(
        self, database: str, name: str, snapshot_id: int
    ) -> Snapshot:
        """≙ Iceberg ``CALL system.rollback_to_snapshot``: move the
        published head back to an earlier snapshot. Metadata-only —
        no data is rewritten, the abandoned commits stay in the log
        (readable by id, aged out by ``expire_snapshots``), and the
        rollback itself is recorded as a ``rollback`` log entry whose
        files are the target's, so history shows when and to where
        the table was rolled back."""
        tbl = self.table(database, name)
        with _commit_lock(tbl.root):
            meta = tbl._load_meta(expand=False)
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            if snapshot_id not in by_id:
                raise LookupError(
                    f"snapshot {snapshot_id} not found in {database}.{name}"
                )
            target = tbl._expand_snapshot(by_id[snapshot_id])
            cur = _current_id(meta)
            sid = _next_id(meta)
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=cur or None,
                committed_at=_utcnow_iso(),
                operation="rollback",
                summary={
                    "rolled-back-to": str(snapshot_id),
                    "total-records": str(
                        sum(f["records"] for f in target["files"])
                    ),
                    "total-data-files": str(len(target["files"])),
                },
                schema_ddl=target["schema_ddl"],
                partition_spec=target.get("partition_spec", []),
                files=[DataFile(**f) for f in target["files"]],
                delete_files=[
                    DeleteFile(**f) for f in target.get("delete_files", [])
                ],
                field_ids=target.get("field_ids"),
            )
            meta["snapshots"].append(asdict(snap))
            meta["current_id"] = sid
            tbl._save_meta(meta)
            return snap

    def remove_orphan_files(
        self, database: str, name: str, dry_run: bool = False
    ) -> list[str]:
        """≙ Iceberg ``CALL system.remove_orphan_files``: delete data
        files under the table location that NO snapshot in the log
        references — the residue of failed/interrupted writes (a Spark
        write that crashed after materializing parquet but before its
        metadata commit). Returns the removed (or, with ``dry_run``,
        the would-be-removed) paths relative to the table root. Runs
        under the commit lock so a concurrent commit can't land files
        between the listing and the delete."""
        tbl = self.table(database, name)
        with _commit_lock(tbl.root):
            meta = tbl._load_meta()
            live = {
                f["path"] for s in meta["snapshots"] for f in s["files"]
            } | {
                d["path"]
                for s in meta["snapshots"]
                for d in s.get("delete_files", [])
            }
            orphans: list[str] = []
            for dirpath, _dirs, files in os.walk(tbl.root):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(os.path.join(dirpath, fn), tbl.root)
                    if rel not in live:
                        orphans.append(rel)
            if not dry_run:
                for rel in orphans:
                    os.remove(os.path.join(tbl.root, rel))
            return sorted(orphans)

    def expire_snapshots(
        self,
        database: str,
        name: str,
        keep_last: int = 1,
        older_than: str | None = None,
    ) -> list[int]:
        """Drop all but the last ``keep_last`` snapshots and delete
        data files no surviving snapshot references (≙ Iceberg
        ``expire_snapshots``). ``older_than`` (ISO timestamp ≙ the
        procedure's ``older_than``) additionally retains EVERY
        snapshot committed at or after it — only snapshots older than
        the horizon are expiry candidates. Returns expired ids.

        Runs entirely under the per-table commit lock: expiration is a
        read-modify-write of the metadata log, so racing an unlocked
        expire against a concurrent append could lose that append (the
        snapshot list is rewritten from a stale read) or delete files
        a just-landed snapshot references."""
        tbl = self.table(database, name)
        with _commit_lock(tbl.root):
            meta = tbl._load_meta()
            snaps = meta["snapshots"]
            if len(snaps) <= keep_last:
                return []
            # retention = last keep_last of the PUBLISHED chain, plus
            # every tagged snapshot (≙ Iceberg ref retention), plus the
            # published head itself. Staged-and-never-published
            # snapshots age out like Iceberg's orphaned WAP commits.
            by_id = {s["snapshot_id"]: s for s in snaps}
            chain: list[int] = []
            c: int | None = _current_id(meta) or None
            while c is not None:
                chain.append(c)
                c = by_id[c].get("parent_id") if c in by_id else None
            chain.reverse()
            protected = set(chain[-keep_last:]) if keep_last else set()
            if older_than is not None:
                horizon = _parse_iso(older_than)
                protected |= {
                    s["snapshot_id"]
                    for s in snaps
                    if _parse_iso(s["committed_at"]) >= horizon
                }
            protected |= {r["snapshot_id"] for r in meta.get("refs", {}).values()}
            # a BRANCH ref protects its whole ancestry (not just its
            # head): expiring an intermediate branch commit would break
            # the parent chain fast_forward's ancestry check walks
            for r in meta.get("refs", {}).values():
                if r.get("type") != "branch":
                    continue
                c = r["snapshot_id"]
                while c is not None and c in by_id:
                    protected.add(c)
                    c = by_id[c].get("parent_id")
            kept = [s for s in snaps if s["snapshot_id"] in protected]
            expired = [s for s in snaps if s["snapshot_id"] not in protected]
            if not expired:
                return []
            live = {f["path"] for s in kept for f in s["files"]} | {
                d["path"] for s in kept for d in s.get("delete_files", [])
            }
            for s in expired:
                for f in s["files"] + s.get("delete_files", []):
                    if f["path"] not in live:
                        p = os.path.join(tbl.root, f["path"])
                        if os.path.exists(p):
                            os.remove(p)
            meta["snapshots"] = kept
            # metadata GC (ADVICE r4): commit_schemas entries are only
            # ever looked up by (a) a surviving snapshot id (changelog
            # replay), (b) a surviving data file's origin sid, or (c) a
            # surviving delete file's sequence — everything else is
            # dead weight that would grow without bound under churn.
            if "commit_schemas" in meta:
                referenced = {s["snapshot_id"] for s in kept}
                for s in kept:
                    referenced |= {_origin_sid(f["path"]) for f in s["files"]}
                    referenced |= {
                        d["sequence"] for d in s.get("delete_files", [])
                    }
                meta["commit_schemas"] = {
                    k: v
                    for k, v in meta["commit_schemas"].items()
                    if int(k) in referenced
                }
            # column stats describing an expired snapshot are stale by
            # definition — drop them so ANALYZE-driven planning never
            # trusts numbers from a vanished snapshot
            cs = meta.get("column_stats")
            if cs is not None and cs.get("snapshot_id") not in {
                s["snapshot_id"] for s in kept
            }:
                del meta["column_stats"]
            tbl._save_meta(meta)
            # reap commit markers of expired snapshots (the streaming
            # wake-up feed, see _write_commit_marker) so the commits/
            # dir stays bounded by the kept history
            mdir = os.path.join(tbl.root, "metadata", "commits")
            for s in expired:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(mdir, f"s{s['snapshot_id']:06d}.json"))
                with contextlib.suppress(OSError):
                    os.remove(
                        os.path.join(mdir, f"s{s['snapshot_id']:06d}.pub.json")
                    )
            # reap manifest chunks the pruned history no longer
            # references (same contract as expired data files; the
            # just-saved table.json is the reference set of record)
            if os.path.isdir(tbl._manifest_dir):
                with open(tbl._meta_path) as fh:
                    stored = json.load(fh)
                live_refs: set[str] = set()
                for s in stored.get("snapshots") or []:
                    live_refs.update(s.get("files_ref") or [])
                    if s.get("delete_files_ref"):
                        live_refs.add(s["delete_files_ref"])
                for fn in os.listdir(tbl._manifest_dir):
                    if fn.endswith(".json") and fn[:-5] not in live_refs:
                        with contextlib.suppress(OSError):
                            os.remove(os.path.join(tbl._manifest_dir, fn))
            return [s["snapshot_id"] for s in expired]

    def compact(
        self,
        database: str,
        name: str,
        spark: SparkSession,
        target_partitions: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        min_file_bytes: int | None = None,
        summary_extra: dict[str, str] | None = None,
    ) -> Snapshot:
        """Rewrite the current snapshot's data into fewer, larger
        files (≙ Iceberg ``rewrite_data_files``): small-file compaction
        is what keeps scan planning cheap after many streaming-ish
        appends.

        ``min_file_bytes`` selects Iceberg's BINPACK strategy: only
        files smaller than the threshold are rewritten; every
        already-right-sized file carries over BY REFERENCE — on a
        100 TB table that has absorbed a thousand streaming appends,
        this touches the kilobyte-file tail and leaves the petascale
        body unread. Merge-on-read delete files are kept for the
        carried-over files and naturally stop applying to the rewrite
        (its commit sequence is higher — Iceberg's sequence rule), so
        the deletes ARE materialized for the rewritten sliver without
        a full-table pass. Mutually exclusive with sort/zorder (a
        clustering rewrite is global by definition).

        ``sort_by`` range-clusters the rewrite (``repartitionByRange``
        + ``sortWithinPartitions`` ≙ Iceberg's sort-order rewrite):
        each output file then covers a disjoint slice of the sort key,
        so parquet footer min/max stats let filtered scans skip whole
        files — the layout lever for selective queries at 100 TB.

        Conflict-safe: the snapshot to rewrite is resolved OUTSIDE the
        commit lock, and the commit carries an ``expect_parent_id``
        guard checked inside it — if another commit landed between the
        read and the commit, the stale rewrite is discarded and
        retried against the new snapshot instead of silently dropping
        that commit (Iceberg's ``rewrite_data_files`` validate-and-
        retry behavior)."""
        if min_file_bytes is not None and (sort_by or zorder_by):
            raise ValueError("min_file_bytes (binpack) excludes sort/zorder rewrites")
        tbl = self.table(database, name)
        last_err: CommitConflictError | None = None
        for _attempt in range(3):
            base = tbl.current_snapshot()
            if base is None:
                raise LookupError(f"table {database}.{name} does not exist")
            if min_file_bytes is not None:
                small = [f for f in base.files if f.bytes < min_file_bytes]
                if len(small) < 2:
                    return base  # nothing worth rewriting
                big = [f for f in base.files if f.bytes >= min_file_bytes]
                sdf = tbl._read_files(
                    spark, base, [f.path for f in small],
                    apply_deletes=True, with_lineage=True,
                ).coalesce(target_partitions or max(1, len(small) // 8))
                with _commit_lock(tbl.root):
                    cur = tbl.current_snapshot()
                    if cur is None or cur.snapshot_id != base.snapshot_id:
                        last_err = CommitConflictError(
                            f"concurrent commit on {database}.{name} during binpack"
                        )
                        continue
                    sid = _next_id(tbl._load_meta(expand=False))
                    new_files = self._write_data_files(
                        tbl, sid, sdf, base.partition_spec
                    )
                    return self._commit(
                        tbl, base, big + new_files, new_files, "replace", None,
                        {"binpack-rewritten-files": str(len(small)),
                         "binpack-min-bytes": str(min_file_bytes),
                         **(summary_extra or {})},
                        sid=sid, materialized_lineage=True,
                    )
            # carry row lineage through the rewrite (≙ Iceberg v3:
            # compaction preserves _row_id / _last_updated_seq)
            df = tbl.read(spark, with_row_ids=True)
            n = target_partitions or (max(1, len(base.files) // 8) or 1)
            if zorder_by:
                # Morton-interleaved rewrite (≙ Iceberg zorder
                # rewrite_data_files): every output file is bounded in
                # EVERY z dimension, so footer min/max stats prune
                # files for predicates on any of the columns — a
                # lexicographic sort only serves the leading one.
                # Bounds come from one narrow min/max agg (at scale:
                # catalog column stats instead).
                from apache_iceberg_tables_migration_tool_spark.operators.zorder import (
                    zvalue_col,
                )

                aggs = [
                    f
                    for c in zorder_by
                    for f in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))
                ]
                b = df.agg(*aggs).collect()[0]
                bounds = [(int(b[f"lo_{c}"]), int(b[f"hi_{c}"])) for c in zorder_by]
                df = (
                    df.withColumn("__z", zvalue_col(zorder_by, bounds))
                    .repartitionByRange(n, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif sort_by:
                df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
            elif target_partitions:
                df = df.repartition(target_partitions)
            else:
                df = df.coalesce(n)
            try:
                return self.write(
                    database, name, df, mode="overwrite", operation="replace",
                    expect_parent_id=base.snapshot_id,
                    summary_extra=summary_extra,
                )
            except CommitConflictError as e:
                last_err = e
        raise last_err

    def drop_table(self, database: str, name: str) -> None:
        tbl = self.table(database, name)
        if os.path.exists(tbl.root):
            shutil.rmtree(tbl.root)

    def rename_table(
        self, database: str, name: str, new_database: str, new_name: str
    ) -> None:
        """≙ ``ALTER TABLE … RENAME TO``: one directory rename —
        metadata-only and atomic on a same-filesystem warehouse. Data
        file paths are table-root-RELATIVE throughout the manifests
        (the path convention every reader uses), so snapshots, time
        travel, delete files, markers and blooms all survive the move
        untouched. Refuses to clobber an existing target."""
        src = self.table(database, name)
        if not src.exists():
            raise LookupError(f"table {database}.{name} does not exist")
        dst = self.table(new_database, new_name)
        if os.path.exists(dst.root):
            raise ValueError(
                f"rename target {new_database}.{new_name} already exists"
            )
        self.create_namespace(new_database)
        os.rename(src.root, dst.root)


def auto_maintain(
    catalog: "SnapCatalog",
    spark: SparkSession,
    databases: list[str] | None = None,
) -> list[dict]:
    """Policy-driven TABLE SERVICES sweep (≙ the maintenance side of a
    managed Iceberg catalog): every table declares its own maintenance
    policy as table properties and one scheduler call enforces all of
    them — the operational loop a 100 TB warehouse runs nightly
    instead of hand-invoking `expire_snapshots`/`compact` per table.

    Recognized properties (absent → that action is skipped):

    - ``maintain.expire.keep-last`` — keep at most N snapshots
    - ``maintain.expire.older-than-days`` — additionally retain
      everything newer than the horizon (needs keep-last too)
    - ``maintain.compact.min-file-bytes`` — binpack files smaller
      than N bytes (only runs when ≥ 2 such files exist — a single
      small file gains nothing from a rewrite commit)
    - ``maintain.compact.max-delete-files`` — materialize
      merge-on-read deletes with a full compaction rewrite once the
      live delete-file count reaches N (bounds the anti-join chain
      every MOR read pays; maintained views/indexes keep their
      ``ivm.*``/``ann.*`` definition stamps — the rewrite copies
      them forward from the pre-compact head)
    - ``maintain.orphans`` = "true" — remove unreferenced files

    Per-table error isolation like the reference's loops; returns one
    dict per action performed: {database, table, action, detail}.
    """
    from datetime import timedelta

    report: list[dict] = []
    for db in databases or catalog.list_namespaces():
        if db.startswith("_"):
            continue  # catalog-internal (e.g. _txns intent files)
        for name in catalog.list_tables(db):
            tbl = catalog.table(db, name)
            props = tbl.properties()
            try:
                keep = props.get("maintain.expire.keep-last")
                if keep is not None:
                    days = props.get("maintain.expire.older-than-days")
                    horizon = None
                    if days is not None:
                        horizon = (
                            datetime.now(timezone.utc)
                            - timedelta(days=float(days))
                        ).isoformat()
                    expired = catalog.expire_snapshots(
                        db, name, keep_last=int(keep), older_than=horizon
                    )
                    if expired:
                        report.append({
                            "database": db, "table": name, "action": "expire",
                            "detail": f"expired {len(expired)} snapshot(s)",
                        })
                mfb = props.get("maintain.compact.min-file-bytes")
                if mfb is not None:
                    cur = tbl.current_snapshot()
                    small = [
                        f for f in (cur.files if cur else [])
                        if f.bytes < int(mfb)
                    ]
                    if len(small) >= 2:
                        catalog.compact(
                            db, name, spark, min_file_bytes=int(mfb)
                        )
                        report.append({
                            "database": db, "table": name, "action": "compact",
                            "detail": f"binpacked {len(small)} small file(s)",
                        })
                mdf = props.get("maintain.compact.max-delete-files")
                if mdf is not None:
                    cur = tbl.current_snapshot()
                    n_dels = len(cur.delete_files) if cur else 0
                    if n_dels >= int(mdf):
                        # copy maintained-view definition stamps
                        # forward: compaction is a layout no-op and
                        # must not wipe the watermark a maintainer
                        # reads from the head summary
                        carry = {
                            k: v
                            for k, v in cur.summary.items()
                            if k.startswith(("ivm.", "ann."))
                        }
                        catalog.compact(db, name, spark, summary_extra=carry)
                        report.append({
                            "database": db, "table": name, "action": "compact",
                            "detail": f"materialized {n_dels} delete file(s)",
                        })
                # clustering rewrites: re-sort / re-z-order the table
                # when commits since the last clustering pass exceed
                # the staleness bound (every rewrite is a full-table
                # job — the bound keeps the nightly sweep from paying
                # it when nothing meaningful changed)
                sort_by = props.get("maintain.compact.sort-by")
                zorder_by = props.get("maintain.compact.zorder-by")
                if sort_by or zorder_by:
                    every = int(props.get("maintain.compact.every-commits", "1"))
                    chain = tbl.main_chain()
                    since = 0
                    for snap_ in reversed(chain):
                        if snap_.summary.get("maintain.clustered") == "true":
                            break
                        if snap_.operation != "replace":
                            since += 1
                    if since >= every:
                        # strip whitespace like the write.sort-by
                        # parser does — 'a, b' must mean column 'b',
                        # not ' b'
                        cols = [
                            c.strip()
                            for c in (sort_by or zorder_by).split(",")
                            if c.strip()
                        ]
                        catalog.compact(
                            db, name, spark,
                            sort_by=cols if sort_by else None,
                            zorder_by=cols if zorder_by else None,
                            summary_extra={"maintain.clustered": "true"},
                        )
                        how = "sorted" if sort_by else "z-ordered"
                        report.append({
                            "database": db, "table": name, "action": "cluster",
                            "detail": f"{how} by {cols} "
                                      f"({since} commit(s) since last pass)",
                        })
                if props.get("maintain.orphans") == "true":
                    removed = catalog.remove_orphan_files(db, name)
                    if removed:
                        report.append({
                            "database": db, "table": name, "action": "orphans",
                            "detail": f"removed {len(removed)} orphan file(s)",
                        })
            except Exception as e:  # per-table isolation
                report.append({
                    "database": db, "table": name, "action": "error",
                    "detail": f"{type(e).__name__}: {e}",
                })
    return report


def export_snapshot(
    catalog: "SnapCatalog",
    spark: SparkSession,
    database: str,
    name: str,
    out_dir: str,
    snapshot_id: int | None = None,
    as_of: str | None = None,
) -> dict:
    """Point-in-time EXPORT to plain parquet — the escape hatch a
    real migration story needs in BOTH directions: one directory any
    engine can read (`spark.read.parquet`, DuckDB ``read_parquet``)
    holding the table's state at a snapshot, plus an
    ``_export_manifest.json`` recording provenance (source table,
    snapshot id, commit time, schema DDL, partition spec, properties,
    row count). The data plane is one distributed write of the
    time-travel read — merge-on-read deletes are materialized away by
    the read itself, so the export is self-contained. Returns the
    manifest dict."""
    tbl = catalog.table(database, name)
    snap = tbl.resolve_snapshot(snapshot_id=snapshot_id, as_of=as_of)
    df = tbl.read(spark, snapshot_id=snap.snapshot_id)
    df.write.mode("error").parquet(os.path.join(out_dir, "data"))
    n = spark.read.parquet(os.path.join(out_dir, "data")).count()
    manifest = {
        "source": f"{database}.{name}",
        "snapshot_id": snap.snapshot_id,
        "committed_at": snap.committed_at,
        "schema_ddl": snap.schema_ddl,
        "partition_spec": list(snap.partition_spec),
        "properties": tbl.properties(),
        "records": n,
    }
    tmp = os.path.join(out_dir, f"_export_manifest.json.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, os.path.join(out_dir, "_export_manifest.json"))
    return manifest
