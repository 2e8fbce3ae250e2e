"""``catalog`` workload: a persistent snapshot catalog under a seeded op stream.

Three tables form a small star built from the fixture tables: ``items``
(fact, key ``ik``: a window of ``lineitem`` rows that starts at a seeded
row, with order key, quantity and price in cents), ``ords`` (every
``orders`` row, ``ok -> ck``) and ``cust`` (every ``customer`` row,
``ck -> nat``, the nation's name). Three materialized views are
maintained incrementally over them: a rollup of ``items`` by order key
folded from its changelog, a two-table join rollup (``items`` with
``ords``) and a three-table chain rollup (``cust``, ``ords``,
``items``).

One pass runs a fixed list of ops with seeded parameters: an append of
the window's next rows; copy-on-write and merge-on-read upserts on
skewed keys; an update by predicate on a hot key range; a delete by
predicate; SQL DELETE and UPDATE through the SQL front end; a selective
``plan_files``/``read_where`` lookup; a ``changelog`` of the pass's two
deletes; the three view refreshes; then ``compact`` and
``expire_snapshots``.
The deletes remove as many rows as the append adds, so row count and
live files stay level from pass to pass.

A plain-Python model of the three tables replays the same op stream.
The lookup and the changelog are checked against it after each pass,
and every table and view is compared with it at the end of the run.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog
from apache_iceberg_tables_migration_tool_spark.sources.sqlfront import snapcat_execute
from apache_iceberg_tables_migration_tool_spark.streaming.pipelines import (
    refresh_join_chain_view,
    refresh_join_view,
    refresh_view_changelog,
)
from harness import dir_bytes, parquet_files

DB = "bench"
N_ITEMS = 4000  # live fact rows, level across passes
APPEND = 200  # rows appended per pass; removed again by two deletes
DELETE_WHERE = 150
SQL_DELETE = APPEND - DELETE_WHERE
INITIAL_FILES = 4
UPSERT = 40  # keys per COW and per MOR upsert
LOOKUP = 100  # keys per selective lookup

ITEMS_DDL = "ik long, ok long, qty long, amt long"
TABLES = ("items", "ords", "cust")
VIEWS = ("v_log", "v_join", "v_chain")


class Model:
    """The expected state of the three tables."""

    def __init__(self) -> None:
        self.items: dict[int, tuple[int, int, int]] = {}  # ik -> (ok, qty, amt)
        self.ords: dict[int, int] = {}  # ok -> ck
        self.cust: dict[int, str] = {}  # ck -> nat

    def view_log(self) -> dict:
        out: dict = defaultdict(lambda: [0, 0])
        for ok, qty, _amt in self.items.values():
            g = out[ok]
            g[0] += 1
            g[1] += qty
        return {k: tuple(v) for k, v in out.items()}

    def view_join(self) -> dict:
        out: dict = defaultdict(lambda: [0, 0])
        for ok, qty, _amt in self.items.values():
            if ok in self.ords:
                g = out[self.ords[ok]]
                g[0] += 1
                g[1] += qty
        return {k: tuple(v) for k, v in out.items()}

    def view_chain(self) -> dict:
        out: dict = defaultdict(lambda: [0, 0])
        for ok, _qty, amt in self.items.values():
            ck = self.ords.get(ok)
            if ck is not None and ck in self.cust:
                g = out[self.cust[ck]]
                g[0] += 1
                g[1] += amt
        return {k: tuple(v) for k, v in out.items()}


def _items_pdf(rows: dict[int, tuple]) -> pd.DataFrame:
    keys = sorted(rows)
    return pd.DataFrame({
        "ik": np.array(keys, dtype=np.int64),
        "ok": np.array([rows[k][0] for k in keys], dtype=np.int64),
        "qty": np.array([rows[k][1] for k in keys], dtype=np.int64),
        "amt": np.array([rows[k][2] for k in keys], dtype=np.int64),
    })


def _rows(pdf: pd.DataFrame, key: str, cols: list[str]) -> dict:
    vals = [pdf[c].tolist() for c in cols]
    return {k: (v[0] if len(v) == 1 else tuple(v))
            for k, *v in zip(pdf[key].tolist(), *vals)}


def _view_rows(pdf: pd.DataFrame, key: str, cols: list[str]) -> dict:
    pdf = pdf[pdf["group_count"] != 0]
    return {k: tuple(int(x) for x in v)
            for k, *v in zip(pdf[key].tolist(), *[pdf[c].tolist() for c in cols])}


def _replay(base: dict[int, tuple], changes: pd.DataFrame) -> dict[int, tuple]:
    """Apply a changelog to ``base``: commits in order, deletes before
    inserts within a commit (an update is a delete plus an insert)."""
    state = dict(base)
    changes = changes.sort_values(["_commit_order", "_change_type"])  # "delete" < "insert"
    for ik, ok, qty, amt, kind in zip(
            changes["ik"], changes["ok"], changes["qty"], changes["amt"], changes["_change_type"]):
        row = (int(ok), int(qty), int(amt))
        if kind == "delete":
            if state.get(int(ik)) != row:
                return {}  # deleting a row that is not there
            del state[int(ik)]
        else:
            state[int(ik)] = row
    return state


def _column(sf_dir: str, table: str, col: str) -> np.ndarray:
    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet"), columns=[col])[col].to_numpy()


class Catalog:
    name = "catalog"
    warmup_passes = 0
    nominal_pass_s = 20.0

    def __init__(self, spark, work_dir: str, seed: int, sf_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.sf_dir = sf_dir
        self.root = os.path.join(work_dir, "warehouse")
        self.cat = SnapCatalog(self.root)
        self.model = Model()
        self.next_ik = 0
        self.lo_ik = 0  # smallest live key: deletes trim the oldest keys

    # ------------------------------------------------------------ set-up
    def _item(self, row: int) -> tuple[int, int, int]:
        """(ok, qty, amt) of a fixture lineitem row; keys past the last
        row wrap around to the first."""
        row %= len(self.li_ok)
        return int(self.li_ok[row]), int(self.li_qty[row]), int(self.li_amt[row])

    def _new_items(self, n: int) -> dict[int, tuple]:
        keys = range(self.next_ik, self.next_ik + n)
        self.next_ik += n
        return {k: self._item(k) for k in keys}

    def _df(self, pdf: pd.DataFrame, ddl: str):
        return self.spark.createDataFrame(pdf, ddl).coalesce(1)

    def setup(self, runner) -> None:
        rng = np.random.default_rng([self.seed, 10_000])
        cat, m, sf = self.cat, self.model, self.sf_dir
        self.li_ok = _column(sf, "lineitem", "l_orderkey")
        self.li_qty = _column(sf, "lineitem", "l_quantity").astype(np.int64)
        self.li_amt = np.round(_column(sf, "lineitem", "l_extendedprice") * 100).astype(np.int64)
        self.next_ik = self.lo_ik = int(rng.integers(0, len(self.li_ok)))
        nations = dict(zip(_column(sf, "nation", "n_nationkey").tolist(),
                           _column(sf, "nation", "n_name").tolist()))
        m.cust = {int(ck): nations[int(n)] for ck, n in zip(
            _column(sf, "customer", "c_custkey"), _column(sf, "customer", "c_nationkey"))}
        self.n_cust = len(m.cust)
        cat.create_namespace(DB)
        cat.write(DB, "cust", self._df(pd.DataFrame({"ck": list(m.cust), "nat": list(m.cust.values())}),
                                       "ck long, nat string"))
        m.ords = {int(ok): int(ck) for ok, ck in zip(
            _column(sf, "orders", "o_orderkey"), _column(sf, "orders", "o_custkey"))}
        self.n_ords = len(m.ords)
        cat.write(DB, "ords", self._df(pd.DataFrame({"ok": list(m.ords), "ck": list(m.ords.values())}),
                                       "ok long, ck long"))
        for _ in range(INITIAL_FILES):  # key-clustered files, so lookups can prune
            rows = self._new_items(N_ITEMS // INITIAL_FILES)
            m.items.update(rows)
            cat.write(DB, "items", self._df(_items_pdf(rows), ITEMS_DDL))
        self._refresh_views(runner)

    # ------------------------------------------------------------ ops
    def _refresh_views(self, runner) -> None:
        spark, cat = self.spark, self.cat
        runner.op("pipelines.refresh_view_changelog", lambda: refresh_view_changelog(
            spark, cat, DB, "items", DB, "v_log", keys=["ok"], sum_cols=["qty"]))
        runner.op("pipelines.refresh_join_view", lambda: refresh_join_view(
            spark, cat, DB, "items", DB, "ords", DB, "v_join", on=["ok"], keys=["ck"],
            sum_cols=["qty"]))
        runner.op("pipelines.refresh_join_chain_view", lambda: refresh_join_chain_view(
            spark, cat, [(DB, "cust"), (DB, "ords"), (DB, "items")], DB, "v_chain",
            ons=[["ck"], ["ok"]], keys=["nat"], sum_cols=["amt"]))

    def _skewed_keys(self, rng: np.random.Generator, n: int) -> list[int]:
        """Distinct live keys, skewed toward the newest (hot) rows."""
        live = np.arange(self.lo_ik, self.next_ik)
        weights = 1.0 / (1.0 + (live[-1] - live) / 50.0)
        return sorted(int(k) for k in rng.choice(live, n, replace=False, p=weights / weights.sum()))

    def _changed(self, rng: np.random.Generator, keys: list[int]) -> dict[int, tuple]:
        """New quantity and price for each key, taken from seeded fixture rows."""
        out = {}
        for k, row in zip(keys, rng.integers(0, len(self.li_ok), len(keys))):
            _ok, qty, amt = self._item(int(row))
            out[k] = (self.model.items[k][0], qty, amt)
        return out

    def _live_file_count(self) -> int:
        return sum(len(self.cat.table(DB, t).current_snapshot().files) for t in TABLES)

    def run_pass(self, runner, index: int) -> None:
        spark, cat, m = self.spark, self.cat, self.model
        rng = np.random.default_rng([self.seed, index])
        items = cat.table(DB, "items")
        if runner.tracing:
            heads = {t: self._max_id(t) for t in (*TABLES, *VIEWS)}
            files_before = parquet_files(self.root)

        rows = self._new_items(APPEND)
        runner.op("snapcat.write", lambda: cat.write(DB, "items", self._df(_items_pdf(rows), ITEMS_DDL)))
        m.items.update(rows)

        upd = self._changed(rng, self._skewed_keys(rng, UPSERT))
        runner.op("snapcat.upsert", lambda: cat.upsert(
            DB, "items", self._df(_items_pdf(upd), ITEMS_DDL), key_cols=["ik"]))
        m.items.update(upd)

        upd = self._changed(rng, self._skewed_keys(rng, UPSERT))
        runner.op("snapcat.upsert_mor", lambda: cat.upsert_mor(
            DB, "items", self._df(_items_pdf(upd), ITEMS_DDL), key_cols=["ik"]))
        m.items.update(upd)

        lo = self.next_ik - int(rng.integers(UPSERT, 4 * UPSERT))
        runner.op("snapcat.update_where", lambda: cat.update_where(
            DB, "items", f"ik >= {lo} AND ik < {lo + UPSERT}", {"qty": "qty + 1"}))
        for k in range(lo, lo + UPSERT):
            ok, qty, amt = m.items[k]
            m.items[k] = (ok, qty + 1, amt)

        # the changelog op reads the pass's two deletes
        changelog_from = items.current_snapshot().snapshot_id
        changelog_base = dict(m.items)

        cut = self.lo_ik + DELETE_WHERE
        runner.op("snapcat.delete_where", lambda: cat.delete_where(DB, "items", F.col("ik") < cut))
        for k in range(self.lo_ik, cut):
            del m.items[k]
        self.lo_ik = cut

        cut = self.lo_ik + SQL_DELETE
        runner.op("sqlfront.execute", lambda: snapcat_execute(
            spark, cat, f"DELETE FROM {DB}.items WHERE ik < {cut}"))
        for k in range(self.lo_ik, cut):
            del m.items[k]
        self.lo_ik = cut

        a_ok = int(rng.integers(0, self.n_ords - 20))
        shift = int(rng.integers(1, self.n_cust))
        runner.op("sqlfront.execute", lambda: snapcat_execute(
            spark, cat, f"UPDATE {DB}.ords SET ck = (ck + {shift}) % {self.n_cust} "
                        f"WHERE ok BETWEEN {a_ok} AND {a_ok + 19}"))
        for ok in range(a_ok, a_ok + 20):
            if ok in m.ords:
                m.ords[ok] = (m.ords[ok] + shift) % self.n_cust

        lo = int(rng.integers(self.lo_ik, self.next_ik - LOOKUP))
        preds = [("ik", ">=", lo), ("ik", "<", lo + LOOKUP)]
        live_at_plan = len(items.current_snapshot().files)
        planned = runner.op("snapcat.plan_files", lambda: items.plan_files(preds))
        want = {k: m.items[k] for k in range(lo, lo + LOOKUP)}
        runner.op("snapcat.read_where",
                  lambda: items.read_where(spark, preds).toPandas(),
                  lambda pdf: _rows(pdf, "ik", ["ok", "qty", "amt"]) == want)

        head_id = items.current_snapshot().snapshot_id
        end_state = dict(m.items)
        runner.op("snapcat.changelog",
                  lambda: items.changelog(spark, changelog_from, head_id).toPandas(),
                  lambda pdf: _replay(changelog_base, pdf) == end_state)

        self._refresh_views(runner)
        runner.op("snapcat.compact", lambda: cat.compact(DB, "items", spark))
        # keep the pre-compaction head: it is the views' watermark
        for t in TABLES:
            runner.op("snapcat.expire_snapshots", lambda t=t: cat.expire_snapshots(DB, t, keep_last=2))
        for v in VIEWS:
            runner.op("snapcat.expire_snapshots", lambda v=v: cat.expire_snapshots(DB, v, keep_last=1))

        if runner.tracing:
            runner.count("snapcat.commits", sum(self._max_id(t) - n for t, n in heads.items()))
            runner.count("snapcat.files_written", len(parquet_files(self.root) - files_before))
            runner.count("snapcat.live_files", self._live_file_count())
            if planned is not None:
                runner.count("snapcat.files_planned", len(planned))
                runner.count("snapcat.files_pruned", live_at_plan - len(planned))
                runner.count("snapcat.prune_frac", 1 - len(planned) / live_at_plan)

    def _max_id(self, table: str) -> int:
        return max(s.snapshot_id for s in self.cat.table(DB, table).snapshots())

    def _state_ok(self) -> bool:
        """Every table and view equals the model (read after the last pass)."""
        spark, cat, m = self.spark, self.cat, self.model

        def read(t: str) -> pd.DataFrame:
            return cat.table(DB, t).read(spark).toPandas()

        return (
            _rows(read("items"), "ik", ["ok", "qty", "amt"]) == m.items
            and _rows(read("ords"), "ok", ["ck"]) == m.ords
            and _rows(read("cust"), "ck", ["nat"]) == m.cust
            and _view_rows(read("v_log"), "ok", ["group_count", "sum_qty"]) == m.view_log()
            and _view_rows(read("v_join"), "ck", ["group_count", "sum_qty"]) == m.view_join()
            and _view_rows(read("v_chain"), "nat", ["group_count", "sum_amt"]) == m.view_chain()
        )

    def final_check(self, runner) -> None:
        runner.check("catalog.state", self._state_ok)

    def stored_bytes(self) -> int:
        return dir_bytes(self.root)
