"""Aggregate navigation: answer a grouped-aggregate query FROM a
maintained materialized view instead of the base table whenever a
registered view provably can — the OLAP-server rewrite that makes
incremental views pay off at read time (the reference recomputes its
verification aggregates from the base on every run,
`6_verify_data_integrity.py:45-87`; with IVM views maintained in
O(delta), routing reads through them makes the whole loop O(delta)).

A view is USABLE for ``SELECT keys, aggs FROM src GROUP BY keys`` iff

* it is a view OVER ``src`` — the refresh protocol
  (`streaming.pipelines.refresh_view_changelog`) stamps the view's own
  commit summary with its definition (``ivm.src``, ``ivm.keys``,
  ``ivm.kind``, ``ivm.cols``), so discovery is a metadata scan, never
  a data read;
* it is FRESH — its ``ivm.src_snapshot_id`` watermark equals the
  source's current head (a stale view must never answer: the caller
  either refreshes it first or falls back to the base);
* the requested group keys are a SUBSET of the view keys (the view's
  groups re-aggregate down to any coarser grouping); and
* every requested aggregate is DERIVABLE from the view kind's stored
  columns — the re-aggregation algebra:

  =============  =========================================================
  view kind      answers
  =============  =========================================================
  ``sum``        ``count(*)`` = Σ group_count; ``sum(c)`` = Σ sum_c
  ``minmax``     ``count(*)``; ``min(c)`` = min min_c; ``max(c)`` = max max_c
  ``moments``    ``count(*)``; ``sum(c)``; ``avg(c)`` = Σsum_c / Σn
  ``distinct``   ``count(*)``; ``count_distinct(c)`` = COUNT(DISTINCT value
                 rows of the aux) — exact at ANY coarser grouping because
                 the auxiliary stores the surviving VALUES, not a sketch
  =============  =========================================================

``avg`` is derived with one fixed IEEE expression tree (double Σsum /
double Σn) on BOTH the view path and the base fallback, so the two
paths are bit-identical and an oracle can replay either.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_iceberg_tables_migration_tool_spark.streaming.pipelines import (
    join_watermark_names,
)

#: (fn, col, alias) aggregate requests the rewriter understands
_FNS = ("count", "sum", "min", "max", "avg", "count_distinct")

#: which aggregate functions each view kind can serve, and which
#: stored columns they need
_SERVES = {
    "sum": {"count", "sum"},
    "minmax": {"count", "min", "max"},
    "moments": {"count", "sum", "avg"},
    "distinct": {"count", "count_distinct"},
}


@dataclass(frozen=True)
class ViewMatch:
    """A usable materialized view for a given aggregate query."""

    database: str
    table: str
    keys: list
    kind: str
    cols: list


def _normalize_aggs(aggs) -> list[tuple[str, str | None, str]]:
    out = []
    for a in aggs:
        fn, col, alias = a
        if fn not in _FNS:
            raise ValueError(f"unsupported aggregate fn {fn!r} (know {_FNS})")
        if fn == "count":
            col = None
        elif col is None:
            raise ValueError(f"{fn} needs a column")
        out.append((fn, col, alias))
    return out


def find_rewrite(
    catalog,
    src_database: str,
    src_table: str,
    keys: list[str],
    aggs,
    search_databases: list[str] | None = None,
    require_fresh: bool = True,
) -> ViewMatch | None:
    """Find the CHEAPEST fresh materialized view that can answer the
    query, or None. Pure metadata: scans table summaries in
    ``search_databases`` (default: the source's namespace), no data
    reads. Cheapest = fewest view group keys — coarser views are
    smaller, and every usable view yields the same answer (the IVM
    exactness invariant), so only cost differs."""
    aggs = _normalize_aggs(aggs)
    src = catalog.table(src_database, src_table)
    head = src.current_snapshot()
    if head is None:
        return None
    want_src = f"{src_database}.{src_table}"
    best: ViewMatch | None = None
    for db in search_databases or [src_database]:
        for name in catalog.list_tables(db):
            vt = catalog.table(db, name)
            cur = vt.current_snapshot()
            if cur is None:
                continue
            s = cur.summary
            if s.get("ivm.src") != want_src:
                continue
            if require_fresh and s.get("ivm.src_snapshot_id") != str(
                head.snapshot_id
            ):
                continue  # stale: must not answer
            kind = s.get("ivm.kind")
            vkeys = json.loads(s.get("ivm.keys", "[]"))
            vcols = json.loads(s.get("ivm.cols", "[]"))
            if kind not in _SERVES or not set(keys) <= set(vkeys):
                continue
            ok = True
            for fn, col, _ in aggs:
                if fn not in _SERVES[kind]:
                    ok = False
                    break
                if fn != "count" and col not in vcols:
                    ok = False
                    break
            if not ok:
                continue
            if best is None or len(vkeys) < len(best.keys):
                best = ViewMatch(db, name, vkeys, kind, vcols)
    return best


def _reagg_exprs(kind: str, aggs) -> list:
    n = F.sum(F.col("group_count"))
    exprs = []
    for fn, col, alias in aggs:
        if fn == "count":
            e = n
        elif fn == "sum":
            e = F.sum(F.col(f"sum_{col}"))
        elif fn == "min":
            e = F.min(F.col(f"min_{col}"))
        elif fn == "max":
            e = F.max(F.col(f"max_{col}"))
        elif fn == "avg":
            e = F.sum(F.col(f"sum_{col}")).cast("double") / n.cast("double")
        else:  # count_distinct over the stored aux's value rows
            e = F.count_distinct(F.col(col))
        exprs.append(e.alias(alias))
    return exprs


def _base_exprs(aggs) -> list:
    exprs = []
    for fn, col, alias in aggs:
        if fn == "count":
            e = F.count(F.lit(1))
        elif fn == "avg":
            # same IEEE tree AND same denominator as the view path:
            # the moments view stores COUNT(*), so avg here is
            # Σc / row-count (≡ ivm.derive_stats), not SQL AVG's
            # non-null denominator — they differ only under NULLs
            e = F.sum(F.col(col)).cast("double") / F.count(F.lit(1)).cast(
                "double"
            )
        elif fn == "count_distinct":
            e = F.count_distinct(F.col(col))
        else:
            e = getattr(F, fn)(F.col(col))
        exprs.append(e.alias(alias))
    return exprs


def _join_view_fresh(catalog, s: dict, tables: list[tuple[str, str]]) -> bool:
    """A join/chain view is fresh iff EVERY member table's stored
    watermark equals that table's current head; the watermarks are
    positional, named by `pipelines.join_watermark_names`."""
    names = join_watermark_names(s, len(tables))
    for (db, t), nm in zip(tables, names):
        head = catalog.table(db, t).current_snapshot()
        if head is None or s.get(nm) != str(head.snapshot_id):
            return False
    return True


def find_join_rewrite(
    catalog,
    tables: list[tuple[str, str]],
    ons: list[list[str]],
    keys: list[str],
    aggs,
    search_databases: list[str] | None = None,
    require_fresh: bool = True,
) -> ViewMatch | None:
    """Join-view twin of :func:`find_rewrite`: the query's join
    SIGNATURE (member tables in order + per-step keys) must equal the
    view's stamped ``ivm.srcs``/``ivm.ons`` exactly — join-structure
    containment is undecidable from metadata alone, equality is the
    honest contract — then the same subset-keys / derivable-aggs /
    per-table-freshness rules apply."""
    aggs = _normalize_aggs(aggs)
    want_srcs = [f"{db}.{t}" for db, t in tables]
    best: ViewMatch | None = None
    dbs = search_databases or sorted({db for db, _ in tables})
    for db in dbs:
        for name in catalog.list_tables(db):
            vt = catalog.table(db, name)
            cur = vt.current_snapshot()
            if cur is None:
                continue
            s = cur.summary
            if (
                json.loads(s.get("ivm.srcs", "null")) != want_srcs
                or json.loads(s.get("ivm.ons", "null")) != ons
            ):
                continue
            kind = s.get("ivm.kind")
            vkeys = json.loads(s.get("ivm.keys", "[]"))
            vcols = json.loads(s.get("ivm.cols", "[]"))
            if kind not in _SERVES or not set(keys) <= set(vkeys):
                continue
            if not all(
                fn in _SERVES[kind] and (fn == "count" or col in vcols)
                for fn, col, _ in aggs
            ):
                continue
            if require_fresh and not _join_view_fresh(catalog, s, tables):
                continue
            if best is None or len(vkeys) < len(best.keys):
                best = ViewMatch(db, name, vkeys, kind, vcols)
    return best


def answer_join_aggregate(
    spark: SparkSession,
    catalog,
    tables: list[tuple[str, str]],
    ons: list[list[str]],
    keys: list[str],
    aggs,
    search_databases: list[str] | None = None,
    refresh_stale: bool = False,
) -> tuple[DataFrame, ViewMatch | None]:
    """``SELECT keys, aggs FROM T0 ⋈ T1 ⋈ … GROUP BY keys`` — routed
    through a matched join/chain view when fresh and sufficient, else
    recomputed by actually joining the member tables
    (``refresh_stale`` as in :func:`answer_aggregate`). At 100 TB the
    difference is a view read vs an N-way fact join."""
    norm = _normalize_aggs(aggs)
    m = find_join_rewrite(catalog, tables, ons, keys, aggs, search_databases)
    if m is None and refresh_stale:
        stale = find_join_rewrite(
            catalog, tables, ons, keys, aggs, search_databases,
            require_fresh=False,
        )
        if stale is not None:
            from apache_iceberg_tables_migration_tool_spark.streaming.pipelines import (
                refresh_view_auto,
            )

            refresh_view_auto(spark, catalog, stale.database, stale.table)
            m = find_join_rewrite(
                catalog, tables, ons, keys, aggs, search_databases
            )
    if m is not None:
        view = catalog.table(m.database, m.table).read(spark)
        return view.groupBy(*keys).agg(*_reagg_exprs(m.kind, norm)), m
    joined = catalog.table(*tables[0]).read(spark)
    for (db, t), on in zip(tables[1:], ons):
        joined = joined.join(catalog.table(db, t).read(spark), on)
    return joined.groupBy(*keys).agg(*_base_exprs(norm)), None


def _find_topk(
    catalog,
    keys: list[str],
    metric_col: str,
    id_cols: list[str],
    k: int,
    dbs: list[str],
    match_single: str | None,
    match_srcs: list[str] | None,
    match_ons: list[list[str]] | None,
    tables: list[tuple[str, str]] | None,
) -> ViewMatch | None:
    for db in dbs:
        for name in catalog.list_tables(db):
            vt = catalog.table(db, name)
            cur = vt.current_snapshot()
            if cur is None:
                continue
            s = cur.summary
            if s.get("ivm.kind") != "topk":
                continue
            if match_single is not None:
                if s.get("ivm.src") != match_single:
                    continue
            elif (
                json.loads(s.get("ivm.srcs", "null")) != match_srcs
                or json.loads(s.get("ivm.ons", "null")) != match_ons
            ):
                continue
            # a leaderboard is reusable only at the SAME partition
            # (any other key set changes every rank), same metric and
            # the same deterministic tie-break order; k may shrink
            if (
                set(json.loads(s.get("ivm.keys", "[]"))) != set(keys)
                or s.get("ivm.metric") != metric_col
                or json.loads(s.get("ivm.ids", "[]")) != id_cols
                or int(s.get("ivm.k", "0")) < k
            ):
                continue
            if match_single is not None:
                src_db, src_t = match_single.split(".", 1)
                head = catalog.table(src_db, src_t).current_snapshot()
                if head is None or s.get("ivm.src_snapshot_id") != str(
                    head.snapshot_id
                ):
                    continue
            elif not _join_view_fresh(catalog, s, tables):
                continue
            return ViewMatch(db, name, json.loads(s["ivm.keys"]), "topk", [])
    return None


def answer_topk(
    spark: SparkSession,
    catalog,
    src_database: str,
    src_table: str,
    keys: list[str],
    metric_col: str,
    id_cols: str | list[str],
    k: int,
    search_databases: list[str] | None = None,
) -> tuple[DataFrame, ViewMatch | None]:
    """Top-k-per-group query routed through a maintained leaderboard:
    usable iff the view partitions by the SAME keys, ranks by the
    same metric with the same id tie-break, is fresh, and stores
    ``k' ≥ k`` rows — then the answer is ``rk <= k`` over the
    aggregate-sized view (the stored ranking is deterministic, so the
    prefix IS the smaller leaderboard). Falls back to
    ``ivm.grouped_topk`` over the base."""
    from apache_iceberg_tables_migration_tool_spark.operators import ivm

    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    m = _find_topk(
        catalog, keys, metric_col, ids, k,
        search_databases or [src_database],
        f"{src_database}.{src_table}", None, None, None,
    )
    if m is not None:
        view = catalog.table(m.database, m.table).read(spark)
        return view.where(F.col("rk") <= k), m
    base = catalog.table(src_database, src_table).read(spark)
    return ivm.grouped_topk(base, keys, metric_col, ids, k), None


def answer_topk_join(
    spark: SparkSession,
    catalog,
    tables: list[tuple[str, str]],
    ons: list[list[str]],
    keys: list[str],
    metric_col: str,
    id_cols: str | list[str],
    k: int,
    search_databases: list[str] | None = None,
) -> tuple[DataFrame, ViewMatch | None]:
    """Joined-leaderboard twin of :func:`answer_topk` (exact join
    signature match, as :func:`find_join_rewrite`); falls back to
    ranking the actual join."""
    from apache_iceberg_tables_migration_tool_spark.operators import ivm

    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    m = _find_topk(
        catalog, keys, metric_col, ids, k,
        search_databases or sorted({db for db, _ in tables}),
        None, [f"{db}.{t}" for db, t in tables], ons, tables,
    )
    if m is not None:
        view = catalog.table(m.database, m.table).read(spark)
        return view.where(F.col("rk") <= k), m
    joined = catalog.table(*tables[0]).read(spark)
    for (db, t), on in zip(tables[1:], ons):
        joined = joined.join(catalog.table(db, t).read(spark), on)
    return ivm.grouped_topk(joined, keys, metric_col, ids, k), None


def answer_quantile(
    spark: SparkSession,
    catalog,
    src_database: str,
    src_table: str,
    keys: list[str],
    col: str,
    qs: list[float],
    search_databases: list[str] | None = None,
    refresh_stale: bool = False,
) -> tuple[DataFrame, ViewMatch | None]:
    """EXACT grouped quantiles routed through a maintained counted
    auxiliary (``distinct`` kind view): order statistics re-aggregate
    to any COARSER grouping by first merging the per-(group, value)
    multiplicities down to the requested keys — the aux stores
    VALUES, not a sketch, so the rule stays exact (`ivm.
    derive_quantiles`: smallest value whose cumulative multiplicity
    reaches ceil(q·n)). Falls back to building the auxiliary from the
    base with the same derivation, so both paths agree exactly."""
    from apache_iceberg_tables_migration_tool_spark.operators import ivm

    probe = [("count_distinct", col, "_probe")]
    m = find_rewrite(
        catalog, src_database, src_table, keys, probe, search_databases
    )
    if m is None and refresh_stale:
        stale = find_rewrite(
            catalog, src_database, src_table, keys, probe, search_databases,
            require_fresh=False,
        )
        if stale is not None:
            from apache_iceberg_tables_migration_tool_spark.streaming.pipelines import (
                refresh_view_auto,
            )

            refresh_view_auto(spark, catalog, stale.database, stale.table)
            m = find_rewrite(
                catalog, src_database, src_table, keys, probe, search_databases
            )
    if m is not None:
        aux = catalog.table(m.database, m.table).read(spark)
        if set(m.keys) != set(keys):  # coarsen the aux first
            aux = aux.groupBy(*keys, col).agg(
                F.sum("group_count").alias("group_count")
            )
        return ivm.derive_quantiles(aux, keys, col, qs), m
    base = catalog.table(src_database, src_table).read(spark)
    aux = ivm.grouped_distinct_aux(base, keys, col)
    return ivm.derive_quantiles(aux, keys, col, qs), None


def answer_aggregate(
    spark: SparkSession,
    catalog,
    src_database: str,
    src_table: str,
    keys: list[str],
    aggs,
    search_databases: list[str] | None = None,
    refresh_stale: bool = False,
) -> tuple[DataFrame, ViewMatch | None]:
    """``SELECT keys, aggs FROM src GROUP BY keys`` — routed through a
    matched materialized view when one is fresh and sufficient
    (:func:`find_rewrite`), else computed from the base table. Both
    paths return identical values (the IVM invariant plus the shared
    ``avg`` expression tree); the second element reports which view
    answered, if any. ``aggs`` is a list of ``(fn, col, alias)``
    with fn ∈ count/sum/min/max/avg/count_distinct (col ignored for
    count). With ``refresh_stale`` a matching-but-stale view is
    brought to head first via its stamped definition
    (`pipelines.refresh_view_auto`) — an O(delta) fold — and then
    answers; the default routes around staleness instead. The view
    path reads the AGGREGATE-sized view — at 100 TB that is the
    difference between a dashboard query and a table scan."""
    norm = _normalize_aggs(aggs)
    m = find_rewrite(
        catalog, src_database, src_table, keys, aggs, search_databases
    )
    if m is None and refresh_stale:
        stale = find_rewrite(
            catalog, src_database, src_table, keys, aggs, search_databases,
            require_fresh=False,
        )
        if stale is not None:
            from apache_iceberg_tables_migration_tool_spark.streaming.pipelines import (
                refresh_view_auto,
            )

            refresh_view_auto(spark, catalog, stale.database, stale.table)
            m = find_rewrite(
                catalog, src_database, src_table, keys, aggs, search_databases
            )
    if m is not None:
        view = catalog.table(m.database, m.table).read(spark)
        out = view.groupBy(*keys).agg(*_reagg_exprs(m.kind, norm))
        return out, m
    base = catalog.table(src_database, src_table).read(spark)
    return base.groupBy(*keys).agg(*_base_exprs(norm)), None
