"""SparkSession factory with scale-minded defaults.

The reference boots one session per CLI stage with only catalog
config (``1_collect_src_snapshots.py:22-35``). We centralize session
creation and bake in the settings that matter at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join strategy switch) — at cluster scale this is what turns a bad
  static plan into a good one after the first shuffle's statistics.
- UTC session timezone — keeps timestamp semantics stable across
  engines (and vs the DuckDB oracle).
- Parquet vectorized reader + aggregate pushdown (count/min/max can
  be answered from footers — the reference's ``df.count()`` before a
  full copy (``5_migrate_tables_data.py:76``) becomes metadata-only).
- Arrow for any pandas interchange (our Pandas UDF paths).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: defaults applied to every session; callers may override via extra_conf
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # runtime (AQE-injected) bloom filters: a selective join's build
    # side prunes the probe side's scan — the 100 TB join-pruning
    # lever alongside manifest/partition pruning
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # local runs: broadcast generously; on a real cluster this stays
    # the 10m default unless overridden per-join with broadcast()
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    # Spark's default INT96 timestamps carry NO parquet min/max stats;
    # int64 micros give manifests timestamp bounds, so time-range
    # predicates prune (INT96 is deprecated in the parquet spec anyway).
    # Session-wide, so snapcat's concurrent writes never flip it per
    # write (sources.snapcat._timestamp_micros covers foreign sessions)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Scans of explicit file lists (snapcat names every data file from
    # its manifests, grouped by commit directory) stat those paths on
    # the driver: above this many paths Spark lists them in a
    # distributed job instead, which at the 32 default put listing
    # jobs in front of every read of a wide commit (lineitem's 83
    # l_shipmonth directories). The warehouse is POSIX, so driver
    # listing is cheap at any size — never list through a job
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "2147483647",
    # Initial shuffle partition count — an UPPER bound under AQE
    # coalescing (advisory-size merging shrinks it per stage at
    # runtime). The local default (32 = the bench core count) keeps
    # driver bench runs comparable round-over-round; on a cluster set
    # $SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3× total cores (or a
    # value sized for ~100 MB-1 GB per partition of the largest
    # shuffle) and let AQE coalesce the small stages down.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


def pin(df, eager: bool = False):
    """Cut a DataFrame's lineage so several consumers share one
    computation (the multi-consumer barrier used across the engine).

    Default: ``localCheckpoint`` — blocks live on executors only, the
    cheapest barrier and correct for local/single-host runs. At
    cluster scale with executor loss/preemption (spot fleets), a lost
    block fails the query outright because no lineage remains to
    recompute; set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` to route every
    barrier through a reliable ``checkpoint()`` instead, whose blocks
    persist under ``SPARK_GRAFT_CHECKPOINT_DIR`` (or
    ``<spark.local.dir>/spark-graft-ckpt``) and survive executor loss
    (guide §5 trade-off: durability for write cost)."""
    if not os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT"):
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if not sc._jsc.sc().getCheckpointDir().isDefined():
        # on a cluster point this at durable shared storage (HDFS/S3);
        # the tempdir fallback only makes the switch testable locally
        ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or tempfile.mkdtemp(
            prefix="spark-graft-ckpt-"
        )
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)


def get_spark(
    app_name: str = "iceberg-migration-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Master defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
