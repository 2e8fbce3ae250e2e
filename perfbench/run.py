#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,catalog,migrate} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each run starts one Spark session on
``local[2]``, builds its tables under ``.perfbench_work/`` from the
fixture tables in ``perfbench/fixtures/`` and from ``--seed`` (which
picks the rows, keys and op order), and warms up with a fixed amount of
work at the measured scale. It then runs a fixed number of timed passes
of the workload's op list: ``--seconds`` divided by the workload's
nominal pass time, rounded, and at least one. Every op output is checked
outside the timer. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics (see ``layers.json``) with ``--trace 1``. The line
before it records the run's environment.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[2]"
SHUFFLE_PARTITIONS = "4"  # the program's guidance: 2-3x the cores
DEADLINE_S = 170

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("cpu_s", "CPU-s"),
    ("peak_rss_mb", "MB"),
    ("ok_op_frac", "frac"),
    ("written_mb", "MB"),
    ("stored_mb", "MB"),
]

PER_OP_LAYERS = {
    "snapcat": ["write", "upsert", "upsert_mor", "update_where", "delete_where",
                "read_where", "plan_files", "changelog", "compact", "expire_snapshots"],
    "sqlfront": ["execute"],
    "pipelines": ["refresh_view_changelog", "refresh_join_view", "refresh_join_chain_view"],
    "plans": ["collect_plan", "migrate", "verify"],
}

PER_PASS = [
    ("session.jobs", "count"), ("session.stages", "count"), ("session.tasks", "count"),
    ("session.failed_tasks", "count"), ("session.jit_s", "s"), ("session.gc_s", "s"),
    ("snapcat.commits", "count"), ("snapcat.files_written", "count"),
    ("snapcat.live_files", "count"), ("snapcat.files_planned", "count"),
    ("snapcat.files_pruned", "count"), ("snapcat.prune_frac", "frac"),
    ("plans.tables", "count"), ("plans.rows", "count"),
    ("host.steal_s", "s"),
]


def per_op_names(headline: list[str]) -> list[str]:
    names = [f"queries.{q}" for q in headline]
    for layer, ops in PER_OP_LAYERS.items():
        names += [f"{layer}.{op}" for op in ops]
    return names


def per_layer_metrics(headline: list[str]) -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in output order."""
    out = []
    for op in per_op_names(headline):
        out += [(f"{op}_s", "s"), (f"{op}_n", "count")]
    return out + PER_PASS + [("trace.pass_s", "s"), ("trace.overhead_s", "s")]


def _reexec_pinned() -> None:
    """Re-exec with a pinned hash seed, the repository on the workers'
    path, and the program's environment knobs fixed, so both sides of a
    comparison run the same configuration whatever the caller set."""
    if os.environ.get("PERFBENCH_PINNED") == "1":
        return
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    ignored = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    env.update(PERFBENCH_PINNED="1", PYTHONHASHSEED="0", PYTHONPATH=ROOT,
               SPARK_GRAFT_SHUFFLE_PARTITIONS=SHUFFLE_PARTITIONS,
               PERFBENCH_IGNORED_ENV=",".join(ignored))
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)


def _kill_tree() -> None:
    from harness import tree_pids

    me = os.getpid()
    for pid in reversed(tree_pids(me)):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _on_deadline(_signum, _frame) -> None:
    print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
    _kill_tree()
    os._exit(3)


def _spark_session(work: str):
    from apache_iceberg_tables_migration_tool_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the status tracker must still hold every job and stage of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from harness import tree_pids

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    _kill_tree()


def _environment(spark, args, load_before, steal_before) -> dict:
    import pyspark

    from harness import host_steal_s, loadavg

    sc = spark.sparkContext
    jvm_version = sc._jvm.java.lang.System.getProperty("java.version")
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fixtures": os.path.relpath(fixture_dir(args.scale), ROOT),
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "host_steal_s": round(host_steal_s() - steal_before, 3),
        "pyspark": pyspark.__version__, "java": jvm_version,
        "python": platform.python_version(),
        "pythonhashseed": os.environ.get("PYTHONHASHSEED"),
        "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "spark_graft_env_ignored": [k for k in os.environ.get("PERFBENCH_IGNORED_ENV", "").split(",") if k],
    }


def fixture_dir(scale: float) -> str:
    """The bundled fixture tables of one scale factor (see README.md)."""
    path = os.path.join(HERE, "fixtures", f"sf{scale:g}")
    if not os.path.isdir(path):
        raise SystemExit(f"perfbench: no fixtures for scale {scale:g} under {os.path.dirname(path)}")
    return path


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _end_to_end(runner, setup_s: float, peak_rss_mb: float, stored_bytes: int) -> dict:
    from harness import MB, median

    passes = runner.passes
    values = {
        "setup_s": setup_s,
        "pass_s": median([p.pass_s for p in passes]),
        "cpu_s": median([p.cpu_s for p in passes]),
        "peak_rss_mb": peak_rss_mb,
        "ok_op_frac": (runner.attempted - runner.failed) / runner.attempted,
        "written_mb": median([p.written_bytes for p in passes]) / MB,
        "stored_mb": stored_bytes / MB,
    }
    return {name: _metric(values[name], unit) for name, unit in END_TO_END}


def _per_layer(runner, headline: list[str]) -> dict:
    from harness import median

    passes = runner.passes
    out = {}
    for op in per_op_names(headline):
        samples = runner.op_samples.get(op, [])
        out[f"{op}_s"] = _metric(median(samples), "s")
        out[f"{op}_n"] = _metric(len(samples), "count")
    for name, unit in PER_PASS:
        out[name] = _metric(median([p.counts.get(name, 0.0) for p in passes]), unit)
    # compare trace.pass_s with an untraced run's pass_s for the total cost
    # of tracing; trace.overhead_s is the part spent polling Spark per op
    out["trace.pass_s"] = _metric(median([p.pass_s for p in passes]), "s")
    out["trace.overhead_s"] = _metric(median([p.counts["trace.overhead_s"] for p in passes]), "s")
    return out


def run(args, tamper=None) -> dict:
    """One benchmark run; returns the result object. ``tamper(workload)``
    is called after set-up (tests use it to plant a wrong expectation)."""
    from analytics import HEADLINE, Analytics
    from catalog import Catalog
    from harness import Runner, host_steal_s, loadavg, measure, process_start_wall
    from migrate import Migrate

    t_start = process_start_wall()
    sf_dir = fixture_dir(args.scale)
    load_before, steal_before = loadavg(), host_steal_s()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    spark = _spark_session(work)
    try:
        cls = {"analytics": Analytics, "catalog": Catalog, "migrate": Migrate}[args.workload]
        workload = cls(spark, work, args.seed, sf_dir)
        runner = Runner(spark, run_id, trace=bool(args.trace))
        phases = {"session_s": time.time() - t_start}
        t = time.time()
        workload.setup(runner)
        phases["build_s"] = time.time() - t
        if tamper is not None:
            tamper(workload)
        t = time.time()
        warmups = workload.warmup_passes
        for i in range(warmups):
            runner.begin_pass(i, traced=False)
            workload.run_pass(runner, i)
            runner.end_pass(i)
        runner.passes.clear()
        phases["warmup_s"] = time.time() - t
        setup_s = time.time() - t_start
        passes = max(1, round(args.seconds / workload.nominal_pass_s))
        measure(runner, lambda i: workload.run_pass(runner, i), passes, first_index=warmups)
        workload.final_check(runner)
        runner.run_checks()
        runner.meter.note_peaks()
        rss = dict(runner.meter.peaks_mb)
        stored = workload.stored_bytes()
        env = _environment(spark, args, load_before, steal_before)
        env["setup_phases"] = {k: round(v, 3) for k, v in phases.items()}
        env["peak_rss_mb"] = {k: round(v, 1) for k, v in rss.items()}
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = (_per_layer(runner, HEADLINE) if args.trace
               else _end_to_end(runner, setup_s, sum(rss.values()), stored))
    env["passes"] = [{"pass_s": round(p.pass_s, 4), "cpu_s": round(p.cpu_s, 3),
                      "steal_s": round(p.steal_s, 3)} for p in runner.passes]
    env["failures"] = [vars(f) for f in runner.failures[:20]]
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{run_id}.trace.json"), "w") as f:
            json.dump({"env": env, "spans": runner.spans}, f)
    return {
        "env": env,
        "result": {"correct": runner.failed == 0, "attempted": runner.attempted,
                   "failed": runner.failed, "metrics": metrics},
    }


def parse_args(argv: list[str] | None = None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["analytics", "catalog", "migrate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=0.01,
                   help="fixture scale factor: 0.01 (60k lineitem rows) or 0.001")
    return p.parse_args(argv)


def main() -> None:
    args = parse_args()
    _reexec_pinned()
    sys.path[:0] = [HERE, ROOT]
    import apache_iceberg_tables_migration_tool_spark  # noqa: F401  fails fast without the program

    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    out = run(args)
    signal.alarm(0)
    print(json.dumps({"perfbench_env": out["env"]}))
    print(json.dumps(out["result"]), flush=True)


if __name__ == "__main__":
    main()
