#!/usr/bin/env python3
"""Pipeline benchmark: set up the engine, run one workload closed-loop, check it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One client in one process drives
``local[nproc]``.  A run generates its inputs from ``--seed``
(``inputs.py``) and sets up the engine once: ``get_spark()``, which
launches the JVM, plus a warm-up on a tiny input.  It then times a cold
pass over the workload, and steady passes until ``--seconds`` have
passed (at least one).  The outputs of the cold pass are checked after
the timed passes.

The last stdout line is one JSON object.  With ``--trace 0`` it carries
the end-to-end metrics; with ``--trace 1`` the per-layer metrics.  A
traced run first makes the untraced passes, then restarts the session
with the event log on and repeats the steady passes with every Spark job
labelled by its query and layer; the traced minus the untraced ``pass_s``
is the tracing overhead.  Spans and per-query counters go to
``perfbench/.work/traces/``.  Spark's logs go to stderr, and every file a
run writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

import eventlog
import inputs
from spans import BUILD, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# A 2 GiB heap holds these inputs many times over; with 4 GiB, G1's heap
# growth swung the JVM's peak RSS by 30% between identical runs.
MAX_DRIVER_MIB = 2048
# JIT and Python workers are still warming in the first pass after the
# cold one, and a burst of load on a shared host can hit any one pass:
# the median of three shrugs off either.
STEADY_PASSES = 3
EXEC_SPANS = ("exec.sink", "sources.write", "sources.merge")

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MiB",
    "ok_share": "ratio",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.useful_task_share": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_busy_share": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "pinning.pins": "count",
    "pinning.release_s": "s",
    "pinning.leaked": "count",
    "seam.python_rows": "count",
    "seam.python_bytes_sent": "bytes",
    "seam.python_bytes_received": "bytes",
    "seam.stage_run_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.write_bytes": "bytes",
    "sources.write_s": "s",
    "sources.merge_s": "s",
    "sources.merge_files_rewritten_share": "ratio",
    "sources.bytes_written_per_update_byte": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def machine() -> tuple[int, int]:
    """(cpus this process may run on, driver heap in MiB below physical RAM)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, min(MAX_DRIVER_MIB, total_kib // 1024 // 4)


def configure(cpus: int, driver_mib: int) -> None:
    """Size the session to the machine and keep every file Spark, the JVM
    and Python write under the benchmark's work directory."""
    conf_dir = os.path.join(WORK, "conf")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (conf_dir, tmp, local):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n"
        )
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_mib}m",
        SPARK_LOCAL_DIRS=local,
        SPARK_CONF_DIR=conf_dir,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(pythonpath),
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def process_tree() -> list[int]:
    """This process and its descendants: the JVM and its Python workers."""
    parent: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree += kids
        frontier += kids
    return tree


def reset_peak_rss() -> None:
    """Restart this process's VmHWM at its current RSS, so the in-process
    DuckDB that generated the inputs does not count as engine memory."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def tree_peak_rss_mib() -> float:
    """Sum of the peak resident sizes (VmHWM) over the process tree."""
    kib = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kib += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kib / 1024


def tree_cpu_s() -> float:
    """CPU seconds the process tree has used, including reaped children
    (a Python worker's time lands in its parent's cutime when it exits)."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus, driver_mib = machine()
    configure(cpus, driver_mib)
    # the package's default data directory names the fixture root; the
    # run points the variable at its generated inputs further down
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    try:
        from imdb_top_250_etl_pipeline_spark.session import DEFAULT_SF_DIR, get_spark
        import workloads
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]

    # Spark's spark-warehouse/ and metastore_db/ land in the working directory
    os.chdir(WORK)
    in_dir = os.path.join(WORK, "inputs", args.workload)
    warm_dir = os.path.join(WORK, "inputs", "warm")
    fixtures = os.path.dirname(DEFAULT_SF_DIR)
    rows = inputs.generate(args.workload, args.seed, fixtures, in_dir)
    inputs.generate("warm", args.seed, fixtures, warm_dir)
    os.environ["SPARK_GRAFT_SF_DIR"] = in_dir
    reset_peak_rss()
    out_root = os.path.join(WORK, "out")
    shutil.rmtree(out_root, ignore_errors=True)
    events = os.path.join(WORK, "events")
    shutil.rmtree(events, ignore_errors=True)

    tracer = Tracer(bool(args.trace))
    spark = None
    ops = None
    per_pass: dict[str, dict] = {}

    def start_session(label: str) -> tuple[float, float]:
        nonlocal spark, ops
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", label):
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        tracer.sc = spark.sparkContext
        if ops is None:
            ops = workloads.Ops(spark, in_dir, tracer, args.seed)
        ops.spark = spark
        with tracer.span("session.warm", label):
            workloads.warm_up(ops, workload.warm_up, warm_dir)
        return t1 - t0, time.perf_counter() - t1

    def run_one(tag: str) -> dict:
        out = os.path.join(out_root, tag)
        pins, leaked = ops.pins, ops.leaked
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        outputs = workload.run_pass(ops, tag, out)
        wall = time.perf_counter() - t0
        per_pass[tag] = {
            "pass_s": wall,
            "pass_cpu_s": tree_cpu_s() - cpu0,
            "pinning.pins": ops.pins - pins,
            "pinning.leaked": ops.leaked - leaked,
            "sources.write_bytes": inputs.dir_bytes(out),
            **workloads.merge_stats(out),
        }
        return outputs

    def steady(prefix: str) -> list[str]:
        """Closed-loop passes until ``--seconds`` have passed, at least
        STEADY_PASSES of them."""
        tags: list[str] = []
        start = time.perf_counter()
        while len(tags) < STEADY_PASSES or time.perf_counter() - start < args.seconds:
            tags.append(f"{prefix}{len(tags)}")
            run_one(tags[-1])
            shutil.rmtree(os.path.join(out_root, tags[-1]), ignore_errors=True)
        return tags

    try:
        get_s, warm_s = start_session("setup")
        context = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "driver_memory_mib": driver_mib, "input_rows": rows,
            "input_bytes": inputs.dir_bytes(in_dir),
            "scan_floor": "on" if spark.conf.get("spark.sql.files.minPartitionNum", None) else "off",
        }
        print("perfbench: " + json.dumps(context), file=sys.stderr)
        first = run_one("cold")
        untraced = steady("s")
        if args.trace:
            os.makedirs(events)
            system = spark.sparkContext._jvm.System
            system.setProperty("spark.eventLog.enabled", "true")
            system.setProperty("spark.eventLog.dir", "file://" + events)
            system.setProperty("spark.eventLog.compress", "false")
            start_session("trace")
            traced = steady("t")
        peak = tree_peak_rss_mib()
        workload.check(ops, checks_db(in_dir), os.path.join(out_root, "cold"), first)
    finally:
        if spark is not None:
            stop_spark(spark)
    print("perfbench: passes " + json.dumps(
        {k: [round(v["pass_s"], 2), round(v["pass_cpu_s"], 2)] for k, v in per_pass.items()}
    ), file=sys.stderr)

    failed = len(ops.failures)
    if ops.failures:
        print("perfbench: failed operations: " + ", ".join(ops.failures), file=sys.stderr)
    pass_s = statistics.median(per_pass[t]["pass_s"] for t in untraced)
    if args.trace:
        groups = eventlog.by_job_group(events)
        layers = [layer_metrics(tracer, groups, t, per_pass[t], cpus) for t in traced]
        traced_s = statistics.median(per_pass[t]["pass_s"] for t in traced)
        values = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        values.update({
            "session.get_spark_s": get_s,
            "session.warm_s": warm_s,
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - pass_s,
        })
        units = LAYER_UNITS
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"context": context, "passes": per_pass,
             "job_groups": {g: dict(c) for g, c in groups.items()}},
        )
    else:
        values = {
            "setup_s": get_s + warm_s,
            "pass_s": pass_s,
            "pass_cpu_s": statistics.median(per_pass[t]["pass_cpu_s"] for t in untraced),
            "rows_per_s": rows / pass_s,
            "peak_rss_mb": peak,
            "ok_share": 1 - failed / ops.attempted,
        }
        units = E2E_UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ops.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


def layer_metrics(tracer, groups: dict[str, Counter], tag: str, measured: dict,
                  cpus: int) -> dict[str, float]:
    """Per-layer totals of one traced pass: span times from the tracer,
    Spark work from the event log's job groups ``<query>|<span>``."""
    prefix = f"{tag}:"
    build, execution, both = Counter(), Counter(), Counter()
    for group, c in groups.items():
        query, _, span = group.rpartition("|")
        if query.startswith(prefix):
            both.update(c)
            (build if span == BUILD else execution).update(c)
    build_s = tracer.total(BUILD, prefix)
    run_s = sum(tracer.total(name, prefix) for name in EXEC_SPANS)
    rewritten, live, written, update = (
        measured[k] for k in ("rewritten", "live", "written_bytes", "update_bytes")
    )
    return {
        "plans.build_s": build_s,
        "plans.build_jobs": build["jobs"],
        "plans.build_share": build_s / measured["pass_s"],
        "exec.run_s": run_s,
        "exec.jobs": execution["jobs"],
        "exec.stages": execution["stages"],
        "exec.tasks": execution["tasks"],
        "exec.failed_tasks": execution["failed_tasks"],
        "exec.useful_task_share": execution["useful_tasks"] / max(execution["tasks"], 1),
        "exec.executor_run_s": execution["run_ms"] / 1e3,
        "exec.executor_cpu_s": execution["cpu_ns"] / 1e9,
        "exec.cpu_busy_share": execution["cpu_ns"] / 1e9 / max(run_s * cpus, 1e-9),
        "exec.gc_s": execution["gc_ms"] / 1e3,
        "exec.shuffle_write_bytes": execution["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": execution["shuffle_read_bytes"],
        "exec.spill_bytes": execution["spill_bytes"],
        "pinning.pins": measured["pinning.pins"],
        "pinning.release_s": tracer.total("pinning.release", prefix),
        "pinning.leaked": measured["pinning.leaked"],
        "seam.python_rows": both[eventlog.PY_ROWS],
        "seam.python_bytes_sent": both[eventlog.PY_SENT],
        "seam.python_bytes_received": both[eventlog.PY_RECEIVED],
        "seam.stage_run_s": both["seam_run_ms"] / 1e3,
        "sources.scan_bytes": both["scan_bytes"],
        "sources.write_bytes": measured["sources.write_bytes"],
        "sources.write_s": tracer.total("sources.write", prefix),
        "sources.merge_s": tracer.total("sources.merge", prefix),
        "sources.merge_files_rewritten_share": rewritten / max(live, 1),
        "sources.bytes_written_per_update_byte": written / max(update, 1),
    }


def checks_db(in_dir: str):
    """DuckDB over the generated tables, for the oracle twins."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(in_dir, f)}'")
    return con


if __name__ == "__main__":
    sys.exit(main())
