#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload estate_migrate --seed 1 --seconds 10 --trace 0

Run it from the repository root. Each run is one process with its own Spark
session, as a ``spark-submit`` would be. Set-up (package import, session
start and a warm-up job) is timed into ``setup_s``. Then whole operations
(passes) of the workload repeat until ``--seconds`` have passed, and at
least twice; ``op_s`` is their mean wall time. The first pass runs with cold
codegen, JIT and Python workers, as every ``spark-submit`` of the workload
does; the second, warm one doubles the work a run averages over. Outputs
are checked after each pass, outside the timed region. The last line of
standard output is one JSON object: ``correct``, ``attempted`` and
``failed`` steps, and the metrics (end-to-end with ``--trace 0``, per layer with
``--trace 1``). BENCHMARK.json lists the metrics; perfbench/README.md says
what each one means.

Everything the run writes stays in ``.perfbench_work/`` under the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

from tracing import NullTracer, Tracer
from workloads import MIX, WORKLOADS, Context

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "db2ice_db2_to_snowflake_iceberg_ddl_converter_spark"
DRIVER_MEMORY = "2g"
MIN_OPS = 2

END_TO_END = {"setup_s": "s", "op_s": "s"}
MODULES = ("relational", "relational_ext", "dedup", "similarity", "textstats",
           "corpus", "graph", "analytics", "streaming")
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "process.peak_rss_mb": "MB",
    "ddl.parse_s": "s", "ddl.sf_parse_s": "s", "ddl.tables": "count",
    "ddl.errors": "count",
    "mapping.map_s": "s", "mapping.columns": "count",
    "assess.assess_s": "s", "assess.issues": "count",
    "convert.emit_s": "s", "convert.sf_convert_s": "s",
    "convert.ewi_markers": "count",
    "report_pdf.render_s": "s", "report_pdf.bytes": "bytes",
    "catalog.assess_catalog_s": "s", "catalog.cast_plan_s": "s",
    "sources.migrate_s": "s", "sources.rows_written": "count",
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "sources.storage_ratio": "ratio",
    "validate.reconcile_s": "s", "validate.validate_s": "s",
    "registry.build_s": "s", "registry.collect_s": "s",
    **{f"operators.{m}.{k}_s": "s" for m in MODULES
       for k in ("build", "collect")},
    "spark.jobs": "count", "spark.jobs_in_build": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "cache.persisted_rdds": "count",
    "trace.uncovered_s": "s", "trace.overhead_s": "s",
}
# Read once at the end of a run, not summed per operation.
LAST_VALUE = {"cache.persisted_rdds", "sources.storage_ratio",
              "process.peak_rss_mb"}


def _process_age() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _deploy_env(run_dir: str) -> None:
    """The deployment this benchmark measures: one task thread per core,
    driver memory below physical RAM, scratch space inside the work dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    # -XX:-UsePerfData: the JVMs write no hsperfdata file under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} pyspark-shell")


def _manifest(entries: list[str]) -> dict:
    """Source sizes and oracle digests, built once per checkout in a child
    process (see expected.py)."""
    from expected import cache_key

    path = os.path.join(WORK_DIR, f"manifest-{cache_key(ROOT, DATA_DIR, entries)}.json")
    if not os.path.exists(path):
        subprocess.run([sys.executable, os.path.join(HERE, "expected.py"),
                        ROOT, DATA_DIR, path, *entries],
                       check=True, cwd=ROOT, timeout=600)
    with open(path) as fh:
        return json.load(fh)


def _warm_up(spark) -> None:
    """The session's first job: executors and task launch are ready."""
    spark.range(1000).selectExpr("sum(id)").collect()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    age = _process_age()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    missing = [f for f in (os.path.join(PACKAGE, "__init__.py"),
                           "__spark_entry__.py", "tools/check_oracle_parity.py")
               if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"the program is not here: {missing} missing under {ROOT}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        return _run(args, age, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, age: float, run_dir: str) -> int:
    _deploy_env(run_dir)
    manifest = _manifest(sorted(MIX))
    ctx = Context(ROOT, DATA_DIR, run_dir, args.seed, manifest)
    workload = WORKLOADS[args.workload](ctx)

    # -- set-up: what a user's process pays before its first operation ----
    t = time.perf_counter()
    workload.imports()
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.session import (
        get_spark)
    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t_warm = time.perf_counter()
    _warm_up(spark)
    t_end = time.perf_counter()
    setup_s = age + (t_end - t)

    tracer = Tracer() if args.trace else NullTracer()
    if args.trace and hasattr(workload, "instrument"):
        workload.instrument(tracer)
    ops: list[float] = []
    steps = []
    failures: list[tuple[str, str]] = []

    def run_op(index: int) -> float:
        tracer.op_index = index
        t0 = time.perf_counter()
        with tracer.span("op", workload=args.workload, index=index):
            op_steps, out = workload.op(spark, tracer, index)
        seconds = time.perf_counter() - t0
        bad = workload.check(op_steps, out)
        for s in op_steps:
            reason = s.error or bad.get(s.name)
            if reason:
                failures.append((f"op{index}/{s.name}", reason))
        steps.extend(op_steps)
        if hasattr(workload, "after_op"):
            workload.after_op(index)
        return seconds

    try:
        start = time.perf_counter()
        while len(ops) < MIN_OPS or time.perf_counter() - start < args.seconds:
            ops.append(run_op(len(ops)))
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(jvm.pid) if jvm else 0)
    finally:
        _stop(spark)

    n_ops = len(ops)
    op_s = statistics.fmean(ops)
    step_s = [s.seconds for s in steps]
    info = {"workload": args.workload, "seed": args.seed, "ops": n_ops,
            "op_s": ops,
            "steps": [[s.name, round(s.seconds, 3)] for s in steps],
            "step_p50_s": statistics.median(step_s), "step_max_s": max(step_s),
            "peak_rss_mb": peak_rss,
            "setup_parts_s": {"process": age, "imports": t_session - t,
                              "session": t_warm - t_session,
                              "warm_up": t_end - t_warm},
            **workload.info()}
    if args.trace:
        tracer.set("session.start_s", t_warm - t_session)
        tracer.set("session.warmup_s", t_end - t_warm)
        tracer.set("process.peak_rss_mb", peak_rss)
        metrics = {}
        for name, unit in PER_LAYER.items():
            raw = tracer.metrics.get(name, 0.0)
            if name == "trace.uncovered_s":
                raw = tracer.uncovered_s() / n_ops
            elif name == "trace.overhead_s":
                raw = tracer.overhead_s / n_ops
            elif name == "sources.storage_ratio":
                raw = info.get("storage_ratio", 0.0)
            elif name not in LAST_VALUE and not name.startswith("session."):
                raw = raw / n_ops
            metrics[name] = {"value": raw, "unit": unit}
        out_path = os.path.join(
            WORK_DIR, "traces",
            f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        tracer.dump(out_path, info=info, per_layer=metrics)
        info["trace_file"] = out_path
    else:
        values = {"setup_s": setup_s, "op_s": op_s}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    info["failed_ops_frac"] = len(failures) / max(1, len(steps))
    for name, reason in failures:
        print(f"FAILED {name}: {reason}")
    print("info " + json.dumps(info, sort_keys=True, default=str))
    print(json.dumps({"correct": not failures, "attempted": len(steps),
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
