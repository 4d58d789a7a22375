"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload append_tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding `lakota_spark/`).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
The line before it is a detail record (``{"perfbench": ...}``) with the
named per-workload metrics, counters, state and regime stamps.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("append_tail", "scan_query", "history_maint", "corpus_ops")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(root: str, work: str, traced: bool) -> int:
    """Point every temporary location of Spark, its Python workers and
    the program at the run's work directory, before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # local[cpus // 2]: each Spark task pairs a JVM thread with a Python
    # worker process, so local[cpus] keeps twice as many busy as there
    # are CPUs; on 4 CPUs it ran history_maint's Spark operations a
    # third slower and less steadily, and scan_query's no faster
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, cpus // 2))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # Spark's Python workers import lakota_spark and perfbench from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    if traced:
        from perfbench.tracing import SPAN_DIR_ENV

        os.environ[SPAN_DIR_ENV] = os.path.join(work, "spans")
        os.makedirs(os.environ[SPAN_DIR_ENV])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def _start_spark(work: str, traced: bool):
    from lakota_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    # no warm-up job here: each workload's set-up warms what it uses
    return get_spark("perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for
    it: a run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "lakota_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print(
            "perfbench: run from the root of a lakota_spark checkout "
            "(lakota_spark/ and __spark_entry__.py not found here)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    traced = bool(args.trace)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        cpus = _prepare_env(root, work, traced)
        from perfbench import report
        from perfbench.harness import Bench
        from perfbench.tracing import Tracer

        spark = _start_spark(work, traced)
        session_s = time.perf_counter() - t0
        tracer = Tracer().install() if traced else None
        bench = Bench(spark, tracer)
        mod = importlib.import_module(f"perfbench.workloads.{args.workload}")
        wl = mod.Workload(
            spark=spark, bench=bench, seed=args.seed, work=work, root=root
        )
        wl.setup()
        setup_s = time.perf_counter() - t0
        # a traced run needs a traced and an untraced cycle
        min_cycles = max(wl.MIN_CYCLES, 2 if traced else 1)
        bench.loop(args.seconds, wl.cycle, min_cycles)
        wl.finish()
        bench.ungrouped = bench.ungrouped_jobs()
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)
        spark = None
        detail = report.detail(args, cpus, session_s, setup_s, bench, wl)
        if traced:
            metrics = report.per_layer(bench, wl, tracer, work)
        else:
            metrics = report.end_to_end(setup_s, bench)
        print(json.dumps({"perfbench": detail}, default=str))
        print(
            json.dumps(
                {
                    "correct": bench.failed == 0,
                    "attempted": bench.attempted,
                    "failed": bench.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
