"""Run one workload of the CDC benchmark and print its metrics.

    python3 perfbench/run.py --workload ingest_mor --seed 1 --seconds 15 --trace 0

Run from the repository root. Each invocation is one fresh process and
JVM, sized from the host (``local[nproc]`` or ``local[1]``, shuffle
partitions = 4 x cores, driver heap a quarter of RAM up to 8 GB). All
files it writes stay under the checkout: ``.perfbench_work/`` (change
log, tables, Spark local dirs, event log; removed at exit),
``.perfbench_cache/`` (state fingerprints of earlier runs, for the
reproducibility gate) and ``.perfbench_out/`` (span files of traced
runs).

The run first generates the workload's change log from ``--seed`` in its
own session. Every run does this, so every run's JVM is equally warm when
set-up starts; its wall is excluded from ``setup_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run enables the Spark event log,
puts every timed call under its own job group, and reports per-layer
metrics instead (its end-to-end figures, printed on the line above,
show the tracing overhead against an untraced run).
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_serverless_elt_pipeline_enterprise_spark"


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cpus": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} is not importable from {ROOT}", file=sys.stderr)
        return 2
    from perfbench.pipeline import WORKLOADS, Run, generate_log
    from perfbench.trace import Tracer, attribute, coverage

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    host = host_facts()
    cores = wl.cores or host["cpus"]
    driver_mem = f"{max(1, min(8, int(host['ram_gb'] // 4)))}g"
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}_{os.getpid()}")
    log_dir = os.path.join(work, "log")
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_mem
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    tempfile.tempdir = None

    from pyspark import SparkContext

    from aws_serverless_elt_pipeline_enterprise_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    spark = None
    try:
        with tracer.span("session"):
            spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{cores}]",
                              shuffle_partitions=cores * 4, extra_conf=conf)
        with tracer.span("changelog_generate") as gen:
            counts = generate_log(spark, log_dir, wl, args.seed)
        if args.trace:
            tracer.sc = spark.sparkContext
        host.update({
            "cores_used": cores, "shuffle_partitions": cores * 4,
            "driver_memory": driver_mem, "spark": spark.version,
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        })
        run = Run(spark, tracer, wl, args.seed, args.seconds, work, log_dir, counts,
                  os.path.join(ROOT, ".perfbench_cache", "fingerprints.json"))
        e2e, facts = run.execute(T_PROCESS, gen["end"] - gen["start"])
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        e2e["peak_rss_mb"] = (vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid()), "MB")
        tracer.sc = None
        spark.stop()
        spark = None
        metrics = e2e
        if args.trace:
            attribute(tracer, os.path.join(work, "events"), slots=cores)
            metrics = run.layer_metrics()
            metrics["trace.span_coverage"] = (coverage(tracer, run.window), "ratio")
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans_{wl.name}_{args.seed}.json"))
            width = max(len(k) for k in metrics)
            for k, (v, u) in metrics.items():
                print(f"{k:<{width}}  {v:14.4f} {u}")
            print("traced end-to-end: " + json.dumps({k: v for k, (v, _) in e2e.items()}))
    finally:
        if spark is not None:
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            # the JVM exits on EOF of its stdin; wait for it
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)

    print("host: " + json.dumps(host) + " run: " + json.dumps(facts))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
