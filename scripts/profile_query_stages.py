"""Stage-level attribution for a declared query (guide §1/§7): runs ONE
query with the Spark event log enabled, then prints per-stage wall time,
task time, shuffle bytes, and row counts — the 'which operator is the
whale' question bench timings can't answer.

Usage: python scripts/profile_query_stages.py <query> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from aws_serverless_elt_pipeline_enterprise_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    log_dir = f"/tmp/spark_evt_{os.getpid()}"
    os.makedirs(log_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark(
        app_name=f"profile-{name}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = entry_mod.queries()
    # warmup (JIT/codegen) on an unrelated query
    qs["cdc_final_state"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    t0 = time.monotonic()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    spark.catalog.clearCache()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    evt = os.path.join(log_dir, app_id)
    stages = {}
    with open(evt) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            if e.get("Event") == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                nm = si.get("Stage Name", "")
                stages[sid] = {
                    "wall_s": round((comp - sub) / 1000.0, 2) if sub and comp else None,
                    "tasks": si.get("Number of Tasks"),
                    "name": nm.split("\n")[0][:80],
                }
            elif e.get("Event") == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                st = stages.setdefault(sid, {})
                tm = e.get("Task Metrics") or {}
                st["task_time_s"] = st.get("task_time_s", 0) + tm.get(
                    "Executor Run Time", 0
                ) / 1000.0
                sr = (tm.get("Shuffle Read Metrics") or {})
                sw = (tm.get("Shuffle Write Metrics") or {})
                st["shuf_read_mb"] = st.get("shuf_read_mb", 0) + (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                st["shuf_write_mb"] = (
                    st.get("shuf_write_mb", 0) + sw.get("Shuffle Bytes Written", 0) / 1e6
                )
                st["out_rows"] = st.get("out_rows", 0)

    print(f"query={name} wall={wall:.2f}s  (stages sorted by task time)")
    order = sorted(
        stages.items(), key=lambda kv: -(kv[1].get("task_time_s") or 0)
    )
    for sid, s in order[:18]:
        print(
            f"  stage {sid:>3} wall={s.get('wall_s')}s task_time={s.get('task_time_s', 0):7.1f}s "
            f"tasks={s.get('tasks')} shufR={s.get('shuf_read_mb', 0):8.1f}MB "
            f"shufW={s.get('shuf_write_mb', 0):8.1f}MB  {s.get('name', '')}"
        )
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
