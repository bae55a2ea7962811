#!/usr/bin/env python
"""Round-13 measurement harness (guide §1: measure first).

For each named catalog query, on a fresh get_spark session with event
logging enabled:
  - time the DataFrame BUILD (python plan construction + analysis)
  - time the EXECUTION via the noop sink (every column computed)
  - tag the run with a job group so the event log attributes jobs
Then parse the event log and report, per query: job count, stage
count, total executor task run time, and the slowest stages (wall +
task time + shuffle bytes), so "where does the wall go" is answered
from data, not guesses.

Usage: python profile_r13.py [--sf DIR] [--runs N] query [query ...]
Writes JSON to stdout; plans to plans/r13/<q>_profile.txt if --plans.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = 3
    dump_plans = False
    queries = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        elif a == "--runs":
            runs = int(argv[i + 1])
            i += 2
        elif a == "--plans":
            dump_plans = True
            i += 1
        else:
            queries.append(a)
            i += 1

    evdir = tempfile.mkdtemp(prefix="dei_evlog_")

    from pyspark.sql import SparkSession

    from data_engineering_individual_assignment_spark.session import local_cpus

    cpus = local_cpus()
    spark = (
        SparkSession.builder.appName("dei-profile-r13")
        .master(f"local[{cpus}]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.warehouse.dir", "/tmp/dei-spark-warehouse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from data_engineering_individual_assignment_spark import plans
    from data_engineering_individual_assignment_spark.operators.dedup import (
        release_intermediates,
    )

    # warm JVM/classloading once
    plans.CATALOG["pricing_summary"].fn(spark, sf_dir).count()

    results = {}
    for name in queries:
        q = plans.CATALOG[name]
        best = None
        for r in range(runs):
            release_intermediates()
            group = f"{name}#r{r}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            spark.sparkContext.setJobGroup(None, None)
            rec = {
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "group": group,
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
            if dump_plans and r == 0:
                os.makedirs("plans/r13", exist_ok=True)
                with open(f"plans/r13/{name}_profile.txt", "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        release_intermediates()
        results[name] = best

    appid = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log: group -> jobs -> stages -> task metrics
    # Spark 4 rolling layout: eventlog_v2_<appid>/events_N_<appid>[.codec]
    def _iter_event_lines():
        roots = [
            os.path.join(evdir, f)
            for f in os.listdir(evdir)
            if appid in f
        ]
        files = []
        for r in roots:
            if os.path.isdir(r):
                files += [
                    os.path.join(r, f)
                    for f in sorted(os.listdir(r))
                    if f.startswith("events_")
                ]
            else:
                files.append(r)
        for path in files:
            if path.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["zstd", "-dc", path], capture_output=True, check=True
                )
                yield from out.stdout.decode().splitlines()
            else:
                with open(path) as fh:
                    yield from fh
    stages_meta = {}          # stageId -> dict
    stage_task_ms = {}        # stageId -> summed executor run time
    stage_task_n = {}
    stage_shuffle_read = {}
    stage_shuffle_write = {}
    job_group_jobs = {}       # group -> [jobId]
    job_stages = {}           # jobId -> [stageIds]
    if True:
        for line in _iter_event_lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jid = ev["Job ID"]
                job_group_jobs.setdefault(grp, []).append(jid)
                job_stages[jid] = [
                    s["Stage ID"] for s in ev.get("Stage Infos", [])
                ]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages_meta[sid] = {
                    "name": si.get("Stage Name", "")[:80],
                    "n_tasks": si.get("Number of Tasks"),
                    "wall_ms": (si.get("Completion Time", 0) or 0)
                    - (si.get("Submission Time", 0) or 0),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                stage_task_ms[sid] = stage_task_ms.get(sid, 0) + tm.get(
                    "Executor Run Time", 0
                )
                stage_task_n[sid] = stage_task_n.get(sid, 0) + 1
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                stage_shuffle_read[sid] = stage_shuffle_read.get(sid, 0) + (
                    srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                )
                stage_shuffle_write[sid] = stage_shuffle_write.get(sid, 0) + swm.get(
                    "Shuffle Bytes Written", 0
                )

    for name, rec in results.items():
        jids = job_group_jobs.get(rec["group"], [])
        sids = sorted({s for j in jids for s in job_stages.get(j, [])})
        # only stages that actually ran (skipped stages never complete)
        ran = [s for s in sids if s in stages_meta]
        rec["n_jobs"] = len(jids)
        rec["n_stages_ran"] = len(ran)
        rec["task_time_s"] = round(
            sum(stage_task_ms.get(s, 0) for s in ran) / 1000.0, 3
        )
        tops = sorted(
            ran, key=lambda s: stages_meta[s]["wall_ms"], reverse=True
        )[:8]
        rec["top_stages"] = [
            {
                "id": s,
                "wall_ms": stages_meta[s]["wall_ms"],
                "task_ms": stage_task_ms.get(s, 0),
                "n_tasks": stages_meta[s]["n_tasks"],
                "shuf_r_mb": round(stage_shuffle_read.get(s, 0) / 1e6, 2),
                "shuf_w_mb": round(stage_shuffle_write.get(s, 0) / 1e6, 2),
                "name": stages_meta[s]["name"],
            }
            for s in tops
        ]
        del rec["group"]
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
