"""Profile one or more registry queries: wall time, Spark job count,
per-job wall, stage shuffle bytes — from the event log, so no UI needed.

Usage: python tools/profile_query.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), PROFILE_RUNS
(default 2: pass 1 warms codegen/readers, pass 2 is the measured one —
the event-log job/stage breakdown covers the LAST pass only).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query> [query ...]")
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("PROFILE_RUNS", "2"))
    evdir = tempfile.mkdtemp(prefix="spark-ev-")

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("profile-query")
        .config("spark.driver.memory", "32g")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.serializer",
                "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from xdlake_spark.queries import queries
    qs = queries()

    for name in names:
        fn = qs[name]
        times = []
        for i in range(n_runs):
            # select by job group, not description: Spark renames its
            # file-listing job ("Listing leaf files and directories for
            # N paths") and keeps only the group
            group = f"{name} pass{i}"
            spark.sparkContext.setJobGroup(group, group)
            marker = f"__PROFILE_{name}_{i}__"
            spark.sparkContext.setLocalProperty("callSite.short", marker)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        print(f"\n=== {name}: "
              f"{' '.join(f'{t:.2f}s' for t in times)} ===")
        sys.stdout.flush()

    spark.stop()

    # parse the event log: jobs of the LAST pass of each query
    import glob
    logs = sorted(glob.glob(os.path.join(evdir, "*")),
                  key=os.path.getmtime)
    target = logs[-1]
    if os.path.isdir(target):  # rolling event log v2 writes a directory
        parts = sorted(glob.glob(os.path.join(target, "events_*")))
        lines = []
        for p in parts:
            if p.endswith(".zstd"):
                import zstandard
                raw = zstandard.ZstdDecompressor().stream_reader(
                    open(p, "rb")).read()
            else:
                raw = open(p, "rb").read()
            lines.extend(raw.decode("utf-8", "replace").splitlines())
    else:
        lines = open(target, "rb").read().decode(
            "utf-8", "replace").splitlines()
    jobs = {}          # jobId -> dict
    stages = {}        # stageId -> dict
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties", {})
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"]
                               for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", "")[:60],
                    "tasks": si.get("Number of Tasks", 0),
                    "t0": si.get("Submission Time", 0),
                    "t1": si.get("Completion Time", 0),
                }

    for name in names:
        last = f"{name} pass{n_runs - 1}"
        sel = {j: d for j, d in jobs.items() if d["group"] == last}
        if not sel:
            continue
        tot = sum(d.get("t1", d["t0"]) - d["t0"] for d in sel.values())
        print(f"\n--- {name}: {len(sel)} jobs, "
              f"{tot / 1000:.2f}s summed job wall ---")
        for j in sorted(sel):
            d = sel[j]
            dur = (d.get("t1", d["t0"]) - d["t0"]) / 1000
            done = [s for s in d["stages"] if s in stages]
            stage_txt = "; ".join(
                f"s{s}:{stages[s]['tasks']}t:"
                f"{(stages[s]['t1'] - stages[s]['t0']) / 1000:.2f}s"
                for s in sorted(done))
            print(f"  job {j}: {dur:6.2f}s  [{stage_txt}]")


if __name__ == "__main__":
    main()
