"""Diagnose steady-write scaling: build the flagship once, then time
TWO warm noop writes with
event logging on, and print a per-stage table (wall, tasks, total
task time, max task) for the second write's job(s).

Usage: python scripts/profile_steady_scaling.py CPUS [replicate] [sf_dir]
"""

import json
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1])
REP = int(sys.argv[2]) if len(sys.argv) > 2 else 16
SF = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
EVDIR = f"/tmp/spark-events-{CPUS}"


def main():
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    from osmzen_spark.session import get_spark

    spark = get_spark(
        app_name=f"steady-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            # survive host-stall-induced worker crashes; get tracebacks
            "spark.task.maxFailures": "4",
            "spark.python.worker.faulthandler.enabled": "true",
        },
    )
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    t0 = time.time()
    out, engine = bench.flagship(spark, SF, replicate=REP)
    bench._noop(out)
    build = time.time() - t0
    t0 = time.time()
    bench._noop(out)
    w1 = time.time() - t0
    sc = spark.sparkContext
    sc.setJobGroup("steady2", "timed steady write")
    t0 = time.time()
    bench._noop(out)
    w2 = time.time() - t0
    sc.setJobGroup("", "")
    print(f"cpus={CPUS} rep={REP} build={build:.1f}s warm1={w1:.1f}s warm2={w2:.1f}s", flush=True)
    spark.stop()

    # ---- parse the event log for the steady2 job group ----
    ev = []
    for root, _dirs, files in os.walk(EVDIR):
        for f in files:
            if "events" in f and not f.endswith(".crc"):
                ev.append(os.path.join(root, f))
    ev.sort(key=os.path.getmtime)
    jobs = {}
    stages = {}
    target_jobs = set()
    def lines():
        import io
        import subprocess

        for path in ev:
            if path.endswith(".zstd"):
                # Spark 4's rolling event log v2 compresses with zstd
                out = subprocess.run(
                    ["zstd", "-d", "-c", path], capture_output=True, check=True
                ).stdout
                yield from io.StringIO(out.decode(errors="replace"))
            else:
                with open(path, errors="replace") as f:
                    yield from f

    if True:
        for line in lines():
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev_type = e.get("Event")
            if ev_type == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if props.get("spark.jobGroup.id") == "steady2":
                    target_jobs.add(e["Job ID"])
                    for s in e.get("Stage Infos", []):
                        stages[s["Stage ID"]] = {
                            "name": s["Stage Name"].split("\n")[0][:70],
                            "tasks": s["Number of Tasks"],
                        }
                    jobs[e["Job ID"]] = e.get("Submission Time", 0)
            elif ev_type == "SparkListenerStageCompleted":
                s = e["Stage Info"]
                sid = s["Stage ID"]
                if sid in stages and "Submission Time" in s and "Completion Time" in s:
                    stages[sid]["wall_s"] = (s["Completion Time"] - s["Submission Time"]) / 1e3
            elif ev_type == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                if sid in stages:
                    st = stages[sid]
                    m = e.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0) / 1e3
                    st["task_total_s"] = st.get("task_total_s", 0.0) + run
                    st["task_max_s"] = max(st.get("task_max_s", 0.0), run)
                    st["cpu_total_s"] = st.get("cpu_total_s", 0.0) + m.get(
                        "Executor CPU Time", 0
                    ) / 1e9
                    st["n_done"] = st.get("n_done", 0) + 1
    rows = sorted(
        (s for s in stages.values() if "wall_s" in s),
        key=lambda s: -s["wall_s"],
    )
    total_wall = sum(s["wall_s"] for s in rows)
    print(f"-- steady2 stages (sum wall {total_wall:.1f}s; overlapping stages possible) --")
    print(f"{'wall':>7} {'tasks':>5} {'sumTask':>8} {'maxTask':>8} {'sumCPU':>8}  name")
    for s in rows[:20]:
        print(
            f"{s['wall_s']:7.1f} {s.get('n_done',0):5d} {s.get('task_total_s',0):8.1f}"
            f" {s.get('task_max_s',0):8.1f} {s.get('cpu_total_s',0):8.1f}  {s['name']}"
        )


main()
