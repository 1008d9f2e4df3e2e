"""Profile one or more declared queries: wall time, Spark job/stage/task
counts, shuffle bytes, and ``explain("formatted")`` capture.

Usage::

    python tools/profile_entry.py [--plans DIR --suffix _before] name1 name2 ...

Runs each named ``__spark_entry__.queries()`` entry once on a fresh
session with the Spark event log enabled, then parses the event log to
attribute jobs/stages/tasks and shuffle volume to the entry (guide §1:
measure first; §7.2: read the plan). With ``--plans`` the formatted
physical plan of each entry is written to ``DIR/<name><suffix>.txt``.

The timed action is ``df.count()`` — the same action bench.py times —
so numbers here are comparable to BENCH_FULL.json. Job/stage/task
counts are the point of this tool; bench.py stays the wall-clock
arbiter.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    import shutil
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    import __spark_entry__ as E
    from pidb_rdf_spark.session import get_spark

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # same warm-up as bench.py
    qs["bgp_three_hop"](spark, SF_DIR).count()

    marks: dict[str, tuple[float, float, float]] = {}
    for name in args.names:
        fn = qs[name]
        best = None
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"entry:{name}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t_build = time.time()
            df.count()
            t1 = time.time()
            best = (
                (t0, t1, t_build - t0)
                if best is None or (t1 - t0) < (best[1] - best[0])
                else best
            )
            spark.sparkContext.setJobDescription(None)
        marks[name] = best
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(
                os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log --------------------------------------
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        # Spark 4 rolling layout: eventlog_v2_<appId>/events_*_<appId>
        d = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
        parts = sorted(
            f for f in os.listdir(d) if f.startswith("events_")
        )
        merged = os.path.join("/tmp", f"events_{app_id}.jsonl")
        with open(merged, "w") as out:
            for p in parts:
                with open(os.path.join(d, p)) as src:
                    out.write(src.read())
        path = merged
    jobs = []  # (t_submit, t_end, job_id, desc, n_stages)
    stage_tasks: dict[int, int] = {}
    stage_shuffle: dict[int, list[float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({
                    "id": ev["Job ID"],
                    "t0": ev["Submission Time"] / 1e3,
                    "desc": props.get("spark.job.description", ""),
                    "stages": len(ev.get("Stage Infos", [])),
                })
            elif et == "SparkListenerJobEnd":
                for j in jobs:
                    if j["id"] == ev["Job ID"]:
                        j["t1"] = ev["Completion Time"] / 1e3
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
                m = ev.get("Task Metrics") or {}
                srm = (m.get("Shuffle Read Metrics") or {})
                swm = (m.get("Shuffle Write Metrics") or {})
                stage_shuffle.setdefault(sid, [0, 0])
                stage_shuffle[sid][0] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                stage_shuffle[sid][1] += swm.get("Shuffle Bytes Written", 0)

    # attribute jobs to entries by job description
    for name in args.names:
        t0, t1, tb = marks[name]
        sel = [j for j in jobs if j.get("desc") == f"entry:{name}"]
        print(f"\n=== {name}: wall {t1 - t0:.2f}s (build {tb:.2f}s), "
              f"{len(sel)} jobs ===")
        tot_sh = 0
        for j in sorted(sel, key=lambda x: x["t0"]):
            dur = (j.get("t1", j["t0"]) - j["t0"])
            print(f"  job {j['id']:4d}  {dur*1e3:7.0f} ms  "
                  f"{j['stages']} stages")

    # global stage/task summary within each entry's window
    with open(path) as f:
        stage_info = {}
        for line in f:
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_info[si["Stage ID"]] = {
                    "t0": si.get("Submission Time", 0) / 1e3,
                    "t1": si.get("Completion Time", 0) / 1e3,
                    "name": si.get("Stage Name", "")[:60],
                    "n": si.get("Number of Tasks", 0),
                }
    for name in args.names:
        t0, t1, _ = marks[name]
        sids = [s for s, d in stage_info.items() if d["t0"] >= t0 and d["t1"] <= t1 + 1]
        n_tasks = sum(stage_info[s]["n"] for s in sids)
        sh_r = sum(stage_shuffle.get(s, [0, 0])[0] for s in sids)
        sh_w = sum(stage_shuffle.get(s, [0, 0])[1] for s in sids)
        print(f"\n{name}: {len(sids)} stages, {n_tasks} tasks, "
              f"shuffle read {sh_r/1e6:.1f} MB written {sh_w/1e6:.1f} MB")
        for s in sorted(sids):
            d = stage_info[s]
            print(f"  stage {s:4d}  {(d['t1']-d['t0'])*1e3:6.0f} ms  "
                  f"{d['n']:4d} tasks  {d['name']}")


if __name__ == "__main__":
    main()
