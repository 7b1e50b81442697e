"""Per-query profiler (optimization guide §1): run one declared query
against the noop sink with event logging on, then split the wall clock
into driver-side gaps vs job execution and report per-job/stage times.

Usage: python tools/profile_query.py SF_DIR QUERY [QUERY ...]
Emits one JSON line per query:
  {"query", "build_s" (plan construction incl. driver-side collects),
   "exec_s" (noop write), "n_jobs", "job_s" (sum of job wall),
   "gap_s" (wall - union of job intervals = driver think time),
   "top_stages": [[name, seconds, tasks], ...]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _union_seconds(ivals: list[tuple[float, float]]) -> float:
    tot = 0.0
    for a, b in sorted(ivals):
        if b <= a:
            continue
        tot += b - a
    return tot


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    import tempfile

    evdir = tempfile.mkdtemp(prefix="ws_evlog_")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    # event logging is set at JVM launch, so the session is get_spark's own
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{evdir}",
            "--conf spark.eventLog.compress=false",
            "pyspark-shell",
        ]
    )
    from wallaroo_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    from wallaroo_spark.queries import QUERIES

    # warm codegen/session paths once, like bench.py
    QUERIES["global_collect_agg"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    reps = int(os.environ.get("PROFILE_REPS", "2"))
    for name in names:
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"profile:{name}#{rep}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            spark.sparkContext.setJobDescription(None)
            print(
                json.dumps(
                    {
                        "query": f"{name}#{rep}",
                        "build_s": round(t1 - t0, 3),
                        "exec_s": round(t2 - t1, 3),
                        "total_s": round(t2 - t0, 3),
                    }
                ),
                flush=True,
            )

    # parse the event log for job/stage structure
    spark.stop()
    import glob

    logs = sorted(glob.glob(f"{evdir}/*"), key=os.path.getmtime)
    log = logs[-1]
    if os.path.isdir(log):  # rolling/v2 event-log layout: a directory
        inner = sorted(glob.glob(f"{log}/events_*"), key=os.path.getmtime)
        log = inner[-1]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(log) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:80],
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                    "tasks": si.get("Number of Tasks"),
                }
    per_query: dict[str, list] = {}
    for jid, j in jobs.items():
        if "t1" not in j:
            continue
        per_query.setdefault(j["desc"], []).append(j)
    for desc, js in per_query.items():
        if not desc.startswith("profile:"):
            continue
        ivals = [(j["t0"] / 1000.0, j["t1"] / 1000.0) for j in js]
        wall = max(b for _, b in ivals) - min(a for a, _ in ivals)
        stage_rows = []
        for j in js:
            for sid in j["stages"]:
                s = stages.get(sid)
                if s and s.get("t0") and s.get("t1"):
                    stage_rows.append(
                        (s["name"], (s["t1"] - s["t0"]) / 1000.0, s["tasks"])
                    )
        stage_rows.sort(key=lambda r: -r[1])
        print(
            json.dumps(
                {
                    "query": desc[8:],
                    "n_jobs": len(js),
                    "jobs_wall_s": round(wall, 3),
                    "jobs_busy_s": round(_union_seconds(ivals), 3),
                    "top_stages": [
                        [n, round(sec, 3), t] for n, sec, t in stage_rows[:12]
                    ],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
