"""Per-job time attribution for a single registered query (guide §1).

Runs one query under a session with event logging enabled, then parses
the event log to print every Spark job (description, wall, stages,
task time, shuffle bytes) plus the gaps BETWEEN jobs (driver-side /
Python-side time), so a 13 s streaming lifecycle query can be broken
into its actual costs instead of guessed at.

Usage:
    python tools/profile_query.py <query_name> [--sf DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVLOG = "/tmp/spark-events-profile"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--top", type=int, default=40, help="print top-N jobs by wall")
    args = ap.parse_args()

    shutil.rmtree(EVLOG, ignore_errors=True)
    os.makedirs(EVLOG, exist_ok=True)

    from mo_etl_spark.session import get_spark

    # the bench session (get_spark), plus event logging
    spark = get_spark(
        app_name="profile",
        extra_confs={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVLOG,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # warmup (same as bench)
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()

    for name in args.names:
        for r in range(args.runs):
            t0 = time.time()
            marker = f"PROFILE:{name}:run{r}"
            spark.sparkContext.setJobDescription(marker)
            df = qs[name](spark, args.sf)
            df.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            print(f"\n=== {name} run{r}: wall={wall:.2f}s ===")
            spark.sparkContext.setJobDescription(None)

    spark.stop()
    time.sleep(1.0)

    # ---- parse the event log ----
    logs = sorted(
        glob.glob(os.path.join(EVLOG, "*")) + glob.glob(os.path.join(EVLOG, "*", "events_*")),
        key=os.path.getmtime,
    )
    logs = [p for p in logs if os.path.isfile(p)]
    if not logs:
        print("no event log found", file=sys.stderr)
        return
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(logs[-1]) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": props.get("spark.job.description", "")[:120],
                    "group": props.get("spark.jobGroup.id", ""),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "end": None,
                }
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:80],
                    "wall": (comp - sub) / 1000.0 if sub and comp else 0.0,
                    "ntasks": si.get("Number of Tasks", 0),
                }

    ordered = sorted(jobs.items(), key=lambda kv: kv[1]["start"])
    print("\n--- timeline (job wall + inter-job gap) ---")
    prev_end = None
    total_job = 0.0
    total_gap = 0.0
    rows = []
    for jid, j in ordered:
        if j["end"] is None:
            continue
        wall = (j["end"] - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end else 0.0
        prev_end = j["end"]
        total_job += wall
        total_gap += max(gap, 0.0)
        rows.append((jid, wall, gap, j["desc"]))
    for jid, wall, gap, desc in rows:
        flag = " <GAP>" if gap > 0.2 else ""
        print(f"job {jid:4d}  wall={wall:6.2f}s  gap_before={gap:6.2f}s{flag}  {desc}")
    print(f"\nsum(job wall)={total_job:.2f}s  sum(gaps)={total_gap:.2f}s  n_jobs={len(rows)}")

    print(f"\n--- top {args.top} stages by wall ---")
    for sid, s in sorted(stages.items(), key=lambda kv: -kv[1]["wall"])[: args.top]:
        print(f"stage {sid:4d}  wall={s['wall']:6.2f}s  tasks={s['ntasks']:3d}  {s['name']}")


if __name__ == "__main__":
    main()
