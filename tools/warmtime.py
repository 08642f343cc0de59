"""Solo-warm min-of-N timing for a set of queries (guide §1).

The sandbox VM shows intermittent multi-x steal-time noise, so a
single reading is untrustworthy; this runs each named query N times in
one warmed session (noop sink, same methodology as bench.py) and
records the min — the number that tracks the plan, not the co-tenant.

Usage:
    python tools/warmtime.py [--runs 3] [--json OUT] name ...
    python tools/warmtime.py --top 30            # slowest 30 from BENCH_DETAIL
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--json", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--stats",
        action="store_true",
        help="also count jobs/tasks + summed task time per run via the "
        "event log — deterministic structure metrics that survive the "
        "sandbox's bursty CPU-steal noise",
    )
    args = ap.parse_args()
    evlog = "/tmp/spark-events-warmtime"
    extra_confs = {}
    if args.stats:
        import shutil

        shutil.rmtree(evlog, ignore_errors=True)
        os.makedirs(evlog, exist_ok=True)
        extra_confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    names = list(args.names)
    if args.top:
        from mo_etl_spark.session import ENGINE_ROOT

        with open(os.path.join(ENGINE_ROOT, "BENCH_DETAIL.json")) as f:
            det = json.load(f)["queries"]
        names += [k for k, _ in sorted(det.items(), key=lambda kv: -kv[1])[: args.top] if k not in names]

    import __spark_entry__ as entrymod
    from mo_etl_spark.session import get_spark

    spark = get_spark(app_name="warmtime", extra_confs=extra_confs)
    qs = entrymod.queries()
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()

    out: dict[str, dict] = {}
    windows: dict[str, list[tuple[float, float]]] = {}
    for name in names:
        runs = []
        spans = []
        for _ in range(args.runs):
            t0 = time.time()
            qs[name](spark, args.sf).write.mode("overwrite").format("noop").save()
            t1 = time.time()
            runs.append(round(t1 - t0, 3))
            spans.append((t0 * 1000.0, t1 * 1000.0))
        out[name] = {"min": min(runs), "runs": runs}
        windows[name] = spans
        print(f"{min(runs):8.2f}s  (runs: {runs})  {name}", flush=True)

    if args.stats:
        spark.stop()
        time.sleep(1.0)
        _attach_stats(evlog, out, windows)
        for name in names:
            s = out[name].get("stats") or []
            pretty = " | ".join(
                f"jobs={r['jobs']} tasks={r['tasks']} task_s={r['task_sec']}"
                f" busy={r['busy_sec']} gap={r['gap_sec']}"
                for r in s
            )
            print(f"STATS {name}: {pretty}")

    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nsum of minima: {sum(v['min'] for v in out.values()):.2f}s over {len(out)} queries")


def _attach_stats(evlog: str, out: dict, windows: dict) -> None:
    """Per-run job/task counts + summed task wall from the event log —
    the run is identified by its wall-clock window."""
    import glob
    import json as _json

    logs = [p for p in glob.glob(os.path.join(evlog, "*")) if os.path.isfile(p)]
    if not logs:
        return
    jobs = []  # (submit_ms,)
    tasks = []  # (launch_ms, duration_ms)
    with open(max(logs, key=os.path.getmtime)) as f:
        for line in f:
            try:
                ev = _json.loads(line)
            except Exception:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"])
            elif et == "SparkListenerTaskEnd":
                ti = ev.get("Task Info") or {}
                lt = ti.get("Launch Time")
                ft = ti.get("Finish Time")
                if lt and ft:
                    tasks.append((lt, ft - lt))

    def _busy_ms(ivals: list[tuple[float, float]]) -> float:
        """Union coverage of (start, end) task intervals — wall time
        with at least one task running.  window_wall - busy is the
        DRIVER-SIDE gap (planning, scheduling, py4j, commit), the
        number the per-trigger-planning optimization watches."""
        if not ivals:
            return 0.0
        ivals = sorted(ivals)
        total, cs, ce = 0.0, ivals[0][0], ivals[0][1]
        for s, e in ivals[1:]:
            if s > ce:
                total += ce - cs
                cs, ce = s, e
            else:
                ce = max(ce, e)
        return total + (ce - cs)

    for name, spans in windows.items():
        stats = []
        for lo, hi in spans:
            nj = sum(1 for t in jobs if lo <= t <= hi)
            nt = [(t, d) for t, d in tasks if lo <= t <= hi]
            busy = _busy_ms([(t, t + d) for t, d in nt])
            stats.append(
                {
                    "jobs": nj,
                    "tasks": len(nt),
                    "task_sec": round(sum(d for _, d in nt) / 1000.0, 2),
                    "busy_sec": round(busy / 1000.0, 2),
                    "gap_sec": round(max(0.0, (hi - lo) - busy) / 1000.0, 2),
                }
            )
        out[name]["stats"] = stats


if __name__ == "__main__":
    main()
