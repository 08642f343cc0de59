"""Benchmark runner (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set — updated as suites grow; kept to the queries that
#: exercise the heaviest plans (scan+agg, joins, windows, dedup, knn)
HEADLINE: list[str] | None = None  # None -> all registered queries


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from mo_etl_spark.session import get_spark
    from mo_etl_spark.tables import cache_path

    spark = get_spark(app_name="bench")
    qs = entrymod.queries()
    names = HEADLINE or list(qs)
    # stream_real_* runs LAST (VERDICT r5 item #5): the multi-trigger
    # streams are the queries most sensitive to session/host churn
    # (state-store init, trigger scheduling), and mid-bench readings
    # of them have measured 3x their solo-warm walls; tail position +
    # the retime pass below keeps their recorded numbers within the
    # solo-warm regime round-over-round
    names = [n for n in names if not n.startswith("stream_real_")] + [
        n for n in names if n.startswith("stream_real_")
    ]

    # one-time warmup (untimed): JVM codegen, parquet reader, and the
    # Arrow python-worker pool all pay a first-use cost that would
    # otherwise be billed to whichever query happens to run first
    try:
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        spark.range(64).mapInPandas(
            lambda it: it, "id long"
        ).count()
    except Exception as e:
        print(f"# bench warmup skipped: {e!r}", file=sys.stderr)

    # host contention flag (VERDICT r2 item #7): BENCH_r02's 391 s
    # was a contended-host reading that needed manual standalone
    # re-times to diagnose — record loadavg before/after so a hot
    # host is machine-visible in the artifact itself
    load_before = os.getloadavg()

    # COLD-CACHE VISIBILITY (VERDICT r11 item #9): some serving queries
    # reuse persisted, mtime-invalidated fixture caches (the feed
    # parquet drops, the _ivf_vec_index builds under the sf's
    # cache_path dir).
    # Record which top-level cache entries each query CREATED OR
    # REWROTE this run, so the warm-cache assumption is machine-visible
    # in BENCH_DETAIL instead of a BASELINE.md footnote.  Driver-only
    # scandir of the small per-sf cache dir — never a Spark job.
    cache_dir = cache_path(sf_dir, "")

    def _cache_state() -> dict[str, float]:
        try:
            return {
                e.name: e.stat().st_mtime
                for e in os.scandir(cache_dir)
            }
        except OSError:
            return {}

    cache_warm_at_start = sorted(_cache_state())
    cache_builds: dict[str, list[str]] = {}

    def _run_once(name: str) -> float:
        """One timed noop-sink execution; -1.0 on error."""
        snap = _cache_state()
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            # noop sink: executes the FULL plan (all columns, all rows)
            # without driver-side Row materialization — a 1M-row result
            # costs seconds of pure Python object churn under collect(),
            # which benchmarks the driver process, not the engine
            df.write.mode("overwrite").format("noop").save()
            wall = round(time.time() - t0, 3)
        except Exception as e:  # bench must always emit its JSON line
            print(f"# bench error {name}: {e!r}", file=sys.stderr)
            return -1.0
        after = _cache_state()
        built = sorted(
            k for k, m in after.items() if m > snap.get(k, -1.0)
        )
        if built:
            cache_builds.setdefault(name, [])
            cache_builds[name] = sorted(set(cache_builds[name]) | set(built))
        return wall

    timings: dict[str, float] = {}
    t_all = time.time()
    for name in names:
        timings[name] = _run_once(name)
    first_pass_wall = round(time.time() - t_all, 3)
    raw_subtotal = round(sum(t for t in timings.values() if t >= 0), 3)
    # SYMMETRIC min-of-2 (VERDICT r11 item #2): the r11 retime pass
    # re-ran only slower-than-reference readings (keeping the min, up
    # to 3 chances) while faster ones kept their single first reading —
    # a ratchet that structurally biased the recorded series against
    # ever showing a regression.  Now EVERY query gets exactly two
    # runs and the min is recorded: first-run outliers (JIT, cache
    # cold-starts, a transient co-tenant) stop looking like
    # regressions, and fast flukes get the same second look as slow
    # ones.  Every rerun is a real re-execution in this same session
    # (uuid-fresh scratch dirs, replay-idempotent sinks); the
    # discarded first readings stay in retimed_first_runs so the size
    # and DIRECTION of the correction is machine-visible.
    retimed: dict[str, float] = {}
    for name in names:
        if timings[name] < 0:
            continue
        second = _run_once(name)
        if 0 <= second < timings[name]:
            retimed[name] = timings[name]  # discarded first run
            timings[name] = second

    # STABLE-INTERSECTION companion metric (VERDICT r8 what's-wrong #1):
    # the headline total is composition-sensitive — every round adds
    # intrinsically expensive lifecycle queries, so the one number the
    # driver records drifts upward even when nothing regressed.  Emit
    # the subtotal over the PINNED round-2 closing battery (321 query
    # names, tools/stable_r2_queries.json, r2 total 257.8 s) so the
    # recorded artifact is round-comparable without BENCH_DETAIL
    # forensics: stable_r2_subtotal / 257.8 is the drift ratio on the
    # unchanged query set.
    stable_meta: dict = {}
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tools",
                "stable_r2_queries.json",
            )
        ) as f:
            pinned = json.load(f)
        hit = [n for n in pinned["queries"] if timings.get(n, -1.0) >= 0]
        stable_meta = {
            "stable_r2_subtotal": round(sum(timings[n] for n in hit), 3),
            "stable_r2_n": len(hit),
            "stable_r2_baseline_total": pinned["r2_total_sec"],
        }
        # ADVICE r9 low: an errored pinned query silently dropped from
        # the subtotal while the ratio denominator stayed the full r2
        # total would bias the drift ratio LOW.  The pinned file now
        # ships per-query r2 timings, so also emit the baseline
        # restricted to the same hit set — the honest denominator —
        # and name the misses outright.
        per_q = pinned.get("per_query") or {}
        if per_q:
            stable_meta["stable_r2_baseline_hit_subtotal"] = round(
                sum(per_q.get(n, 0.0) for n in hit), 3
            )
        missed = [n for n in pinned["queries"] if timings.get(n, -1.0) < 0]
        if missed:
            stable_meta["stable_r2_missing"] = missed
    except Exception as e:
        print(f"# bench stable-subtotal skipped: {e!r}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # HEADLINE = sum of the per-query timings AFTER the retime pass
    # (VERDICT r10 item #5): the raw first-pass wall drifted ~15% with
    # ambient co-tenant load (567.1 s loaded vs 493.1 s quiet for
    # identical r10 code) because inflated readings of sub-second
    # queries were billed to the total even when the retime pass had
    # already measured them cheaper.  The per-query minima ARE the
    # load-robust readings, so their sum is the one number the driver
    # should record; the raw first-pass wall and subtotal stay in the
    # artifact (ADVICE r10 low: surface BOTH aggregates plus the retime
    # count, so the direction and size of the retime correction is
    # machine-visible rather than a silent bias).
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # full per-query detail goes to a file; stdout gets ONE SMALL JSON
    # line (r1 driver truncated the 308-entry line and recorded
    # parsed=null — VERDICT r1 item #5)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    summary = {
        "metric": "sum_per_query_wall_retimed",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": sum(1 for v in timings.values() if v < 0),
        "queries": slowest,
        "detail_file": detail_path,
        "first_pass_wall": first_pass_wall,
        # the r10 headline metric, kept verbatim so round-over-round
        # comparisons can be made raw-to-raw as well as min2-to-min2
        # (VERDICT r11 item #2: dual-aggregate continuity)
        "total_wall_clock_all_queries": raw_subtotal,
        "raw_subtotal": raw_subtotal,
        "n_retimed": len(retimed),
        "retime_correction": round(raw_subtotal - total, 3),
        # every query ran exactly twice; min recorded (no asymmetric
        # slow-only retimes, no early stop against a reference)
        "retime_policy": "min_of_2_all_queries",
        **stable_meta,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # 1-min loadavg at start/end; n_cpus for context.  start >>
        # n_cpus means other tenants were burning the box before we
        # began and per-query walls are inflated — re-time standalone
        # before treating any regression as real
        "host_load": {
            "start_1m": round(load_before[0], 2),
            "end_1m": round(os.getloadavg()[0], 2),
            "n_cpus": os.cpu_count(),
        },
    }
    with open(detail_path, "w") as f:
        json.dump(
            {
                **summary,
                "queries": timings,
                "retimed_first_runs": retimed,
                # VERDICT r11 item #9: which persisted fixture caches
                # were warm when the bench started, and which queries
                # built/rewrote one during their timed run (their
                # readings INCLUDE the build cost; everyone else's
                # reuse is now machine-visible, not a footnote)
                "cache_warm_at_start": cache_warm_at_start,
                "cache_builds_during_run": cache_builds,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
