"""mo_etl_spark benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run starts one SparkSession on
``local[<nproc>]`` through the engine's ``get_spark``, runs untimed
warm-up passes, then the workload's correctness check (every query
against its DuckDB twin; the ingest workload checks each read-back),
then timed passes until ``--seconds`` have passed and the workload's
minimum op count is reached.  With
``--trace 0`` it reports the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` it records spans and Spark's event log and reports the
per-layer metrics instead.  Everything the run writes goes under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: JVM settings of every run (a shared 4-core host: a small heap)
DRIVER_MEMORY = "3g"
#: a fixed heap size (-Xms = the driver memory) keeps the generation
#: sizes, and so the process tree's PSS, from depending on GC timing;
#: the C1-only JIT settles within the warm-up a run can afford, where
#: C2 was still compiling through the timed passes.  C1 alone gets a
#: 48 MB code cache, which Spark's generated code filled within two
#: minutes (then the sweeper flushed it and every pass recompiled), and
#: its default thresholds left Catalyst code that runs a few times per
#: query compiling for tens of passes; hence the larger cache and the
#: lower thresholds (see README.md)
JVM_OPTS = (
    f"-Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1 -XX:+UseParallelGC "
    "-XX:MaxMetaspaceSize=1g -XX:ReservedCodeCacheSize=512m "
    "-XX:CompileThresholdScaling=0.05"
)


def session_env(work: str, event_dir: str | None) -> None:
    """Settings of the engine's own session factory, ``get_spark``, for
    this run: heap and JVM options through its environment variables,
    with every path the JVM writes under this run's work directory (the
    last ``-D`` of a property wins), and Spark's event log for the
    traced run through the launcher's arguments."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_GC_OPTS"] = (
        f"{JVM_OPTS} -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
    )
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )


class Ctx:
    def __init__(self, spark, sf_dir: str, work: str, rng: random.Random):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.rng = rng


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from procfs import tree_pids

    # the Python worker daemon is the JVM's child: once the JVM is gone
    # it is no longer our descendant, so wait on the pids seen now
    started = tree_pids()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def alive() -> list[int]:
        out = []
        for pid in started:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(pid)
            except (OSError, IndexError):
                pass
        return out

    deadline = time.monotonic() + 20
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.05)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile: the smallest sample with at least a share
    ``q`` of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def cache_state(path: str) -> dict[str, float]:
    """Top-level entries of the engine's fixture-cache directory for one
    scale factor with their mtimes (the scandir check bench.py makes);
    no directory, no entries."""
    try:
        return {e.name: e.stat().st_mtime for e in os.scandir(path)}
    except FileNotFoundError:
        return {}


def layer_metrics(tracer, groups: dict, n_passes: int) -> dict:
    """Per-layer metrics of the timed passes, per pass.  The tracer holds
    only the timed passes' spans."""
    from spans import self_times, union_ms

    self_t = self_times(tracer.spans)
    spans = tracer.spans
    timed_ops = {s[2] for s in spans if s[3] == "op"}
    by_name: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    op_wall: dict[str, float] = {}
    children: dict[int, float] = defaultdict(float)
    for s in spans:
        by_name[s[3]] += self_t[s[0]]
        calls[s[3]] += 1
        if s[3] == "op":
            op_wall[s[2]] = s[5] - s[4]
        if s[1] is not None:
            children[s[1]] += s[5] - s[4]
    notes: dict[str, list[float]] = defaultdict(list)
    for op, key, value in tracer.notes:
        if op in timed_ops:
            notes[key].append(value)
    op_groups: dict[str, list[dict]] = defaultdict(list)
    build_jobs = 0
    for grp, rec in groups.items():
        op, _, phase = grp.partition("|")
        if op in timed_ops:
            op_groups[op].append(rec)
            if phase == "query.build":
                build_jobs += rec["jobs"]
    allg = [r for recs in op_groups.values() for r in recs]
    gap = sum(
        wall - union_ms([iv for r in op_groups.get(op, []) for iv in r["intervals"]]) / 1e3
        for op, wall in op_wall.items()
    )
    unspanned = sum(s[5] - s[4] - children[s[0]] for s in spans if s[3] == "op")
    loads = notes["tables.load_hit"]
    dirs = notes["streaming.dirs_per_read"]
    per = 1.0 / n_passes
    return {
        "query.build_s": by_name["query.build"] * per,
        "query.exec_s": by_name["query.exec"] * per,
        "spark.jobs": sum(r["jobs"] for r in allg) * per,
        "spark.build_jobs": build_jobs * per,
        "spark.tasks": sum(r["tasks"] for r in allg) * per,
        "spark.task_s": sum(r["task_ms"] for r in allg) / 1e3 * per,
        "spark.gc_s": sum(r["gc_ms"] for r in allg) / 1e3 * per,
        "driver.gap_s": gap * per,
        "tables.load_calls": calls["tables.load"] * per,
        "tables.load_s": by_name["tables.load"] * per,
        "tables.memo_hit_ratio": sum(loads) / len(loads) if loads else 0.0,
        "jx.calls": calls["jx.compile"] * per,
        "jx.compile_s": by_name["jx.compile"] * per,
        "operators.dedup_s": by_name["operators.dedup"] * per,
        "operators.similarity_s": by_name["operators.similarity"] * per,
        "similarity.index_builds": len(notes["similarity.index_build"]) * per,
        "streaming.write_s": by_name["streaming.write"] * per,
        "streaming.commit_s": by_name["streaming.commit"] * per,
        "streaming.resolve_s": by_name["streaming.resolve"] * per,
        "streaming.dirs_per_read": sum(dirs) / len(dirs) if dirs else 0.0,
        "streaming.read_exec_s": by_name["streaming.read_exec"] * per,
        "streaming.maintain_s": by_name["streaming.maintain"] * per,
        "streaming.compactions": sum(notes["streaming.compactions"]) * per,
        "trace.unspanned_s": unspanned * per,
    }


def run(args, work: str) -> tuple[dict, dict, int, int]:
    import procfs
    import spans as tr
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sf_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    from mo_etl_spark.session import get_spark
    from mo_etl_spark.suites.sources import _CACHE as ENGINE_CACHE

    session_env(work, event_dir)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, sf_dir, work, random.Random(args.seed))
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        rec = tr.Tracer(spark) if args.trace else tr.NullRecorder()
        if args.trace:
            rec.install()

        # the first warm-up pass is the cold one (JIT, Python workers,
        # file listing, the engine's memos): it is set-up time
        warm_walls = []
        for k in range(wl.warm_passes):
            w0 = time.perf_counter()
            wl.run_pass(ctx, rec, f"w{k}")
            warm_walls.append(time.perf_counter() - w0)
        setup_s = time.perf_counter() - T_START
        t_check = time.perf_counter()
        attempted, failed = wl.check(ctx)
        check_s = time.perf_counter() - t_check
        if args.trace:
            rec.clear()

        cache_dir = os.path.join(ENGINE_CACHE, os.path.basename(sf_dir))
        cache0 = cache_state(cache_dir)
        steal0, lat, walls, cpus_s = procfs.steal_s(), [], [], []
        t_window = time.perf_counter()
        with procfs.PssSampler() as pss:
            while (time.perf_counter() - t_window < args.seconds
                   or len(lat) < wl.min_ops):
                c0, w0 = procfs.tree_cpu_s() - pss.cpu_s, time.perf_counter()
                lat += wl.run_pass(ctx, rec, f"t{len(walls)}")
                walls.append(time.perf_counter() - w0)
                # the sampler's own /proc reads are not the engine's CPU
                cpus_s.append(procfs.tree_cpu_s() - pss.cpu_s - c0)
        cache1 = cache_state(cache_dir)
        host = {
            "host.steal_s": procfs.steal_s() - steal0,
            "host.load_1m": procfs.load_1m(),
            "cache.builds_timed": float(
                sum(1 for k, m in cache1.items() if m > cache0.get(k, -1.0))
            ),
        }
    finally:
        stop_session(spark)

    ok = [x for _, x in lat if x is not None]
    by_name: dict[str, list[float]] = defaultdict(list)
    for name, x in lat:
        if x is not None:
            by_name[name].append(x)
    attempted += len(lat)
    failed += len(lat) - len(ok)
    settings = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "SPARK_GRAFT_CPUS": cpus, "driver_memory": DRIVER_MEMORY,
        "jvm_opts": JVM_OPTS, "passes": len(walls), "ops": len(lat),
        "tail_q": wl.tail_q, "check_s": round(check_s, 3),
        "sampler_cpu_s": round(pss.cpu_s, 3),
        "warm_walls": [round(x, 3) for x in warm_walls],
        "pass_walls": [round(x, 3) for x in walls],
        "pass_cpus": [round(x, 2) for x in cpus_s],
        "op_median_s": {k: round(statistics.median(v), 3) for k, v in by_name.items()},
        "fail_frac": failed / attempted, **{k: round(v, 3) for k, v in host.items()},
    }
    if args.trace:
        metrics = layer_metrics(rec, tr.read_event_log(event_dir), len(walls))
        metrics.update(host)
        metrics["session.start_s"] = session_s
        metrics["trace.battery_s"] = statistics.median(walls)
    else:
        metrics = {
            "battery_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus_s),
            "op_p50_s": statistics.median(ok) if ok else 0.0,
            "op_tail_s": quantile(ok, wl.tail_q) if ok else 0.0,
            "peak_pss_mb": pss.peak_mb,
            "setup_s": setup_s,
        }
    return settings, metrics, attempted, failed


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                    help="fixture scale factor (0.001 for the self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mo_etl_spark", "__init__.py")):
        print(f"perfbench: no mo_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine from the checkout; temp and
    # spill files stay inside it
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher's too, would otherwise keep
    # its perf counters in /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    sys.path.insert(0, ROOT)
    try:
        settings, metrics, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}
    print("# perfbench " + json.dumps(settings))
    print("# perfbench " + "  ".join(
        f"{k}={v['value']:.4f} {v['unit']}" for k, v in out.items()
    ) + f"  fail_frac={settings['fail_frac']:.4f} ratio")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
