"""Benchmark entry point.

    python3 perfbench/run.py --workload {dag,llm_ops} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its inputs from
``--seed`` under a private work directory inside the checkout and sets
up (``setup_s``): it starts a Spark JVM and session (the engine's
``get_spark``) and makes one untimed warm-up ``run``. It then repeats
timed iterations, at least the workload's ``min_iterations`` and until
``--seconds`` have passed, and checks the outputs against DuckDB. The last line it
prints is one JSON object: the END_TO_END metrics with ``--trace 0``; with
``--trace 1``, the per-layer metrics of traced iterations (alternated
with untraced ones). It exits non-zero when an output is wrong or there
is no program to measure.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_GRID = (50, 75, 90, 95, 99)

# Gated metrics: wall seconds of each invocation less the time the
# hypervisor stole from it (the set-up's too), and the CPU seconds (this
# process, JVM and Python workers) it took. The cold parse and the
# per-node times are reported with the per-layer metrics (UNGATED): a
# dag parse takes 30-80 ms, and on a busy host its median moves by more
# than the bound from run to run.
END_TO_END = {
    "setup_s": "s", "run_s": "s", "rerun_s": "s",
    "run_cpu_s": "s", "rerun_cpu_s": "s",
}
UNGATED = ("parse_s", "parse_cpu_s", "node_p50_s", "node_tail_s")


def tail(samples: list[float]) -> tuple[int, float]:
    """Highest grid percentile (nearest rank) with at least ten samples
    beyond it; the maximum when there are fewer than twenty samples."""
    s = sorted(samples)
    n = len(s)
    best = None
    for p in TAIL_GRID:
        if n - math.ceil(p * n / 100) >= 10:
            best = p
    if best is None:
        return 100, s[-1]
    return best, s[math.ceil(best * n / 100) - 1]


def peak_rss_mb(jvm_pid: int) -> float:
    """Spark JVM ``VmHWM`` plus this process's ``ru_maxrss``."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def isolate(work: str) -> None:
    """Keep every file the run and its child processes write inside
    ``work`` (Python temp files, Spark local dirs, JVM temp dir)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # Python workers import the engine by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile
    tempfile.tempdir = tmp


def set_up(wl, work: str):
    """One set-up: start a SparkSession (and its JVM) with the engine's
    ``get_spark`` and make the untimed warm-up run. Returns the session,
    the seconds the session start and the warm-up took, and the set-up's
    wall seconds less what the hypervisor stole (``procstat.unstolen``). The status store keeps every
    job of a run, for the per-layer job counts."""
    import procstat
    from dbt_core_spark.session import get_spark

    t0, p0, s0 = time.perf_counter(), time.process_time(), procstat.steal_s()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    try:
        wl.clock = procstat.CpuClock(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        t1 = time.perf_counter()
        wl.warmup(spark)
        t2 = time.perf_counter()
        # the JVM started after t0: all of its CPU time is the set-up's
        cpu, steal = wl.clock.now() - p0, procstat.steal_s() - s0
    except BaseException:
        tear_down(wl, spark)
        raise
    return spark, t1 - t0, t2 - t1, procstat.unstolen(t2 - t0, cpu, steal)


def tear_down(wl, spark) -> None:
    """Stop the session and its JVM, and remove what the set-up wrote."""
    try:
        spark.stop()
        stop_jvm()
    finally:
        wl.release()


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers it forked) and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(iters, setup_s: float) -> tuple[dict[str, float], dict]:
    """Medians over the iterations: END_TO_END metrics, then UNGATED.
    Wall times are taken without the hypervisor's steal."""
    invs = [i for it in iters for i in it]
    runs = [i for i in invs if i.phase == "run"]
    reruns = [i for i in invs if i.phase == "rerun"]
    nodes = [t for i in invs for t in i.node_times]
    tails = [tail([t for i in it for t in i.node_times]) for it in iters]
    m = {
        "setup_s": setup_s,
        "parse_s": med([p for i in runs for p in i.parse]),
        "run_s": med([i.unstolen() for i in runs]),
        "rerun_s": med([i.unstolen() for i in reruns]),
        "parse_cpu_s": med([p for i in runs for p in i.parse_cpu]),
        "run_cpu_s": med([i.cpu for i in runs]),
        "rerun_cpu_s": med([i.cpu for i in reruns]),
        "node_p50_s": med(nodes),
        "node_tail_s": med([t for _, t in tails]),
    }
    info = {"tail_percentile": tails[0][0],
            "tail_samples_per_iteration": len([t for i in iters[0]
                                               for t in i.node_times]),
            "iterations": len(iters), "node_samples": len(nodes)}
    return m, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "dbt_core_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no program to measure under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(args, work: str) -> int:
    isolate(work)
    sys.path.insert(0, ROOT)
    import layers
    import procstat
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    threads = os.cpu_count() or 1
    wl = WORKLOADS[args.workload](work, args.seed, threads)
    shape = wl.prepare()

    spark, session_s, warmup_s, setup_s = set_up(wl, work)
    try:
        untraced, traced = [], []
        steal0, wall0 = procstat.steal_s(), time.perf_counter()
        deadline = time.perf_counter() + args.seconds
        # with --trace 1, traced iterations alternate with untraced ones,
        # starting and ending with an untraced one
        while True:
            if args.trace and len(traced) < len(untraced):
                traced.append(layers.traced_iteration(wl, spark, threads))
            else:
                untraced.append(wl.iteration(spark))
            if (time.perf_counter() >= deadline
                    and len(untraced) >= wl.min_iterations
                    and (not args.trace
                         or len(untraced) == len(traced) + 1 > 1)):
                break
        steal = (procstat.steal_s() - steal0) / (
            (time.perf_counter() - wall0) * (os.cpu_count() or 1))
        results = wl.check(spark)
        rss = peak_rss_mb(wl.clock.jvm_pid)
        wl.cleanup(spark)
    finally:
        tear_down(wl, spark)

    invs = [i for it in untraced + traced for i in it]
    failures = [f for i in invs for f in i.failures]
    failures += [f"{name}: {msg}" for name, ok, msg in results if not ok]
    attempted = sum(i.attempted for i in invs) + len(results)
    metrics_e2e, info = end_to_end(untraced, setup_s)

    print(f"workload {args.workload} seed {args.seed} shape {json.dumps(shape)}")
    for name, ok, msg in results:
        print(f"check {name}: {'ok' if ok else 'MISMATCH'} {msg}")
    for f in failures:
        print(f"failure {f}")
    print(f"failed_frac {len(failures) / attempted:.4f} "
          f"({len(failures)} of {attempted} operations)")
    print("parse samples s: " + " ".join(
        f"{p:.4f}" for i in invs if i.phase == "run" for p in i.parse))
    print(f"set-up: session start {session_s:.3f} s + warm-up {warmup_s:.3f} s"
          f" ({setup_s:.3f} s without steal)")
    print(f"steal_frac {steal:.4f}; per invocation wall/without steal/cpu/"
          "steal s: " + " ".join(f"{i.phase}={i.wall:.3f}/{i.unstolen():.3f}/"
                                 f"{i.cpu:.3f}/{i.steal:.3f}" for i in invs))
    for k, v in metrics_e2e.items():
        print(f"{k} {v:.4f} s" + ("" if k in END_TO_END else " (ungated)"))
    print(f"peak_rss_mb {rss:.1f} MB (ungated: it does not repeat within a "
          "tenth across runs)")
    for name, (build, execute) in untraced[0][0].detail.items():
        print(f"node {name}: build {build:.3f} s, execute {execute:.3f} s, "
              f"build share {build / (build + execute):.1%}")
    print(f"node_tail_s is p{info['tail_percentile']} of "
          f"{info['tail_samples_per_iteration']} samples per iteration, "
          f"median of {info['iterations']} iterations")
    if args.trace:
        for phase, rows in layers.phase_report(traced).items():
            print(f"traced {phase}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in sorted(rows.items())))
        print(f"node coverage (max |wall - layer self times - remainder|): "
              f"{layers.coverage_error(traced):.3g} s")
        metrics = layers.per_layer_metrics(traced, untraced, threads)
        metrics["peak_rss_mb"] = (rss, "MB")
        metrics.update({k: (metrics_e2e[k], "s") for k in UNGATED})
    else:
        metrics = {k: (metrics_e2e[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
