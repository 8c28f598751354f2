"""Benchmark entry point.

    python3 e2ebench/run.py --workload etl_full_build --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--workload all`` runs every workload in one
process. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: with ``--trace 0``
the end-to-end metrics named in BENCHMARK.json, with ``--trace 1`` the
per-layer metrics of one traced pass. The lines before it name every
metric the workload measured, with its unit, and the host provenance.
Everything the run writes goes under ``.e2ebench_work/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = ".e2ebench_work"


def declared_metrics(trace: bool) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _status_kib(pid, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM from /proc) of this driver, the JVM and
    the JVM's Python workers, summed."""
    pids = [os.getpid(), jvm_pid] + _descendants(jvm_pid)
    return sum(_status_kib(p, "VmHWM") for p in pids) / 1024


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user and system, reaped children included) used so far
    by this process, the JVM and the JVM's Python workers. Time the
    hypervisor gives to other guests is not charged to them."""
    ticks = 0
    for pid in [os.getpid(), jvm_pid] + _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended between listing and reading
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot; steal is time the hypervisor
    gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def start_spark(work: str, cores: int, trace: bool):
    from erigon_extract_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job, stage and execution of the run in the stores
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return get_spark(app_name="e2ebench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def provenance(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "host": platform.node(),
    }


def run_workload(name: str, ctx, trace: bool, jvm_pid: int) -> tuple[dict, dict]:
    """(result metrics, details) of one workload."""
    from e2ebench import stats, workloads
    from e2ebench.trace import PassProfile, Tracer

    wl = workloads.WORKLOADS[name](ctx)
    details = {"load_before": os.getloadavg()}
    steal0, total0 = cpu_times()
    setups = []
    for _ in range(workloads.SETUP_REPEATS[name]):
        t = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t)
    details["setup_runs_s"] = setups
    t = time.perf_counter()
    wl.warmup()
    details["warmup_s"] = time.perf_counter() - t
    if not trace:
        metrics = wl.measure()
        # what a run pays before its first measured request: the inputs
        # (median of the repeats) and the cold first request of the session
        metrics["setup_s"] = stats.median(setups) + details["warmup_s"]
        ctx.record("peak_rss_mb", peak_rss_mb(jvm_pid), "MB")
    else:
        # untraced passes before and after the traced one are the reference
        # for the tracing overhead; one more pass first flattens the JIT
        # warm-up slope they would otherwise straddle
        wl.traced_pass()
        wl.check_pass()
        untraced = []
        t = time.perf_counter()
        wl.traced_pass()
        untraced.append(time.perf_counter() - t)
        wl.check_pass()
        tracer = Tracer(ctx.spark.sparkContext, enabled=True)
        ctx.tracer = tracer
        tracer.patch()
        try:
            with tracer.span(f"bench.{name}") as root:
                wl.traced_pass()
        finally:
            tracer.unpatch()
            ctx.tracer = Tracer()
        wl.check_pass()
        t = time.perf_counter()
        wl.traced_pass()
        untraced.append(time.perf_counter() - t)
        wl.check_pass()
        profile = PassProfile.collect(ctx.spark, tracer, root)
        profile.dump(ctx.path(f"profile-{name}-{ctx.seed}.json"))
        metrics = workloads.layer_metrics(profile, tracer, root, ctx.cores, wl.layer_extras())
        metrics["trace.overhead_frac"] = root.duration / stats.median(untraced) - 1
        df = wl.final_frame()
        t = time.perf_counter()
        df.count()
        metrics["final.count_s"] = time.perf_counter() - t
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        metrics["final.materialise_s"] = time.perf_counter() - t
        metrics["fail_ratio"] = ctx.checker.fail_ratio
        metrics["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        tracer.dump(ctx.path(f"spans-{name}-{ctx.seed}.jsonl"), {"workload": name, "seed": ctx.seed})
    details["load_after"] = os.getloadavg()
    steal1, total1 = cpu_times()
    details["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return metrics, details


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import erigon_extract_spark  # noqa: F401
        from e2ebench import workloads
        from e2ebench.checks import Checker
    except ImportError as exc:
        print(f"e2ebench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 3
    units = declared_metrics(bool(args.trace))
    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in workloads.WORKLOADS]
    if unknown:
        print(f"e2ebench: unknown workload {unknown[0]!r}", file=sys.stderr)
        return 2

    work = os.path.abspath(WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM of the run (launcher included) writes hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    t = time.perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t
    checkers, results, info = {}, {}, {"session_s": session_s}
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        info["provenance"] = provenance(spark, cores)
        for name in names:
            checkers[name] = Checker()
            ctx = workloads.Context(spark, work, args.seed, args.seconds, cores, checkers[name],
                                    cpu_s=lambda: tree_cpu_s(jvm_pid))
            metrics, details = run_workload(name, ctx, bool(args.trace), jvm_pid)
            results[name] = metrics
            info[name] = {"details": details, "named": ctx.named, "metrics": metrics,
                          "samples": ctx.samples}
    finally:
        stop_spark(spark)

    info["seed"], info["seconds"], info["trace"] = args.seed, args.seconds, args.trace
    info["check_notes"] = [n for c in checkers.values() for n in c.notes]
    with open(os.path.join(work, f"result-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True, default=str)
    for name in names:
        print(f"# {name}: provenance {json.dumps(info['provenance'], sort_keys=True)}")
        print(f"# {name}: details {json.dumps(info[name]['details'], sort_keys=True, default=str)}")
        for metric, (value, unit) in sorted(info[name]["named"].items()):
            print(f"{name} {metric} {value:.6g} {unit}")
        print(f"{name} fail_ratio {checkers[name].fail_ratio:.6g} ratio")
    for note in info["check_notes"]:
        print(f"# check failed: {note}")

    out = {}
    for name in names:
        prefix = "" if len(names) == 1 else f"{name}/"
        for metric, unit in units.items():
            out[prefix + metric] = {"value": float(results[name][metric]), "unit": unit}
    attempted = sum(c.attempted for c in checkers.values())
    failed = sum(c.failed for c in checkers.values())
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
