"""Archive-lifecycle benchmark: one workload per invocation.

    python3 perfbench/run.py --workload archive_lifecycle --seed 1 \
        --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics.  Diagnostics (CPU steal,
loadavg, phase timings) go to standard error, and a traced run writes
its spans to ``.perfbench_out/``.  Every file the run makes lives under
``.perfbench_work/`` in the working directory and is removed at exit.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("archive_lifecycle", "corpus_curate")

#: Driver JVM heap.  The engine's 16g default is above what a small
#: shared host can give one benchmark process.
DRIVER_MEM = "2g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set of one process, in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def configure_environment(work: str) -> None:
    """Launcher settings the JVM and its Python workers inherit.

    The repository goes on PYTHONPATH because ``mapInPandas`` workers
    import ``timesearch_spark`` by module path and do not share the
    driver's ``sys.path``."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work: str, trace: bool):
    from timesearch_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every JVM file inside the working directory: temp dirs go
        # to .perfbench_work, and the JVM's shared perf-data file (written
        # to the system temp dir) is switched off
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
            + " -Dderby.system.home=" + os.path.join(work, "tmp")
            + " -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "timesearch_spark")):
        print(f"perfbench: no timesearch_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    # SIGTERM unwinds through the finally blocks below, which stop the
    # JVM and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    try:
        result = run(args, cwd, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(args, cwd: str, work: str) -> dict:
    import workloads
    from tracing import Tracer

    steal0, total0 = cpu_ticks()
    t_setup = time.perf_counter()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        wl.measure(args.seconds)
        rss_mb = vm_hwm_mb("self")
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            rss_mb += vm_hwm_mb(proc.pid)
    finally:
        if spark is not None:
            stop_session(spark)

    steal1, total1 = cpu_ticks()
    diag = {
        "workload": args.workload, "seed": args.seed,
        "cpus": cpu_count(),
        "steal_pct": round(100.0 * (steal1 - steal0)
                           / max(1, total1 - total0), 3),
        "loadavg": os.getloadavg(),
        "session_s": session_s,
        "phases": wl.phase_log,
        "checks": wl.checks.log,
    }
    print(json.dumps({"diagnostics": diag}), file=sys.stderr)

    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        **workloads.end_to_end(wl.samples),
    }
    metrics = e2e
    if args.trace:
        metrics = tracer.per_layer(wl, os.path.join(work, "eventlog"),
                                   session_s, e2e)
        out_dir = os.path.join(cwd, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(
            out_dir, f"spans_{args.workload}_seed{args.seed}.json")
        tracer.write_spans(spans_path, diag, metrics)
        print(f"spans written to {spans_path}", file=sys.stderr)
    return {
        "correct": wl.checks.failed == 0 and wl.checks.attempted > 0,
        "attempted": wl.checks.attempted,
        "failed": wl.checks.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
