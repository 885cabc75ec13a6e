"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones from a
run that records spans.  Inputs are generated from the seed under
``.perfbench_work/`` in the checkout, which is wiped at the start of
every run; spans of a traced run are written there too.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import SparkJobs, Tracer, descendants  # noqa: E402

PACKAGE = "aie321_bigdata_movie_kpi_1m_spark"
WORK_DIR = ".perfbench_work"
MAX_CPUS = 4
RUN_LIMIT_S = 170


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str):
    from aie321_bigdata_movie_kpi_1m_spark.session import get_spark

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # temp files of this process, the JVM and the Python workers stay
    # inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def start_watchdog(seconds: float) -> None:
    """Kill this run, and every process it started, if it has not ended
    after ``seconds``: a hung Spark job must not outlive the run."""

    def expire() -> None:
        print(f"run exceeded {seconds:.0f} s; killed", file=sys.stderr)
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    timer = threading.Timer(seconds, expire)
    timer.daemon = True
    timer.start()


def main(argv: list[str]) -> int:
    args = parse(argv)
    start_watchdog(RUN_LIMIT_S)
    ticks0 = cpu_ticks()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run from a checkout: no {PACKAGE}/ under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads  # needs the engine's dependencies

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tracer = Tracer(args.trace == 1)
    bench = workloads.Bench(work, args.seed, args.seconds, tracer)
    with tracer.span("session.start"):
        bench.spark = start_spark(work)
    try:
        from pyspark import SparkContext

        bench.jvm_pid = SparkContext._gateway.proc.pid
        bench.jobs = SparkJobs(bench.spark.sparkContext)
        attempted, failed, e2e, layer = workloads.WORKLOADS[args.workload](bench, T_START)
    finally:
        stop_spark(bench.spark)

    for req in layer.pop("failed_requests", []):
        print(f"failed request {req[0]} ({req[1]}): {req[2]}", file=sys.stderr)
    # time the hypervisor gave to other guests: a host-noise diagnostic
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    print(f"cpu steal share during the run: {ticks[7] / max(1, sum(ticks)):.3f}", file=sys.stderr)
    if args.trace:
        totals = tracer.totals()
        for name in ("session.start", "setup.datagen", "setup.warm", "check.oracle"):
            layer[f"{name}_s"] = totals.get(name, 0.0)
        metrics = {
            k: {"value": float(layer.get(k, 0.0)), "unit": unit}
            for k, unit in workloads.LAYER_METRICS.items()
        }
        with open(os.path.join(work, f"trace_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.dump(), "self_s": tracer.self_times()}, f)
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
