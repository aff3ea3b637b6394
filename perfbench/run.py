"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_snapshot --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout, checks every output it
produces, and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_world_banks_with_python_and_postgresql_spark"
WORKLOADS = ("etl_snapshot", "etl_incremental")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Everything the run writes stays under ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    # the session's default collector, plus a JVM temp dir inside the run;
    # perf counters off so neither the launcher JVM nor the driver writes
    # an hsperfdata file under /tmp
    gc = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"{gc} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def start_spark(workdir: str, trace: bool):
    from etl_world_banks_with_python_and_postgresql_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from perfbench import trace as tr

        conf |= tr.event_log_conf(os.path.join(workdir, "eventlog"))
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    sc = spark.sparkContext
    gw = sc._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the Spark JVM plus this Python
    process.  The JVM's Python workers are left out: how many of them
    the daemon forks varies from run to run."""
    import resource

    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid(spark)
    if pid:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class Window:
    """Marks the timed window: set-up time is everything before it, and
    a traced run counts only what happens inside it."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.setup_s = float("nan")

    def start(self) -> None:
        self.setup_s = time.perf_counter() - T_START
        if self.tracer:
            self.tracer.start_window()

    def stop(self) -> None:
        if self.tracer:
            self.tracer.stop_window()


def load_average() -> str:
    one, five, fifteen = os.getloadavg()
    return f"{one:.2f} {five:.2f} {fifteen:.2f}"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    runs = os.path.join(ROOT, ".perfbench_runs")
    workdir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    prepare_env(workdir)
    os.chdir(workdir)  # relative spark-warehouse/ paths land in the run dir
    print(f"load average at start: {load_average()}", flush=True)

    from perfbench import trace as tr

    spark = start_spark(workdir, bool(args.trace))
    print(f"session up after {time.perf_counter() - T_START:.2f}s", file=sys.stderr, flush=True)
    window = Window(tr.Tracer(spark) if args.trace else None)

    from perfbench import etl

    correct, out, rss = True, None, 0.0
    try:
        out = etl.run(spark, workdir, args.seed, args.seconds,
                      incremental=args.workload == "etl_incremental", window=window)
    except etl.CheckFailed as e:
        correct = False
        print(f"CHECK FAILED: {e}", flush=True)
    finally:
        rss = peak_rss_mb(spark)
        stop_spark(spark)

    print(f"load average at end: {load_average()}", flush=True)
    if out is None:  # a check failed: no figures to report
        out, metrics = {"attempted": 1, "failed": 0}, {}
    elif args.trace:
        metrics = window.tracer.metrics(out)
        metrics["process.peak_rss_mb"] = (rss, "MB")
    else:
        metrics = dict(out["metrics"])
        metrics["setup_s"] = (window.setup_s, "s")
    print(f"operations attempted {out['attempted']} failed {out['failed']}; "
          f"details {json.dumps({k: v for k, v in out.items() if k != 'metrics'})}",
          flush=True)
    shutil.rmtree(workdir, ignore_errors=True)
    print(f"run took {time.perf_counter() - T_START:.1f}s", file=sys.stderr, flush=True)
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
