"""Benchmark of record for the CDC pipeline.

    python3 perfbench/run.py --workload <backfill_replay|live_tail|analytics_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Every input is generated from ``--seed``;
everything the run writes stays under ``.perfbench/`` in the current
directory and is removed at exit. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it print every metric of the workload by name and unit.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backfill_replay", "live_tail", "analytics_mix")

# Driver JVM heap: the whole workload runs in local mode inside it, and the
# box it is sized for has 15 GiB shared with other processes.
DRIVER_MEMORY = "2g"


class Ctx:
    """What a workload gets: the session, its arguments, a tracer, and the
    accounts it reports into."""

    def __init__(self, spark, args, work: str, t0: float, tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t0 = t0
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s: float | None = None
        self.report: list[tuple[str, float, str, str]] = []  # name, value, unit, note
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def setup_done(self) -> None:
        """Marks the first timed operation: everything before it is set-up."""
        self.setup_s = time.perf_counter() - self.t0

    def op(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def metric(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.report.append((name, float(value), unit, note))


def _pin_env(work: str) -> dict:
    """Environment every run uses, recorded in its output."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return env


def _start_session(work: str, tracer):
    import postgresql_cdc_spark
    from postgresql_cdc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    with tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark("perfbench", conf)
        get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    # Workers must not need the package importable: a pgcdc read started
    # outside the repository otherwise dies in the worker.
    postgresql_cdc_spark.ensure_self_contained_pickling()
    return spark, get_spark_s


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def _wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has exited (Python workers exit
    shortly after the JVM that forked them); kill any still left then."""
    def alive(pid: int) -> bool:
        try:
            os.waitpid(pid, os.WNOHANG)  # reap it if it is our own child
        except ChildProcessError:
            pass
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            return False
        return stat[stat.rindex(")") + 2] != "Z"

    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = [p for p in left if alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "postgresql_cdc_spark")):
        print(f"perfbench: no postgresql_cdc_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import stats

    work = os.path.join(os.getcwd(), ".perfbench",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _pin_env(work)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = stats.Tracer(run_id, enabled=bool(args.trace))

    module = importlib.import_module(f"perfbench.{args.workload}")
    ctx = None
    error = None
    with stats.RssSampler() as rss:
        spark, get_spark_s = _start_session(work, tracer)
        try:
            ctx = Ctx(spark, args, work, t0, tracer)
            ctx.layer["session.get_spark_s"] = get_spark_s
            module.run(ctx)
        except Exception:  # noqa: BLE001 - report the failure, then exit 1
            error = traceback.format_exc()
        finally:
            rss.sample()
            started = [p for p in stats.process_tree(os.getpid())
                       if p != os.getpid()]
            _stop_session(spark)
    _wait_gone(started)

    if args.trace:
        tracer.write(os.path.join(os.getcwd(), ".perfbench", "traces",
                                  f"{run_id}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("env: " + " ".join(f"{k}={v}" for k, v in sorted(env.items())
                             if k not in ("TMPDIR", "TZ"))
          + f" master=local[{env['SPARK_GRAFT_CPUS']}] "
          "self_contained_pickling=on")
    if error:
        print(error, file=sys.stderr)
    if ctx is None:
        return 1
    if ctx.setup_s is not None:
        ctx.e2e["setup_s"] = ctx.setup_s
        ctx.report.insert(0, ("setup_s", ctx.setup_s, "s", ""))
    ctx.e2e["peak_rss_mb"] = rss.peak_mb
    ctx.metric("failed_frac", ctx.failed / max(1, ctx.attempted), "ratio",
               f"{ctx.failed} failed of {ctx.attempted} attempted")
    ctx.metric("peak_rss_mb", rss.peak_mb, "MB",
               "summed PSS of driver, JVM and Python workers")
    for name, value, unit, note in ctx.report:
        print(f"  {name:<28} {value:>14.6g} {unit:<9} {note}")
    for what in ctx.failures[:20]:
        print(f"  FAILED: {what}")
    if args.trace:
        print("  self time by span:")
        for name, secs in sorted(stats.self_times(tracer.spans).items(),
                                 key=lambda kv: -kv[1]):
            print(f"    {name:<36} {secs:10.4f} s")

    from perfbench.metrics import result_metrics

    metrics = result_metrics(ctx, trace=bool(args.trace))
    correct = error is None and ctx.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed if error is None
                      else max(1, ctx.failed), "metrics": metrics}))
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main())
