"""fever_spark benchmark: one closed-loop client, one run at a time, Spark
in local mode on every core of the host.

    python3 perfbench/run.py --workload eve_daemon --seed 1 --seconds 10 \
        --trace 0

A run generates (or reuses) the seeded inputs, sets up a Spark session
several times and warms up once, then runs the workload back to back for
``--seconds`` and reports medians. Every output is checked against an exact
reference. ``--trace 1`` adds one traced iteration, decomposed calls into
the layers below the workload's entry point, the sketch kernels and the
Spark event log, and reports the per-layer metrics instead. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.

Everything the run writes lands in ``.perfbench_work/`` at the checkout
root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SESSIONS = 3             # session starts per run; setup_s takes the median
ITER_DEADLINE_S = 90     # an iteration past this is stopped and failed
RUN_DEADLINE_S = 170     # the whole run is killed past this
DRIVER_MEM = "2g"        # Spark driver heap, well under any host's RAM


@dataclass
class Sample:
    wall: float
    cpu: float
    peak_rss: float
    summary: dict | None
    failures: list = field(default_factory=list)


def host_env() -> dict:
    """Pin Spark to this host and keep every file inside the work dir;
    return what the result records about the host."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "FEVER_SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    })
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True).stdout.strip()
    import numpy
    import pandas
    import pyarrow
    import pyspark
    return {"nproc": cpus, "ram_gb": round(ram_kb / 1e6, 1),
            "driver_mem": DRIVER_MEM, "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "numpy": numpy.__version__,
            "git_sha": sha}


def spark_conf(traced: bool) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    return conf


class Watchdog:
    """Past ``seconds``, stop every active stream and cancel every job
    from outside the call that is running them."""

    def __init__(self, spark, seconds: float):
        self.spark, self.fired = spark, False
        self.timer = threading.Timer(seconds, self._fire)
        self.timer.daemon = True

    def _fire(self) -> None:
        self.fired = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        return False


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (host noise)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_once(fn, spark, out: str, pid: int) -> Sample:
    """Run ``fn(out)`` -> (summary, failures) under the iteration deadline,
    measuring wall, process-tree CPU and peak resident memory."""
    import proc

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rss = proc.PeakRss(pid).start()
    cpu0, t0 = proc.cpu_seconds(pid), time.time()
    summary, failures = None, []
    try:
        with Watchdog(spark, ITER_DEADLINE_S) as wd:
            summary, failures = fn(out)
        if wd.fired:
            failures.append(f"deadline {ITER_DEADLINE_S}s passed")
    except Exception as e:  # the run counts as failed; the loop goes on
        traceback.print_exc()
        failures = [f"raised {type(e).__name__}: {e}"]
    wall = time.time() - t0
    cpu = proc.cpu_seconds(pid) - cpu0
    return Sample(wall, cpu, rss.stop(), summary, failures)


def start_session(traced: bool):
    from fever_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=spark_conf(traced))


def shutdown(spark, pid: int, timeout: float = 30) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait until
    every process this run started has ended."""
    import proc
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    end = time.time() + timeout
    while len(proc.tree(pid)) > 1 and time.time() < end:
        time.sleep(0.1)
    kill_children(pid)


def kill_children(pid: int) -> None:
    import proc

    for child in proc.tree(pid)[1:]:
        try:
            os.kill(child, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fever_spark")):
        print(f"perfbench: no fever_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    pid = os.getpid()

    def _abort():
        print(f"perfbench: run exceeded {RUN_DEADLINE_S}s, killed",
              file=sys.stderr)
        kill_children(pid)
        os._exit(3)

    hard = threading.Timer(RUN_DEADLINE_S, _abort)
    hard.daemon = True
    hard.start()

    host = host_env()
    import inputs
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    input_dir, ref = inputs.ensure(WORK, args.workload, args.seed)
    wl = workloads.WORKLOADS[args.workload](input_dir, ref)
    out = os.path.join(WORK, f"run-{pid}")
    traced = bool(args.trace)
    run_id = f"{args.workload}-{args.seed}-{pid}"
    print("# run " + json.dumps({"run_id": run_id, "seed": args.seed,
                                 "seconds": args.seconds, "trace": traced,
                                 **host}), flush=True)

    # set-up: SESSIONS session starts (the first launches the JVM), then
    # one untimed warm-up iteration
    spark, starts = None, []
    for _ in range(SESSIONS):
        if spark is not None:
            spark.stop()
        t = time.time()
        spark = start_session(traced)
        starts.append(time.time() - t)

    def iterate(o, tracer=None):
        return wl.iterate(spark, o, tracer)

    warm = run_once(iterate, spark, out, pid)
    setup_s = statistics.median(starts) + warm.wall
    runs = [warm]

    timed, t_loop, steal0 = [], time.time(), steal_seconds()
    while True:
        timed.append(run_once(iterate, spark, out, pid))
        if time.time() - t_loop >= args.seconds:
            break
    runs += timed
    walls = [s.wall for s in timed]
    print(f"# warm-up {warm.wall:.3f} s, timed " + ", ".join(
        f"{w:.3f}" for w in walls) + " s, host steal "
        f"{steal_seconds() - steal0:.2f} s", flush=True)

    if traced:
        import kernels
        import tracing

        tracer = tracing.Tracer(run_id, spark)

        def traced_iteration(o):
            with tracer.span("iteration"):
                return wl.iterate(spark, o, tracer)

        it = run_once(traced_iteration, spark, out, pid)
        runs.append(it)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = dict.fromkeys(units, 0.0)
        if it.summary is not None:
            values.update(wl.traced_metrics(tracer, it.summary))

        def layer_calls(o):
            with tracer.span("layers"):
                return wl.layers(spark, tracer, o)

        layers = run_once(lambda o: layer_calls(out), spark, out + "-l", pid)
        runs.append(layers)
        values.update(layers.summary or {})
        k_metrics, k_failures = kernels.run(args.seed)
        runs.append(Sample(0, 0, 0, k_metrics, k_failures))
        values.update(k_metrics)
        app_id = spark.sparkContext.applicationId

    shutdown(spark, pid)

    if traced:
        log = tracing.EventLog(tracing.read_event_log(
            os.path.join(WORK, "eventlog"), app_id))
        root = tracer.get("iteration")
        values.update(log.engine_metrics(root.start, root.end,
                                         host["nproc"]))
        values.update(log.python_metrics(log.jobs_in(root.start, root.end)))
        values["ops.merge.shuffle_mb"] = log.shuffle_write_mb(
            log.jobs_described("ops.merge"))
        values["peak_rss_mb"] = it.peak_rss
        values["trace.wall_s"] = root.duration
        values["trace.overhead_s"] = root.duration - statistics.median(walls)
        values["trace.unaccounted_frac"] = (
            tracing.self_time(tracer.spans, "iteration") / root.duration)
        tracer.write(os.path.join(WORK, f"spans-{run_id}.json"))
        for span in tracer.spans:
            if span.parent in ("iteration", "layers") or span.name in (
                    "iteration", "layers"):
                print(f"# span {span.name:34s} {span.duration:9.3f} s, self "
                      f"{tracing.self_time(tracer.spans, span.name):9.3f} s")
    else:
        wall = statistics.median(walls)
        triggers = [t for s in timed if s.summary
                    for t in wl.triggers(s.summary, s.wall)]
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "cpu_s": statistics.median(s.cpu for s in timed),
            "trigger_p50_s": statistics.median(triggers) if triggers else 0.0,
        }
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    undeclared = values.keys() - units.keys()
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: "
                           f"{sorted(undeclared)}")

    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + "-l", ignore_errors=True)
    failed = sum(1 for s in runs if s.failures)
    for s in runs:
        for msg in s.failures:
            print(f"# FAILED {msg.strip().splitlines()[-1]}", flush=True)
    for name, unit in units.items():
        print(f"{name:36s} {values[name]:>14.6g} {unit}")
    print(f"{'failed_frac':36s} {failed / len(runs):>14.6g} "
          f"({failed} of {len(runs)} runs; {len(timed)} timed)")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(runs), "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in units.items()}}), flush=True)
    hard.cancel()
    return 0


if __name__ == "__main__":
    sys.exit(main())
