"""sparkpipe benchmark: one workload, one seed, one Python process.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout (``datapipelinerepo_spark/``
beside this directory) with a single client thread (closed loop) on
``local[nproc]``. The run builds its fixtures, warms every op type up,
runs workload cycles until ``--seconds`` have passed (and at least the
workload's minimum number of cycles), checks every output against an
independent oracle, and prints one JSON line as the last line of
stdout. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
enables Spark's event log and nested spans and prints the per-layer
metrics. Every file the run writes stays under ``.perfbench_run/``;
it exits 1 when an output is wrong and 2 when it cannot run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("elt_daily", "analytics")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> int:
    """Environment for the driver, the JVM and Spark's Python workers.
    Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver) keeps its temp files and
    # perf data inside the checkout; JIT compiler threads stay alive so
    # their CPU time can be told apart (tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    # Python workers unpickle the weather fetcher by reference to
    # inputs.py and import the package: both must be importable from
    # any working directory
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path[:0] = [ROOT, HERE]
    return cpus


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        log = os.path.join(work, "eventlog")
        os.makedirs(log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log,
            # Spark 4 compresses with zstd by default, unreadable here
            "spark.eventLog.compress": "false",
        })
    return conf


def jvm_pid(spark) -> int | None:
    from py4j.protocol import Py4JError

    try:
        return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    except Py4JError:
        return None


def jvm_peak_rss_mb(pid: int | None) -> float:
    """VmHWM of the driver JVM from /proc (a diagnostic: it varies by
    GBs between identical runs)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


CPU_PARTS = ("driver", "jvm", "jit", "gc", "workers")
# JVM threads by name prefix (Linux truncates names to 15 characters)
JVM_THREADS = (("jit", ("C1 CompilerThre", "C2 CompilerThre")), ("gc", ("GC Thread", "G1 ", "VM Thread")))


def _stat(path: str) -> tuple[str, list[str]]:
    """(command, fields after it) of a /proc stat file."""
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s(jvm: int | None) -> dict[str, float]:
    """CPU seconds (user + system) used so far by this process
    (``driver``), the Spark JVM, split into its JIT compiler threads
    (``jit``), its garbage collector threads (``gc``) and the rest
    (``jvm``), and every other process under them, i.e. Spark's Python
    workers (``workers``). Reaped children count for their parent's part,
    or for ``workers`` under the JVM. Time the VM's host gives to other
    guests is steal time and counts for none of them."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            f = _stat(f"/proc/{pid}/stat")[1]
        except OSError:
            continue  # exited while listing
        # fields after the command: state ppid ... utime stime cutime cstime
        procs[int(pid)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks = dict.fromkeys(CPU_PARTS, 0)
    me = os.getpid()
    todo = [me]
    while todo:
        pid = todo.pop()
        _, own, reaped = procs.get(pid, (0, 0, 0))
        part = "driver" if pid == me else "jvm" if pid == jvm else "workers"
        ticks[part] += own
        ticks["driver" if pid == me else "workers"] += reaped
        todo += children.get(pid, [])
    if jvm in procs:
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                name, f = _stat(f"/proc/{jvm}/task/{tid}/stat")
            except OSError:
                continue
            for part, prefixes in JVM_THREADS:
                if name.startswith(prefixes):
                    ticks[part] += int(f[11]) + int(f[12])
                    ticks["jvm"] -= int(f[11]) + int(f[12])
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in ticks.items()}


def calibrate(spark) -> float:
    """bench.py's frozen CPU calibration shape (20M-row range, hash
    aggregate into 100k groups), timed once after a JIT pass."""
    from pyspark.sql import functions as F

    def run():
        (
            spark.range(0, 20_000_000, 1, 32)
            .select((F.col("id") % 100_000).alias("k"), (F.col("id") * 2654435761 % 1_000_003).alias("v"))
            .groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .write.format("noop").mode("overwrite").save()
        )

    run()
    t0 = time.perf_counter()
    run()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datapipelinerepo_spark")):
        print("perfbench: no datapipelinerepo_spark/ beside perfbench/; run from a source checkout", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    try:
        return run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, work: str) -> int:
    cpus = prepare_env(work)
    traced = bool(a.trace)

    import workloads
    from ledger import Ledger, instrument
    from metrics import end_to_end, per_layer, write_reports

    from datapipelinerepo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{a.workload}", extra_conf=spark_conf(work, traced))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ledger = Ledger(spark.sparkContext)
        if traced:
            instrument(ledger)
        ctx = SimpleNamespace(spark=spark, ledger=ledger, work=work, seed=a.seed)
        wl = workloads.WORKLOADS[a.workload](ctx)

        # set-up: the fixture build runs three times (two throwaways and
        # the real one) so set-up time is a median; the warm-up runs
        # every op type once on the first throwaway
        builds = []
        for tag in ("warm", "spare", "main"):
            t = time.perf_counter()
            st = wl.build(tag)
            builds.append(time.perf_counter() - t)
            if tag == "warm":
                ledger.phase = "warmup"
                t = time.perf_counter()
                wl.warm_up(st)
                warm_s = time.perf_counter() - t
                ledger.phase = "setup"
        wl.start(st)

        ledger.phase = "timed"
        jvm = jvm_pid(spark)
        cycles, cycles_cpu = [], []
        t_start, p0 = time.time(), time.perf_counter()
        while len(cycles) < wl.min_cycles or time.perf_counter() - p0 < a.seconds:
            t, c = time.perf_counter(), tree_cpu_s(jvm)
            wl.cycle(len(cycles))
            cycles.append(time.perf_counter() - t)
            c2 = tree_cpu_s(jvm)
            cycles_cpu.append({k: c2[k] - c[k] for k in CPU_PARTS})
        wall_s = time.perf_counter() - p0
        ledger.phase = "check"
        facts = SimpleNamespace(
            session_s=session_s, builds=builds, warm_s=warm_s, cycles=cycles, cycles_cpu=cycles_cpu,
            wall_s=wall_s,
            window=(t_start * 1000, (t_start + wall_s) * 1000),
            rss_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        )
        t = time.perf_counter()
        facts.checks = wl.check()
        check_s = time.perf_counter() - t
        layer = wl.layer() if traced else {}
        diag = {
            "cpus": cpus, "cycles": len(cycles), "timed_wall_s": wall_s,
            "session_s": session_s, "build_s": builds, "warmup_s": warm_s, "check_s": check_s,
            "jvm_peak_rss_mb": jvm_peak_rss_mb(jvm),
            "calibration_s": calibrate(spark) if traced else None,
        }
    finally:
        stop_spark(spark)

    metrics, counts = end_to_end(ledger, wl, facts)
    diag.update(counts)
    jobs = {}
    if traced:
        metrics, jobs = per_layer(ledger, wl, facts, layer, os.path.join(work, "eventlog"), counts)
    write_reports(OUT, a, ledger, metrics, diag, jobs)
    print(json.dumps(diag, default=str), file=sys.stderr)
    out = {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
