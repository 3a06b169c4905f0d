"""Benchmark of the KG and curation pipelines.

    python3 perfbench/run.py --workload kg_merge --seed 1 --seconds 30 --trace 0

Run from the repository root. One run starts one local Spark session
sized to the host, sets the workload up (inputs, base state, warm-up,
the correctness reference), then makes a fixed number of timed passes,
each checked after its timing ends. The number of passes follows from
--seconds and the workload's pass cost on the reference host, never from
the measured speed, so every run takes its median at the same point of
the JIT warm-up. With --trace 1 one more pass runs layer by layer under
spans, and the run reports per-layer metrics instead of end-to-end ones.

The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the run's detail (host shape, every pass's wall, CPU and steal share).
Everything the run writes stays under .perfbench_work/ and is removed
when it ends. Before it exits, on every path out, the run ends the Spark
JVM and waits until every process it started, the JVM's Python workers
too, has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def process_start_time() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def adopt_orphans() -> None:
    """Become the subreaper of every process this one starts, so that
    Spark's Python workers, whose parent is the JVM, are reparented here
    when the JVM ends and can be waited for."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_jvm() -> None:
    """End the Spark JVM and wait for it. Left alone, it ends only once
    it sees its stdin close, after this process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = gateway.proc
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            with contextlib.suppress(OSError):
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        pids.append(int(d))
    return pids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every process started by this one, directly or not, has
    ended; kill what is left after the grace period."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in child_pids():
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def host_shape() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # a quarter of RAM, within [1, 8] GiB: the JVM heap, Python workers and
    # DuckDB share the host, and session.py's 48g default gets a small
    # host's JVM killed
    driver_mb = min(max(mem_kb // 4096, 1024), 8192)
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "driver_memory_mb": driver_mb}


def configure_env(host: dict, work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(host["nproc"]),
            "SPARK_DRIVER_MEMORY": f"{host['driver_memory_mb']}m",
            "SPARK_LOCAL_DIRS": f"{work}/local",
            "TMPDIR": f"{work}/tmp",
            "PYSPARK_PYTHON": sys.executable,
            # the launcher JVM that spark-submit starts would write one too
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        }
    )


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file: the JVM writes it under /tmp whatever its tmpdir
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def later_over_earlier(values: list[float]) -> float | None:
    """Median of the later half of the passes over that of the earlier
    half: below 1 while the JIT is still warming up."""
    half = len(values) // 2
    if half == 0:
        return None
    return statistics.median(values[-half:]) / statistics.median(values[:half])


def run(args, host: dict, work: str, t_start: float) -> tuple[dict, dict]:
    from graphiti_spark.session import get_spark
    from perfbench import checks, ledger
    from perfbench.workloads import COUNTERS, LAYERS, WORKLOADS

    cls = WORKLOADS[args.workload]
    duck = checks.duck(f"{work}/duckdb", host["nproc"])
    # inputs are generated while the JVM starts; both count in setup_s
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(cls.make_inputs, work, args.seed)
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{host['nproc']}]",
            extra_conf=spark_conf(work, args.trace),
        )
    errors: list[str] = []
    samples: list[ledger.Sample] = []
    attempted = failed = 0
    detail: dict = {"workload": args.workload, "seed": args.seed, "host": host}
    try:
        wl = cls(spark, work, inputs.result(), duck)
        try:
            detail["setup"] = wl.setup()
            setup_ok = True
        except checks.CheckFailed as e:
            setup_ok = False
            errors.append(f"setup: {e}")
        setup_s = time.time() - t_start
        n_passes = max(1, int(args.seconds // wl.nominal_pass_s))
        for i in range(n_passes):
            wl.prepare()
            attempted += 1
            one: list[ledger.Sample] = []
            try:
                with ledger.measure(one):
                    wl.run()
                wl.check()
            except Exception as e:  # a failing pass is counted, not fatal
                failed += 1
                errors.append(f"pass {i}: {type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc()
                continue
            samples.extend(one)
        if not samples:
            raise RuntimeError(f"every timed pass failed: {errors}")
        walls = [s.wall_s for s in samples]
        cpus = [s.cpu_s for s in samples]
        detail["passes"] = [vars(s) for s in samples]
        detail["cpu_later_over_earlier"] = later_over_earlier(cpus)
        metrics = {
            "items_per_s": (statistics.median(wl.items / w for w in walls), "1/s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "setup_s": (setup_s, "s"),
        }
        if args.trace:
            wl.prepare()
            attempted += 1
            book = ledger.Ledger(spark.sparkContext)
            traced: list[ledger.Sample] = []
            ledger.reset_heap_peak(spark)
            gc0 = ledger.jvm_gc_s(spark)
            with ledger.measure(traced):
                wl.traced(book)
            gc_s, heap_mb = ledger.jvm_gc_s(spark) - gc0, ledger.heap_peak_mb(spark)
            counters = wl.counters()
            try:
                wl.check()
            except checks.CheckFailed as e:
                failed += 1
                errors.append(f"traced pass: {e}")
    finally:
        spark.stop()
        duck.close()
    if args.trace:
        groups = ledger.read_event_log(ledger.event_log_file(f"{work}/events"))
        t = traced[0]
        detail["traced_pass"] = vars(t)
        metrics = {}
        for layer in LAYERS:
            g = groups.get(layer, ledger.GroupStats())
            metrics.update(
                {
                    f"{layer}.wall_s": (book.wall_s.get(layer, 0.0), "s"),
                    f"{layer}.cpu_s": (book.cpu_s.get(layer, 0.0), "s"),
                    f"{layer}.task_s": (g.task_s, "s"),
                    f"{layer}.shuffle_mb": (g.shuffle_mb, "MB"),
                    f"{layer}.spill_mb": (g.spill_mb, "MB"),
                    f"{layer}.skew": (g.skew, "ratio"),
                    f"{layer}.jobs": (g.jobs, "count"),
                }
            )
        metrics.update({k: (counters[k], "ratio") for k in COUNTERS})
        metrics.update(
            {
                "jvm.gc_s": (gc_s, "s"),
                "jvm.heap_peak_mb": (heap_mb, "MB"),
                "trace.coverage": (sum(book.cpu_s.values()) / t.cpu_s, "ratio"),
                "trace.overhead_s": (t.wall_s - statistics.median(walls), "s"),
                "trace.failed_tasks": (sum(g.failed_tasks for g in groups.values()), "count"),
            }
        )
    detail["errors"] = errors
    result = {
        "correct": setup_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main() -> int:
    t_start = process_start_time()
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    # fail before any set-up when the program is not there
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    host = host_shape()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(host, work)
    adopt_orphans()
    try:
        result, detail = run(args, host, work, t_start)
    finally:
        stop_jvm()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
