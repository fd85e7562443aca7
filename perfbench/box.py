"""Spark session sized from the machine, and the process and REST probes
the benchmark reads from outside the program.

Sizing rules (one driver process, no more Python workers than cores):
- parallelism: ``local[n]`` with n = the CPUs this process may run on;
- driver memory: ``DRIVER_MEM_SHARE`` of MemTotal (local-mode executors
  live inside the driver JVM; the Python workers need the rest);
- shuffle partitions: ``SHUFFLE_PER_CORE`` x n on top of the program's
  own ``pipeline.session_conf``.

Every file Spark, the JVM and Python write goes under the run's scratch
directory, which the caller keeps inside the checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request

DRIVER_MEM_SHARE = 0.25
SHUFFLE_PER_CORE = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_session(scratch: str, ui: bool):
    """SparkSession on ``local[cores()]`` with the program's
    ``session_conf``. ``ui`` turns on the web UI and its REST API
    (traced runs only)."""
    from pyspark.sql import SparkSession

    from scribe_js_spark.pipeline import session_conf

    n = cores()
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory",
                f"{int(mem_total_mb() * DRIVER_MEM_SHARE)}m")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PER_CORE * n))
        .config("spark.local.dir", os.path.join(scratch, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false"))
    if ui:
        builder = builder.config("spark.ui.port", "0")
    spark = session_conf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setups(scratch: str, n: int, prepared, warm_up):
    """``n`` SparkSession starts, each timed through ``warm_up(spark,
    inputs, i)``; the session of the last one is returned for the
    measurement. ``prepared`` is the future of the run's inputs, made
    while the first start launches the JVM; only that first sample,
    which the median of three leaves out, counts its CPU time. Returns
    ((wall s, CPU s, steal share) per start, spark)."""
    samples = []
    for i in range(n):
        def start():
            spark = start_session(scratch, ui=False)
            warm_up(spark, prepared.result(), i)
            return spark
        spark, wall, cpu, steal = measured(start)
        samples.append((wall, cpu, steal))
        if i < n - 1:
            spark.stop()
    return samples, spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it. The
    JVM exits when its stdin closes; its Python workers die with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    gw.shutdown()
    proc = gw.proc
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stat(pid) -> list[str]:
    """Fields 3.. of /proc/<pid>/stat (after the command name)."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()


def _descendants() -> list[int]:
    """This process and every live process it started, transitively."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and the processes it
    started (the JVM, the Python workers), including children that
    have exited and been reaped. Steal (time the hypervisor gave other
    guests) is not counted; a slowdown from sharing the cores and caches
    with them is."""
    ticks = 0
    for pid in _descendants():
        try:
            f = _stat(pid)
        except OSError:
            continue
        ticks += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def measured(fn):
    """Run ``fn()``: (its result, wall s, CPU s of the process tree,
    machine steal share)."""
    steal0, total0 = cpu_ticks()
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    res = fn()
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    steal1, total1 = cpu_ticks()
    return res, wall, cpu, (steal1 - steal0) / max(1, total1 - total0)


def sample_notes(what: str, samples) -> list[str]:
    """Note lines for (wall s, CPU s, steal share) samples."""
    return [f"{what} wall s " + " ".join(f"{w:.2f}" for w, _, _ in samples),
            f"{what} cpu s " + " ".join(f"{c:.2f}" for _, c, _ in samples),
            f"{what} steal % " + " ".join(f"{100 * t:.1f}"
                                          for _, _, t in samples)]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(name)[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def worker_peak_rss_mb() -> float:
    """Highest ``VmHWM`` among the live PySpark worker processes that
    descend from this process (the daemon and its forked workers)."""
    peak = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024


class Rest:
    """Stage and task metrics of job groups from Spark's monitoring REST
    API (the live UI of this application, on localhost)."""

    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        # no proxy: the UI is this process's own JVM
        self.opener = urllib.request.build_opener(
            urllib.request.ProxyHandler({}))

    def _get(self, path: str):
        with self.opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def group(self, groups: list[str], timeout_s: float = 30.0) -> dict:
        """Totals over the completed stages of the jobs in ``groups``.
        Waits for the status listener to record every job."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {groups} still running")
            time.sleep(0.2)
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in ids and s["status"] == "COMPLETE"]
        task_s = []
        for s in stages:
            for t in self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                               "/taskList?length=1000000"):
                task_s.append(t["taskMetrics"]["executorRunTime"] / 1e3)
        return {
            "tasks": len(task_s),
            "task_s.p50": statistics.median(task_s) if task_s else 0.0,
            "task_s.max": max(task_s, default=0.0),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "output_mb": sum(s["outputBytes"] for s in stages) / 1e6,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 1e6,
        }
