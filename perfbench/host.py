"""Host facts, a single-core CPU probe, peak memory of the process tree,
and the Spark session lifecycle the benchmark drives."""

from __future__ import annotations

import os
import platform
import subprocess
import time

# Spark's default.  The inputs are small; a bigger heap grows by a different
# amount in every run, which moved both peak RSS and job time by ~15%.
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc(),
        "mem_gb": round(mem_kb / 1024 / 1024, 2),
        "machine": platform.machine(),
        "python": platform.python_version(),
    }


def busy_loop_rate(seconds: float = 1.0) -> float:
    """Iterations per second of a pure-Python loop on one core.  The host
    shares its cores, so this is recorded next to every run as a reading
    of how much CPU the run had, never used as a gate."""
    x, n = 1.0, 0
    stop = time.perf_counter() + seconds
    t0 = time.perf_counter()
    while time.perf_counter() < stop:
        for _ in range(10_000):
            x = x * 1.0000001 + 1e-9
        n += 10_000
    return n / (time.perf_counter() - t0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of this process and every descendant
    alive now, summed per command name: the Spark driver, the JVM and the
    Python workers."""
    kids = _children()
    todo, peaks = [root or os.getpid()], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = fields["Name"].strip()
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        peaks[name] = peaks.get(name, 0.0) + kb / 1024.0
    return peaks


def start_spark(master: str, extra: dict | None = None):
    """A session through the engine's own factory, with the JVM's temporary
    files and the warehouse inside the checkout (run.py points TMPDIR and
    SPARK_LOCAL_DIRS there too)."""
    from gregor_spark.session import get_spark

    from .inputs import ROOT

    tmp = os.path.join(ROOT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(ROOT, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    return get_spark(app="perfbench", master=master, extra=conf)


def shutdown_gateway() -> None:
    """End the gateway JVM (and with it the Python worker daemon), if one
    is running, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
