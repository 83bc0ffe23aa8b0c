"""Spark session lifecycle, worker memory and host-noise context.

Everything the session writes (shuffle files, temp dirs, the warehouse)
goes under the run's work directory.  :func:`stop_session` waits for the
JVM to exit, and :func:`reap_descendants` for everything the JVM started,
so a run leaves no process behind.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import signal
import statistics
import tempfile
import time

# Median of 15 samples of each control on an idle 4-vCPU Intel Xeon
# (x86-64) VM, the machine the figures in perfbench/README.md were taken on.
# bench.py's 0.136 s / 0.090 s references came from a 32-core host and do
# not apply here.
CPU_CONTROL_REF_S = 0.055
MEMBW_CONTROL_REF_S = 0.055


def cores() -> int:
    """local[N] with N = min(4, usable CPUs - 1): one CPU stays free for the
    driver, the JVM's compiler and GC threads, and other tenants."""
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def tasks(n_cores: int) -> int:
    """Tasks per stage: two waves.  Each Python task costs ~85 ms of fixed
    worker overhead on the reference host, so more, smaller tasks would
    mostly measure that."""
    return 2 * n_cores


def build_session(work: str, n_cores: int, *, ui: bool = False):
    """A local[N] session whose files all live under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # child processes (the JVM, Python workers) inherit these
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    builder = (SparkSession.builder
               .master(f"local[{n_cores}]")
               .appName("perfbench")
               .config("spark.driver.memory", "2g")
               .config("spark.driver.extraJavaOptions", jvm_opts)
               .config("spark.local.dir", os.path.join(work, "spark-local"))
               .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
               .config("spark.ui.enabled", "true" if ui else "false")
               .config("spark.ui.port", "0")
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
               # a fixed task layout: 2N shuffle partitions, never coalesced,
               # and one scan split per input file
               .config("spark.sql.shuffle.partitions", str(tasks(n_cores)))
               .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
               .config("spark.sql.files.openCostInBytes", str(128 << 20)))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark, *, shutdown_jvm: bool = True) -> None:
    """Stop the context; with ``shutdown_jvm`` also end the JVM and wait."""
    from pyspark import SparkContext

    spark.stop()
    if not shutdown_jvm:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def adopt_orphans() -> None:
    """Become the child subreaper (Linux ``PR_SET_CHILD_SUBREAPER``): the
    pyspark daemon and workers that outlive the JVM are re-parented to this
    process instead of to init, so :func:`reap_descendants` can wait for
    them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 10.0) -> None:
    """Wait until every process below this one has ended: SIGTERM at once,
    SIGKILL after ``grace_s``, and collect each exit status."""
    me, deadline = os.getpid(), time.monotonic() + grace_s
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        kids = _children()
        live, stack = [], list(kids.get(me, []))
        while stack:
            pid = stack.pop()
            live.append(pid)
            stack.extend(kids.get(pid, []))
        if not live:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in live:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def python_worker_pids() -> list[int]:
    """PIDs of the pyspark daemon and its workers under this run's JVM."""
    root = jvm_pid()
    if root is None:
        return []
    kids = _children()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark" in cmd:
            out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def worker_rss_peak_mb() -> float:
    """Largest VmHWM among the Python workers (psutil-free, via /proc)."""
    peaks = [_status_kb(p, "VmHWM") for p in python_worker_pids()]
    peaks = [p for p in peaks if p is not None]
    return max(peaks) / 1024 if peaks else float("nan")


def cpu_control_s() -> float:
    """Fixed single-thread CPU work: sha256 over 64 MB."""
    buf = b"\xab" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def membw_control_s(arr) -> float:
    """Fixed memory-bandwidth work: 4 sums over a 128 MB float64 array."""
    t0 = time.perf_counter()
    for _ in range(4):
        arr.sum()
    return time.perf_counter() - t0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other tenants, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def run_context(samples: int = 3) -> dict:
    """loadavg plus CPU and memory-bandwidth control samples."""
    import numpy as np

    arr = np.ones((128 << 20) // 8)
    cpu = statistics.median(cpu_control_s() for _ in range(samples))
    mem = statistics.median(membw_control_s(arr) for _ in range(samples))
    del arr
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"loadavg": load, "cpu_control_s": cpu, "membw_control_s": mem,
            "noise_factor": max(cpu / CPU_CONTROL_REF_S,
                                mem / MEMBW_CONTROL_REF_S)}


if __name__ == "__main__":
    # Calibration: print the medians to pin as *_CONTROL_REF_S.
    import numpy as np

    arr = np.ones((128 << 20) // 8)
    print({"cpu_control_s": statistics.median(cpu_control_s() for _ in range(15)),
           "membw_control_s": statistics.median(membw_control_s(arr)
                                                for _ in range(15))})
