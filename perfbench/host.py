"""Host facts, a host-speed probe, the benchmark's SparkSession, and a
peak-RSS sampler.

Everything here fits the session to the machine it runs on: ``local[nproc]``,
a driver heap derived from physical RAM, Spark's scratch space inside the
benchmark's own work directory, and no console progress bar. Nothing is read
from the repository's older bench baselines.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import signal
import subprocess
import threading
import time
from concurrent.futures import ThreadPoolExecutor

_GIB = 1 << 30


def cpus() -> int:
    """CPUs this process may run on (cgroup/affinity aware, unlike os.cpu_count)."""
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory(ram: int) -> str:
    """A quarter of physical RAM, clamped to [1 GiB, 8 GiB], in MiB.

    The driver JVM is the whole executor in local mode; the rest of the
    machine is left to the Python workers, the page cache and other
    tenants (the engine's own default is a fixed 24g). An eighth was
    measured too: the fused pipeline then spent about 15% of each
    iteration in GC and its throughput spread widened."""
    mib = min(max(ram // 4, _GIB), 8 * _GIB) >> 20
    return f"{mib}m"


# The probe's time on the 4-core VM the benchmark was built on, at its usual
# speed. Times are reported as if the host ran at this speed.
REFERENCE_PROBE_S = 0.041
PROBE_SETTLE_S = 0.2


def speed_probe() -> float:
    """Seconds a fixed job on every CPU takes now: one thread per CPU, each
    hashing 12 x 4 MiB with SHA-256 (hashlib drops the GIL), best of three.

    The VM's speed drifts by up to 2x over minutes, and the workloads use
    all CPUs. A single-threaded probe missed most of that drift: another
    tenant busy on some cores slows a ``local[nproc]`` job while one free
    core stays fast. The probe first sleeps ``PROBE_SETTLE_S`` so that
    the JVM's own work left over from the last iteration (GC, JIT) has
    settled and is not taken for host load."""
    n = cpus()
    buf = bytes(1 << 22)

    def digests(_):
        for _ in range(12):
            hashlib.sha256(buf).digest()

    time.sleep(PROBE_SETTLE_S)
    best = float("inf")
    with ThreadPoolExecutor(n) as pool:
        for _ in range(3):
            t = time.perf_counter()
            list(pool.map(digests, range(n)))
            best = min(best, time.perf_counter() - t)
    return best


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd, from /proc (field 22 of
    /proc/self/stat is the start time in clock ticks after boot)."""
    with open("/proc/self/stat") as f:
        # the command name may contain spaces; fields after ')' are fixed
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def facts() -> dict:
    import pyspark

    ram = ram_bytes()
    return {
        "cpus": cpus(),
        "ram_gib": round(ram / _GIB, 2),
        "driver_memory": driver_memory(ram),
        "pyspark": pyspark.__version__,
    }


def start_session(root: str, work: str):
    """The benchmark's one SparkSession, built by the engine's own factory.

    ``root`` (the checkout) goes on the Python workers' path; ``work`` holds
    every file Spark, the JVM and Python would otherwise put in /tmp or the
    current directory."""
    from fairy_core_spark.session import get_spark

    n = cpus()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    heap = driver_memory(ram_bytes())
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=max(8, 2 * n),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap starts at its maximum: grown on demand, it reached a
            # different size in each run, and with it the peak RSS and the
            # GC share of a warm iteration
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp}",
            # unix socket paths are capped at 107 bytes; a checkout can sit
            # deep enough to exceed that, so name the socket dir relative to
            # the working directory the driver, JVM and workers share
            "spark.python.unix.domain.socket.dir": os.path.relpath(tmp),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then wait until the JVM and every process under it
    (the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None and proc.stdin:
        proc.stdin.close()  # the JVM exits when the launcher pipe closes
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    if proc is not None:
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    while _alive(started) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in _alive(started):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while _alive(started):
        time.sleep(0.05)


def _alive(pids: list[int]) -> list[int]:
    """The pids that still run (a zombie has finished)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            pass
    return out


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(pid: int) -> list[int]:
    children, out, stack = _children(), [], [pid]
    while stack:
        kids = children.get(stack.pop(), [])
        out.extend(kids)
        stack.extend(kids)
    return out


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Summed RSS of ``root_pid`` and its descendants. A child caught between
    vfork and exec (the JVM spawning a helper) shares its parent's address
    space and reports the parent's exact ``statm``; it is counted once."""
    children, statm, total = _children(), {}, 0
    stack = [(root_pid, None)]
    while stack:
        pid, parent = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            continue  # exited while we looked
        if statm[pid] != statm.get(parent):
            total += int(statm[pid].split()[1]) * page
        stack.extend((kid, pid) for kid in children.get(pid, ()))
    return total


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) every ``INTERVAL`` seconds; ``peak`` is the
    largest sum seen inside the ``with`` block."""

    INTERVAL = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        page, pid = os.sysconf("SC_PAGE_SIZE"), os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid, page))
            if self._stop.wait(self.INTERVAL):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
