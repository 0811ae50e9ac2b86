"""Spark session lifecycle for one benchmark run: a fixed configuration
sized from the machine, a peak-RSS sampler over the driver JVM and its
Python workers, and a shutdown that waits for every process to end."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from pathlib import Path


def machine() -> tuple[int, int]:
    """(usable cores, total RAM in MB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return cores, int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    """The benchmark's fixed session configuration: Spark defaults plus
    the library's documented codegen limit, a driver sized from the
    machine (local[cores], heap = RAM/8 clamped to 1-4 GB), no UI, and
    every scratch path inside the work directory.

    The heap is committed and touched at launch (-Xms = -Xmx,
    AlwaysPreTouch): otherwise the JVM's resident size follows the
    collector's heap-growth decisions, which swing peak RSS by a third
    between identical runs. Heap pressure shows as GC time instead. A
    fixed set of JIT compiler threads lets :func:`jit_cpu_s` account for
    all of their time."""
    cores, ram_mb = machine()
    heap_mb = max(1024, min(4096, ram_mb // 8))
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.codegen.hugeMethodLimit": "8000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.resolve().as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return None if gw is None else getattr(gw, "proc", None)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1024 * 1024)


def pss_mb(pid: int) -> float:
    """Proportional set size: pages shared with other processes (a forked
    Python worker's copy-on-write pages) are split between them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_mb(jvm: int) -> tuple[float, float, int]:
    """(MB, JVM MB, processes counted) of the JVM process tree: the JVM's
    RSS plus the PSS of every process it started. A child the JVM has
    spawned but not yet exec'd (Hadoop's chmod/rm helpers) still runs the
    java binary in the JVM's own address space, so its RSS would count the
    whole heap a second time; such children are skipped. The executable is
    read before the memory, and exec is one-way, so the skip is race-free."""
    java = _exe(jvm)
    jvm_mb = rss_mb([jvm])
    total, n = jvm_mb, 1
    for p in descendants(jvm)[1:]:
        exe = _exe(p)
        if exe is None or exe == java:
            continue
        total += pss_mb(p)
        n += 1
    return total, jvm_mb, n


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, including reaped children) of `pids`.
    Time the hypervisor steals from the VM is not charged to a process,
    so this stays steady when wall time does not."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The compiler keeps
    compiling generated code for many operations after warm-up, on
    threads of its own; their time is warm-up, not the operation's work.
    The benchmark fixes the number of compiler threads (none exit), so
    their time can be subtracted from the process total."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def tree_cpu_s() -> float:
    """CPU seconds so far of the calling thread (the client; the RSS
    sampler's thread is left out), the JVM less its JIT compiler threads,
    and every process the JVM started (its Python workers)."""
    proc = jvm_process()
    if proc is None or proc.poll() is not None:
        return time.thread_time()
    return time.thread_time() + cpu_s(descendants(proc.pid)) - jit_cpu_s(proc.pid)


class RssSampler:
    """Background thread: peak memory of the JVM process tree (the driver
    JVM and the Python workers it forks; see :func:`tree_mb`), every
    `interval` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            proc = jvm_process()
            if proc is None or proc.poll() is not None:
                continue
            total, jvm_mb, n = tree_mb(proc.pid)
            if total > self.peak_mb:
                self.peak_mb, self.peak_jvm_mb, self.peak_procs = total, jvm_mb, n


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the gateway, and wait until the JVM and
    every process it started have exited (killing them after `timeout`)."""
    from pyspark import SparkContext

    proc = jvm_process()
    pids = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
