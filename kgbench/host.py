"""Host fitting and process bookkeeping: the Spark session sized to the
host, its clean shutdown, and the resident-memory sampler."""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import threading
import time

YOUNG_MB = 512


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of the host's RAM, between 1 and 4 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit: one BLAS/OMP
    thread per worker, the package importable, scratch under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM perf-data file in the system temp dir: this covers the launcher
    # JVM spark-submit starts first; the driver JVM gets the same flag
    # through spark.driver.extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, n_cpus: int, event_log: str | None = None):
    from pyspark.sql import SparkSession

    mem_gb = driver_memory_gb()
    b = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName("kgbench")
        .config("spark.sql.shuffle.partitions", str(max(n_cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{mem_gb}g")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # heap and young generation fixed in size: the JVM's resident memory
        # then follows the program's live data, not G1's heap expansion,
        # which grows the heap when CPU contention stretches GC pauses
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem_gb}g -Xmn{YOUNG_MB}m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> dict:
    """pid -> ppid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def descendants(pid: int, table: dict | None = None) -> list:
    table = _proc_table() if table is None else table
    kids: dict = {}
    for p, pp in table.items():
        kids.setdefault(pp, []).append(p)
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, with each page
    shared by n processes counted 1/n in each. Summing RSS instead would
    count a forked child's copy-on-write pages twice (the JVM forks for
    shell commands while writing files; the worker daemon forks workers)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss(pid: int) -> list:
    """PSS bytes of ``pid`` and of each of its descendants, ``pid`` first."""
    return [_pss(p) for p in [pid, *descendants(pid)]]


class PeakMemory:
    """Samples the resident memory (PSS) summed over this process and every
    descendant (the driver JVM, the Python worker daemon and its workers)
    until stopped; ``at_peak`` holds the per-process values of the peak
    sample."""

    interval = 0.1  # seconds between samples

    def __init__(self):
        self.peak = 0
        self.at_peak: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        pss = tree_pss(os.getpid())
        if sum(pss) > self.peak:
            self.peak, self.at_peak = sum(pss), pss

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    the session started to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            finally:
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()
        wait_gone(kids)


def wait_gone(pids: list, timeout: float = 20.0) -> None:
    """Wait for ``pids`` to end; SIGKILL what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    live = list(pids)
    while live:
        table = _proc_table()
        live = [p for p in live if p in table]
        if not live or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
