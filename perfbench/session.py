"""Host-portable Spark session for the benchmark, plus the process-tree
bookkeeping it needs: peak resident memory from /proc and a teardown that
waits for the JVM and its Python workers to exit.

Nothing here starts at import time; ``prepare_env`` must run before
``pyspark`` launches its JVM, because the JVM and the Python workers it
forks inherit this process's environment.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import threading
import time

_THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS")


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints without
    OMP_NUM_THREADS set)."""
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the host's RAM, between 1 GiB and 16 GiB: the driver
    is also the only executor in local mode, and the Python workers and
    the page cache need the rest. The old generation stays well under
    this cap (``heap_peaks`` records it); the young pools grow toward
    whatever room G1 has, so the JVM's part of peak resident memory still
    follows the cap more than the data the JVM keeps."""
    return max(1024, min(16384, host_mem_bytes() // 4 // 2**20))


def prepare_env(root: str, tmp_dir: str) -> None:
    """Pin BLAS/OpenMP to one thread (N workers x M math threads
    oversubscribe the host), put the repo on the workers' import path, and
    keep every temporary file inside ``tmp_dir``."""
    for v in _THREAD_VARS:
        os.environ[v] = "1"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir  # shuffle and spill files
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def build_conf(tmp_dir: str) -> dict[str, str]:
    cpus = host_cpus()
    java_opts = (
        # bench.py's payload-scan GC discipline: 32m G1 regions raise the
        # humongous-allocation threshold for the Arrow batch buffers
        "-XX:G1HeapRegionSize=32m -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp_dir}"
    )
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "jsonschema-spark-perfbench",
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        # bench.py: 128-row reader batches keep payload scan buffers under
        # the G1 humongous threshold
        "spark.sql.parquet.columnarReaderBatchSize": "128",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _heap_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def heap_peaks(spark) -> dict[str, int]:
    """Peak used bytes of each of the driver JVM's heap pools since
    ``reset_heap_peak``, plus the heap's cap under ``"max"``."""
    out = {p.getName(): p.getPeakUsage().getUsed() for p in _heap_pools(spark)}
    out["max"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    return out


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, then wait for every descendant process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _tree(root_pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def descendants(root_pid: int) -> list[int]:
    return [pid for pid, _ in _tree(root_pid)]


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid, parent in [(root_pid, 0)] + _tree(root_pid):
        exe = _exe(pid)
        # When the JVM launches a helper (Hadoop's local file system runs
        # chmod and bash while it writes), the child reports the whole
        # JVM's pages as its own until it execs. Counting that moment would add
        # a second JVM to a sample now and then.
        if parent and exe.endswith("/java") and exe == _exe(parent):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass  # exited between listing and reading
    return total


class RssSampler:
    """Background sampler of the process tree's summed resident memory.
    ``reset`` starts a new peak window."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())

    def peak(self) -> int:
        with self._lock:
            return max(self._peak, tree_rss_bytes(os.getpid()))
