"""Process-level plumbing for the benchmark: where it may write, the Spark
session sized to this host, and the host counters each run records
(hypervisor steal ticks, resident memory of the JVM and the Python workers).

A run's scratch lives under ``perfbench/.work/`` in the checkout:
``WorkDir`` points Spark's local dirs, the JVM's temp dir and Python's
``tempfile`` there before the JVM starts, and removes it at the end.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# at most this many Spark task slots, and never more than the cores we may use
MAX_SLOTS = 4
HEAP_MB_CAP = 1024
# the JVM's perf-data file lives in /tmp whatever java.io.tmpdir says
NO_PERF_DATA = "-XX:-UsePerfData"


def slots() -> int:
    return max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0))))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: a quarter of the host's RAM, capped at 3 GB (the corpus
    is small; the rest stays free for the Python workers and neighbours)."""
    return min(HEAP_MB_CAP, host_mem_mb() // 4)


class WorkDir:
    """A private scratch tree under ``perfbench/.work``, removed on close."""

    def __init__(self) -> None:
        base = os.path.join(BENCH_DIR, ".work")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def session_conf(work: WorkDir) -> dict[str, str]:
    n = slots()
    local = work.sub("spark-local")
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_mb()}m",
        # a fixed, pre-touched heap: G1 otherwise touches a different share
        # of it in each JVM, and jvm_peak_rss_mb spread 7% across seeds
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb()}m -XX:+AlwaysPreTouch {NO_PERF_DATA} "
            f"-Djava.io.tmpdir={work.tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # reassembly / spine exchanges: two task waves per slot; the salted
        # exchange pins its own count (4 x slots, operators.skew)
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def start_spark(work: WorkDir):
    """Start the session; the Python workers import the program from the
    checkout root, so it goes on their PYTHONPATH before the JVM starts."""
    import sys
    conf = session_conf(work)
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    from pyspark.sql import SparkSession
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Have descendants orphaned by their parent's exit (Python workers whose
    JVM has gone) re-parented to this process rather than to init, so that
    ``stop_spark`` still sees them and waits for them."""
    import ctypes
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_spark(spark, grace_s: float = 60.0) -> None:
    """Stop the session, then the JVM and every process under it, and return
    only once each has ended.

    ``SparkSession.stop`` leaves the JVM running: PySpark's gateway server
    exits when its stdin closes, which otherwise happens only as this
    process exits, so the JVM would outlive the run.  Whatever is still
    alive ``grace_s`` seconds later is sent SIGTERM, and then SIGKILL."""
    import sys
    from pyspark import SparkContext
    try:
        if spark is not None:
            spark.stop()
    except Exception as e:  # noqa: BLE001
        # a signal that cut a py4j call short leaves its connection unusable;
        # the JVM is ended below all the same
        print(f"perfbench: SparkSession.stop failed: {e!r}", file=sys.stderr)
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap_descendants(grace_s)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reap_descendants(grace_s: float) -> None:
    """Wait until this process has no descendants left, signalling those
    that outlast ``grace_s`` (SIGTERM, then SIGKILL 5 s later)."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        # a zombie counts until reaped: its own orphans reach this process
        # only once it is gone
        pids = _descendants()
        if not pids:
            return
        pids = [p for p in pids if _alive(p)]
        now = time.monotonic()
        if now > deadline + 5:
            sig = signal.SIGKILL
        elif now > deadline:
            sig = signal.SIGTERM
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks over all cpus (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


class RssPoller:
    """Samples the resident size of this process's JVM and of its Python
    workers every ``interval`` seconds while running; keeps the peaks.

    A sampled peak rather than VmHWM: workers and the JVM outlive set-up,
    so a high-water mark would carry set-up work into the timed passes."""

    interval = 0.05

    def __init__(self) -> None:
        self.jvm_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: dict[int, str]) -> None:
        for pid, role in pids.items():
            mb = _rss_mb(pid)
            if mb is None:
                continue
            if role == "jvm":
                self.jvm_peak_mb = max(self.jvm_peak_mb, mb)
            else:
                self.worker_peak_mb = max(self.worker_peak_mb, mb)

    def _classify(self) -> dict[int, str]:
        pids = {}
        for pid in _descendants():
            cmd = _cmdline(pid)
            if b"org.apache.spark.deploy.SparkSubmit" in cmd:
                pids[pid] = "jvm"
            elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                pids[pid] = "worker"
        return pids

    def _run(self) -> None:
        pids, last_scan = self._classify(), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan > 0.5:
                pids, last_scan = self._classify(), time.monotonic()
            self._sample(pids)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
