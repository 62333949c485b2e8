"""Constants, file helpers and the per-process benchmark state shared
by the runner and the workloads."""

from __future__ import annotations

import datetime as dt
import os
import random
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SF_DIR = "/root/testdata/sf0.1"
# nightly_ingest's sources: its 31 models, incremental run and drains are
# bound by job latency, so sf0.01 costs 60 % of sf0.1's time and keeps a
# run near a minute.
NIGHTLY_SF_DIR = "/root/testdata/sf0.01"
# The warehouse's logical run date (the one bench.py uses).
RUN_DATE = dt.date(1998, 8, 2)
LANDING_FILES = 16
FILES_PER_TRIGGER = 8
DRAIN_TIMEOUT_S = 120


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tree_files(path: str, since: float | None = None):
    """(path, bytes) of the parquet data files under ``path`` (Spark
    metadata and hidden directories skipped), optionally only those
    modified at or after ``since``."""
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                if since is None or st.st_mtime >= since:
                    yield p, st.st_size


def parquet_rows(path: str) -> int:
    """Row count of a parquet table from its footers (no Spark pass)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p, _ in tree_files(path))


def orphan_dirs(path: str) -> int:
    """Write-protocol leftovers (``*.tmp`` / ``*.old``) under ``path``."""
    return sum(
        d.endswith((".tmp", ".old"))
        for _, dirnames, _ in os.walk(path)
        for d in dirnames
    )


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> set[int]:
    """Pids of every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _proc_stat(int(entry))) is not None:
            children.setdefault(int(st[1]), []).append(int(entry))
    found: set[int] = set()
    todo = [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            if pid not in found:
                found.add(pid)
                todo.append(pid)
    return found


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended); reaps it if it
    is a child of this process."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    st = _proc_stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def end_processes(pids: set[int], grace_s: float = 10.0) -> None:
    """Wait for ``pids`` to end: SIGTERM what still runs, then SIGKILL
    what survives ``grace_s``, and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = {p for p in pids if alive(p)}
        if not live:
            return
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = {p for p in live if alive(p)}
    if live := {p for p in pids if alive(p)}:
        log(f"processes still running after SIGKILL: {sorted(live)}")


class Bench:
    """One benchmark process: the session, the tracer and the counters
    every workload reports into."""

    def __init__(self, workload: str, seed: int, trace: bool, manifest: dict):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.manifest = manifest
        self.rng = random.Random(seed)
        self.cores = len(os.sched_getaffinity(0))
        self.heap = self._heap()
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[str, float]] = []  # (operation, seconds)
        self.rep_s: list[float] = []  # one entry per workload rep
        self.layer: dict[str, float] = {}  # per-layer figures
        self.figures: dict[str, tuple[float, str]] = {}  # workload's own
        self.cache_tracked = 0
        self.cache_peak_bytes = 0
        self.peak_live_heap_mb = 0.0  # heap in use after a full GC
        self.spark = None
        self.tracer = None
        self.event_log = None

    @staticmethod
    def _heap() -> str:
        """A quarter of physical memory, at most 4 GiB."""
        with open("/proc/meminfo") as f:
            kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        return f"{max(1024, min(4096, kib // 4 // 1024))}m"

    # --- session ---------------------------------------------------------

    def start_session(self) -> None:
        from pyspark.sql import SparkSession

        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", self.heap)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(WORK, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "spark-warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.scheduler.mode", "FAIR")
            .config("spark.sql.shuffle.partitions", str(self.cores))
        )
        if self.trace:
            self.event_log = os.path.join(WORK, "eventlog")
            os.makedirs(self.event_log)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_log)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def configure(self) -> None:
        from etl_pipelines_spark import session

        spark = self.spark
        session.configure(spark)
        spark.sparkContext.setLogLevel("ERROR")
        # session.configure reads the partition count from an env knob
        # this process removed; pin it to the cores actually used.
        spark.conf.set("spark.sql.shuffle.partitions", str(self.cores))
        # bench.py's split sizing for single-digit-MiB sf0.1 files.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))

    def warm_up(self) -> None:
        """bench.py's warm-ups, a scan (JVM, codegen) and an Arrow round
        trip (Python worker pool), plus a small shuffle, aggregate, join
        and window: whichever operation ran first otherwise paid the
        loading of those operators, so the seeded order moved the wall
        time."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = self.spark
        spark.read.parquet(f"{SF_DIR}/region.parquet").count()
        spark.range(100_000).mapInPandas(
            lambda it: it, schema="id long"
        ).write.mode("overwrite").format("noop").save()
        df = spark.range(20_000).selectExpr("id", "id % 97 AS k")
        counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        (
            df.join(counts, "k")
            .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
            .write.mode("overwrite").format("noop").save()
        )

    def release(self) -> None:
        """Between operations, outside every timed region: drop the
        tracked caches (blocking, so block clean-up cannot overlap the
        next operation), collect the JVM heap and note the memory still
        in use after the collection. A collection lets Spark's cleaner
        drop the broadcasts and shuffles it finds unreachable, which the
        next one frees, so it collects until the heap stops shrinking."""
        from etl_pipelines_spark.operators import cacheutil

        cacheutil.unpersist_tracked(blocking=True)
        jvm = self.spark._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        live = float("inf")
        for _ in range(5):
            jvm.System.gc()
            time.sleep(0.05)
            used = heap.getHeapMemoryUsage().getUsed() / 2**20
            if used > live * 0.99:
                break
            live = used
        self.peak_live_heap_mb = max(self.peak_live_heap_mb, min(live, used))

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            kib = next(ln for ln in f if ln.startswith("VmHWM")).split()[1]
        return int(kib) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and end every process it started (the
        gateway JVM and the Python workers below it), waiting until each
        has ended. Safe on any path out, also before a session exists."""
        from pyspark import SparkContext

        # Collected while the JVM lives: once it exits, the workers it
        # forked are no longer below this process.
        started = descendants(os.getpid())
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                log(f"session stop failed:\n{traceback.format_exc(limit=4)}")
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            started |= descendants(os.getpid())
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # The gateway JVM exits when its stdin closes.
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        end_processes(started | descendants(os.getpid()))

    # --- outcomes --------------------------------------------------------

    def op(self, name: str, seconds: float) -> None:
        """Record the latency of one operation whose output checked."""
        self.ops.append((name, seconds))

    def check(self, what: str, got, want) -> bool:
        """Count one timed operation; a wrong output fails it."""
        self.attempted += 1
        if got != want:
            self.failed += 1
            log(f"MISMATCH {what}: got {got!r}, expected {want!r}")
            return False
        return True

    def error(self, what: str) -> None:
        """Count one timed operation that raised."""
        self.attempted += 1
        self.failed += 1
        log(f"FAILED {what}:\n{traceback.format_exc(limit=8)}")
