"""Shared plumbing for the workloads: the Spark session, process-tree
memory sampling, the closed timing loop, output checks and the result
line.  Nothing here starts a thread or a process at import time."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from typing import Callable, Dict, List, Optional, Tuple

import pandas as pd


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def median(values: List[float]) -> float:
    return float(statistics.median(values))


# -- memory ------------------------------------------------------------------


def _stat(pid: int) -> Optional[List[bytes]]:
    """Fields of ``/proc/<pid>/stat`` after the command name (which may
    hold spaces): state, ppid, ...; None once the process has ended."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(b")") + 2:].split()


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(int(entry)) if entry.isdigit() else None
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children_map()
    out: List[int] = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_bytes(pid: int) -> int:
    """Peak resident memory of one process so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _jvm_fork(pid: int) -> bool:
    """A child the JVM forked that has not yet exec'd its command: it
    still maps the JVM's memory and reports the JVM's peak as its own."""
    fields = _stat(pid)
    if fields is None:
        return False
    exe = _exe(pid)
    return exe.endswith("/java") and exe == _exe(int(fields[1]))


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ")[:40].decode(errors="replace")
    except OSError:
        return "?"


class RssSampler:
    """Peak memory of this process tree (driver, JVM, Python workers):
    the largest sum, over the processes alive at one sample, of each
    one's own peak resident memory.  Per-process peaks are exact, so a
    short spike between two samples still counts."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: Dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def sample(self) -> None:
        me = os.getpid()
        parts = {p: _hwm_bytes(p) for p in [me] + descendants(me) if not _jvm_fork(p)}
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_parts = {f"{p}:{_command(p)}": v / 2**20 for p, v in parts.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# -- Spark session -------------------------------------------------------------


def make_session(work_dir: str, event_log_dir: Optional[str] = None):
    """``local[n]`` with n = nproc and n shuffle partitions; every file
    Spark or the JVM writes stays under ``work_dir``.  An event log is
    written only when ``event_log_dir`` is given (the traced run)."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: a JVM otherwise writes a perf data file to /tmp;
    # this covers the JVM spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # at most one idle Python worker per core, so the number of
        # workers alive (and their memory) does not depend on timing
        .config("spark.python.factory.idleWorkerMaxPoolSize", str(n))
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        # The heap is committed and touched at start, so the JVM's share
        # of peak memory does not depend on when garbage collection runs.
        # C1 only: with C2 a call kept speeding up for minutes as hot code
        # was recompiled, and the compiler threads competed with the 4
        # task threads, so single runs spread by 10-15%.  C1 alone gets a
        # 48 MB code cache, which the dedup calls fill; give it C2's size.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m")
        .config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_workers_import(spark) -> None:
    """Fail now, loudly, if Python workers cannot import the package:
    a task that dies with ModuleNotFoundError would otherwise be timed
    as part of the first pipeline call."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def probe(ids: pd.Series) -> pd.Series:
        import hooqu_spark  # noqa: F401

        return ids

    n = cores()
    spark.range(n, numPartitions=n).select(probe("id")).collect()


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    benchmark started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def kernel_ms_per_doc(reps: int = 5) -> float:
    """Host-speed calibration: single-core latency of the enrich kernel
    over 200 fixed synthetic docs (median of ``reps`` passes, after one
    warm pass)."""
    from hooqu_spark.pipeline.features import compute_doc_features
    from hooqu_spark.pipeline.synth import make_doc

    texts = [make_doc(i)["text"] for i in range(200)]
    for t in texts:
        compute_doc_features(t)
    passes = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            compute_doc_features(t)
        passes.append(time.perf_counter() - t0)
    return median(passes) / len(texts) * 1000


# -- timing loop, checks, result ------------------------------------------------


def closed_loop(seconds: float, iteration: Callable[[], None]) -> int:
    """One client: run ``iteration`` back to back until ``seconds`` have
    passed (at least once).  Returns the number of iterations."""
    start = time.perf_counter()
    n = 0
    while True:
        iteration()
        n += 1
        if time.perf_counter() - start >= seconds:
            return n


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree: user and system
    time of every live process, plus that of the children each one has
    reaped.  Time the host steals from the VM is not in it."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        fields = _stat(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def timed(fn: Callable[[], object]) -> Tuple[float, float, object]:
    """Wall seconds, process-tree CPU seconds, and the result of ``fn()``."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    t1 = time.perf_counter()
    return t1 - t0, tree_cpu_s() - c0, out


YARDSTICK_ROWS = 6_000_000
YARDSTICK_KEYS = 1_000


class Yardstick:
    """A fixed piece of work that calls nothing in the package, run
    between the timed calls of an untraced run.  Its process-tree CPU seconds
    track how fast the shared host runs this process just then: on a
    4-vCPU VM that shares its host, the CPU seconds of one and the same call
    moved by up to 50% between runs made minutes apart, and the
    yardstick's moved with them.  The end-to-end call metrics are the
    median CPU seconds of a call divided by the median CPU seconds of
    the yardstick runs of the same process.

    The job is a Spark hash aggregation of ``YARDSTICK_ROWS`` generated
    rows into ``YARDSTICK_KEYS`` groups on every core: about 2 CPU
    seconds and 1 s of wall on 4 cores.  A pure-Python loop on the
    driver was tried as a second part and dropped: one second of single-
    threaded Python spread more from run to run than the calls did.
    When disabled (the traced run) it does nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.cpu: List[float] = []

    def _job(self) -> int:
        from pyspark.sql import functions as F

        rows = self.spark.range(0, YARDSTICK_ROWS, numPartitions=cores()).select(
            (F.col("id") % YARDSTICK_KEYS).alias("k"), F.xxhash64("id").alias("h")
        ).groupBy("k").agg(F.sum(F.col("h") % 1_000_003), F.max("h")).collect()
        if len(rows) != YARDSTICK_KEYS:
            raise RuntimeError(f"yardstick returned {len(rows)} groups")
        return len(rows)

    def warm(self) -> None:
        if self.enabled:
            self._job()

    def measure(self) -> None:
        if self.enabled:
            self.cpu.append(timed(self._job)[1])

    def units(self, cpu_s: List[float]) -> float:
        """The median of ``cpu_s`` in yardstick units."""
        return median(cpu_s) / median(self.cpu)

    def info(self) -> dict:
        return {"runs": len(self.cpu), "cpu_s": median(self.cpu) if self.cpu else 0.0,
                "cpu_s_samples": [round(c, 2) for c in self.cpu]}


class Checks:
    """Output checks, one per operation attempted; a failed check is a
    failed operation."""

    def __init__(self):
        self.results: List[Tuple[str, bool, str]] = []

    def record(self, op: str, problems: List[str]) -> None:
        self.results.append((op, not problems, "; ".join(problems)))

    @property
    def attempted(self) -> int:
        return len(self.results)

    @property
    def failed(self) -> int:
        return sum(1 for _, ok, _ in self.results if not ok)

    def failures(self) -> List[str]:
        return [f"{op}: {why}" for op, ok, why in self.results if not ok]


def result_line(checks: Checks, metrics: Dict[str, Tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": checks.attempted > 0 and checks.failed == 0,
            "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": {
                name: {"value": float(value), "unit": unit}
                for name, (value, unit) in metrics.items()
            },
        }
    )
