"""Shared plumbing for the benchmark workloads: the checkout layout,
the Spark session, a process-tree RSS sampler and small statistics.

Everything a run writes goes under ``<checkout>/.bench_work``; the
session's local dirs, JVM temp dir, warehouse dir and event log are
pointed there before the JVM starts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "etl_procedure_codes_crawler_spark")
FIXTURES = os.path.join(ROOT, "tests", "fixtures")
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_HEAP = "2g"


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


def check_checkout() -> None:
    for path in (PACKAGE, FIXTURES, os.path.join(ROOT, "__spark_entry__.py")):
        if not os.path.exists(path):
            raise MissingProgram(f"not found in checkout: {path}")


def prepare_environment(run_dir: str) -> None:
    """Point every temp/scratch location inside the checkout and make
    the package importable by the Spark driver and its Python workers. Must
    run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the program's own driver-heap knob (default 8 GB): with 8 GB, G1
    # grew the heap to 2-5 GB depending on the run and peak RSS followed;
    # 2 GB is ample for these inputs and caps that growth
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = (
        ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, event_log_dir: str | None = None):
    """``local[nproc]`` session from the program's own factory. With
    ``event_log_dir`` the session writes an uncompressed event log
    there (the traced run)."""
    from etl_procedure_codes_crawler_spark.session import get_spark

    n = cpus()
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_session_start(run_dir: str, event_log_dir: str | None = None):
    """Start the session and run one trivial job; returns (spark, s)."""
    t0 = time.perf_counter()
    spark = start_session(run_dir, event_log_dir)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_jvm(timeout_s: float = 30.0) -> None:
    """End the JVM pyspark launched (and with it the Python worker
    daemon), and wait until every child process of this one is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=timeout_s)
    end = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() > end:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


_PAGE = os.sysconf("SC_PAGE_SIZE")
#: processes counted: the JVM and the Python workers. A JVM child
#: between fork and exec carries a thread's name and the JVM's pages,
#: and would count them twice.
_COUNTED = ("java", "python")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM,
    the Python worker daemon and its workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        #: per-process RSS (by command name) at the peak sample
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample: dict[str, int] = {}
            for p in descendants(me):
                name = _comm(p)
                if name.startswith(_COUNTED):
                    sample[name] = sample.get(name, 0) + _rss_bytes(p)
            total = sum(sample.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.at_peak = sample
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, summed
    over CPUs (``/proc/stat``); a run records the difference as a
    diagnostic of host noise."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    return float(statistics.median(values))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class OpLog:
    """Attempted/failed operations of one run, with the failure reasons
    (an op fails if it raises or its output check fails)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failures.append(reason)

    @property
    def failed(self) -> int:
        return len(self.failures)
