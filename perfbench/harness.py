"""Process-level plumbing shared by every workload: the checkout layout,
the Spark session, span recording and peak-memory readout."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

#: driver heap; the benchmark shares its machine, so it stays small
HEAP = "2g"


class Checkout:
    """Paths inside the checkout the benchmark runs from. Everything the
    benchmark writes lives under ``<root>/.bench_work``."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.base = os.path.join(root, ".bench_work")
        tag = f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}"
        self.work = os.path.join(self.base, "run", tag)
        self.results = os.path.join(self.base, "results")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.tmp = os.path.join(self.work, "tmp")

    def has_engine(self) -> bool:
        return os.path.isfile(os.path.join(self.root, "cdc_spark", "__init__.py"))

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in (self.work, self.results, self.eventlog, self.tmp):
            os.makedirs(d, exist_ok=True)
        # temp files of this process, its JVM and the Python workers the
        # JVM starts all stay inside the checkout
        os.environ["TMPDIR"] = self.tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def cores() -> tuple[int, int]:
    """``(N, nproc)``: Spark runs ``local[N]`` with ``N = min(4, nproc)``."""
    nproc = len(os.sched_getaffinity(0))
    return min(4, nproc), nproc


def start_spark(co: Checkout, n: int, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", co.path("spark-local"))
        .config("spark.sql.warehouse.dir", co.path("warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={co.tmp}")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + co.eventlog)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (the Python
    workers the JVM forks can outlive it), so ``reap_children`` can wait
    for every process the benchmark started. Linux only; a no-op
    elsewhere."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end.

    The JVM exits when its stdin closes, but on its own schedule: without
    the wait it may still be running after this process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def reap_children(grace: float = 10.0) -> None:
    """Wait until no child of this process is left: ``grace`` seconds for
    them to end by themselves, then SIGTERM, then SIGKILL. Orphans adopted
    through ``become_subreaper`` are children too, so this covers every
    process the benchmark started, however deep."""
    start = time.time()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        waited = time.time() - start
        if waited > grace:
            sig = signal.SIGTERM if waited < grace + 5.0 else signal.SIGKILL
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.05)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of the ``VmHWM`` (peak resident set) of ``pids`` in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids if p) / 1024.0


class Spans:
    """Benchmark-side spans around each public engine call. Each span also
    names the Spark job group of the jobs it triggers, so the event-log
    parser can attribute jobs to spans."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.items: list[dict] = []
        self._open: list[dict] = []

    def _group(self, rec: dict | None) -> None:
        if self.sc is not None:
            if rec is None:
                self.sc.setJobGroup("pb-idle", "idle")
            else:
                self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"pb{len(self.items)}", "name": name, "start": time.time(),
               "end": None, **attrs}
        self.items.append(rec)
        self._open.append(rec)
        self._group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            # jobs after a nested span belong to the enclosing one again
            self._group(self._open[-1] if self._open else None)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name]
