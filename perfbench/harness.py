"""Run context: the private work directory, the Spark session, the
operation counters and the driver-memory sampler."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

# Task slots Spark gets: fewer than the host's 4 cores, so the driver's
# own Python work and the JVM's background threads do not compete with
# the tasks for a core (README: "Spark slots").
SPARK_SLOTS = 2

_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * _PAGE / (1 << 20)


class RssSampler:
    """Samples the driver process's resident set every ``period`` seconds
    while started; ``peak_mb`` is the highest sample, ``samples`` the
    (time, MB) series for per-span attribution."""

    def __init__(self, period: float = 0.02):
        self.period = period
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.samples.append((time.time(), rss_mb()))

    def _loop(self):
        while not self._stop.is_set():
            self.samples.append((time.time(), rss_mb()))
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return max(m for _, m in self.samples)

    def peak_between(self, t0: float, t1: float) -> float | None:
        ms = [m for t, m in self.samples if t0 <= t <= t1]
        return max(ms) if ms else None


class Ops:
    """Attempted / failed operation counts. Every check names the
    operations it covers; a mismatch fails all of them. A check marked
    ``known_fault`` covers an operation that fails because of a known
    engine fault: it counts as failed but does not make the run
    incorrect."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []

    def check(self, what: str, ok: bool, n_ops: int = 1,
              known_fault: bool = False) -> bool:
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            if not known_fault:
                self.unexpected.append(what)
            print(f"CHECK FAILED{' (known fault)' if known_fault else ''}:"
                  f" {what}", file=sys.stderr)
        return ok


class Run:
    """One benchmark run: a private directory under ``root`` that holds
    every file the run makes (inputs, tables, checkpoints, Spark local
    dirs, warehouse, temp files) and is removed on close."""

    def __init__(self, root: str, name: str, trace: bool):
        self.trace = trace
        self.root = root
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{name}-", dir=base)
        self.spark = None
        self._cwd = os.getcwd()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self):
        tmp = self.path("tmp")
        local = self.path("local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        os.environ["SPARK_UI"] = "true" if self.trace else "false"
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # Spark's Python workers import the engine too (Python data
        # sources, UDFs) and start in the run directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        os.chdir(self.dir)  # derby.log / spark-warehouse defaults land here
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.dir}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "100",
            })
        from sling_cli_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{SPARK_SLOTS}]",
                               extra_conf=conf)
        return self.spark

    def close(self):
        """Stop Spark and its JVM, wait for the JVM to exit, remove the
        run directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        os.chdir(self._cwd)
        shutil.rmtree(self.dir, ignore_errors=True)
        base = os.path.dirname(self.dir)
        try:
            os.rmdir(base)  # only when no other run is using it
        except OSError:
            pass
