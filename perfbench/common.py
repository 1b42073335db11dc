"""Shared plumbing for the benchmark: the checkout layout, the Spark
session, host counters (steal, resident memory) and percentiles.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
generated inputs (``cache/``), Spark and Python scratch (``tmp/``,
``spark-local/``), run outputs (``work/``) and one JSON record per run
(``runs/``).
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
WORK = os.path.join(STATE, "work")
RUNS = os.path.join(STATE, "runs")


class MissingProgram(RuntimeError):
    """The checkout does not hold the program under test."""


def require_program() -> None:
    """Fail unless the checkout holds ``ds2_spark`` and the test
    oracles; the benchmark never falls back to an installed copy."""
    for rel in ("ds2_spark/__init__.py", "tests/oracle/ds2_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise MissingProgram(f"{rel} not found under {ROOT}")


def prepare_env() -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    checkout, and put the checkout first on the workers' import path.
    Must run before the JVM starts."""
    tmp = os.path.join(STATE, "tmp")
    for d in (CACHE, WORK, RUNS, tmp, os.path.join(STATE, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark():
    """A fresh session on ``local[<cpus>]`` with the program's own
    settings (``ds2_spark.session.get_spark``), scratch kept in the
    checkout, and the status store sized for a traced run's jobs."""
    from ds2_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        cpus=cpus(),
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait until every process this one
    started has exited (killing what is left after ``timeout``)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        left = _descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.2)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cached(key: str, build) -> str:
    """``CACHE/<key>``, built once by ``build(tmp_dir)`` and published
    by rename, so an interrupted build is never mistaken for a cache."""
    out = os.path.join(CACHE, key)
    if not os.path.isdir(out):
        tmp = fresh_dir(out + ".partial")
        build(tmp)
        os.rename(tmp, out)
    return out


# ----------------------------------------------------------- host counters


def stat_ticks() -> tuple[int, int]:
    """(active, steal) CPU ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - idle, steal


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss_mb() -> float:
    """Resident memory of every process this one started (the driver
    JVM, the PySpark daemon and its Python workers)."""
    return sum(_rss_kb(pid) for pid in _descendants()) / 1024.0


class RssSampler:
    """Samples ``descendants_rss_mb`` on a thread while ``active`` and
    keeps the peak. Use as a context manager around the whole run."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak_mb = max(self.peak_mb, descendants_rss_mb())

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ----------------------------------------------------------------- numbers


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)

