"""Process environment for a benchmark run: where scratch output goes,
how Spark is configured before its JVM starts, what the machine was,
and the peak resident memory of the driver JVM plus Python processes.

All scratch output (PBF files, gazetteers, spans, Spark local dirs,
the warehouse, JVM temp files) stays under one work directory inside
the checkout, ``.perfbench_work/`` by default.
"""

from __future__ import annotations

import os
import platform
import shlex
import signal
import sys
import threading
import time

WORK_DIR = ".perfbench_work"
RSS_INTERVAL_S = 0.25


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def prepare(root: str, work: str, traced: bool) -> None:
    """Make ``scout_spark`` importable here and in Spark's Python workers,
    and point every temp and Spark directory into ``work``. Must run
    before pyspark starts its JVM."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    if root not in sys.path:
        sys.path.insert(0, root)
    # Spark's Python workers inherit this; without it they cannot import
    # scout_spark when the run starts outside the repository root
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit runs first writes to /tmp otherwise
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the program's own defaults for everything else, driver memory too
    for k in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_NO_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        # keep every job, stage and SQL execution of the run in the
        # status store until the run reads them back
        confs.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def record(spark) -> dict:
    """What the numbers were taken on. A result is only comparable with
    results of the same ``nproc`` and ``scorer``."""
    import importlib.util

    import pyspark

    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        # without rapidfuzz the scorer is the pure-Python WRatio
        # fallback (functions/wratio.py), a different program
        "scorer": "rapidfuzz" if importlib.util.find_spec("rapidfuzz") else "wratio-python",
        "driver_mem": spark.conf.get("spark.driver.memory"),
    }


def jvm_live_mb(spark) -> tuple[float, float]:
    """Driver JVM memory in use right after a full collection, in MB:
    (heap, non-heap). Unlike the JVM's resident size it does not follow
    the collector's heap sizing, but what Spark holds only softly may
    survive the collection, so it still moves from run to run."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20, mx.getNonHeapMemoryUsage().getUsed() / 2**20


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
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


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root_pid: int | None = None) -> dict[str, float]:
    """Resident memory of a process and all its descendants (the driver
    JVM, and the Python workers under it, are children of this process):
    ``total``, and the part in the JVM (``java``) and in Python processes
    (``python``: this process and Spark's Python workers)."""
    root_pid = root_pid or os.getpid()
    kids = _children()
    out = {"total": 0.0, "java": 0.0, "python": 0.0}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        mb = _rss_kb(pid) / 1024.0
        out["total"] += mb
        comm = _comm(pid)
        if comm == "java":
            out["java"] += mb
        elif comm.startswith("python"):
            out["python"] += mb
        stack.extend(kids.get(pid, ()))
    return out


def descendants(root_pid: int | None = None) -> list[int]:
    kids = _children()
    out, stack = [], [root_pid or os.getpid()]
    while stack:
        for k in kids.get(stack.pop(), ()):
            out.append(k)
            stack.append(k)
    return out


def wait_descendants(timeout_s: float) -> None:
    """Wait for every child process to exit; kill what is left after
    ``timeout_s`` and reap it."""
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


class RssSampler:
    """Samples the process tree's resident memory in a background thread
    and keeps the peak of each part of ``tree_rss_mb``."""

    def __init__(self):
        self.peak_mb = {"total": 0.0, "java": 0.0, "python": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        for k, mb in tree_rss_mb().items():
            self.peak_mb[k] = max(self.peak_mb[k], mb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
