"""Host-sized Spark session and process hygiene for the benchmark.

All scratch output (Spark local dirs, Python and JVM temp files, indexes,
generated parquet) lives under one work directory inside the checkout.
The session uses only the library's existing settings: ``get_spark`` with
``local[nproc]``, ``WT_DRIVER_MEM`` and ``SPARK_LOCAL_DIRS``, with the
FAIR scheduler the server module recommends for services.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time

DRIVER_MEM = "3g"


def prepare_workdir(root: str) -> str:
    """Fresh work dir; every temp file of this process and its children
    goes there (must run before Spark or ``tempfile`` is first used)."""
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["WT_DRIVER_MEM"] = DRIVER_MEM
    # the JVM's own temp files go to the work dir; no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("OMP_NUM_THREADS", None)
    return work


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark():
    from watertower_spark.session import get_spark

    cpus = host_cpus()
    extra = {
        "spark.scheduler.mode": "FAIR",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tempfile.gettempdir(), "warehouse"),
    }
    spark = get_spark(cpus=cpus, shuffle_partitions=cpus,
                      app_name="watertower-perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    reap_descendants()


def _children(pid: int) -> list:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(name))
    return out


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate any process still descending from this one and wait."""
    deadline = time.time() + timeout
    while True:
        pending, stack = [], _children(os.getpid())
        while stack:
            p = stack.pop()
            pending.append(p)
            stack.extend(_children(p))
        if not pending:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for p in pending:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        for p in pending:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants (the
    driver JVM and Python workers), from /proc ``VmHWM``."""
    total = 0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
        stack.extend(_children(p))
    return total / 1024.0
