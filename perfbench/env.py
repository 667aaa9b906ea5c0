"""Run environment of the benchmark, pinned here rather than in the program.

Everything a run writes (Spark local dirs, JVM and Python temp files, the
warehouse, the generated tables) lives under ``.perfbench_work/`` in the
checkout and is removed when the run ends.  The session is ``local[4]``
with a small driver heap: the tables are small, and four Python workers
plus the data share the box with the JVM.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time

CPUS = 4
DRIVER_MEMORY = "2g"


def pin(root: str) -> str:
    """Export the environment (before pyspark is imported) and return a
    fresh, run-private work directory inside the checkout."""
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            # the Python workers import pyrle_spark from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(CPUS),
            "TMPDIR": tmp,
            "TZ": "UTC",
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    for v in ("SPARK_MASTER", "SPARK_GRAFT_MASTER", "SPARK_CONF"):
        os.environ.pop(v, None)
    time.tzset()
    if root not in sys.path:
        sys.path.insert(0, root)
    return work


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "local"),
    }


def start_spark(work: str):
    from pyrle_spark.session import get_spark

    spark = get_spark(
        "perfbench", cpus=CPUS, shuffle_partitions=2 * CPUS,
        extra_conf=spark_conf(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set:
    """Every live process below ``pid`` (the JVM's Python daemon and its
    forked workers)."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _wait_gone(pids: set, timeout_s: float) -> set:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return {p for p in pids if os.path.exists(f"/proc/{p}")}


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every Python worker
    it forked have exited (killing stragglers after a grace period)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        for pid in _wait_gone(workers, 20):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(workers, 10)
