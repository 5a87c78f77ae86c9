"""Spark session lifecycle and resource readings for one benchmark run.

``Engine.launch`` times ``session.get_spark()`` from the call until the
session answers (a fresh JVM each time); ``Engine.stop`` ends the session,
closes the JVM's stdin (the PySpark gateway exits on EOF) and waits until
the JVM and every process it started have gone.
"""

from __future__ import annotations

import os
import resource
import subprocess
import tempfile
import time

# Driver heap: fits a 15 GiB host that other processes share. Fixed size
# (initial = maximum, no pre-touch): resident memory then follows what the
# run touches rather than when the JVM chose to grow its heap.
DRIVER_HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


class Engine:
    """One SparkSession at a time, with its own JVM, confined to
    ``work_dir`` for scratch and warehouse files."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None
        self.jvm_hwm_kb = 0
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
        # read by the JVM launcher and by Python's tempfile; without perf
        # data the JVMs keep no files in the system's /tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
        tempfile.tempdir = os.environ["TMPDIR"]

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work_dir, "tmp")
        return {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def launch(self) -> float:
        """Start a session on a fresh JVM; returns the set-up seconds."""
        from ts_etl_spark.session import get_spark

        n = cores()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf=self._conf(),
        )
        self.spark.sparkContext.defaultParallelism  # session answers
        setup = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return setup

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            self.jvm_hwm_kb = max(self.jvm_hwm_kb, _status_kb(proc.pid, "VmHWM"))
            spawned = descendants(proc.pid)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while spawned and time.monotonic() < deadline:
            spawned = [p for p in spawned if os.path.exists(f"/proc/{p}")]
            if spawned:
                time.sleep(0.05)

    def peak_rss_mb(self) -> float:
        """Python ``ru_maxrss`` plus the JVM's ``VmHWM``, in MiB. Read while
        the session runs (the JVM figure is taken again at ``stop``)."""
        pid = self.jvm_pid()
        if pid is not None:
            self.jvm_hwm_kb = max(self.jvm_hwm_kb, _status_kb(pid, "VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + self.jvm_hwm_kb) / 1024.0
