"""Process-level plumbing: environment, Spark session, memory, shutdown."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass

PACKAGE = "distributed_graph_database_simulation_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work_dir``, and pin the package's thread count to this machine's
    processors instead of its default of 32 threads, which would measure
    the scheduler rather than the program."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_*. The
    # launcher JVM that builds the spark-submit command takes its own options.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm_opts}".strip()
    tempfile.tempdir = tmp


@dataclass
class Op:
    """One timed call into the package, as the client saw it. ``batch``
    marks a call of the workload's batch phase, and ``rep`` the repetition
    of that phase it ran in; the other calls are its requests."""
    kind: str
    read: bool
    seconds: float
    ok: bool = True
    batch: bool = False
    rep: int = 0


class Session:
    """The Spark session every workload runs in, started through the
    package's public ``get_spark``."""

    def __init__(self, app_name: str):
        from distributed_graph_database_simulation_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name, shuffle_partitions=nproc())
        self.get_spark_s = time.perf_counter() - t
        self._jvm_pid = self._find_jvm_pid()

    def settings(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "nproc": nproc(),
            "spark_version": self.spark.version,
        }

    @staticmethod
    def _find_jvm_pid() -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return None
        # spark-submit execs into java; fall back to a java child if not.
        todo = [proc.pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return pid
                with open(f"/proc/{pid}/task/{pid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
        return None

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of this process plus Spark's JVM."""
        total_kb = 0
        for pid in ("self", self._jvm_pid):
            if pid is None:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0

    def stop(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_times() -> tuple[int, int]:
    """(steal, total) clock ticks of all processors since boot, from
    ``/proc/stat``. Steal is time a virtual machine's processors were ready
    but the host ran something else: on a shared host, the outside load
    that slows every timing of a run at once."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def fetch(df):
    """Materialise every column of ``df`` into this process (Arrow).

    Used as the end of every timed read: unlike ``count()``, Spark cannot
    prune an output column the caller receives."""
    return df.toPandas()


def frame_digest(df) -> bytes:
    """Order-independent digest of a pandas frame's rows, floats rounded to
    9 places: equal across runs of one seed when the outputs are."""
    import hashlib

    import pandas as pd

    canon = df.round(9).sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(pd.util.hash_pandas_object(canon, index=False).values.tobytes()).digest()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden and
    marker files (``.crc``, ``_SUCCESS``, staging dirs)."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size

