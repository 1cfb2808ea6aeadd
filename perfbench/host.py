"""Fit the Spark session to the host, start and stop it, and sample memory."""

from __future__ import annotations

import os
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit(run_dir: str) -> dict:
    """Set the environment the engine's session reads, before the JVM starts.

    - cores: the CPUs this process may run on;
    - driver memory: a sixteenth of RAM, clamped to [1, 4] GiB, because the
      engine's 16g default exceeds small hosts; a heap the run fills keeps
      the JVM's share of peak RSS from following the collector's timing;
    - the checkout root on the Python workers' path, so worker-side
      imports of ``torcharrow_spark`` resolve;
    - Spark's local dirs and every temp dir inside ``run_dir``, which the
      caller deletes when the run ends: the benchmark writes nothing
      outside its checkout, and nothing it leaves there is tracked.
    """
    cpus = len(os.sched_getaffinity(0))
    driver_mb = min(4096, max(1024, _mem_total_mb() // 16))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
        ),
    }
    os.environ.update(env)
    return env


def start_session():
    import torcharrow_spark as ts

    spark = ts.get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_confs(spark) -> dict:
    """The settings a result depends on, so results from different hosts
    are never compared silently."""
    import platform

    import pyarrow

    conf = spark.conf
    return {
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "initial_partition_num": conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        ),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (JVM, Python workers)."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the RSS of this process tree in a thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
