"""Run scaffolding shared by the workloads: environment hygiene, the
Spark session, the peak-RSS sampler, the CPU-time reader, the
host-contention labels and the percentile helper."""

from __future__ import annotations

import os
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "fbg_kafka_stream_file_transfer_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark task slots: half the CPUs, so the driver, the Python workers
    and the rest of the JVM have CPUs of their own."""
    return max(1, cpus() // 2)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: a quarter of physical RAM, at most 2 GB (the package
    defaults to 16 GB, more than some hosts have)."""
    return min(2048, _mem_total_mb() // 4)


def prepare_env(work: str) -> None:
    """Pin the session's inputs before the package is imported (it reads
    SPARK_GRAFT_CPUS at import): cores = the CPUs this process may use,
    driver heap well below physical RAM, and every scratch location
    (Python tempfile, Spark local dirs) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb()}m"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, ui: bool):
    from fbg_kafka_stream_file_transfer_spark import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        # a fixed-size heap: how far the JVM grows its heap otherwise
        # depends on GC timing, which makes peak RSS vary run to run.
        # No perf-data file, which the JVM would write under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap_mb()}m -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf["spark.ui.port"] = "0"  # any free port
    return get_spark("perfbench", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it every Python worker it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _stat_cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process: its own CPU time
    and that of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(f) for f in fields[11:15])


def tree_cpu() -> dict[str, float]:
    """CPU seconds used so far by this process (``driver``), its children
    (``jvm``) and their descendants (``workers``: the Python workers),
    reaped ones included. Time the hypervisor stole is not in it."""
    me = os.getpid()
    out = {"driver": _stat_cpu_ticks(me), "jvm": 0, "workers": 0}
    todo = [(c, "jvm") for c in _children(me)]
    while todo:
        p, role = todo.pop()
        out[role] += _stat_cpu_ticks(p)
        todo.extend((c, "workers") for c in _children(p))
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in out.items()}


def cpu_since(start: dict[str, float]) -> dict[str, float]:
    """``tree_cpu`` used since the reading ``start``."""
    return {k: v - start[k] for k, v in tree_cpu().items()}


class RssSampler:
    """Peak RSS of this process plus its JVM child, sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(c) for c in _children(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def load_labels() -> dict:
    """The load average and the CPU time stolen by the hypervisor so far."""
    return {
        "loadavg_1m": os.getloadavg()[0],
        "steal_s": _steal_ticks() / os.sysconf("SC_CLK_TCK"),
    }


def spark_control_s(spark) -> float:
    """Wall time of a fixed-work Spark job that calls no package code."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()
    return time.perf_counter() - t0


def host_labels(spark) -> dict:
    """Contention labels, not metrics: the fixed-work control job's wall
    time and ``load_labels``. They move with the host, never with the
    code."""
    return {"control_s": spark_control_s(spark), **load_labels()}


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    import numpy as np

    if len(values) == 0:
        raise ValueError("quantile of an empty sample")
    return float(np.quantile(np.asarray(values, dtype=float), q))
