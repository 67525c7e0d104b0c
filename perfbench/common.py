"""Host fitting, the Spark session, memory sampling and small statistics
shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import threading


def host_info() -> dict:
    import platform

    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def fit_env(host: dict, work: str) -> None:
    """Size Spark to the host through the engine's own variables, and keep
    every scratch file the engine, the JVM and the Python workers write
    under ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, int(host['ram_gb'] * 0.4))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, master: str | None = None):
    """The engine's session factory, with the JVM's temp dir and the
    warehouse moved under ``work``."""
    from distributed_video_analytics_flink_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

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
        except Exception:  # noqa: BLE001 — a JVM that ignores stdin EOF
            proc.kill()
            proc.wait(timeout=10)


def _proc_kb(pid: int, path: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for ln in fh:
                if ln.startswith(key):
                    return int(ln.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _resident_kb(pid: int, comm: str) -> int:
    """A Python process's proportional set size (each page it shares with n
    processes counts 1/n, so pages forked workers share with their daemon
    count once), or the JVM's resident set: it forks nothing that lives on,
    so the two agree, and reading its PSS costs about 20 ms a sample."""
    if comm == "java":
        return _proc_kb(pid, "status", "VmRSS:")
    return _proc_kb(pid, "smaps_rollup", "Pss:")


def _tree(root: int) -> list[tuple[int, str]]:
    """(pid, command) of ``root``, the JVM it launched and every Python
    process below them (the workers). Other descendants are skipped: the
    JVM spawns short-lived helpers that, until they exec, share its address
    space and would count the whole heap a second time."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue
        pid = int(name)
        comm[pid] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(pid)
    out, todo = [(root, "python")], [root]
    while todo:
        parent = todo.pop()
        for pid in children.get(parent, []):
            if comm[pid].startswith("python") or (parent == root and comm[pid] == "java"):
                out.append((pid, comm[pid]))
            todo.append(pid)
    return out


class PeakRss:
    """Peak resident memory of the benchmark process, its JVM and the
    Python workers: the largest sum of their resident sizes over samples
    taken every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # kB by command at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        parts: dict[str, int] = {}
        for pid, comm in _tree(os.getpid()):
            parts[comm] = parts.get(comm, 0) + _resident_kb(pid, comm)
        if sum(parts.values()) > self.peak_kb:
            self.peak_kb, self.peak_parts = sum(parts.values()), parts

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the files under ``path`` ending in ``suffix``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
