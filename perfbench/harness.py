"""Process-level plumbing: the Spark session, the scratch directory, the
process-tree RSS sampler and the shutdown that waits for every process
the run started."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens; fields follow the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _proc_table().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver,
    JVM, Python workers) on a background thread and keeps the largest sum
    seen since the last ``take_peak_mb``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def take_peak_mb(self) -> float:
        """The peak since the previous call (or the start), in MiB; starts
        a new window."""
        with self._lock:
            peak, self._peak = self._peak, tree_rss_bytes(os.getpid())
        return peak / 2**20

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def scratch_dir(bench_dir: str) -> str:
    """A fresh directory for data, rollups, Spark's local and temp files;
    the caller removes it."""
    base = os.path.join(bench_dir, ".tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=base)


def start_spark(root: str, work: str):
    """A ``local[nproc]`` session with shuffle partitions = nproc, the UI
    and console progress off, and every file Spark or its workers write
    under *work*.  Python workers find the package under *root* through
    PYTHONPATH whatever their cwd."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    n = nproc()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(timeout_s: float = 60.0) -> None:
    """Stop the session and the gateway JVM if they were started, and wait
    until every process this run started (JVM, Python worker daemon and
    workers) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    procs = descendants(os.getpid())
    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:
        # a signal that interrupted a JVM call can leave the gateway unable
        # to stop the session; shutting the JVM down below still ends it
        traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm: subprocess.Popen | None = getattr(gateway, "proc", None)
        if jvm is not None:
            # the gateway JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
                deadline = time.monotonic() + 5
            time.sleep(0.02)


def _alive(pid: int) -> bool:
    # reap it if it is our own child, then look for a live (non-zombie) entry
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
